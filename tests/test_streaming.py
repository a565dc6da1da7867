"""Streaming layer tests (SURVEY S1-S6, W4) — broker-less, file-source
driven, asserting the stream/batch prefix-consistency property (SURVEY 5.3):
the final upserted state of every streaming execution equals the batch
answer over the same data.
"""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from kafkastreams_tp3_is_spark import queries as q
from kafkastreams_tp3_is_spark.schemas import ROUTE_JSON_SCHEMA
from kafkastreams_tp3_is_spark.sources import generators as gen
from kafkastreams_tp3_is_spark.sources.files import (
    route_file_stream, trip_file_stream)
from kafkastreams_tp3_is_spark.sources.kafka import (
    parse_json_records, to_kafka_records)
from kafkastreams_tp3_is_spark.streaming.envelope import (
    ROUTE_CONNECT_SCHEMA, connect_envelope, envelope_passengers_per_route,
    reenvelope_records)
from kafkastreams_tp3_is_spark.streaming.runner import (
    MemoryUpsertSink, RecomputeHarness, run_update_mode_agg,
    windowed_counts_stream)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def stream_dirs(spark, tmp_path_factory):
    """sf0.001 orders/lineitem re-laid-out as 4-file parquet dirs so
    maxFilesPerTrigger=1 yields genuine multi-micro-batch streams."""
    base = tmp_path_factory.mktemp("streamsrc")
    for t in ("orders", "lineitem"):
        (spark.read.parquet(f"{SF_DIR}/{t}.parquet").repartition(4)
         .write.mode("overwrite").parquet(str(base / t)))
    return base


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _sorted_state(sink: MemoryUpsertSink, cols: list[str]):
    return sorted(tuple(d[c] for c in cols) for d in sink.rows())


# --- S3/S4: JSON serdes ------------------------------------------------

def test_parse_json_records_drops_malformed(spark):
    rows = [
        ("k1", '{"route_id": "R1", "origin": "O", "destination": "D",'
               ' "transport_type": "Bus", "capacity": 10, "operator": "Op"}'),
        ("k2", "not json at all"),
        ("k3", None),
    ]
    raw = (spark.createDataFrame(rows, "key string, value string")
           .withColumn("timestamp", F.current_timestamp()))
    parsed = parse_json_records(raw, ROUTE_JSON_SCHEMA)
    out = parsed.collect()
    assert len(out) == 1
    assert out[0]["route_id"] == "R1" and out[0]["capacity"] == 10
    assert "event_ts" in parsed.columns


def test_to_kafka_records_roundtrip(spark):
    df = spark.createDataFrame([("R1", 5), ("R2", 7)],
                               "route_id string, passengerCount long")
    recs = to_kafka_records(df, "route_id")
    got = {r["key"]: json.loads(r["value"]) for r in recs.collect()}
    assert got == {"R1": {"passengerCount": 5}, "R2": {"passengerCount": 7}}


# --- S5/S6: Connect envelope ------------------------------------------

def test_connect_envelope_golden(spark):
    df = spark.createDataFrame(
        [("R1", 7, 100.0 / 3.0, "Bus")],
        "route_id string, cnt long, occ double, ttype string")
    out = connect_envelope(df, key_col="route_id").collect()[0]
    assert out["key"] == "R1"
    v = out["value"]
    # %.2f double rendering (Java String.format semantics) + quoted strings
    assert '"payload": {"cnt": 7, "occ": 33.33, "ttype": "Bus"}' in v
    env = json.loads(v)
    assert env["schema"]["fields"] == [
        {"field": "cnt", "type": "int64"},
        {"field": "occ", "type": "double"},
        {"field": "ttype", "type": "string"},
    ]


def test_connect_envelope_half_up_rounding(spark):
    # 12.5 -> "12.50"; 0.125 would be binary-exact -> HALF_UP gives 0.13
    df = spark.createDataFrame([("k", 12.5), ("j", 0.125)], "id string, v double")
    vals = {r["key"]: r["value"] for r in
            connect_envelope(df, key_col="id").collect()}
    assert '"v": 12.50' in vals["k"]
    assert '"v": 0.13' in vals["j"]


def test_reenvelope_records(spark):
    payload = ('{"routeId": "Route_1", "origin": "O", "destination": "D",'
               ' "transportType": "Bus", "capacity": 42, "operator": "Op_1"}')
    raw = spark.createDataFrame([("Route_1", payload)], "key string, value string")
    out = reenvelope_records(raw).collect()[0]
    env = json.loads(out["value"])
    assert env["schema"] == json.loads(ROUTE_CONNECT_SCHEMA)
    assert env["payload"]["capacity"] == 42
    assert out["key"] == "Route_1"


def test_envelope_query_matches_batch_q5(spark):
    env = envelope_passengers_per_route(spark, SF_DIR)
    n_q5 = q.q5_passengers_per_route(spark, SF_DIR).count()
    rows = env.collect()
    assert len(rows) == n_q5
    one = json.loads(rows[0]["value"])
    assert set(one) == {"schema", "payload"}
    assert "passengerCount" in one["payload"]


# --- W4: native update-mode aggregation -------------------------------

def test_update_mode_q5_equals_batch(spark, stream_dirs, tmp_path):
    trips_stream = trip_file_stream(spark, str(stream_dirs / "lineitem"))
    sink = MemoryUpsertSink(["route_id"])
    run_update_mode_agg(q.q5_logic(None, trips_stream), sink,
                        str(tmp_path / "ckpt"))
    assert sink.batches >= 2, "expected multiple micro-batches"
    batch = q.q5_passengers_per_route(spark, SF_DIR)
    assert (_sorted_state(sink, ["route_id", "passengerCount"])
            == _sorted_rows(batch))


def test_update_mode_windowed_counts_with_watermark(spark, stream_dirs, tmp_path):
    """W1-W3: native streaming tumbling window + explicit watermark. The
    file source delivers micro-batches in file order, not event-time order,
    so a short watermark would legitimately drop late rows; with a delay
    larger than the data's full event-time span nothing may be dropped and
    the streamed counts must equal the batch windowed counts exactly."""
    trips_stream = trip_file_stream(spark, str(stream_dirs / "lineitem"))
    sink = MemoryUpsertSink(["window_start", "transport_type"])
    run_update_mode_agg(
        windowed_counts_stream(trips_stream, watermark="4000 days"),
        sink, str(tmp_path / "ckpt_w"))
    from pyspark.sql import functions as FF
    from kafkastreams_tp3_is_spark.views import trips as batch_trips
    batch = (batch_trips(spark, SF_DIR)
             .groupBy(FF.window("event_ts", "1 hour").alias("w"), "transport_type")
             .agg(FF.count(FF.lit(1)).alias("cnt"))
             .select(FF.col("w.start").alias("window_start"),
                     "transport_type", "cnt"))
    assert (_sorted_state(sink, ["window_start", "transport_type", "cnt"])
            == _sorted_rows(batch))


def test_streaming_session_window_equals_batch(spark, tmp_path):
    """Session windows in native streaming mode (stateful session merge in
    the state store) — beyond the reference's surface. All data arrives in
    one availableNow trigger so the 0s watermark drops nothing; the final
    session set must equal the batch sessionization."""
    from kafkastreams_tp3_is_spark.operators.events import (
        load_events, sessionize)

    ev = load_events(spark, SF_DIR)
    src = tmp_path / "events_src"
    ev.repartition(2).write.parquet(str(src))
    stream = (spark.readStream.schema(ev.schema).parquet(str(src)))
    agg = (stream
           .withWatermark("ts", "0 seconds")
           .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
           .agg(F.count(F.lit(1)).alias("n_events"))
           .select("user_id", F.col("w.start").alias("session_start"),
                   "n_events"))
    sink = MemoryUpsertSink(["user_id", "session_start"])
    run_update_mode_agg(agg, sink, str(tmp_path / "ckpt_s"),
                        output_mode="complete")
    batch = sessionize(spark, SF_DIR)
    assert (_sorted_state(sink, ["user_id", "session_start", "n_events"])
            == _sorted_rows(batch))


# --- foreachBatch recompute harness (agg-join / agg-over-agg) ---------

def _run_harness(spark, stream_dirs, tmp_path, logic, key_cols):
    routes_s = route_file_stream(spark, str(stream_dirs / "orders"))
    trips_s = trip_file_stream(spark, str(stream_dirs / "lineitem"))
    sink = MemoryUpsertSink(key_cols)
    RecomputeHarness(spark, str(tmp_path)).run(routes_s, trips_s, logic, sink)
    return sink


# one representative per query SHAPE: per-key agg join (q4), global ratio
# (q8), windowed argmax (q11), distinct-count ratio (q2), per-group argmin
# over a join (q6), global argmax (q10), operator-join ratio argmax (q13)
_HARNESS_CASES = {
    "q2": (q.q2_logic, ["transport_type"],
           q.q2_average_passengers_per_transport_type,
           ["transport_type", "averagePassengers"]),
    "q4": (q.q4_logic, ["route_id"], q.q4_occupancy_per_route,
           ["route_id", "occupancyPercentage"]),
    "q6": (q.q6_logic, ["transport_type"],
           q.q6_route_least_occupancy_per_transport_type,
           ["transport_type", "routeId", "occupancy"]),
    "q8": (q.q8_logic, [], q.q8_total_occupancy_percentage,
           ["totalOccupancyPercentage"]),
    "q10": (q.q10_logic, [], q.q10_transport_type_max_passengers,
            ["transportType"]),
    "q11": (q.q11_logic, ["window_start"],
            q.q11_transport_type_max_passengers_window,
            ["window_start", "transportType", "maxPassengers"]),
    "q13": (q.q13_logic, [], q.q13_most_occupied_operator,
            ["operator", "occupancyPercentage"]),
}


@pytest.mark.parametrize("label", sorted(_HARNESS_CASES))
def test_recompute_equals_batch(label, spark, stream_dirs, tmp_path):
    logic, key_cols, batch_fn, cols = _HARNESS_CASES[label]
    sink = _run_harness(spark, stream_dirs, tmp_path, logic, key_cols)
    assert sink.batches >= 2
    batch = batch_fn(spark, SF_DIR)
    assert _sorted_state(sink, cols) == _sorted_rows(batch), label


def test_recompute_harness_replay_is_idempotent(spark, stream_dirs,
                                                tmp_path):
    """ADVICE r10: foreachBatch is at-least-once under checkpointed
    recovery — with the old mode("append") accumulation a replayed batch
    duplicated history and silently corrupted every later recompute.
    Simulate a full replay (same workdir + same source files, FRESH
    checkpoint => the engine re-delivers every batch with the same
    batch_ids): the accumulated store must hold each input row exactly
    once and the recomputed answer must still equal batch."""
    import os

    routes_s = route_file_stream(spark, str(stream_dirs / "orders"))
    trips_s = trip_file_stream(spark, str(stream_dirs / "lineitem"))
    h = RecomputeHarness(spark, str(tmp_path))
    sink1 = MemoryUpsertSink(["route_id"])
    h.run(routes_s, trips_s, q.q4_logic, sink1,
          checkpoint_dir=str(tmp_path / "ckpt_a"))

    # replay: fresh checkpoint, same accumulated workdir
    sink2 = MemoryUpsertSink(["route_id"])
    h.run(route_file_stream(spark, str(stream_dirs / "orders")),
          trip_file_stream(spark, str(stream_dirs / "lineitem")),
          q.q4_logic, sink2, checkpoint_dir=str(tmp_path / "ckpt_b"))

    for tag, src in (("routes", "orders"), ("trips", "lineitem")):
        acc = (spark.read.option("recursiveFileLookup", "true")
               .parquet(os.path.join(str(tmp_path), f"acc_{tag}")))
        n_src = spark.read.parquet(str(stream_dirs / src)).count()
        assert acc.count() == n_src, f"{tag}: replay duplicated history"
    batch = q.q4_occupancy_per_route(spark, SF_DIR)
    cols = ["route_id", "occupancyPercentage"]
    assert _sorted_state(sink2, cols) == _sorted_rows(batch)


# --- S9-S11: generators ------------------------------------------------

def test_generators_deterministic_and_fk_consistent(spark):
    r1 = gen.route_batch(spark, 100)
    r2 = gen.route_batch(spark, 100)
    assert _sorted_rows(r1) == _sorted_rows(r2)
    caps = [r["capacity"] for r in r1.collect()]
    assert min(caps) >= 1 and max(caps) <= 200
    types = {r["transport_type"] for r in r1.collect()}
    assert types <= set(gen.TRANSPORT_TYPES)

    trips = gen.trip_batch(spark, 500, n_routes=100)
    route_ids = {r["route_id"] for r in r1.collect()}
    trip_fks = {t["route_id"] for t in trips.collect()}
    assert trip_fks <= route_ids, "S11 FK integrity"


def test_rate_stream_plan_is_streaming(spark):
    s = gen.route_rate_stream(spark, rows_per_second=5)
    assert s.isStreaming
    assert set(s.columns) == {"route_id", "origin", "destination",
                              "transport_type", "capacity", "operator",
                              "event_ts"}


# --- A9 as a TRUE stateful streaming op (applyInPandasWithState) -------

def test_stateful_latest_per_key_changelog_semantics(spark, tmp_path):
    """KTable latest-per-key via per-key state: final state equals the
    batch row_number realization, AND re-emissions are changed-keys-only
    (the later batch emits at most the updated keys, not the whole
    table — the changelog property the recompute harness cannot give)."""
    from kafkastreams_tp3_is_spark.streaming.stateful import (
        latest_per_key_stream)
    from kafkastreams_tp3_is_spark.views import (
        latest_route_capacity, routes_reemitted)

    chg = routes_reemitted(spark, SF_DIR)
    src = tmp_path / "chg_src"
    chg.repartition(4).write.parquet(str(src))
    stream = (spark.readStream.schema(chg.schema)
              .option("maxFilesPerTrigger", "1").parquet(str(src)))
    latest = latest_per_key_stream(stream, ["route_id"], "event_ts")

    emitted = []

    class CountingSink(MemoryUpsertSink):
        def process(self, batch_df, batch_id):
            rows = batch_df.collect()
            emitted.append(len(rows))
            self.batches += 1
            for row in rows:
                d = row.asDict(recursive=True)
                self.state[tuple(d[k] for k in self.key_cols)] = d

    sink = CountingSink(["route_id"])
    q_ = (latest.writeStream.foreachBatch(sink.process)
          .outputMode("update")
          .option("checkpointLocation", str(tmp_path / "ckpt_st"))
          .trigger(availableNow=True).start())
    q_.awaitTermination()

    assert sink.batches >= 2
    n_keys = chg.select("route_id").distinct().count()
    n_updates = chg.count() - n_keys
    # every key emits its first sighting once; an update emits only if it
    # beats the state -> total emissions bounded by keys + updates, and
    # strictly fewer than a full re-emission of the table per batch
    assert n_keys <= sum(emitted) <= n_keys + n_updates

    batch = latest_route_capacity(spark, SF_DIR)
    got = sorted((d["route_id"], d["capacity"], d["event_ts"])
                 for d in sink.rows())
    want = sorted(tuple(r) for r in batch.collect())
    assert got == want


def test_streaming_dedup_exact_suppresses_planted_duplicates(spark, tmp_path):
    """Streaming dropDuplicates state: plant an exact copy (new doc_id,
    same text) of every 5th document, replay the stream multi-batch, and
    assert each distinct text is emitted exactly once — final state equals
    the batch distinct set regardless of arrival order."""
    from kafkastreams_tp3_is_spark.streaming.stateful import (
        dedup_exact_stream)
    from kafkastreams_tp3_is_spark.views import load

    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    dupes = (docs.where(F.col("doc_id") % 5 == 0)
             .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text"))
    corpus = docs.unionByName(dupes)
    src = tmp_path / "dedup_src"
    corpus.repartition(4).write.parquet(str(src))

    stream = (spark.readStream.schema(corpus.schema)
              .option("maxFilesPerTrigger", "1").parquet(str(src)))
    deduped = dedup_exact_stream(stream)

    emitted: list[str] = []

    def sink(batch_df, batch_id):
        emitted.extend(r["text_md5"] for r in batch_df.collect())

    q_ = (deduped.writeStream.foreachBatch(sink).outputMode("append")
          .option("checkpointLocation", str(tmp_path / "ckpt_dd"))
          .trigger(availableNow=True).start())
    q_.awaitTermination()

    want = {r["m"] for r in
            docs.select(F.md5("text").alias("m")).distinct().collect()}
    assert len(emitted) == len(want)        # duplicates suppressed
    assert set(emitted) == want             # nothing lost
    assert len(set(emitted)) == len(emitted)  # no key emitted twice


def test_checkpoint_resume_is_exactly_once(spark, tmp_path):
    """Kill-and-resume fidelity: run the Q5 streaming aggregation over half
    the input files, then add the rest and start a SECOND query from the
    same checkpoint. The streaming state must resume (not restart): final
    per-route counts equal the batch answer over all data — reprocessing
    old files would double-count, dropping state would under-count."""
    import shutil

    from kafkastreams_tp3_is_spark.views import trips

    full = trips(spark, SF_DIR)
    staging = tmp_path / "staging"
    full.repartition(8).write.parquet(str(staging))
    parts = sorted(p for p in staging.iterdir()
                   if p.name.startswith("part-"))
    assert len(parts) == 8
    src = tmp_path / "src"
    src.mkdir()
    for p in parts[:4]:
        shutil.copy(p, src / p.name)

    sink = MemoryUpsertSink(["route_id"])
    ckpt = str(tmp_path / "ckpt_resume")

    def run_once():
        stream = (spark.readStream.schema(full.schema)
                  .option("maxFilesPerTrigger", "2").parquet(str(src)))
        run_update_mode_agg(q.q5_logic(None, stream), sink, ckpt)

    run_once()
    partial = {d["route_id"]: d["passengerCount"] for d in sink.rows()}

    for p in parts[4:]:
        shutil.copy(p, src / p.name)
    run_once()

    want = {r["route_id"]: r["passengerCount"]
            for r in q.q5_logic(None, full).collect()}
    got = {d["route_id"]: d["passengerCount"] for d in sink.rows()}
    assert got == want
    # the first run really was partial, so the second run proved a resume
    assert partial != want


# --- incremental partial-aggregate harness ----------------------------

def test_incremental_harness_volume_is_batch_plus_aggregate(
        spark, stream_dirs, tmp_path):
    """The agg-join queries on the INCREMENTAL path: maintained partial
    aggregates merged per trigger. Two properties:

    1. final state equals the batch answer for every agg-join shape
       (Q2 distinct-ratio, Q4 keyed join, Q8 global ratio, Q13
       operator-join argmax);
    2. per-trigger input volume is O(batch + aggregate): every fact row
       is aggregated in EXACTLY one trigger (the full-recompute harness
       would re-read cumulative history, making the sum a multiple of
       the input), and each merge reads at most aggregate-sized stores.
    """
    from kafkastreams_tp3_is_spark.streaming.partial_agg import (
        FINALIZE, IncrementalAggHarness)

    routes_s = route_file_stream(spark, str(stream_dirs / "orders"))
    trips_s = trip_file_stream(spark, str(stream_dirs / "lineitem"))
    cases = {
        "q2": (q.q2_average_passengers_per_transport_type,
               ["transport_type"]),
        "q4": (q.q4_occupancy_per_route, ["route_id"]),
        "q8": (q.q8_total_occupancy_percentage, []),
        "q13": (q.q13_most_occupied_operator, []),
    }
    jobs = {name: (FINALIZE[name], MemoryUpsertSink(keys))
            for name, (_, keys) in cases.items()}
    h = IncrementalAggHarness(spark, str(tmp_path))
    h.run_many(routes_s, trips_s, jobs)

    for name, (batch_fn, _) in cases.items():
        batch = batch_fn(spark, SF_DIR)
        assert (_sorted_state(jobs[name][1], batch.columns)
                == _sorted_rows(batch)), name

    n_orders = spark.read.parquet(str(stream_dirs / "orders")).count()
    n_lineitem = spark.read.parquet(str(stream_dirs / "lineitem")).count()
    assert len(h.fact_rows_per_trigger) >= 4, "expected multiple triggers"
    assert sum(h.fact_rows_per_trigger) == n_orders + n_lineitem, \
        "each fact row must be aggregated exactly once across all triggers"
    # only the stores these jobs' finalizers declare are maintained: the
    # q2/q4/q8/q13 set needs route + trip_rt, so the passenger and
    # window stores must never have been aggregated or written
    assert h.stores["route"].version >= 0
    assert h.stores["trip_rt"].version >= 0
    assert h.stores["trip_pax"].version == -1
    assert h.stores["trip_wt"].version == -1
    # merges only ever read the aggregate-sized stores (one row per key),
    # never fact history
    total_store_rows = sum(
        h.stores[n].frame().count() for n in ("route", "trip_rt"))
    assert max(h.agg_rows_read_per_trigger) <= total_store_rows


@pytest.mark.parametrize("splits", [(6,), (1, 5), (3, 1, 2), (2, 2, 2)])
def test_incremental_stores_are_split_invariant(spark, tmp_path, splits):
    """The maintained aggregates must be a pure function of the data, not
    of how the stream happened to batch it: any partition of the same
    rows into micro-batches yields the same merged store. Covers the sum
    combiner (trip counts) and the max_by-latest combiner (route
    dimension), including a key re-emitted across batch boundaries."""
    import datetime as dt

    from kafkastreams_tp3_is_spark.streaming.partial_agg import (
        route_agg_store, trip_route_type_store)

    base = dt.datetime(2024, 1, 1)
    routes = [(f"R{i % 4}", "O", "D", f"T{i % 2}", 10 + i, f"Op{i % 3}",
               base + dt.timedelta(hours=i)) for i in range(6)]
    cols = ("route_id string, origin string, destination string, "
            "transport_type string, capacity int, operator string, "
            "event_ts timestamp")
    full = spark.createDataFrame(routes, cols)

    store = route_agg_store(
        spark, str(tmp_path / f"r_{'_'.join(map(str, splits))}"))
    lo = 0
    for b, size in enumerate(splits):
        batch = spark.createDataFrame(routes[lo:lo + size], cols)
        store.update(batch, b)
        lo += size

    want = {r["route_id"]: (r["cap"], r["operator"], r["transport_type"])
            for r in full.groupBy("route_id")
            .agg(F.sum("capacity").alias("cap"),
                 F.max_by("operator", "event_ts").alias("operator"),
                 F.max_by("transport_type", "event_ts")
                 .alias("transport_type")).collect()}
    got = {r["route_id"]: (r["cap"], r["operator"], r["transport_type"])
           for r in store.frame().collect()}
    assert got == want

    trips = [(f"R{i % 3}", f"T{i % 2}") for i in range(6)]
    tstore = trip_route_type_store(
        spark, str(tmp_path / f"t_{'_'.join(map(str, splits))}"))
    lo = 0
    for b, size in enumerate(splits):
        batch = spark.createDataFrame(
            trips[lo:lo + size], "route_id string, transport_type string")
        tstore.update(batch, b)
        lo += size
    got_t = {(r["route_id"], r["transport_type"]): r["n"]
             for r in tstore.frame().collect()}
    want_t = {}
    for rid, tt in trips:
        want_t[(rid, tt)] = want_t.get((rid, tt), 0) + 1
    assert got_t == want_t


def test_incremental_store_ignores_and_sweeps_partial_writes(
        spark, tmp_path):
    """A version directory from a write killed mid-job (no _SUCCESS
    marker) must be neither adopted (it holds partial state, and its
    batch id would make the checkpoint replay skip as already-durable)
    nor left on disk. Discovery falls back to the newest COMPLETE
    version and sweeps the debris."""
    import os

    from kafkastreams_tp3_is_spark.streaming.partial_agg import (
        trip_route_type_store)

    trips = spark.createDataFrame(
        [("R1", "Bus"), ("R2", "Taxi")],
        "route_id string, transport_type string")
    path = tmp_path / "s"
    store = trip_route_type_store(spark, str(path))
    store.update(trips, 0)
    assert os.path.exists(path / "b0" / "_SUCCESS")
    # fabricate crash debris: a newer version dir with no commit marker
    (path / "b7").mkdir()
    (path / "b7" / "part-00000.parquet").write_bytes(b"partial garbage")

    store2 = trip_route_type_store(spark, str(path))
    assert store2.version == 0, "must adopt the newest COMPLETE version"
    assert not (path / "b7").exists(), "crash debris must be swept"
    got = {(r["route_id"], r["transport_type"]): r["n"]
           for r in store2.frame().collect()}
    assert got == {("R1", "Bus"): 1, ("R2", "Taxi"): 1}
    # the batch the debris came from replays normally afterwards
    store2.update(trips, 7)
    assert store2.version == 7


def test_incremental_harness_resumes_from_disk_state(spark, tmp_path):
    """Kill-and-resume for the partial-aggregate path: run the topology
    over half the input files, then start a FRESH harness (new object,
    same workdir/checkpoint) after the rest arrive. The stores must
    adopt the on-disk versions and the checkpoint must replay only the
    unseen files — final state equals the batch answer; reprocessing
    would double-count, dropping state would under-count."""
    import shutil

    from kafkastreams_tp3_is_spark.streaming.partial_agg import (
        FINALIZE, IncrementalAggHarness)
    from kafkastreams_tp3_is_spark.views import routes as batch_routes
    from kafkastreams_tp3_is_spark.views import trips as batch_trips

    staging = tmp_path / "stage"
    for t, df in (("orders", spark.read.parquet(f"{SF_DIR}/orders.parquet")),
                  ("lineitem",
                   spark.read.parquet(f"{SF_DIR}/lineitem.parquet"))):
        df.repartition(4).write.parquet(str(staging / t))
    srcs = {}
    for t in ("orders", "lineitem"):
        src = tmp_path / f"src_{t}"
        src.mkdir()
        srcs[t] = sorted(p for p in (staging / t).iterdir()
                         if p.name.startswith("part-"))
        for p in srcs[t][:2]:
            shutil.copy(p, src / p.name)

    work = str(tmp_path / "work")
    sink = MemoryUpsertSink(["route_id"])
    sink8 = MemoryUpsertSink([])

    def run_once():
        routes_s = route_file_stream(spark, str(tmp_path / "src_orders"))
        trips_s = trip_file_stream(spark, str(tmp_path / "src_lineitem"))
        IncrementalAggHarness(spark, work).run_many(
            routes_s, trips_s,
            {"q4": (FINALIZE["q4"], sink), "q8": (FINALIZE["q8"], sink8)})

    run_once()
    partial = {d["route_id"]: d["occupancyPercentage"] for d in sink.rows()}

    for t in ("orders", "lineitem"):
        for p in srcs[t][2:]:
            shutil.copy(p, tmp_path / f"src_{t}" / p.name)
    run_once()

    want = {r["route_id"]: r["occupancyPercentage"]
            for r in q.q4_occupancy_per_route(spark, SF_DIR).collect()}
    got = {d["route_id"]: d["occupancyPercentage"] for d in sink.rows()}
    assert got == want
    assert partial != want, "first run must have been genuinely partial"
    want8 = q.q8_total_occupancy_percentage(spark, SF_DIR).collect()[0][0]
    assert sink8.rows()[0]["totalOccupancyPercentage"] == want8


def test_incremental_store_replay_is_idempotent(spark, tmp_path):
    """foreachBatch can replay a batch after a crash; a replayed merge
    must be a no-op (version keyed by batch id), or counts double."""
    from kafkastreams_tp3_is_spark.streaming.partial_agg import (
        trip_route_type_store)

    trips = spark.createDataFrame(
        [("R1", "Bus"), ("R1", "Bus"), ("R2", "Taxi")],
        "route_id string, transport_type string")
    store = trip_route_type_store(spark, str(tmp_path / "s"))
    store.update(trips, 0)
    store.update(trips, 0)  # replay of the same micro-batch
    got = {(r["route_id"], r["transport_type"]): r["n"]
           for r in store.frame().collect()}
    assert got == {("R1", "Bus"): 2, ("R2", "Taxi"): 1}
    store.update(trips, 1)  # genuinely new batch DOES merge
    got = {(r["route_id"], r["transport_type"]): r["n"]
           for r in store.frame().collect()}
    assert got == {("R1", "Bus"): 4, ("R2", "Taxi"): 2}


# --- full topology (MainStreamApp parity) ------------------------------

def test_full_topology_all_13_queries_equal_batch(spark, stream_dirs, tmp_path):
    """The MainStreamApp shape: ALL 13 queries attached to the two shared
    input streams in one topology, each upserting to its own sink; every
    final state must equal its batch answer."""
    from kafkastreams_tp3_is_spark.streaming.app import run_topology

    routes_s = route_file_stream(spark, str(stream_dirs / "orders"))
    trips_s = trip_file_stream(spark, str(stream_dirs / "lineitem"))
    sinks = run_topology(spark, routes_s, trips_s, str(tmp_path))

    batch_fns = {
        "q1": q.q1_available_seats_per_route,
        "q2": q.q2_average_passengers_per_transport_type,
        "q3": q.q3_name_passenger_most_trips,
        "q4": q.q4_occupancy_per_route,
        "q5": q.q5_passengers_per_route,
        "q6": q.q6_route_least_occupancy_per_transport_type,
        "q7": q.q7_total_capacity_available,
        "q8": q.q8_total_occupancy_percentage,
        "q9": q.q9_total_passengers,
        "q10": q.q10_transport_type_max_passengers,
        "q11": q.q11_transport_type_max_passengers_window,
        "q12": q.q12_least_occupied_transport_type_window,
        "q13": q.q13_most_occupied_operator,
    }
    for name, fn in batch_fns.items():
        batch = fn(spark, SF_DIR)
        assert (_sorted_state(sinks[name], batch.columns)
                == _sorted_rows(batch)), name


def test_topology_changelog_emission_is_touched_keys_only(
        spark, stream_dirs, tmp_path):
    """Kafka Streams KTables forward per UPDATED key, never the whole
    table; the _touched declarations give the per-route queries the same
    changelog contract. For q4: every trigger's emission must cover
    exactly the route_ids present in that batch (routes or trips side),
    and the upsert-collapsed final state must still equal batch."""
    from kafkastreams_tp3_is_spark.streaming.partial_agg import (
        FINALIZE, IncrementalAggHarness)

    emitted_per_batch: list[set] = []

    class RecordingSink(MemoryUpsertSink):
        def process(self, batch_df, batch_id):
            super().process(batch_df, batch_id)
            # state keys written THIS batch
            emitted_per_batch.append(
                {r["route_id"] for r in batch_df.select("route_id")
                 .collect()})

    routes_s = route_file_stream(spark, str(stream_dirs / "orders"))
    trips_s = trip_file_stream(spark, str(stream_dirs / "lineitem"))
    sink = RecordingSink(["route_id"])
    h = IncrementalAggHarness(spark, str(tmp_path))
    h.run_many(routes_s, trips_s, {"q4": (FINALIZE["q4"], sink)})

    assert len(emitted_per_batch) >= 2
    all_routes = {r["route_id"]
                  for r in q.q4_occupancy_per_route(spark, SF_DIR)
                  .select("route_id").collect()}
    # each trigger emits a strict subset of the table (changelog, not
    # full-table re-emission) ...
    assert all(e < all_routes for e in emitted_per_batch)
    # ... and the union covers every key (each was touched when created)
    assert set().union(*emitted_per_batch) == all_routes
    batch = q.q4_occupancy_per_route(spark, SF_DIR)
    cols = ["route_id", "occupancyPercentage"]
    assert _sorted_state(sink, cols) == _sorted_rows(batch)


def test_native_windowed_argmax_q11_equals_batch(spark, stream_dirs, tmp_path):
    """Native streaming path for Q11: windowed counts maintained by the
    engine in update mode, per-window argmax re-derived incrementally for
    touched windows only — final state must equal the batch q11_logic."""
    from kafkastreams_tp3_is_spark.streaming.runner import (
        q11_windowed_argmax_sink)

    trips_stream = trip_file_stream(spark, str(stream_dirs / "lineitem"))
    sink = q11_windowed_argmax_sink()
    run_update_mode_agg(
        windowed_counts_stream(trips_stream, watermark="4000 days"),
        sink, str(tmp_path / "ckpt_q11"))
    assert sink.batches >= 2, "expected multiple micro-batches"
    got = sorted((r["window_start"], r["transportType"], r["maxPassengers"])
                 for r in sink.rows())
    batch = q.q11_transport_type_max_passengers_window(spark, SF_DIR)
    assert got == _sorted_rows(batch)


def test_native_windowed_argmin_q12_equals_batch(spark, stream_dirs, tmp_path):
    """Native streaming path for Q12: same windowed-count stream scored as
    occupancy%% against the bounded capacity dimension, per-window argmin —
    final state must equal the batch q12_logic, floats bit-identical."""
    from pyspark.sql import functions as FF

    from kafkastreams_tp3_is_spark.streaming.runner import (
        q12_windowed_argmin_sink)
    from kafkastreams_tp3_is_spark.views import routes as batch_routes

    cap = {r["transport_type"]: r["cap"]
           for r in (batch_routes(spark, SF_DIR)
                     .groupBy("transport_type")
                     .agg(FF.sum("capacity").alias("cap"))).collect()}
    trips_stream = trip_file_stream(spark, str(stream_dirs / "lineitem"))
    sink = q12_windowed_argmin_sink(cap)
    run_update_mode_agg(
        windowed_counts_stream(trips_stream, watermark="4000 days"),
        sink, str(tmp_path / "ckpt_q12"))
    got = sorted((r["window_start"], r["transportType"], r["occupancy"])
                 for r in sink.rows())
    batch = q.q12_least_occupied_transport_type_window(spark, SF_DIR)
    assert got == _sorted_rows(batch)


def test_windowed_extremum_sink_high_cardinality_with_eviction(
        spark, tmp_path):
    """WindowedExtremumSink at a HIGH-cardinality contender domain
    (per-route argmax, 40 routes — not the 5-type domain) with state
    eviction: hour-slice files arrive in event-time order under a
    0-second watermark, so earlier windows close as the stream advances
    and the sink must (a) still produce the exact batch answer for every
    window and (b) end with contender maps only for windows the
    watermark could still update — mutable state bounded by open
    windows x contenders, not by stream age."""
    import datetime as dt

    from kafkastreams_tp3_is_spark.streaming.runner import (
        WindowedExtremumSink)

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for hour in range(6):
        for route in range(40):
            # route (hour*7+route) % 40 gets extra trips -> per-window
            # winners differ across windows
            n = 1 + (3 if route == (hour * 7) % 40 else 0) + route % 2
            for i in range(n):
                rows.append((f"R{route:03d}",
                             base + dt.timedelta(hours=hour,
                                                 seconds=10 * i + route)))
    df = spark.createDataFrame(rows, "route_id string, event_ts timestamp")
    src = tmp_path / "hours"
    for hour in range(6):
        lo = base + dt.timedelta(hours=hour)
        hi = lo + dt.timedelta(hours=1)
        (df.where((F.col("event_ts") >= lo) & (F.col("event_ts") < hi))
           .repartition(1).write.mode("append").parquet(str(src)))

    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src))
              .withWatermark("event_ts", "0 seconds")
              .groupBy(F.window("event_ts", "1 hour").alias("w"), "route_id")
              .agg(F.count(F.lit(1)).alias("cnt"))
              .select(F.col("w.start").alias("window_start"),
                      "route_id", "cnt"))
    sink = WindowedExtremumSink(mode="max", out_value="maxTrips",
                                contender_col="route_id",
                                window_duration_sec=3600,
                                watermark_delay_sec=0)
    run_update_mode_agg(stream, sink, str(tmp_path / "ckpt_hc"))

    batch = (df.groupBy(F.window("event_ts", "1 hour").alias("w"),
                        "route_id")
               .agg(F.count(F.lit(1)).alias("cnt"))
               .groupBy(F.col("w.start").alias("window_start"))
               .agg(F.expr("min_by(route_id, struct(-cnt, route_id))")
                    .alias("route_id"),
                    F.max("cnt").alias("cnt")))
    want = {r["window_start"]: (r["route_id"], r["cnt"])
            for r in batch.collect()}
    got = {d["window_start"]: (d["transportType"], d["maxTrips"])
           for d in sink.rows()}
    assert got == want and len(got) == 6
    # eviction: with ordered hour files, only the last two windows can
    # still be open (horizon = newest window start - 1h duration)
    assert sink.evicted == 4
    assert set(sink.counts) == {base + dt.timedelta(hours=4),
                                base + dt.timedelta(hours=5)}


def test_streaming_corpus_dedup_suppresses_cross_batch_near_dups(
        spark, planted_docs, tmp_path):
    """The incremental ingestion loop: stream the planted corpus in
    micro-batches with the near-dup copies arriving in LATER batches
    than their originals (forcing the cross-corpus path) plus one copy
    in the same batch as its original (forcing the within-batch path).
    The final corpus must contain every original and no copy —
    identical to what batch clustering over the full corpus keeps."""
    from kafkastreams_tp3_is_spark.streaming.incremental import (
        StreamingCorpusDedup)

    docs, planted = planted_docs
    src = tmp_path / "incoming"
    # batch layout: originals (0..39) first, copies (100+, 200) later;
    # repartition(1) per slice keeps each slice one file -> one trigger
    (docs.where(F.col("doc_id") < 20).repartition(1)
         .write.mode("append").parquet(str(src)))
    (docs.where((F.col("doc_id") >= 20) & (F.col("doc_id") < 100))
         .repartition(1).write.mode("append").parquet(str(src)))
    # copies 100..102 + a same-batch pair: 103's original (doc 3) is
    # already in the corpus; 104 and 200 arrive last
    (docs.where(F.col("doc_id").isin(100, 101, 102, 103)).repartition(1)
         .write.mode("append").parquet(str(src)))
    (docs.where(F.col("doc_id").isin(104, 200)).repartition(1)
         .write.mode("append").parquet(str(src)))

    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    sink = StreamingCorpusDedup(spark, str(tmp_path / "corpus"),
                                jaccard_threshold=0.7)
    sink.run(stream, str(tmp_path / "ckpt_inc"))
    assert sink.batches >= 4

    kept = {r["doc_id"] for r in sink.corpus().collect()}
    assert kept == set(range(40)), \
        "all originals kept, every near-dup copy suppressed"
    # the signature store mirrors the corpus 1:1 and carries the stored
    # layout (doc_id, shingles, minhash)
    sigs = spark.read.parquet(sink.sig_dir)
    assert {r["doc_id"] for r in sigs.select("doc_id").collect()} == kept
    # raw layout carries the batch=N idempotence partition; the class's
    # readers drop it
    assert set(sigs.columns) == {"doc_id", "shingles", "minhash", "batch"}
    assert set(sink._stored_sigs(exclude_batch=-1).columns) == \
        {"doc_id", "shingles", "minhash"}


def test_streaming_corpus_dedup_shingling_is_batch_only_and_leak_free(
        spark, planted_docs, tmp_path, monkeypatch):
    """The signature store makes per-trigger shingling O(|batch|): spy on
    compute_signatures_df and assert it runs EXACTLY ONCE per non-empty
    trigger, always over the incoming batch (never the accumulated
    corpus), and that the one persisted frame per trigger (the batch
    signatures) is unpersisted after the batch's terminal write."""
    from kafkastreams_tp3_is_spark.streaming import incremental as inc

    sig_frames, input_counts = [], []
    real = inc.compute_signatures_df

    def spy(docs, *a, **kw):
        input_counts.append(docs.count())
        out = real(docs, *a, **kw)
        orig_persist = out.persist

        def persist_and_record(*pa, **pkw):
            res = orig_persist(*pa, **pkw)
            sig_frames.append(out)
            return res
        out.persist = persist_and_record
        return out

    monkeypatch.setattr(inc, "compute_signatures_df", spy)

    docs, _ = planted_docs
    src = tmp_path / "incoming"
    (docs.where(F.col("doc_id") < 20).repartition(1)
         .write.mode("append").parquet(str(src)))
    (docs.where(F.col("doc_id").isin(100, 101)).repartition(1)
         .write.mode("append").parquet(str(src)))

    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    sink = inc.StreamingCorpusDedup(spark, str(tmp_path / "corpus"),
                                    jaccard_threshold=0.7)
    sink.run(stream, str(tmp_path / "ckpt_leak"))

    assert sink.batches >= 2
    # one signature computation per trigger, each batch-sized: trigger 2
    # saw 2 docs, NOT 20+2 — the 20-doc corpus was joined via its stored
    # signatures, never re-shingled
    assert input_counts == [20, 2]
    assert len(sig_frames) == 2
    leaked = [f for f in sig_frames
              if f.storageLevel.useMemory or f.storageLevel.useDisk]
    assert not leaked, f"{len(leaked)} persisted frames leaked"


def test_streaming_corpus_dedup_applies_clean_spec_before_dedup(
        spark, tmp_path):
    """clean_spec gates ingestion: normalize makes a case/spacing variant
    an EXACT duplicate of an already-ingested doc (suppressed by the
    cross-corpus check), and min_tokens drops junk before it can reach
    the corpus."""
    from kafkastreams_tp3_is_spark.streaming.incremental import (
        StreamingCorpusDedup)

    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    src = tmp_path / "in_spec"
    d1 = spark.createDataFrame([(0, base)], "doc_id long, text string")
    d2 = spark.createDataFrame(
        [(1, base.upper().replace(" ", "   ")),  # normalize-equal to doc 0
         (2, "too short")],                      # dropped by min_tokens
        "doc_id long, text string")
    d1.repartition(1).write.mode("append").parquet(str(src))
    d2.repartition(1).write.mode("append").parquet(str(src))

    stream = (spark.readStream.schema(d1.schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    sink = StreamingCorpusDedup(
        spark, str(tmp_path / "corpus_spec"), jaccard_threshold=0.7,
        clean_spec=[{"stage": "normalize"}, {"stage": "min_tokens", "n": 5}])
    sink.run(stream, str(tmp_path / "ckpt_spec"))

    kept = {r["doc_id"] for r in sink.corpus().collect()}
    assert kept == {0}


def test_streaming_corpus_dedup_retried_batch_is_idempotent(
        spark, planted_docs, tmp_path):
    """foreachBatch retry semantics: re-running the SAME batch_id (crash
    after the corpus write, before/after the signature write) must leave
    the stores exactly as a single run would — no duplicate documents,
    no self-suppression against the first attempt's own signatures —
    and a LATER batch must still dedup against the retried batch."""
    from kafkastreams_tp3_is_spark.streaming.incremental import (
        StreamingCorpusDedup)

    docs, _ = planted_docs
    sink = StreamingCorpusDedup(spark, str(tmp_path / "corpus_retry"),
                                jaccard_threshold=0.7)
    first = docs.where(F.col("doc_id") < 20)
    sink.process(first, batch_id=0)
    sink.process(first, batch_id=0)  # simulated retry of the same epoch
    kept = sorted(r["doc_id"] for r in sink.corpus().collect())
    assert kept == list(range(20)), "retry duplicated or dropped documents"
    # near-dup copies of docs 0-4 arrive in a later batch: suppressed
    # against the retried batch's stored signatures
    later = docs.where(F.col("doc_id").isin(100, 101, 102))
    sink.process(later, batch_id=1)
    kept2 = sorted(r["doc_id"] for r in sink.corpus().collect())
    assert kept2 == list(range(20))
    sigs = {r["doc_id"] for r in
            spark.read.option("basePath", sink.sig_dir)
                 .parquet(sink.sig_dir).collect()}
    assert sigs == set(range(20))


def test_streaming_corpus_stats_equals_batch(spark, tmp_path):
    """The incrementally-maintained corpus report: documents arriving in
    arbitrary micro-batch splits merge into a length histogram whose
    finalize is BIT-IDENTICAL to the batch corpus_stats — including the
    exact lower median — and replaying a batch id is a no-op."""
    from kafkastreams_tp3_is_spark.operators.text import corpus_stats
    from kafkastreams_tp3_is_spark.streaming.partial_agg import (
        corpus_stats_from_histogram, doc_length_histogram_store)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    store = doc_length_histogram_store(spark, str(tmp_path / "hist"))
    store.update(docs.where(F.col("doc_id") % 3 == 0), 0)
    store.update(docs.where(F.col("doc_id") % 3 == 1), 1)
    store.update(docs.where(F.col("doc_id") % 3 == 2), 2)
    store.update(docs.where(F.col("doc_id") % 3 == 2), 2)  # replay: no-op
    got = sorted(tuple(r) for r in
                 corpus_stats_from_histogram(store.frame()).collect())
    want = sorted(tuple(r) for r in corpus_stats(spark, SF_DIR).collect())
    assert got == want


def test_streaming_corpus_dedup_guards_against_foreign_checkpoint(
        spark, planted_docs, tmp_path):
    """Overwrite-per-batch_id idempotence is only safe under ONE
    checkpoint's batch-id sequence. Re-running over an existing corpus
    with a fresh checkpoint restarts batch ids at 0 and would silently
    clobber earlier batches — the sink must fail fast instead; the same
    checkpoint must still resume, and a pre-marker store must be
    refused outright."""
    import pytest as _pytest
    from kafkastreams_tp3_is_spark.streaming.incremental import (
        StreamingCorpusDedup)

    docs, _ = planted_docs
    src = tmp_path / "guard_incoming"
    (docs.where(F.col("doc_id") < 20).repartition(1)
         .write.mode("append").parquet(str(src)))

    def stream():
        return (spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1).parquet(str(src)))

    corpus_dir = str(tmp_path / "guard_corpus")
    sink = StreamingCorpusDedup(spark, corpus_dir, jaccard_threshold=0.7)
    sink.run(stream(), str(tmp_path / "ckpt_a"))
    kept = sorted(r["doc_id"] for r in sink.corpus().collect())
    assert kept == list(range(20))

    # same checkpoint: resumes cleanly (no new files -> no-op run)
    sink2 = StreamingCorpusDedup(spark, corpus_dir, jaccard_threshold=0.7)
    sink2.run(stream(), str(tmp_path / "ckpt_a"))
    assert sorted(r["doc_id"] for r in sink2.corpus().collect()) == kept

    # fresh checkpoint over the same store: refuse before any write
    sink3 = StreamingCorpusDedup(spark, corpus_dir, jaccard_threshold=0.7)
    with _pytest.raises(RuntimeError, match="checkpoint"):
        sink3.run(stream(), str(tmp_path / "ckpt_b"))
    assert sorted(r["doc_id"] for r in sink3.corpus().collect()) == kept

    # batch subdirectories but no marker (pre-marker store): refuse too
    marker = os.path.join(corpus_dir, "_checkpoint_marker.json")
    os.remove(marker)
    sink4 = StreamingCorpusDedup(spark, corpus_dir, jaccard_threshold=0.7)
    with _pytest.raises(RuntimeError, match="no checkpoint marker"):
        sink4.run(stream(), str(tmp_path / "ckpt_a"))


def test_streaming_corpus_dedup_guard_covers_sig_store_and_adoption(
        spark, planted_docs, tmp_path):
    """(a) a stale SIGNATURE store under a fresh corpus_dir must refuse
    (ghost signatures would suppress new documents forever); (b) a
    marker pointing elsewhere over EMPTY stores is harmless and is
    rewritten; (c) adopt_checkpoint=True claims a pre-marker store."""
    from kafkastreams_tp3_is_spark.streaming.incremental import (
        StreamingCorpusDedup)

    docs, _ = planted_docs
    src = tmp_path / "gsig_in"
    (docs.where(F.col("doc_id") < 20).repartition(1)
         .write.mode("append").parquet(str(src)))

    def stream():
        return (spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1).parquet(str(src)))

    # build a store, then wipe ONLY the corpus dir (sig store survives)
    corpus = tmp_path / "gsig_corpus"
    sink = StreamingCorpusDedup(spark, str(corpus), jaccard_threshold=0.7)
    sink.run(stream(), str(tmp_path / "gsig_ckpt"))
    import shutil
    shutil.rmtree(corpus)
    stale = StreamingCorpusDedup(spark, str(corpus), jaccard_threshold=0.7)
    with pytest.raises(RuntimeError, match="signature store"):
        stale.run(stream(), str(tmp_path / "gsig_ckpt_b"))

    # marker-only store (no batches anywhere): foreign checkpoint is fine
    empty_corpus = tmp_path / "gsig_empty"
    e1 = StreamingCorpusDedup(spark, str(empty_corpus), sig_dir=str(
        tmp_path / "gsig_empty_sigs"))
    e1._guard_checkpoint(str(tmp_path / "ck_a"))
    e2 = StreamingCorpusDedup(spark, str(empty_corpus), sig_dir=str(
        tmp_path / "gsig_empty_sigs"))
    e2._guard_checkpoint(str(tmp_path / "ck_b"))  # must not raise

    # pre-marker store + original checkpoint: adoption path works
    corpus2 = tmp_path / "gsig_adopt"
    sink2 = StreamingCorpusDedup(spark, str(corpus2), jaccard_threshold=0.7)
    sink2.run(stream(), str(tmp_path / "gsig_ckpt2"))
    os.remove(os.path.join(str(corpus2), "_checkpoint_marker.json"))
    sink3 = StreamingCorpusDedup(spark, str(corpus2), jaccard_threshold=0.7)
    sink3.run(stream(), str(tmp_path / "gsig_ckpt2"), adopt_checkpoint=True)
    assert sorted(r["doc_id"] for r in sink3.corpus().collect()) == \
        list(range(20))


def test_streaming_corpus_dedup_marker_is_crash_safe_and_cc_dir_reclaimed(
        spark, planted_docs, tmp_path):
    """(a) a truncated marker (crash mid-write before os.replace existed)
    must fail fast with the refuse-to-run guidance, not a JSON decode
    traceback, and adopt_checkpoint=True must recover by rewriting it;
    (b) with cc_checkpoint_dir set, every micro-batch's checkpoint
    subtree is deleted once its terminal writes land — a long-running
    stream must not accumulate edge-set snapshots."""
    import pytest as _pytest
    from kafkastreams_tp3_is_spark.streaming.incremental import (
        StreamingCorpusDedup)

    docs, _ = planted_docs
    src = tmp_path / "ccclean_in"
    (docs.where(F.col("doc_id") < 20).repartition(2)
         .write.mode("append").parquet(str(src)))

    def stream():
        return (spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1).parquet(str(src)))

    corpus = tmp_path / "ccclean_corpus"
    cc_dir = tmp_path / "ccclean_cc"
    sink = StreamingCorpusDedup(spark, str(corpus), jaccard_threshold=0.7,
                                cc_checkpoint_dir=str(cc_dir))
    sink.run(stream(), str(tmp_path / "ccclean_ckpt"))
    assert sorted(r["doc_id"] for r in sink.corpus().collect()) == \
        list(range(20))
    leftovers = ([] if not cc_dir.is_dir()
                 else [p.name for p in cc_dir.iterdir()])
    assert leftovers == [], f"per-batch CC checkpoints leaked: {leftovers}"

    # truncated marker: actionable error, not json.JSONDecodeError
    marker = corpus / "_checkpoint_marker.json"
    marker.write_text('{"checkpoint_dir": "/some/pa')
    sink2 = StreamingCorpusDedup(spark, str(corpus), jaccard_threshold=0.7)
    with _pytest.raises(RuntimeError, match="cannot be read"):
        sink2._guard_checkpoint(str(tmp_path / "ccclean_ckpt"))
    # adopt rewrites the marker atomically and the store works again
    sink2._guard_checkpoint(str(tmp_path / "ccclean_ckpt"), adopt=True)
    import json as _json
    assert _json.loads(marker.read_text())["checkpoint_dir"] == \
        os.path.abspath(str(tmp_path / "ccclean_ckpt"))


def test_streaming_corpus_dedup_compaction(spark, planted_docs, tmp_path):
    """compact() folds all but the latest plain batch directory into one
    consolidated dir per store: corpus content identical, signature
    store still authoritative (a later run dedups new near-dups against
    the COMPACTED signatures), directory count drops 4 -> 2, the
    checkpoint marker survives, and the original checkpoint resumes
    over the compacted store."""
    from kafkastreams_tp3_is_spark.streaming.incremental import (
        StreamingCorpusDedup)

    docs, _ = planted_docs
    src = tmp_path / "compact_in"
    (docs.where(F.col("doc_id") < 20).repartition(4)
         .write.mode("append").parquet(str(src)))

    def stream():
        return (spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1).parquet(str(src)))

    corpus = str(tmp_path / "compact_corpus")
    ckpt = str(tmp_path / "compact_ckpt")
    sink = StreamingCorpusDedup(spark, corpus, jaccard_threshold=0.7)
    sink.run(stream(), ckpt)
    before = sorted(tuple(r) for r in sink.corpus().collect())

    def n_batch_dirs(root):
        return sum(1 for d in os.listdir(root) if d.startswith("batch="))

    assert n_batch_dirs(corpus) == 4 and n_batch_dirs(sink.sig_dir) == 4
    sink.compact()
    # the LATEST plain batch dir is never folded (it is the only one a
    # crashed checkpoint can replay, and the replay protections are
    # name-based), so 4 dirs compact to 2: batch=3 + batch=2c
    assert n_batch_dirs(corpus) == 2 and n_batch_dirs(sink.sig_dir) == 2
    assert os.path.isdir(os.path.join(corpus, "batch=3"))
    assert sorted(tuple(r) for r in sink.corpus().collect()) == before
    assert os.path.isfile(os.path.join(corpus, "_checkpoint_marker.json"))
    # idempotent: a second compact (latest plain dir + one compacted
    # dir) is a no-op
    sink.compact()
    assert n_batch_dirs(corpus) == 2
    assert sorted(tuple(r) for r in sink.corpus().collect()) == before

    # resume the SAME checkpoint with new files: exact re-sends of stored
    # documents must be suppressed against the COMPACTED signature store
    (docs.where((F.col("doc_id") >= 5) & (F.col("doc_id") < 10))
         .repartition(1).write.mode("append").parquet(str(src)))
    sink2 = StreamingCorpusDedup(spark, corpus, jaccard_threshold=0.7)
    sink2.run(stream(), ckpt)
    assert sorted(tuple(r) for r in sink2.corpus().collect()) == before


def test_stream_stream_join_matches_batch_and_crosses_batches(spark):
    """The KStream-KStream windowed join demo must (a) equal the batch
    interval join row-for-row (watermark exceeds the data span, so
    nothing is late-dropped), and (b) actually exercise CROSS-BATCH
    buffering: at least one emitted match must pair rows staged into
    DIFFERENT micro-batch files (the b-split is by xxhash64 parity of
    different key columns on each side, so straddling pairs exist by
    construction — this asserts the join found them)."""
    from pyspark.sql import functions as F

    from kafkastreams_tp3_is_spark.streaming.join import (
        trips_route_update_stream_join)
    from kafkastreams_tp3_is_spark.views import (
        load, route_updates_from_orders, trips_from_lineitem)
    from tests.conftest import SF_DIR

    got = {tuple(r) for r in
           trips_route_update_stream_join(spark, SF_DIR).collect()}

    trips = (trips_from_lineitem(
                 load(spark, SF_DIR, "lineitem")
                 .where(F.col("l_orderkey") % 20 == 0))
             .select("trip_id", "route_id",
                     F.col("event_ts").cast("timestamp").alias("trip_ts")))
    updates = (route_updates_from_orders(
                   load(spark, SF_DIR, "orders")
                   .where(F.col("o_orderkey") % 20 == 0))
               .select(F.col("route_id").alias("u_route_id"), "capacity",
                       F.col("event_ts").cast("timestamp")
                        .alias("update_ts")))
    batch = (trips.join(
                 updates,
                 (F.col("route_id") == F.col("u_route_id"))
                 & (F.col("update_ts")
                    >= F.col("trip_ts") - F.expr("INTERVAL 365 DAYS"))
                 & (F.col("update_ts")
                    <= F.col("trip_ts") + F.expr("INTERVAL 365 DAYS")))
             .select("trip_id", "route_id", "trip_ts", "update_ts",
                     "capacity"))
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(got) > 0

    # cross-batch evidence: a match whose sides landed in different
    # staged files (left b-parity from trip_id, right from route_id)
    def parity(col, val, df):
        return df.sparkSession.createDataFrame([(val,)], f"{col} string") \
                 .select((F.xxhash64(col) % 2 == 0).cast("int")).collect()[0][0]

    crossed = any(
        parity("trip_id", r[0], batch) != parity("route_id", r[1], batch)
        for r in list(got)[:50])
    assert crossed, "no emitted match straddled the two micro-batches"


def test_stream_stream_left_outer_join_emits_nulls_at_watermark(
        spark, tmp_path):
    """KStream.leftJoin semantics (the outer half of the join family):
    an unmatched left row must emit ONCE with null right columns after
    the watermark proves no in-interval partner can arrive — and
    matched rows must emit exactly the inner-join result. The fixture
    stages three files per side (data, sentinel, sentinel): watermark
    updates at END of a batch and outer-null emission happens in a
    LATER batch, so the second sentinel batch is what flushes the
    unmatched row. Sentinel keys match nothing and are excluded."""
    import time

    from pyspark.sql import functions as F

    from kafkastreams_tp3_is_spark.streaming.join import (
        stream_stream_interval_join)

    l_dir, r_dir = str(tmp_path / "left"), str(tmp_path / "right")
    ckpt = str(tmp_path / "ckpt")

    def write(rows, schema, path):
        spark.createDataFrame(rows, schema) \
             .selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts", "v") \
             .coalesce(1).write.mode("append").parquet(path)
        time.sleep(0.2)  # file source orders batches by mod time

    ls, rs = "k string, ts string, v long", "k string, ts string, v long"
    # batch 0: A matches (30 min apart, tolerance 1 day); B unmatched
    write([("A", "2024-01-01 10:00:00", 1),
           ("B", "2024-01-01 11:00:00", 2)], ls, l_dir)
    write([("A", "2024-01-01 10:30:00", 10),
           ("C", "2024-01-01 09:00:00", 30)], rs, r_dir)
    # batches 1 and 2: far-future sentinels drive the watermark past
    # B's interval edge, then flush the pending outer row
    for tag in ("1", "2"):
        write([("ZL" + tag, "2030-01-01 00:00:00", 0)], ls, l_dir)
        write([("ZR" + tag, "2030-01-01 00:00:00", 0)], rs, r_dir)

    schema = spark.read.parquet(l_dir).schema
    lstr = (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(l_dir)
            .withColumnRenamed("ts", "l_ts").withColumnRenamed("v", "l_v"))
    rstr = (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(r_dir)
            .withColumnRenamed("ts", "r_ts").withColumnRenamed("v", "r_v"))
    joined = stream_stream_interval_join(
        lstr, rstr, key="k", left_ts="l_ts", right_ts="r_ts",
        tolerance_days=1, watermark="0 seconds", how="leftOuter")

    rows: list = []
    q = (joined.writeStream
         .foreachBatch(lambda df, _id: rows.extend(df.collect()))
         .outputMode("append").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = {(r["k"], str(r["l_ts"]), r["l_v"],
            None if r["r_ts"] is None else str(r["r_ts"]), r["r_v"])
           for r in rows if not r["k"].startswith("Z")}
    want = {("A", "2024-01-01 10:00:00", 1, "2024-01-01 10:30:00", 10),
            ("B", "2024-01-01 11:00:00", 2, None, None)}
    assert got == want
    # right-side-only key C must NOT appear anywhere (left outer, not full)
    assert not any(r["k"] == "C" for r in rows)


def test_streaming_session_window_matches_batch(spark, tmp_path):
    """Native streaming sessionization (the stateful-session shape of
    Kafka Streams' SessionWindows): session_window + watermark in
    append mode over a multi-file replay must reproduce the batch
    sessionize answer EXACTLY — including sessions whose events
    straddle micro-batch boundaries (state-merged sessions, the part a
    naive per-batch groupBy gets wrong). Two far-future sentinel
    batches drive the watermark past every session and flush pending
    state (emission happens one batch AFTER the watermark advance)."""
    import time

    from pyspark.sql import functions as F

    from kafkastreams_tp3_is_spark.operators.events import load_events
    from tests.conftest import SF_DIR

    gap = "30 minutes"
    ev = (load_events(spark, SF_DIR)
          .where(F.col("user_id") % 11 == 0)
          .select("user_id", "ts"))
    batch = (ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
             .agg(F.count(F.lit(1)).alias("n_events"))
             .select("user_id", F.col("w.start").alias("session_start"),
                     "n_events"))
    want = {tuple(r) for r in batch.collect()}
    assert want, "fixture must be non-empty"

    src = str(tmp_path / "ev_src")

    def write(df):
        df.coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.2)  # file source orders batches by mod time

    # split by event-hash parity => a user's session events straddle
    # the two files whenever the session has >1 event
    write(ev.where(F.xxhash64("user_id", "ts") % 2 == 0))
    write(ev.where(F.xxhash64("user_id", "ts") % 2 != 0))
    sentinel = spark.createDataFrame(
        [(999_999_001, "2031-01-01 00:00:00"),
         (999_999_002, "2031-01-02 00:00:00")],
        "user_id long, ts string").selectExpr(
            "user_id", "CAST(ts AS TIMESTAMP) AS ts")
    write(sentinel.where(F.col("user_id") == 999_999_001))
    write(sentinel.where(F.col("user_id") == 999_999_002))

    stream = (spark.readStream.schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", "1").parquet(src)
              .withWatermark("ts", "0 seconds"))
    sess = (stream.groupBy(F.session_window("ts", gap).alias("w"),
                           "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id", F.col("w.start").alias("session_start"),
                    "n_events"))

    rows: list = []
    q = (sess.writeStream
         .foreachBatch(lambda df, _id: rows.extend(df.collect()))
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = {tuple(r) for r in rows if r["user_id"] < 999_999_000}
    assert got == want


def test_stream_stream_join_state_survives_restart(spark, tmp_path):
    """Checkpoint recovery for the stream-stream join: a SECOND run
    against the SAME checkpoint must join its new events against
    opposite-side state buffered by the FIRST run — the restart
    semantics production relies on (a crashed/redeployed job must not
    lose buffered join state or re-emit old matches)."""
    import time

    from pyspark.sql import functions as F

    from kafkastreams_tp3_is_spark.streaming.join import (
        stream_stream_interval_join)

    l_dir, r_dir = str(tmp_path / "l"), str(tmp_path / "r")
    ckpt = str(tmp_path / "ckpt")
    schema = "k string, ts string, v long"

    def write(rows, path):
        (spark.createDataFrame(rows, schema)
         .selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts", "v")
         .coalesce(1).write.mode("append").parquet(path))
        time.sleep(0.2)

    def run_once():
        sch = spark.read.parquet(l_dir).schema
        ls = (spark.readStream.schema(sch).parquet(l_dir)
              .withColumnRenamed("ts", "l_ts").withColumnRenamed("v", "l_v"))
        rs = (spark.readStream.schema(sch).parquet(r_dir)
              .withColumnRenamed("ts", "r_ts").withColumnRenamed("v", "r_v"))
        joined = stream_stream_interval_join(
            ls, rs, key="k", left_ts="l_ts", right_ts="r_ts",
            tolerance_days=1, watermark="3650 days")
        rows: list = []
        qq = (joined.writeStream
              .foreachBatch(lambda df, _id: rows.extend(df.collect()))
              .outputMode("append").option("checkpointLocation", ckpt)
              .trigger(availableNow=True).start())
        qq.awaitTermination()
        return rows

    # run 1: left A arrives, right partner has NOT — A must be buffered
    write([("A", "2024-01-01 10:00:00", 1)], l_dir)
    write([("B", "2024-01-01 09:00:00", 20)], r_dir)
    out1 = run_once()
    assert out1 == []   # nothing matches yet

    # run 2 (same checkpoint): A's partner and B's partner arrive — the
    # matches need run-1 state on BOTH sides
    write([("B", "2024-01-01 09:30:00", 2)], l_dir)
    write([("A", "2024-01-01 10:30:00", 10)], r_dir)
    out2 = run_once()
    got = {(r["k"], r["l_v"], r["r_v"]) for r in out2}
    assert got == {("A", 1, 10), ("B", 2, 20)}

    # run 3: no new input — nothing re-emits (exactly-once)
    write([("Z", "2024-01-05 00:00:00", 0)], l_dir)
    out3 = run_once()
    assert not any(r["k"] in ("A", "B") for r in out3)


def test_stream_stream_full_outer_join_emits_both_null_sides(
        spark, tmp_path):
    """KStream.outerJoin semantics (the full-outer member of the join
    family): matched rows emit the inner result; an unmatched LEFT row
    emits once with null right columns AND an unmatched RIGHT row emits
    once with null left columns — each at its watermark close. The
    output key must survive on unmatched-right rows (the helper
    coalesces the left key with the renamed right key before dropping
    it). Same three-batch sentinel choreography as the left-outer
    test."""
    import time

    from pyspark.sql import functions as F

    from kafkastreams_tp3_is_spark.streaming.join import (
        stream_stream_interval_join)

    l_dir, r_dir = str(tmp_path / "left"), str(tmp_path / "right")
    ckpt = str(tmp_path / "ckpt")

    def write(rows, schema, path):
        spark.createDataFrame(rows, schema) \
             .selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts", "v") \
             .coalesce(1).write.mode("append").parquet(path)
        time.sleep(0.2)

    ls = "k string, ts string, v long"
    # A matches; B left-only; C right-only
    write([("A", "2024-01-01 10:00:00", 1),
           ("B", "2024-01-01 11:00:00", 2)], ls, l_dir)
    write([("A", "2024-01-01 10:30:00", 10),
           ("C", "2024-01-01 09:00:00", 30)], ls, r_dir)
    for tag in ("1", "2"):
        write([("ZL" + tag, "2030-01-01 00:00:00", 0)], ls, l_dir)
        write([("ZR" + tag, "2030-01-01 00:00:00", 0)], ls, r_dir)

    schema = spark.read.parquet(l_dir).schema
    lstr = (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(l_dir)
            .withColumnRenamed("ts", "l_ts").withColumnRenamed("v", "l_v"))
    rstr = (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(r_dir)
            .withColumnRenamed("ts", "r_ts").withColumnRenamed("v", "r_v"))
    joined = stream_stream_interval_join(
        lstr, rstr, key="k", left_ts="l_ts", right_ts="r_ts",
        tolerance_days=1, watermark="0 seconds", how="fullOuter")

    rows: list = []
    q = (joined.writeStream
         .foreachBatch(lambda df, _id: rows.extend(df.collect()))
         .outputMode("append").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = {(r["k"], r["l_v"], r["r_v"])
           for r in rows if not r["k"].startswith("Z")}
    want = {("A", 1, 10),          # matched
            ("B", 2, None),        # left-only: null right columns
            ("C", None, 30)}       # right-only: null left columns, key kept
    assert got == want


# --- RocksDB state store backend (the 100 TB state path) ---------------

def test_rocksdb_windowed_counts_equal_default_provider(
        spark, stream_dirs, tmp_path):
    """State backends must never change RESULTS: the engine-maintained
    windowed counts under RocksDBStateStoreProvider (+ changelog
    checkpointing) must produce the same final upserted state as the
    default HDFS-backed provider, == the batch aggregation."""
    from kafkastreams_tp3_is_spark.streaming.state_backend import (
        rocksdb_state_store)

    def run(ck):
        trips_stream = trip_file_stream(spark, str(stream_dirs / "lineitem"))
        sink = MemoryUpsertSink(["window_start", "transport_type"])
        run_update_mode_agg(
            windowed_counts_stream(trips_stream, watermark="4000 days"),
            sink, str(tmp_path / ck))
        return {k: d["cnt"] for k, d in sink.state.items()}

    default_state = run("ck_default")
    with rocksdb_state_store(spark):
        rocks_state = run("ck_rocks")
        assert spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass").endswith(
            "RocksDBStateStoreProvider")
    assert rocks_state == default_state and len(rocks_state) > 0
    # the scoped setter restored (or unset) the caller's provider conf
    from kafkastreams_tp3_is_spark.streaming.state_backend import (
        ROCKSDB_PROVIDER)
    assert spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "default") != ROCKSDB_PROVIDER


def test_rocksdb_applyinpandas_state_kernel_parity(spark, tmp_path):
    """The per-key applyInPandasWithState kernel (latest-per-key) under
    RocksDB: final collapsed state equals the batch row_number
    realization — the provider swap is transparent to custom stateful
    operators too."""
    from kafkastreams_tp3_is_spark.streaming.state_backend import (
        rocksdb_state_store)
    from kafkastreams_tp3_is_spark.streaming.stateful import (
        latest_per_key_stream)
    from kafkastreams_tp3_is_spark.views import (
        latest_route_capacity, routes_reemitted)

    chg = routes_reemitted(spark, SF_DIR)
    src = tmp_path / "rocks_chg"
    chg.repartition(3).write.parquet(str(src))
    stream = (spark.readStream.schema(chg.schema)
              .option("maxFilesPerTrigger", "1").parquet(str(src)))
    sink = MemoryUpsertSink(["route_id"])
    with rocksdb_state_store(spark):
        latest = latest_per_key_stream(stream, ["route_id"], "event_ts")
        q_ = (latest.writeStream.foreachBatch(sink.process)
              .outputMode("update")
              .option("checkpointLocation", str(tmp_path / "ck_rocks_st"))
              .trigger(availableNow=True).start())
        q_.awaitTermination()
    got = {(d["route_id"], d["capacity"]) for d in sink.rows()}
    want = {(r["route_id"], r["capacity"])
            for r in latest_route_capacity(spark, SF_DIR).collect()}
    assert got == want


# --- ADVICE r11: Arrow sink repair recursion + narrowed fallback -------

def test_sink_arrow_repair_recurses_into_nested_timestamps(spark):
    """A timestamp nested inside a struct or array in the sink schema
    must get the same tz-strip repair as a top-level one — the
    byte-compatibility target is Row.asDict(recursive=True), which is
    recursive (ADVICE r11)."""
    from pyspark.sql import functions as FF

    batch = (spark.range(3)
             .select(FF.col("id").alias("k"),
                     FF.struct(
                         FF.to_timestamp(FF.lit("2024-01-02 03:04:05"))
                         .alias("ts"),
                         FF.col("id").alias("n")).alias("s"),
                     FF.array(
                         FF.to_timestamp(FF.lit("2024-05-06 07:08:09")))
                     .alias("arr")))
    want = {r["k"]: r.asDict(recursive=True) for r in batch.collect()}
    sink = MemoryUpsertSink(["k"])
    sink.process(batch, 0)
    got = {d["k"]: d for d in sink.rows()}
    assert got == want  # dict-equality checks nested tzinfo too
    for d in got.values():
        assert d["s"]["ts"].tzinfo is None
        assert d["arr"][0].tzinfo is None


def test_sink_arrow_fallback_only_for_conversion_errors(spark, monkeypatch):
    """Conversion-layer failures (TypeError/ValueError family) take the
    collect() slow path; any OTHER toArrow failure — e.g. a genuine
    Spark job error — must propagate instead of silently re-running the
    whole batch job (ADVICE r11)."""
    import pytest

    batch = spark.range(3).withColumnRenamed("id", "k")
    # patch the CONCRETE class (pyspark.sql.classic.dataframe.DataFrame in
    # Spark 4) — the pyspark.sql.DataFrame base would be shadowed by it
    cls = type(batch)

    def _raise_conversion(self):
        raise TypeError("unsupported sink-schema type")

    monkeypatch.setattr(cls, "toArrow", _raise_conversion)
    sink = MemoryUpsertSink(["k"])
    sink.process(batch, 0)  # falls back to collect()
    assert sorted(d["k"] for d in sink.rows()) == [0, 1, 2]

    def _raise_job_error(self):
        raise RuntimeError("executor lost: job aborted")

    monkeypatch.setattr(cls, "toArrow", _raise_job_error)
    with pytest.raises(RuntimeError, match="job aborted"):
        MemoryUpsertSink(["k"]).process(batch, 1)


def test_bucketed_store_matches_plain_and_rewrites_only_changed_buckets(
        spark, tmp_path):
    """BucketedAggStore is the billion-key layout of KeyedAggStore: the
    SAME batches yield the SAME merged aggregate (exactness), but a
    trigger touching one key reads and rewrites only that key's bucket
    — asserted via the store's own accounting (buckets_rewritten_last,
    rows_read_last_merge), not trusted. Also covers replay idempotency
    (manifest version check) and resume-from-disk manifest adoption."""
    from kafkastreams_tp3_is_spark.streaming.partial_agg import (
        BucketedAggStore, trip_route_type_store)

    cols = "route_id string, transport_type string"
    big = spark.createDataFrame(
        [(f"R{i}", f"T{i % 3}") for i in range(200)], cols)
    tiny = spark.createDataFrame([("R7", "T1")] * 3, cols)

    plain = trip_route_type_store(spark, str(tmp_path / "plain"))
    buck = trip_route_type_store(spark, str(tmp_path / "buck"),
                                 cls=BucketedAggStore, n_buckets=16)
    for store in (plain, buck):
        store.update(big, 0)
        store.update(tiny, 1)

    def snap(store):
        return sorted((r["route_id"], r["transport_type"], r["n"])
                      for r in store.frame().collect())

    assert snap(buck) == snap(plain)

    # the tiny batch touched exactly one key -> one bucket rewritten,
    # and the merge read only that bucket's stored rows (far below the
    # ~200-key aggregate the plain store re-reads wholesale)
    assert buck.buckets_rewritten_last == 1
    assert 0 < buck.rows_read_last_merge < 200
    assert plain.rows_read_last_merge >= 200

    # replay of an already-committed batch id: no-op, nothing rewritten
    before = snap(buck)
    buck.update(tiny, 1)
    assert buck.buckets_rewritten_last == 0
    assert snap(buck) == before

    # resume: a fresh store object adopts the manifest and serves the
    # identical aggregate, then keeps merging incrementally
    resumed = trip_route_type_store(spark, str(tmp_path / "buck"),
                                    cls=BucketedAggStore, n_buckets=16)
    assert resumed.version == buck.version
    assert snap(resumed) == before
    resumed.update(spark.createDataFrame([("R7", "T1")], cols), 2)
    assert resumed.buckets_rewritten_last == 1
    want = [t if t[0:2] != ("R7", "T1") else ("R7", "T1", t[2] + 1)
            for t in before]
    assert snap(resumed) == sorted(want)


def test_topology_bucketed_harness_final_state_matches_plain(
        spark, tmp_path):
    """IncrementalAggHarness(bucketed=True) drives the full 13-query
    topology to the same final upserted state as the plain store path
    (and therefore, transitively via the existing stream==batch pins,
    the batch answers)."""
    from kafkastreams_tp3_is_spark.sources.files import (
        route_file_stream, trip_file_stream)
    from kafkastreams_tp3_is_spark.streaming.partial_agg import (
        FINALIZE, IncrementalAggHarness)
    from kafkastreams_tp3_is_spark.streaming.runner import MemoryUpsertSink
    from kafkastreams_tp3_is_spark.streaming.app import TOPOLOGY
    from tests.conftest import SF_DIR

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").limit(300)
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(900)
    results = {}
    for mode, bucketed in (("plain", False), ("bucketed", True)):
        work = str(tmp_path / mode)
        for tag, df in (("orders", orders), ("lineitem", lineitem)):
            df.repartition(2).write.mode("overwrite").parquet(
                f"{work}/in_{tag}")
        sinks = {name: MemoryUpsertSink(keys)
                 for name, keys in TOPOLOGY.items()}
        h = IncrementalAggHarness(spark, work, bucketed=bucketed,
                                  n_buckets=8)
        h.run_many(route_file_stream(spark, f"{work}/in_orders"),
                   trip_file_stream(spark, f"{work}/in_lineitem"),
                   {n: (FINALIZE[n], sinks[n]) for n in TOPOLOGY})
        results[mode] = {
            n: sorted(map(repr, sinks[n].rows())) for n in TOPOLOGY}
    assert results["bucketed"] == results["plain"]


def test_topology_steady_state_triggers_compile_nothing(
        spark, stream_dirs, tmp_path):
    """One topology trigger compiles ~190 generated classes; the session
    factory sizes the codegen cache to hold them, so a steady-state
    trigger compiles (almost) none — at Spark's 100-entry default every
    trigger evicts and recompiles its whole working set, ~190 classes.
    The first merge and AQE's data-size-driven plan switches compile
    once per JVM, so a first drain warms the cache and a second, fresh
    drain of the same files is measured. The bound is not 0: when AQE
    re-plans in a different stage-completion order it renumbers a few
    codegen stages, and the stage id is part of the generated source
    (0 on most triggers, at most 4 seen)."""
    from kafkastreams_tp3_is_spark.streaming.app import run_topology

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    compiles = []
    for run in ("warm", "steady"):
        stats: dict = {}
        run_topology(spark,
                     route_file_stream(spark, str(stream_dirs / "orders")),
                     trip_file_stream(spark, str(stream_dirs / "lineitem")),
                     str(tmp_path / run), stats=stats)
        compiles.append([p["codegen_compiles"]
                         for p in stats["phase_secs"]])
    steady = compiles[1]
    assert len(steady) >= 3, compiles
    assert max(steady[1:]) < 20, compiles


@pytest.mark.parametrize("bucketed", [False, True],
                         ids=["keyed", "bucketed"])
def test_store_read_schema_equals_parquet_inference(
        spark, tmp_path, bucketed):
    """Stores read each version with the schema of the frame they wrote
    instead of paying a footer-reading inference job; the file reader
    makes that schema nullable and lists _bucket last. The result must
    equal what inference returns — extremum's argmax/argmin pick their
    plan from the value column's nullability, and the partial counts
    are written non-null — after every update, after a kill-and-resume
    (the resumed store's first read infers), and on the bucketed
    store's partial-bucket read."""
    import datetime as dt

    from kafkastreams_tp3_is_spark.streaming.partial_agg import (
        BucketedAggStore, KeyedAggStore, route_agg_store,
        trip_passenger_store, trip_route_type_store,
        trip_window_type_store)

    kw = ({"cls": BucketedAggStore, "n_buckets": 4} if bucketed
          else {"cls": KeyedAggStore})
    base = dt.datetime(2024, 1, 1)
    routes = spark.createDataFrame(
        [(f"R{i % 5}", "O", "D", f"T{i % 2}", 10 + i, f"Op{i % 3}",
          base + dt.timedelta(hours=i)) for i in range(12)],
        "route_id string, origin string, destination string, "
        "transport_type string, capacity int, operator string, "
        "event_ts timestamp")
    trips = spark.createDataFrame(
        [(f"R{i % 5}", f"T{i % 2}", f"P{i % 4}",
          base + dt.timedelta(minutes=37 * i)) for i in range(12)],
        "route_id string, transport_type string, passenger_name string, "
        "event_ts timestamp")
    factories = {"route": (route_agg_store, routes),
                 "trip_rt": (trip_route_type_store, trips),
                 "trip_pax": (trip_passenger_store, trips),
                 "trip_wt": (trip_window_type_store, trips)}

    def check(store, name):
        inferred = spark.read.parquet(store._vdir(store.version)).schema
        if bucketed:
            # the merge reads keep _bucket; one bucket alone takes the
            # basePath read whenever its version holds other buckets
            some = sorted(store.buckets)
            assert store._read_buckets(some).schema == inferred, name
            assert store._read_buckets(some[:1]).schema == inferred, name
            inferred = spark.read.parquet(
                store._vdir(store.version)).drop("_bucket").schema
        assert store.current().schema == inferred, name

    for name, (make, df) in factories.items():
        path = str(tmp_path / name)
        store = make(spark, path, **kw)
        for b, batch in enumerate((df, df.where(F.col("route_id") == "R1"))):
            store.update(batch, b)
            check(store, name)
        resumed = make(spark, path, **kw)      # kill-and-resume
        check(resumed, name)
        resumed.update(df.where(F.col("route_id") == "R2"), 2)
        check(resumed, name)


def test_bucketed_store_adoption_sweeps_stale_subdir(spark, tmp_path):
    """Crash window: manifest committed but the superseded-subdir sweep
    did not run. A stale _bucket subdir left in an older (still
    referenced) version dir must be swept on adoption — otherwise the
    whole-version fast-path read would double that bucket's rows."""
    import os
    import shutil

    from kafkastreams_tp3_is_spark.streaming.partial_agg import (
        BucketedAggStore, trip_route_type_store)

    cols = "route_id string, transport_type string"
    store = trip_route_type_store(spark, str(tmp_path / "s"),
                                  cls=BucketedAggStore, n_buckets=4)
    store.update(spark.createDataFrame(
        [(f"R{i}", "T0") for i in range(40)], cols), 0)
    store.update(spark.createDataFrame([("R1", "T0")], cols), 1)
    want = sorted((r["route_id"], r["n"])
                  for r in store.frame().collect())

    # simulate the crash debris: re-plant R1's bucket dir (now living
    # in b1) back into b0
    b1_bucket = next(d for d in os.listdir(store._vdir(1))
                     if d.startswith("_bucket="))
    stale = os.path.join(store._vdir(0), b1_bucket)
    shutil.copytree(os.path.join(store._vdir(1), b1_bucket), stale)

    resumed = trip_route_type_store(spark, str(tmp_path / "s"),
                                    cls=BucketedAggStore, n_buckets=4)
    assert not os.path.exists(stale)          # adoption swept it
    got = sorted((r["route_id"], r["n"])
                 for r in resumed.frame().collect())
    assert got == want                        # no doubled rows


def test_streaming_bpe_encode_equals_batch(spark, tmp_path):
    """Stream==batch token parity (VERDICT r13 ask #6): documents
    arriving over 3 micro-batches, each encoded per-trigger against the
    persisted tokenizer, must produce EXACTLY the one-shot batch
    encode's (doc_id, pos, symbol, token_id) rows — documents are
    encoded independently, so trigger assignment cannot matter."""
    import os

    from kafkastreams_tp3_is_spark.operators.text import (
        bpe_encode_with_tokenizer, bpe_persist_tokenizer)
    from kafkastreams_tp3_is_spark.streaming.incremental import (
        StreamingBpeEncoder)
    from kafkastreams_tp3_is_spark.views import load

    docs = load(spark, SF_DIR, "documents")
    base = docs.where(F.col("doc_id") % 2 == 0)
    inc = docs.select("doc_id", "text").where(F.col("doc_id") % 2 == 1)
    tok_dir = str(tmp_path / "tokenizer")
    bpe_persist_tokenizer(base, tok_dir, n_merges=8)

    src = tmp_path / "bpe_incoming"
    inc.repartition(3).write.parquet(str(src))
    stream = (spark.readStream.schema(inc.schema)
              .option("maxFilesPerTrigger", "1").parquet(str(src)))
    sink = StreamingBpeEncoder(spark, tok_dir, str(tmp_path / "tokens"))
    sink.run(stream, str(tmp_path / "bpe_ckpt"))

    got = sorted(tuple(r) for r in sink.tokens().collect())
    m = spark.read.parquet(os.path.join(tok_dir, "merges"))
    v = spark.read.parquet(os.path.join(tok_dir, "vocab"))
    want = sorted(tuple(r)
                  for r in bpe_encode_with_tokenizer(inc, m, v).collect())
    assert got == want and len(got) > 0
    # OOV sentinel: every token_id is either a trained id or -1
    assert all(t[-1] >= -1 for t in got)


def test_streaming_bpe_encoder_guards_foreign_checkpoint(spark, tmp_path):
    """The token store's overwrite-per-batch_id idempotence is only
    safe under one checkpoint's id sequence: a fresh checkpoint over an
    existing store must refuse; the original checkpoint resumes as a
    no-op; a marker-less store with batches refuses too."""
    import os

    import pytest as _pytest

    from kafkastreams_tp3_is_spark.operators.text import (
        bpe_persist_tokenizer)
    from kafkastreams_tp3_is_spark.streaming.incremental import (
        StreamingBpeEncoder)
    from kafkastreams_tp3_is_spark.views import load

    docs = load(spark, SF_DIR, "documents")
    bpe_persist_tokenizer(docs.where(F.col("doc_id") % 2 == 0),
                          str(tmp_path / "tok"), n_merges=8)
    inc = docs.select("doc_id", "text").where(F.col("doc_id") % 2 == 1)
    src = tmp_path / "bg_in"
    inc.repartition(1).write.parquet(str(src))

    def stream():
        return (spark.readStream.schema(inc.schema)
                .option("maxFilesPerTrigger", "1").parquet(str(src)))

    out_dir = str(tmp_path / "bg_tokens")
    sink = StreamingBpeEncoder(spark, str(tmp_path / "tok"), out_dir)
    sink.run(stream(), str(tmp_path / "bg_ckpt_a"))
    n = sink.tokens().count()
    assert n > 0

    # same checkpoint: clean no-op resume
    sink2 = StreamingBpeEncoder(spark, str(tmp_path / "tok"), out_dir)
    sink2.run(stream(), str(tmp_path / "bg_ckpt_a"))
    assert sink2.tokens().count() == n

    # fresh checkpoint over the same store: refuse before any write
    sink3 = StreamingBpeEncoder(spark, str(tmp_path / "tok"), out_dir)
    with _pytest.raises(RuntimeError, match="checkpoint"):
        sink3.run(stream(), str(tmp_path / "bg_ckpt_b"))
    assert sink3.tokens().count() == n

    # marker-less store with batches (pre-marker layout): refuse
    os.remove(os.path.join(out_dir, "_checkpoint_marker.json"))
    sink4 = StreamingBpeEncoder(spark, str(tmp_path / "tok"), out_dir)
    with _pytest.raises(RuntimeError, match="no checkpoint marker"):
        sink4.run(stream(), str(tmp_path / "bg_ckpt_a"))


def test_bucketed_store_refuses_when_all_manifests_corrupt(spark, tmp_path):
    """Disk corruption guard (ADVICE r13): if manifests EXIST but none
    can be parsed (and no older manifest adopts), the store must refuse
    to start — starting empty would let the unreferenced-dir sweep
    delete every version dir, turning corruption into silent total
    state loss. A corrupt NEWEST manifest with a healthy older one must
    still adopt the older one (the normal crash-window path)."""
    import json
    import os

    from kafkastreams_tp3_is_spark.streaming.partial_agg import (
        BucketedAggStore, trip_route_type_store)

    cols = "route_id string, transport_type string"
    path = str(tmp_path / "corrupt_store")
    store = trip_route_type_store(spark, path,
                                  cls=BucketedAggStore, n_buckets=4)
    store.update(spark.createDataFrame(
        [(f"R{i}", "T0") for i in range(8)], cols), 0)
    store.update(spark.createDataFrame([("R1", "T0")], cols), 1)
    want = sorted((r["route_id"], r["n"])
                  for r in store.frame().collect())

    manifests = sorted(f for f in os.listdir(path)
                       if f.startswith("manifest_b"))
    assert manifests, "fixture must have committed a manifest"
    # corrupt-newest-with-healthy-older: write a garbage HIGHER version
    garbage = os.path.join(path, "manifest_b999.json")
    with open(garbage, "w") as fh:
        fh.write("{not json")
    resumed = trip_route_type_store(spark, path,
                                    cls=BucketedAggStore, n_buckets=4)
    assert sorted((r["route_id"], r["n"])
                  for r in resumed.frame().collect()) == want

    # resume rewrites a clean manifest set; now corrupt EVERY manifest
    for f in os.listdir(path):
        if f.startswith("manifest_b"):
            with open(os.path.join(path, f), "w") as fh:
                fh.write("{not json")
    with pytest.raises(RuntimeError, match="silent total state loss"):
        trip_route_type_store(spark, path,
                              cls=BucketedAggStore, n_buckets=4)
    # and the refusal left the version dirs alone
    assert any(d.startswith("b") and d[1:].isdigit()
               for d in os.listdir(path))


def test_bucketed_store_hot_bucket_touches_only_that_bucket(spark, tmp_path):
    """Skew accounting (VERDICT r13 ask #5): when a trigger's updates
    all land in ONE hot bucket, the store must read and rewrite exactly
    that bucket — the other n-1 buckets' stored rows are never opened.
    Asserted via the store's own accounting against hand-derived bucket
    assignment (pmod(xxhash64(keys), n))."""
    from kafkastreams_tp3_is_spark.streaming.partial_agg import (
        BucketedAggStore, trip_route_type_store)

    n_buckets = 8
    cols = "route_id string, transport_type string"
    seed_keys = [(f"R{i}", f"T{i % 3}") for i in range(400)]
    seed = spark.createDataFrame(seed_keys, cols)
    store = trip_route_type_store(spark, str(tmp_path / "hot"),
                                  cls=BucketedAggStore,
                                  n_buckets=n_buckets)
    store.update(seed, 0)

    # hand-derive each key's bucket with the same engine expression
    bucket_of = {(r["route_id"], r["transport_type"]): r["b"]
                 for r in spark.createDataFrame(seed_keys, cols)
                 .select("route_id", "transport_type",
                         F.pmod(F.xxhash64("route_id",
                                           "transport_type"),
                                F.lit(n_buckets)).cast("int")
                         .alias("b")).collect()}
    hot = max(set(bucket_of.values()),
              key=lambda b: sum(1 for v in bucket_of.values() if v == b))
    hot_keys = [k for k, b in bucket_of.items() if b == hot]
    assert len(hot_keys) >= 10, "fixture needs a populated bucket"

    # a heavily skewed batch: 50 updates per hot-bucket key, nothing else
    batch = spark.createDataFrame(hot_keys * 50, cols)
    store.update(batch, 1)
    assert store.buckets_rewritten_last == 1
    assert store.rows_read_last_merge == len(hot_keys)

    # exactness under skew: hot keys counted 1 (seed) + 50, others 1
    got = {(r["route_id"], r["transport_type"]): r["n"]
           for r in store.frame().collect()}
    want = {k: (51 if k in set(hot_keys) else 1) for k in seed_keys}
    assert got == want


def test_streaming_dsir_selector_equals_batch_topk(spark, tmp_path):
    """Maintained streaming DSIR top-k == one-shot batch selection:
    top-k is merge-stable under the deterministic (_logw desc, doc_id)
    order, so the final state after N micro-batches must equal scoring
    the whole increment at once; a replayed committed batch id is a
    no-op."""
    from kafkastreams_tp3_is_spark.operators.dsir import (
        TARGET_LANG, dsir_bucket_stats_df, dsir_persist_stats,
        dsir_score_increment_df)
    from kafkastreams_tp3_is_spark.streaming.incremental import (
        StreamingDsirSelector)
    from kafkastreams_tp3_is_spark.views import load

    docs = load(spark, SF_DIR, "documents")
    base = docs.where(F.col("doc_id") % 2 == 0)
    inc = docs.select("doc_id", "lang", "text").where(
        F.col("doc_id") % 2 == 1)
    stats_dir = str(tmp_path / "dsir_stats")
    dsir_persist_stats(dsir_bucket_stats_df(base, TARGET_LANG), stats_dir)

    src = tmp_path / "dsir_in"
    inc.repartition(3).write.parquet(str(src))
    stream = (spark.readStream.schema(inc.schema)
              .option("maxFilesPerTrigger", "1").parquet(str(src)))
    sink = StreamingDsirSelector(spark, stats_dir,
                                 str(tmp_path / "dsir_topk"), k=20)
    sink.run(stream, str(tmp_path / "dsir_ckpt"))

    got = sorted(tuple(r) for r in sink.selected().collect())
    stats = spark.read.parquet(stats_dir)
    want = sorted(tuple(r) for r in
                  dsir_score_increment_df(inc, stats, k=20).collect())
    assert got == want and len(got) == 20

    # replay of a committed batch id: state untouched
    v = sink.version
    sink.process(inc.limit(5), v)
    assert sink.version == v
    assert sorted(tuple(r) for r in sink.selected().collect()) == got


def test_streaming_dsir_selector_guards_against_foreign_checkpoint(
        spark, tmp_path):
    """ADVICE r14 (medium): a committed selection state under a FRESH
    checkpoint restarts batch ids at 0 and the ``batch_id <=
    self.version`` replay check would silently drop every new batch —
    the selector must refuse up front, exactly like
    StreamingBpeEncoder._guard_checkpoint; the same checkpoint resumes
    as a clean no-op, and a marker-less committed state refuses too."""
    import os

    import pytest as _pytest

    from kafkastreams_tp3_is_spark.operators.dsir import (
        TARGET_LANG, dsir_bucket_stats_df, dsir_persist_stats)
    from kafkastreams_tp3_is_spark.streaming.incremental import (
        StreamingDsirSelector)
    from kafkastreams_tp3_is_spark.views import load

    docs = load(spark, SF_DIR, "documents")
    base = docs.where(F.col("doc_id") % 2 == 0)
    inc = docs.select("doc_id", "lang", "text").where(
        F.col("doc_id") % 2 == 1)
    stats_dir = str(tmp_path / "dg_stats")
    dsir_persist_stats(dsir_bucket_stats_df(base, TARGET_LANG), stats_dir)
    src = tmp_path / "dg_in"
    inc.repartition(1).write.parquet(str(src))

    def stream():
        return (spark.readStream.schema(inc.schema)
                .option("maxFilesPerTrigger", "1").parquet(str(src)))

    out_dir = str(tmp_path / "dg_topk")
    sink = StreamingDsirSelector(spark, stats_dir, out_dir, k=10)
    sink.run(stream(), str(tmp_path / "dg_ckpt_a"))
    got = sorted(tuple(r) for r in sink.selected().collect())
    assert len(got) == 10

    # same checkpoint: clean no-op resume (all batches replayed+skipped)
    sink2 = StreamingDsirSelector(spark, stats_dir, out_dir, k=10)
    sink2.run(stream(), str(tmp_path / "dg_ckpt_a"))
    assert sorted(tuple(r) for r in sink2.selected().collect()) == got

    # fresh checkpoint over committed state: refuse before any write
    sink3 = StreamingDsirSelector(spark, stats_dir, out_dir, k=10)
    with _pytest.raises(RuntimeError, match="checkpoint"):
        sink3.run(stream(), str(tmp_path / "dg_ckpt_b"))
    assert sorted(tuple(r) for r in sink3.selected().collect()) == got

    # marker-less committed state (pre-marker layout): refuse
    os.remove(os.path.join(out_dir, "_checkpoint_marker.json"))
    sink4 = StreamingDsirSelector(spark, stats_dir, out_dir, k=10)
    with _pytest.raises(RuntimeError, match="no checkpoint marker"):
        sink4.run(stream(), str(tmp_path / "dg_ckpt_a"))


def test_streaming_span_scrub_equals_batch_and_guards(spark, tmp_path):
    """StreamingSpanScrubber (VERDICT r14 ask #6): the maintained
    streaming scrub over a doc_id-ordered replay of the planted corpus
    equals batch repeated_span_scrub bit-identically (first-occurrence-
    canonical == global min(doc_id, pos) under ordered arrival), a
    replayed trigger id scrubs against the store EXCLUDING its own
    partial output (retry idempotence), and the checkpoint-marker guard
    refuses a foreign checkpoint over committed batches."""
    import os

    import pytest as _pytest

    from kafkastreams_tp3_is_spark.operators.dedup import (
        _scrub_gate_docs, repeated_span_scrub)
    from kafkastreams_tp3_is_spark.streaming.incremental import (
        StreamingSpanScrubber, repeated_span_scrub_stream)

    got = sorted(tuple(r) for r in
                 repeated_span_scrub_stream(spark, SF_DIR).collect())
    want = sorted(tuple(r) for r in
                  repeated_span_scrub(spark, SF_DIR).collect())
    assert got == want and len(got) > 0
    # the stream genuinely cut something (planted shapes exist)
    assert any(r[2] > 0 for r in got)

    # guard: committed store + fresh checkpoint refuses; same resumes
    corpus = _scrub_gate_docs(spark, SF_DIR).limit(40)
    src = tmp_path / "sg_in"
    corpus.coalesce(1).write.parquet(str(src))

    def stream():
        return (spark.readStream.schema(corpus.schema)
                .option("maxFilesPerTrigger", "1").parquet(str(src)))

    out_dir = str(tmp_path / "sg_scrub")
    sink = StreamingSpanScrubber(spark, out_dir)
    sink.run(stream(), str(tmp_path / "sg_ckpt_a"))
    n = sink.scrubbed().count()
    assert n == 40

    sink2 = StreamingSpanScrubber(spark, out_dir)
    sink2.run(stream(), str(tmp_path / "sg_ckpt_a"))  # clean resume
    assert sink2.scrubbed().count() == n

    sink3 = StreamingSpanScrubber(spark, out_dir)
    with _pytest.raises(RuntimeError, match="checkpoint"):
        sink3.run(stream(), str(tmp_path / "sg_ckpt_b"))

    os.remove(os.path.join(out_dir, "_checkpoint_marker.json"))
    sink4 = StreamingSpanScrubber(spark, out_dir)
    with _pytest.raises(RuntimeError, match="no checkpoint marker"):
        sink4.run(stream(), str(tmp_path / "sg_ckpt_a"))


def test_streaming_ivf_indexer_equals_batch_append_and_guards(
        spark, tmp_path):
    """StreamingIvfIndexer: probes over the stream-maintained index
    (base build on even vec_ids + 4 streamed odd-half triggers) equal
    probes over the one-shot batch twin (build + append_to_ivf_index of
    the whole odd half) bit-identically — posting content is a pure
    per-vector function of (embedding, centroids) and train_centroids
    is deterministic, so the two indexes hold the same row set; a
    replayed trigger id overwrites its own batch=<id> subtree (retry
    idempotence, no double postings); and the checkpoint-marker guard
    refuses a foreign checkpoint over committed batches."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from kafkastreams_tp3_is_spark.operators.ivf import (
        _stored_query_rows, append_to_ivf_index, build_ivf_index,
        query_ivf_index)
    from kafkastreams_tp3_is_spark.streaming.incremental import (
        StreamingIvfIndexer, ann_index_increment_stream)
    from kafkastreams_tp3_is_spark.views import load

    got_df = ann_index_increment_stream(spark, SF_DIR)
    got = sorted(tuple(r) for r in got_df.collect())
    assert len(got) > 0

    # batch twin: same deterministic centroids (same training frame),
    # whole odd half appended in one shot
    emb = load(spark, SF_DIR, "embeddings")
    base = emb.where(F.col("vec_id") % 2 == 0)
    odd = emb.select("vec_id", "embedding").where(F.col("vec_id") % 2 == 1)
    ix_batch = str(tmp_path / "ix_batch")
    build_ivf_index(base, ix_batch, n_centroids=32, m_assign=2)
    append_to_ivf_index(odd, ix_batch)
    queries = spark.createDataFrame(
        _stored_query_rows(spark, SF_DIR, 5),
        "vec_id bigint, embedding array<double>")
    want = sorted(tuple(r) for r in query_ivf_index(
        spark, ix_batch, queries, k=10, nprobe=12).collect())
    assert got == want
    # the delta genuinely contributes: some neighbor is odd-vec_id
    assert any(r[1] % 2 == 1 for r in got)

    # retry idempotence: re-processing the same batch id overwrites its
    # own subtree — delta row count unchanged, no double postings
    ix_s = str(tmp_path / "ix_stream")
    build_ivf_index(base, ix_s, n_centroids=32, m_assign=2)
    indexer = StreamingIvfIndexer(spark, ix_s)
    head = odd.limit(16)
    indexer.process(head, 0)
    n1 = indexer.delta_postings().count()
    indexer.process(head, 0)          # foreachBatch retry replay
    assert indexer.delta_postings().count() == n1

    # guards: same checkpoint resumes; fresh checkpoint over committed
    # batches refuses; marker-less committed store refuses
    src = tmp_path / "ivf_in"
    head.coalesce(1).write.parquet(str(src))

    def stream():
        return (spark.readStream.schema(head.schema)
                .option("maxFilesPerTrigger", "1").parquet(str(src)))

    ix_g = str(tmp_path / "ix_guard")
    build_ivf_index(base, ix_g, n_centroids=32, m_assign=2)
    sink = StreamingIvfIndexer(spark, ix_g)
    sink.run(stream(), str(tmp_path / "ivf_ckpt_a"))
    n = sink.delta_postings().count()
    assert n > 0

    sink2 = StreamingIvfIndexer(spark, ix_g)
    sink2.run(stream(), str(tmp_path / "ivf_ckpt_a"))  # clean resume
    assert sink2.delta_postings().count() == n

    sink3 = StreamingIvfIndexer(spark, ix_g)
    with _pytest.raises(RuntimeError, match="checkpoint"):
        sink3.run(stream(), str(tmp_path / "ivf_ckpt_b"))

    os.remove(os.path.join(ix_g, "stream_postings",
                           "_checkpoint_marker.json"))
    sink4 = StreamingIvfIndexer(spark, ix_g)
    with _pytest.raises(RuntimeError, match="no checkpoint marker"):
        sink4.run(stream(), str(tmp_path / "ivf_ckpt_a"))


def test_streaming_ivf_compact_delta_preserves_probes(spark, tmp_path):
    """compact_delta folds the delta store into a fresh committed
    generation: probes are bit-identical before and after; the
    crash-window state (delta vectors present in BOTH the new
    generation and a lingering batch dir) still probes identically
    because same-cell doubles are exact-duplicate rows the probe's
    lag-dedup collapses; a second compact converges the layout."""
    import json
    import os
    import shutil

    from pyspark.sql import functions as F

    from kafkastreams_tp3_is_spark.operators.ivf import (
        _stored_query_rows, build_ivf_index)
    from kafkastreams_tp3_is_spark.streaming.incremental import (
        StreamingIvfIndexer)
    from kafkastreams_tp3_is_spark.views import load

    emb = load(spark, SF_DIR, "embeddings")
    base = emb.where(F.col("vec_id") % 2 == 0)
    odd = emb.select("vec_id", "embedding").where(F.col("vec_id") % 2 == 1)
    ix = str(tmp_path / "ix_compact")
    build_ivf_index(base, ix, n_centroids=32, m_assign=2)
    indexer = StreamingIvfIndexer(spark, ix)
    indexer.process(odd, 0)
    qrows = _stored_query_rows(spark, SF_DIR, 5)
    before = sorted(tuple(r) for r in
                    indexer.query(qrows, k=10, nprobe=12).collect())

    # snapshot a delta batch dir to replay the crash window later
    batch_dir = os.path.join(ix, "stream_postings", "batch=0")
    crash_copy = str(tmp_path / "crash_batch")
    shutil.copytree(batch_dir, crash_copy)

    assert indexer.compact_delta() is True
    with open(os.path.join(ix, "centroids.json")) as f:
        assert json.load(f)["postings_dir"] != "postings_g0"
    assert indexer.delta_postings() is None
    after = sorted(tuple(r) for r in
                   indexer.query(qrows, k=10, nprobe=12).collect())
    assert after == before

    # crash window: generation committed but delta not cleared —
    # doubled postings must not change any probe result
    shutil.copytree(crash_copy, batch_dir)
    doubled = sorted(tuple(r) for r in
                     indexer.query(qrows, k=10, nprobe=12).collect())
    assert doubled == before
    # re-running compact converges (delta folded again — triples are
    # still exact duplicates — and the store is cleared)
    assert indexer.compact_delta() is True
    assert indexer.delta_postings() is None
    assert sorted(tuple(r) for r in
                  indexer.query(qrows, k=10, nprobe=12).collect()) == before

    # empty delta: no-op
    assert indexer.compact_delta() is False


def test_streaming_semantic_dedup_greedy_online_semantics(spark, tmp_path):
    """StreamingSemanticDedup: (a) within-batch near-dup components keep
    the canonical min-vec_id member; (b) an arriving vector cosine-close
    to an accumulated SURVIVOR is dropped; (c) greedy online semantics —
    a vector near-dup ONLY to a previously-DROPPED vector survives
    (constructed on a 2D plane: B at 17 deg from survivor A is dropped
    at threshold 0.95 ~ 18 deg, C at 17 deg from B is 34 deg from A and
    must be kept); (d) a retried batch id overwrites its own subtree
    (corpus unchanged); (e) the checkpoint-marker guard refuses a
    foreign checkpoint and a marker-less committed store."""
    import math
    import os

    import numpy as np
    import pytest as _pytest

    from kafkastreams_tp3_is_spark.streaming.incremental import (
        StreamingSemanticDedup)

    rng = np.random.default_rng(7)
    dim = 64

    def unit(v):
        return [float(x) for x in v / np.linalg.norm(v)]

    def rot(a_deg):
        # on the e1/e2 plane, padded to dim
        v = np.zeros(dim)
        v[0] = math.cos(math.radians(a_deg))
        v[1] = math.sin(math.radians(a_deg))
        return [float(x) for x in v]

    fillers = [(i, unit(rng.standard_normal(dim))) for i in range(1, 10)]
    A = (0, rot(0.0))
    B = (100, rot(17.0))            # cos(17) ~ 0.956 >= 0.95: dup of A
    C = (200, rot(34.0))            # cos(17) to B, cos(34) ~ 0.829 to A
    D = (101, unit(rng.standard_normal(dim)))
    E = (201, unit(np.array(D[1]) + 0.01 * rng.standard_normal(dim)))
    twin_base = rng.standard_normal(dim)
    T1 = (110, unit(twin_base))
    T2 = (111, unit(twin_base + 0.01 * rng.standard_normal(dim)))

    def frame(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")

    sink = StreamingSemanticDedup(spark, str(tmp_path / "sem_corpus"),
                                  threshold=0.95)
    sink.process(frame([A] + fillers), 0)
    kept0 = {r["vec_id"] for r in sink.corpus().collect()}
    assert kept0 == {0} | {i for i, _ in fillers}

    sink.process(frame([B, D, T1, T2]), 1)
    kept1 = {r["vec_id"] for r in sink.corpus().collect()}
    assert 100 not in kept1         # dup of accumulated survivor A
    assert 101 in kept1             # genuinely new
    assert 110 in kept1 and 111 not in kept1   # within-batch canonical

    sink.process(frame([C, E]), 2)
    kept2 = {r["vec_id"] for r in sink.corpus().collect()}
    assert 200 in kept2, "greedy online: near-dup of a DROPPED vector survives"
    assert 201 not in kept2         # dup of accumulated survivor D

    # retry idempotence: replaying batch 2 overwrites its own subtree
    sink.process(frame([C, E]), 2)
    assert {r["vec_id"] for r in sink.corpus().collect()} == kept2

    # guards (stream entry point): marker discipline
    src = tmp_path / "sem_in"
    frame([A]).coalesce(1).write.parquet(str(src))

    def stream():
        return (spark.readStream
                .schema("vec_id long, embedding array<double>")
                .option("maxFilesPerTrigger", "1").parquet(str(src)))

    g_dir = str(tmp_path / "sem_guard")
    sink2 = StreamingSemanticDedup(spark, g_dir, threshold=0.95)
    sink2.run(stream(), str(tmp_path / "sem_ckpt_a"))
    n = sink2.corpus().count()
    assert n == 1

    sink3 = StreamingSemanticDedup(spark, g_dir, threshold=0.95)
    sink3.run(stream(), str(tmp_path / "sem_ckpt_a"))   # clean resume
    assert sink3.corpus().count() == n

    sink4 = StreamingSemanticDedup(spark, g_dir, threshold=0.95)
    with _pytest.raises(RuntimeError, match="checkpoint"):
        sink4.run(stream(), str(tmp_path / "sem_ckpt_b"))

    os.remove(os.path.join(g_dir, "_checkpoint_marker.json"))
    sink5 = StreamingSemanticDedup(spark, g_dir, threshold=0.95)
    with _pytest.raises(RuntimeError, match="no checkpoint marker"):
        sink5.run(stream(), str(tmp_path / "sem_ckpt_a"))
