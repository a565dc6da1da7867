"""KStream ⋈ KStream windowed (interval) stream-stream join.

The reference joins streams only against KTables (SURVEY section 2.4
J1–J4); Kafka Streams' other join family — ``KStream.join(KStream,
JoinWindows.of(...))``, where BOTH sides are unbounded and each event
pairs with opposite-side events inside a time tolerance — has no
reference site, so this module adds it the same way W5 added
sliding/session windows: full Spark-native semantics, a batch twin for
the oracle, and a stream==batch parity test.

Spark realization: Structured Streaming's native stream-stream inner
join. Both sides get a watermark; the join condition carries the
equality key AND the event-time interval bound, which is what lets the
engine size each side's state store (rows are evicted once the
opposite watermark passes their interval's edge — the exact analogue of
Kafka Streams' window-retention-bounded join stores).

Scale (100 TB/day streams): state per side is bounded by
rate x (interval + watermark delay); the join is co-partitioned on the
equality key (one shuffle per side, exactly like the batch join), and
emission is append-mode — each match emits once, no retraction. The
demo fixture pins shuffle partitions to a bounded count for its fresh
checkpoint (state-store count is frozen at checkpoint creation; see
stateful.py's sizing note).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import scratch_dir


def stream_stream_interval_join(left: DataFrame, right: DataFrame,
                                key: str, left_ts: str, right_ts: str,
                                tolerance_days: int,
                                watermark: str,
                                how: str = "inner") -> DataFrame:
    """Join two STREAMING frames on ``key`` where ``right_ts`` is within
    ±``tolerance_days`` of ``left_ts``. ``how`` is ``inner`` (KStream
    ``join``), ``leftOuter`` (KStream ``leftJoin``), or ``fullOuter``
    (KStream ``outerJoin``) — the complete Kafka Streams KStream-KStream
    join family: the outer variants emit an unmatched row with null
    opposite-side columns once the watermark proves no in-interval
    partner can still arrive — the same moment Kafka Streams emits its
    null result at window close.

    ``watermark`` is the lateness bound for BOTH sides: it controls
    state eviction (and thus drops events arriving later than the bound,
    exactly like Kafka Streams' grace). For the inner join a bound >=
    the fixture's full time span makes the stream's output provably
    equal to the batch join — the parity the oracle checks. For the
    outer joins the null emissions additionally need the watermark to
    PASS a row's interval edge, so the parity pytest drives the
    watermark forward with a sentinel final batch.

    The right side's key column is renamed before the join and the
    output key is COALESCE(left, right) — for fullOuter an
    unmatched-right row has a null left key, and dropping the renamed
    column without the coalesce would lose its key entirely."""
    rk = f"__{key}_r"
    lw = left.withWatermark(left_ts, watermark)
    rw = (right.withColumnRenamed(key, rk)
               .withWatermark(right_ts, watermark))
    cond = (
        (F.col(key) == F.col(rk))
        & (F.col(right_ts)
           >= F.col(left_ts) - F.expr(f"INTERVAL {tolerance_days} DAYS"))
        & (F.col(right_ts)
           <= F.col(left_ts) + F.expr(f"INTERVAL {tolerance_days} DAYS")))
    return (lw.join(rw, cond, how)
            .withColumn(key, F.coalesce(F.col(key), F.col(rk)))
            .drop(rk))


def trips_route_update_stream_join(spark: SparkSession, sf_dir: str,
                                   tolerance_days: int = 365,
                                   mod: int = 20) -> DataFrame:
    """Driver-gate fixture (full hash oracle): trips whose ship time is
    within ±``tolerance_days`` of their route's capacity UPDATE, both
    sides replayed as FILE STREAMS (two files per side -> each side's
    second batch must join against opposite-side state buffered from the
    first — the cross-batch buffering that makes this a real
    stream-stream join and not a disguised batch one).

    Both sides are sliced to ``key % mod == 0`` BEFORE derivation (the
    stateful demo's prefilter discipline), and the watermark (3700 days)
    exceeds the synthetic data's full time span, so nothing is
    late-dropped and the output equals the batch interval join the
    DuckDB oracle restates. Output: (trip_id, route_id, trip_ts,
    update_ts, capacity)."""
    from ..views import load, route_updates_from_orders, trips_from_lineitem

    trips = (trips_from_lineitem(
                 load(spark, sf_dir, "lineitem")
                 .where(F.col("l_orderkey") % mod == 0))
             .select("trip_id", "route_id",
                     F.col("event_ts").cast("timestamp").alias("trip_ts")))
    updates = (route_updates_from_orders(
                   load(spark, sf_dir, "orders")
                   .where(F.col("o_orderkey") % mod == 0))
               .select("route_id", "capacity",
                       F.col("event_ts").cast("timestamp")
                        .alias("update_ts")))

    workdir = tempfile.mkdtemp(prefix="ssjoin_")
    t_dir = os.path.join(workdir, "trips")
    u_dir = os.path.join(workdir, "updates")
    # two files per side via a b-partition (route-key parity split keeps
    # both batches non-trivial); maxFilesPerTrigger=1 -> 2 micro-batches
    # per side, so matches straddle the batch boundary by construction
    (trips.withColumn("b", (F.xxhash64("trip_id") % 2 == 0).cast("int"))
     .coalesce(1).write.partitionBy("b").mode("overwrite").parquet(t_dir))
    (updates.withColumn("b", (F.xxhash64("route_id") % 2 == 0).cast("int"))
     .coalesce(1).write.partitionBy("b").mode("overwrite").parquet(u_dir))

    t_schema = spark.read.parquet(t_dir).schema
    u_schema = spark.read.parquet(u_dir).schema
    t_stream = (spark.readStream.schema(t_schema)
                .option("maxFilesPerTrigger", "1").parquet(t_dir).drop("b"))
    u_stream = (spark.readStream.schema(u_schema)
                .option("maxFilesPerTrigger", "1").parquet(u_dir).drop("b"))

    joined = stream_stream_interval_join(
        t_stream, u_stream, key="route_id",
        left_ts="trip_ts", right_ts="update_ts",
        tolerance_days=tolerance_days, watermark="3700 days")

    cols = ["trip_id", "route_id", "trip_ts", "update_ts", "capacity"]
    return _drain_to_scratch(spark, joined.select(*cols), workdir)


def _drain_to_scratch(spark: SparkSession, out: DataFrame,
                      workdir: str) -> DataFrame:
    """Run a streaming frame to completion (availableNow) into a scratch
    PARQUET SINK and return a lazy read of it. Output never touches the
    driver: matched rows scale with sf, and a foreachBatch collect would
    grow driver memory with corpus size (ADVICE r8). The sink dir
    outlives this call (the returned read is lazy) and is freed at
    process exit; the inputs + checkpoint under ``workdir`` are freed as
    soon as the query drains."""
    out_schema = out.schema
    sink_dir = scratch_dir("ssjoin_sink_")

    conf_key = "spark.sql.shuffle.partitions"
    prev_parts = spark.conf.get(conf_key)
    # 8 shuffle partitions -> 8 state stores per side per batch: the
    # fixture's output is small and the store count (frozen at
    # checkpoint creation) is the dominant micro-batch cost
    spark.conf.set(conf_key, "8")
    try:
        q = (out.writeStream.format("parquet")
             .option("path", sink_dir)
             .outputMode("append")
             .option("checkpointLocation", os.path.join(workdir, "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        spark.conf.set(conf_key, prev_parts)
        import shutil
        shutil.rmtree(workdir, ignore_errors=True)
        # unload the drained query's state-store providers: they stay
        # resident in the executor JVM after the query stops (awaiting
        # the maintenance thread) and GC-pressure everything that runs
        # after the fixture. Private API, so best-effort.
        try:
            (spark._jvm.org.apache.spark.sql.execution.streaming
             .state.StateStore.stop())
        except Exception:
            pass

    return spark.read.schema(out_schema).parquet(sink_dir)


def trips_route_update_stream_left_join(spark: SparkSession, sf_dir: str,
                                        tolerance_days: int = 365,
                                        mod: int = 20,
                                        update_mod: int = 40) -> DataFrame:
    """Driver-gate fixture for the LEFT-OUTER stream-stream join (full
    hash oracle): every sliced trip emits exactly once — with its
    in-interval capacity update when one exists, or with sentinel right
    columns (epoch timestamp / -1) once the watermark PROVES no partner
    can still arrive. KStream.leftJoin's null-at-window-close, replayed
    as file streams.

    Updates are sliced twice as hard as trips (``o_orderkey %
    update_mod``), so half the trip routes have NO update stream at all —
    the unmatched-left population the outer semantics exist for. Outer
    rows only emit after the watermark passes their interval edge, and a
    watermark update only takes effect in a LATER micro-batch, so each
    side stages three mtime-ordered files: the data batch, then two
    far-future sentinel batches (keys match nothing, filtered out
    post-join) that first drive the watermark past every real edge and
    then flush the pending outer rows. NULL right columns are coalesced
    to sentinels (epoch / -1) in BOTH engines: the gate compare treats
    NaN != NaN, so gate outputs must be null-free (real null semantics
    are pinned by the pytest in tests/test_streaming.py).

    Output: (trip_id, route_id, trip_ts, update_ts, capacity)."""
    return _outer_join_fixture(spark, sf_dir, how="leftOuter",
                               tolerance_days=tolerance_days, mod=mod,
                               update_mod=update_mod)


def trips_route_update_stream_outer_join(spark: SparkSession, sf_dir: str,
                                         tolerance_days: int = 365,
                                         mod: int = 20,
                                         update_mod: int = 30) -> DataFrame:
    """Driver-gate fixture for the FULL-OUTER stream-stream join (full
    hash oracle) — KStream.outerJoin, completing the Kafka Streams
    KStream-KStream join family (join / leftJoin / outerJoin): matched
    pairs emit immediately; an unmatched row on EITHER side emits once
    with sentinel opposite-side columns when the watermark closes its
    interval. Slices trips to ``l_orderkey % 20`` and updates to
    ``o_orderkey % 30``: the overlap (keys % 60) matches, trips on keys
    ≡ 20, 40 (mod 60) have no update stream, and updates on keys ≡ 30
    (mod 60) have no trip stream — all three emission branches are
    populated. Same sentinel-batch watermark choreography and batch-side
    coalescing as the left fixture; the left sentinels are 'NO_TRIP' /
    epoch.

    Output: (trip_id, route_id, trip_ts, update_ts, capacity)."""
    return _outer_join_fixture(spark, sf_dir, how="fullOuter",
                               tolerance_days=tolerance_days, mod=mod,
                               update_mod=update_mod)


def _outer_join_fixture(spark: SparkSession, sf_dir: str, how: str,
                        tolerance_days: int, mod: int,
                        update_mod: int) -> DataFrame:
    import time

    from ..views import load, route_updates_from_orders, trips_from_lineitem

    trips = (trips_from_lineitem(
                 load(spark, sf_dir, "lineitem")
                 .where(F.col("l_orderkey") % mod == 0))
             .select("trip_id", "route_id",
                     F.col("event_ts").cast("timestamp").alias("trip_ts")))
    updates = (route_updates_from_orders(
                   load(spark, sf_dir, "orders")
                   .where(F.col("o_orderkey") % update_mod == 0))
               .select("route_id", "capacity",
                       F.col("event_ts").cast("timestamp")
                        .alias("update_ts")))

    workdir = tempfile.mkdtemp(prefix="ssljoin_")
    t_dir = os.path.join(workdir, "trips")
    u_dir = os.path.join(workdir, "updates")

    far = "2120-01-01 00:00:00"

    def sentinel(tag: str, side: str) -> DataFrame:
        # JVM one-row relations (spark.sql literals), NOT createDataFrame:
        # a python-built 1-row frame parallelizes to defaultParallelism
        # partitions and coalesce(1) then pays a ~5s Python-worker chain
        # per write (measured) — the fixture's former dominant cost
        if side == "t":
            return spark.sql(
                f"SELECT 'SENT' AS trip_id, 'Route_S{tag}' AS route_id, "
                f"TIMESTAMP'{far}' AS trip_ts")
        return spark.sql(
            f"SELECT 'Route_S{tag}' AS route_id, CAST(0 AS INT) AS "
            f"capacity, TIMESTAMP'{far}' AS update_ts")

    # three appends per side with EXPLICIT strictly-increasing mtimes:
    # the file source orders micro-batches by modification time, and
    # data MUST precede the sentinels for the watermark choreography
    # above. os.utime with 2-second spacing instead of sleep gaps —
    # on a filesystem with coarse (1 s) mtime granularity a sub-second
    # sleep could let a sentinel batch tie with or precede the data
    # batch, and the outer rows would silently never flush (ADVICE r9).
    base = time.time()

    def _stamp_new_parts(d: str, seen: set, step: int) -> set:
        parts = {os.path.join(d, f) for f in os.listdir(d)
                 if not f.startswith(("_", "."))}
        ts = base + 2.0 * step
        for p in sorted(parts - seen):
            os.utime(p, (ts, ts))
        return parts

    trips.coalesce(1).write.mode("append").parquet(t_dir)
    updates.coalesce(1).write.mode("append").parquet(u_dir)
    t_seen = _stamp_new_parts(t_dir, set(), 0)
    u_seen = _stamp_new_parts(u_dir, set(), 0)
    for step, tag in enumerate(("1", "2"), start=1):
        sentinel(tag, "t").coalesce(1).write.mode("append").parquet(t_dir)
        sentinel(tag, "u").coalesce(1).write.mode("append").parquet(u_dir)
        t_seen = _stamp_new_parts(t_dir, t_seen, step)
        u_seen = _stamp_new_parts(u_dir, u_seen, step)

    t_schema = spark.read.parquet(t_dir).schema
    u_schema = spark.read.parquet(u_dir).schema
    t_stream = (spark.readStream.schema(t_schema)
                .option("maxFilesPerTrigger", "1").parquet(t_dir))
    u_stream = (spark.readStream.schema(u_schema)
                .option("maxFilesPerTrigger", "1").parquet(u_dir))

    joined = stream_stream_interval_join(
        t_stream, u_stream, key="route_id",
        left_ts="trip_ts", right_ts="update_ts",
        tolerance_days=tolerance_days, watermark="3700 days",
        how=how)

    # sentinel filtering and null-coalescing happen BATCH-SIDE, on the
    # sink read: a filter inside the streaming plan gets pushed below
    # the left side's EventTimeWatermark node, so the sentinel rows
    # would never advance the watermark and the outer rows would never
    # flush (verified empirically — 0 outer emissions with the filter
    # in-plan, all of them with it post-sink)
    epoch = F.lit("1970-01-01 00:00:00").cast("timestamp")
    cols = ["trip_id", "route_id", "trip_ts", "update_ts", "capacity"]
    drained = _drain_to_scratch(spark, joined.select(*cols), workdir)
    return (drained
            .where(~F.col("route_id").startswith("Route_S"))
            .select(
                F.coalesce(F.col("trip_id"), F.lit("NO_TRIP"))
                 .alias("trip_id"),
                "route_id",
                F.coalesce(F.col("trip_ts"), epoch).alias("trip_ts"),
                F.coalesce(F.col("update_ts"), epoch).alias("update_ts"),
                F.coalesce(F.col("capacity"), F.lit(-1)).alias("capacity")))
