"""The workloads. Each drives the engine only through its public
entry points (session.get_spark, sources.files, streaming.app
run_topology, the __spark_entry__ registry) and returns a record of
operations (a trigger or a registry entry), passes and failures.

Both workloads are closed loop: inputs are landed before the measured
work, run_topology drains its files with availableNow, and the next
operation starts only when the previous one has finished.
"""

from __future__ import annotations

import json
import os
import time
import traceback
from contextlib import nullcontext

import numpy as np

import datagen
from probes import Tracer

# fact rows are what a trigger parses: routes (orders) + trips (lineitem)
FACT_TABLES = ("orders", "lineitem")
CURATION = ("winnow_pairs", "fuzzy_edit_pairs",
            "bpe_encode_increment_stream")
HERE = os.path.dirname(os.path.abspath(__file__))
PINS_PATH = os.path.join(HERE, "pins.json")


class Run:
    """What one measured run accumulates."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.ops: list[dict] = []       # {"kind", "name", "wall_s", ...}
        self.passes: list[dict] = []    # {"wall_s", "rows"}
        self.attempted = 0
        self.failures: list[str] = []
        self.detail: dict = {}

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        msg = what if exc is None else f"{what}: {exc!r}"
        self.failures.append(msg)
        print(f"FAILED {msg}", flush=True)
        if exc is not None:
            traceback.print_exception(exc)


# --- correctness references -------------------------------------------

def oracle_rows(table_dirs: dict[str, str]) -> dict[str, list[tuple]]:
    """The 13 reference queries computed by DuckDB (oracles.py) over the
    given parquet directories: q1..q13 -> sorted rows."""
    import duckdb

    from kafkastreams_tp3_is_spark.oracles import ORACLES, Q_NAMES
    from kafkastreams_tp3_is_spark.streaming.app import TOPOLOGY

    con = duckdb.connect()
    try:
        for name, d in table_dirs.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{d}/*.parquet')")
        out = {}
        for q, full in zip(TOPOLOGY, Q_NAMES):
            cur = con.execute(ORACLES[full])
            cols = [c[0] for c in cur.description]
            out[q] = (cols, sorted(cur.fetchall()))
        return out
    finally:
        con.close()


def check_sinks(run: Run, sinks: dict, expected: dict) -> None:
    """stream == batch: every query's final upserted state must equal the
    DuckDB reference over the same input."""
    for q, (cols, rows) in expected.items():
        run.attempted += 1
        got = sorted(tuple(d[c] for c in cols) for d in sinks[q].rows())
        if got != rows:
            run.fail(f"stream!=batch {q} ({len(got)} vs {len(rows)} rows)")


def load_pins() -> dict:
    with open(PINS_PATH) as fh:
        return json.load(fh)


# --- topology ----------------------------------------------------------

class _Probe:
    """Timing wrappers installed only for a traced run: the sinks passed
    to run_topology, and KeyedAggStore.update (patched in this process
    for the duration of one drain, then restored)."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def sinks(self) -> dict:
        from kafkastreams_tp3_is_spark.streaming.app import TOPOLOGY
        from kafkastreams_tp3_is_spark.streaming.runner import (
            MemoryUpsertSink)

        tracer = self.tracer

        class TimedSink(MemoryUpsertSink):
            def __init__(self, name, keys):
                super().__init__(keys)
                self.name = name

            def process(self, batch_df, batch_id):
                before = len(self.state)
                with tracer.span(f"sink.{self.name}.emit",
                                 batch=batch_id) as rec:
                    super().process(batch_df, batch_id)
                rec["rows"] = len(self.state) - before

        return {q: TimedSink(q, keys) for q, keys in TOPOLOGY.items()}

    def __enter__(self):
        from kafkastreams_tp3_is_spark.streaming import partial_agg

        self._cls = partial_agg.KeyedAggStore
        self._orig = orig = self._cls.update
        tracer = self.tracer

        def update(store, batch_df, batch_id, n_source_rows=None):
            name = os.path.basename(store.path).removeprefix("store_")
            with tracer.span(f"store.{name}.update", batch=batch_id) as rec:
                orig(store, batch_df, batch_id, n_source_rows)
            rec["rows_read"] = store.rows_read_last_merge

        self._cls.update = update
        return self

    def __exit__(self, *exc):
        self._cls.update = self._orig


def _drain(spark, run: Run, work: str, in_dirs: dict, sinks: dict | None,
           label: str) -> dict | None:
    """One run_topology call over ``in_dirs``; records the drain as a pass
    and one op per trigger. Returns the sinks, or None on failure."""
    from kafkastreams_tp3_is_spark.sources.files import (
        route_file_stream, trip_file_stream)
    from kafkastreams_tp3_is_spark.streaming.app import run_topology

    tracer = run.tracer
    probe = _Probe(tracer) if tracer.enabled else None
    if sinks is None and probe is not None:
        sinks = probe.sinks()
    stats: dict = {}
    t0 = time.time()
    try:
        routes = route_file_stream(spark, in_dirs["orders"])
        trips = trip_file_stream(spark, in_dirs["lineitem"])
        with probe or nullcontext():
            sinks = run_topology(spark, routes, trips, work, sinks=sinks,
                                 stats=stats, changelog=True)
    except Exception as exc:   # a failed drain is a measured failure
        run.attempted += 1
        run.fail(f"{label} drain", exc)
        return None
    wall = time.time() - t0
    rows = sum(stats["fact_rows_per_trigger"])
    run.passes.append({"label": label, "wall_s": wall, "rows": rows,
                       "start": t0, "end": t0 + wall})
    for i, (secs, phase) in enumerate(zip(stats["trigger_secs"],
                                          stats["phase_secs"])):
        run.attempted += 1
        if phase["failed"]:
            run.fail(f"{label} trigger {i}")
            continue
        run.ops.append({"kind": "trigger", "name": f"{label}.t{i}",
                        "wall_s": secs, "phase": phase,
                        "fact_rows": stats["fact_rows_per_trigger"][i],
                        "agg_rows_read":
                            stats["agg_rows_read_per_trigger"][i]})
    if tracer.enabled:
        _trigger_spans(tracer, run.ops[-len(stats["trigger_secs"]):],
                       t0, t0 + wall)
    return sinks


def _trigger_spans(tracer: Tracer, ops: list[dict], lo: float,
                   hi: float) -> None:
    """One span per trigger, parent of the store-update and sink-emit
    spans that share its batch id. The trigger starts its parse phase
    before the first child starts, and ends with its last child."""
    kids: dict[int, list[dict]] = {}
    for s in tracer.spans:
        if "batch" in s and lo <= s["start"] <= hi and s["parent"] is None:
            kids.setdefault(s["batch"], []).append(s)
    for op, batch in zip(ops, sorted(kids)[-len(ops):]):
        ks = kids[batch]
        start = min(k["start"] for k in ks) - op["phase"]["parse_count"]
        end = max(k["end"] for k in ks)
        rec = tracer.add("topology.trigger", start, end, batch=batch,
                         op=op["name"])
        op["span"] = rec["id"]
        op["start"], op["end"] = start, end
        for k in ks:
            k["parent"] = rec["id"]


def trickle_files(seconds: float, floor_s: float = 5.0) -> int:
    """Small files to land so the drain lasts about ``seconds``, at the
    ~5 s per-trigger floor measured on a 4-core machine (2 to 8)."""
    return max(2, min(8, round(seconds / floor_s)))


def trickle_prepare(spark, run: Run, tables: dict, work: str, seed: int,
                    n_files: int, preload_share: float = 0.9):
    """Set-up of topology_trickle: land ``preload_share`` of each source
    as one file and drain it (the large state), then land the rest as
    ``n_files`` small files that the measured drain will pick up."""
    rng = np.random.default_rng([seed, 3])
    in_dirs, rest = {}, {}
    for t in FACT_TABLES:
        tab = datagen.shuffled(tables[t], rng)
        n_pre = int(tab.num_rows * preload_share)
        in_dirs[t] = os.path.join(work, "in", t)
        datagen.write_parts(tab.slice(0, n_pre), in_dirs[t], [(0, n_pre)],
                            prefix="a")
        rest[t] = tab.slice(n_pre)
    pre = Run(Tracer(False))
    sinks = _drain(spark, pre, os.path.join(work, "topo"), in_dirs, None,
                   "preload")
    if sinks is None or pre.failures:
        raise RuntimeError(f"trickle preload failed: {pre.failures}")
    for t in FACT_TABLES:
        tab = rest[t]
        datagen.write_parts(tab, in_dirs[t],
                            datagen.cut(tab.num_rows, n_files, rng),
                            prefix="b")
    run.detail["preload"] = {
        "wall_s": pre.passes[0]["wall_s"],
        "fact_rows": pre.passes[0]["rows"],
        "parse_s": sum(o["phase"]["parse_count"] for o in pre.ops)}
    return in_dirs, sinks


def topology_trickle(spark, run: Run, prepared, work: str) -> None:
    """Resume the preloaded workdir/checkpoint/sinks and drain the small
    files: small batches against large state."""
    in_dirs, sinks = prepared
    if run.tracer.enabled:
        # timed sinks carrying the preloaded state forward
        timed = _Probe(run.tracer).sinks()
        for q, s in timed.items():
            s.state = dict(sinks[q].state)
        sinks = timed
    sinks = _drain(spark, run, os.path.join(work, "topo"), in_dirs, sinks,
                   "trickle")
    if sinks is not None:
        check_sinks(run, sinks, oracle_rows(in_dirs))


# --- batch mix ---------------------------------------------------------

def force_full_eval(df) -> tuple[int, int]:
    """xor of xxhash64 over every output column plus a row count: nothing
    upstream can be pruned, and the checksum ignores row order."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("c"),
        F.count(F.lit(1)).alias("n")).collect()[0]
    return int(row["c"] or 0), int(row["n"])


def batch_entries() -> list[str]:
    """Curation entries first, so the 13 reference queries run on a JVM
    the pass has already warmed: run cold, their sum carried about 5 s
    of first-use cost that varied from run to run."""
    from kafkastreams_tp3_is_spark.oracles import Q_NAMES

    return list(CURATION) + list(Q_NAMES)


def batch_mix(spark, run: Run, tables: dict, work: str, seed: int,
              deadline: float, pins: dict, size: str) -> None:
    """One timed pass over the registry entries (the curation entries,
    then the 13 reference queries), each forced to full evaluation and its
    checksum compared with the pin. Passes repeat until the deadline,
    each over its own freshly written input directory so per-input
    artifact builds land in every pass alike."""
    import __spark_entry__ as entry

    registry = entry.queries()
    want = pins[size]
    k = 0
    while True:
        sf = datagen.write_batch_dir(tables, os.path.join(work, f"sf{k}"),
                                     seed)
        t0 = time.time()
        for name in batch_entries():
            run.attempted += 1
            with run.tracer.span(f"entry.{name}", op=name) as rec:
                s = time.time()
                try:
                    got = force_full_eval(registry[name](spark, sf))
                except Exception as exc:
                    run.fail(f"{name} raised", exc)
                    continue
                wall = time.time() - s
            op = {"kind": "entry", "name": name, "wall_s": wall,
                  "start": s, "end": s + wall, "checksum": got[0],
                  "rows": got[1], "pass": k}
            if rec is not None:
                op["span"] = rec["id"]
            run.ops.append(op)
            pin = want.get(name)
            if pin is None or [got[0], got[1]] != [pin["checksum"],
                                                   pin["rows"]]:
                run.fail(f"{name} checksum {got} != pinned "
                         f"{pin and (pin['checksum'], pin['rows'])} "
                         f"(seed {seed})")
        wall = time.time() - t0
        mine = [o for o in run.ops if o.get("pass") == k]
        run.passes.append({
            "label": f"batch{k}", "wall_s": wall,
            "rows": sum(t.num_rows for t in tables.values()),
            "ref13_s": sum(o["wall_s"] for o in mine
                           if o["name"] not in CURATION),
            "curation_s": sum(o["wall_s"] for o in mine
                              if o["name"] in CURATION),
            "start": t0, "end": t0 + wall})
        k += 1
        if time.time() >= deadline:
            break
