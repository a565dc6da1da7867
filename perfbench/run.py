"""Benchmark of the 13-query streaming topology and the batch registry.

Usage (from the repository root):

    python3 perfbench/run.py --workload topology_trickle --seed 1 \
        --seconds 20 --trace 0

Writes its inputs (the test tables in perfbench/data, rows permuted and
cut into files by the seed), sets the engine up, measures the
workload for about ``--seconds`` (always at least one complete pass),
checks every output, writes a result file under perfbench/results/ and
prints one JSON line last: ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer ones (spans are written to the result file). Everything it
writes stays inside the checkout.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("topology_trickle", "batch_mix")

END_TO_END = {   # name -> unit; the order BENCHMARK.json lists them in
    "setup_s": "s", "correct_rate": "ratio", "peak_rss_mb": "MB",
    "ref13_s": "s", "pass_s": "s", "rows_per_s": "rows/s",
}


STORES = ("route", "trip_rt", "trip_pax", "trip_wt")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit. A layer the workload does not
    run reads 0."""
    import workloads

    units = {
        "session.start_s": "s", "op.count": "count", "op.no_job_s": "s",
        "op.job_s": "s", "spark.jobs": "count", "spark.stages": "count",
        "spark.tasks": "count", "spark.task_s": "s",
        "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
        "spark.busy_frac": "ratio", "trace.spans": "count",
        "trace.cost_s": "s", "topology.fact_rows": "count",
        "store.agg_rows_read": "count", "sink.rows_emitted": "count",
        "topology.parse_s": "s", "topology.store_merge_s": "s",
        "topology.finalize_tail_s": "s", "topology.trigger_self_s": "s",
        "topology.preload_s": "s", "topology.preload_parse_s": "s",
        "topology.spark.jobs": "count", "topology.spark.stages": "count",
        "topology.spark.tasks": "count", "topology.spark.task_s": "s",
        "topology.spark.shuffle_write_mb": "MB",
    }
    for name in STORES:
        units[f"store.{name}.update_s"] = "s"
    for q in range(1, 14):
        units[f"sink.q{q}.emit_s"] = "s"
    for name in workloads.batch_entries():
        units[f"entry.{name}.wall_s"] = "s"
        units[f"entry.{name}.task_s"] = "s"
        units[f"entry.{name}.stages"] = "count"
        units[f"entry.{name}.shuffle_mb"] = "MB"
    return units


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", default="sf0.01", choices=("sf0.01", "sf0.001"),
                   help="input size (datagen.SIZES); the self-test uses "
                        "sf0.001")
    p.add_argument("--cores", type=int, default=None,
                   help="local[N]; default: all cores of the machine")
    p.add_argument("--plant-wrong-pin", default=None, metavar="ENTRY",
                   help="self-test: corrupt this entry's pinned checksum")
    p.add_argument("--run-index", type=int, default=0,
                   help="position of this run in a series (provenance)")
    return p.parse_args(argv)


def _source_sha() -> str:
    """Content hash of the engine sources (the checkout the benchmark
    runs in is not a git repository)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "kafkastreams_tp3_is_spark")
    for d, subdirs, files in os.walk(pkg):
        subdirs[:] = sorted(s for s in subdirs if s != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(ROOT, "__spark_entry__.py"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()[:12]


def _git_sha() -> str | None:
    import subprocess

    try:
        out = subprocess.run(["git", "rev-parse", "--short", "HEAD"],
                             cwd=ROOT, capture_output=True, text=True,
                             timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def _setup(warm_dir: str):
    """Session start, JVM launch included, and a warm-up job. Returns
    (spark, seconds)."""
    from kafkastreams_tp3_is_spark.session import get_spark

    t = time.time()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(warm_dir).selectExpr(
        "count(*)", "sum(o_totalprice)").collect()
    return spark, time.time() - t


def _ref13_s(run) -> float:
    """Time to land all 13 reference-query results: the median trigger
    of a topology drain; the 13 queries of a batch_mix pass, run one
    after another (median of passes)."""
    if "ref13_s" in run.passes[0]:
        return statistics.median(p["ref13_s"] for p in run.passes)
    return statistics.median(o["wall_s"] for o in run.ops)


def _metrics_e2e(run, setup_s: float, rss_mb: float) -> dict:
    passes = run.passes
    ok = run.attempted - len(run.failures)
    pass_s = statistics.median(p["wall_s"] for p in passes)
    rows_per_s = statistics.median(p["rows"] / p["wall_s"] for p in passes)
    vals = {"setup_s": setup_s,
            "correct_rate": ok / max(run.attempted, 1),
            "peak_rss_mb": rss_mb,
            "ref13_s": _ref13_s(run),
            "pass_s": pass_s, "rows_per_s": rows_per_s}
    return {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}


def _metrics_layers(run, status, start_s: float, cores: int) -> tuple:
    """Per-layer metrics from the spans, the engine's own per-trigger
    stats and the Spark status store. Returns (metrics, detail)."""
    import probes

    t = time.time()
    jobs, stages = status.collect()
    seen: set = set()
    tot = {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0,
           "shuffle_write_mb": 0.0, "spill_mb": 0.0}
    for op in run.ops:
        op["spark"] = probes.spark_totals(jobs, stages, op["start"],
                                          op["end"], seen)
        if "span" in op:
            op["self_s"] = run.tracer.self_time(run.tracer.spans[op["span"]])
    # jobs a drain ran outside any trigger (stream start and stop) still
    # count towards the totals
    extra = [probes.spark_totals(jobs, stages, p["start"], p["end"], seen)
             for p in run.passes]
    for sp in [op["spark"] for op in run.ops] + extra:
        for k in tot:
            tot[k] += sp[k]
    job_s = sum(op["spark"]["job_wall_s"] for op in run.ops)
    wall = sum(p["wall_s"] for p in run.passes)
    spans = run.tracer.spans
    vals = {
        "session.start_s": start_s, "op.count": len(run.ops),
        "op.no_job_s": sum(o["end"] - o["start"] for o in run.ops) - job_s,
        "op.job_s": job_s,
        **{f"spark.{k}": v for k, v in tot.items()},
        "spark.busy_frac": tot["task_s"] / (wall * cores),
        "trace.spans": len(spans),
        "topology.fact_rows": sum(o.get("fact_rows", 0) for o in run.ops),
        "store.agg_rows_read": sum(o.get("agg_rows_read", 0)
                                   for o in run.ops),
        "sink.rows_emitted": sum(s.get("rows", 0) for s in spans
                                 if s["name"].startswith("sink.")),
    }
    layers = _layer_table(run)
    vals.update(layers)
    preload = run.detail.get("preload", {})
    vals["topology.preload_s"] = preload.get("wall_s", 0)
    vals["topology.preload_parse_s"] = preload.get("parse_s", 0)
    vals["trace.cost_s"] = time.time() - t
    units = per_layer_units()
    metrics = {k: {"value": vals.get(k, 0), "unit": units[k]}
               for k in units}
    return metrics, {"ops": run.ops, "layers": layers}


def _layer_table(run) -> dict:
    """Per-layer numbers named by engine module: medians per trigger for
    the topology (phases from run_topology's stats, store updates and
    sink emits from spans, Spark totals per trigger), medians per entry
    for the batch mix."""
    med = statistics.median
    out: dict = {}
    trig = [o for o in run.ops if o["kind"] == "trigger"]
    if trig:
        for name, key in (("parse_s", "parse_count"),
                          ("store_merge_s", "store_merge"),
                          ("finalize_tail_s", "finalize")):
            out[f"topology.{name}"] = med(o["phase"][key] for o in trig)
        out["topology.trigger_self_s"] = med(o.get("self_s", 0.0)
                                             for o in trig)
        for k in ("jobs", "stages", "tasks", "task_s", "shuffle_write_mb"):
            out[f"topology.spark.{k}"] = med(o["spark"][k] for o in trig)
        by_name: dict[str, list[float]] = {}
        for s in run.tracer.spans:
            if s["name"].startswith(("store.", "sink.")):
                by_name.setdefault(s["name"] + "_s", []).append(
                    s["end"] - s["start"])
        out.update({n: med(v) for n, v in sorted(by_name.items())})
    by_entry: dict[str, list[dict]] = {}
    for o in run.ops:
        if o["kind"] == "entry":
            by_entry.setdefault(o["name"], []).append(o)
    for name, ops in by_entry.items():
        out[f"entry.{name}.wall_s"] = med(o["wall_s"] for o in ops)
        for k, src in (("task_s", "task_s"), ("stages", "stages"),
                       ("shuffle_mb", "shuffle_write_mb")):
            out[f"entry.{name}.{k}"] = med(o["spark"][src] for o in ops)
    return out


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    import subprocess

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import kafkastreams_tp3_is_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: "
              f"{exc}", file=sys.stderr)
        return 2

    cores = args.cores or os.cpu_count() or 1
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(HERE, ".work", tag)
    os.makedirs(work, exist_ok=True)
    # every scratch path the engine, Spark or the JVM picks stays inside
    # the checkout
    for k in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.environ[k] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    mem = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    # -XX:-UsePerfData: no hsperfdata file under the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    # initial heap = maximum heap, so run-to-run timing and memory do not
    # hang on when the collector decides to grow the heap
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Xms{mem} pyspark-shell")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    import tempfile
    tempfile.tempdir = os.environ["TMPDIR"]
    os.chdir(work)      # spark-warehouse/ and friends land here
    load_start = list(os.getloadavg())

    import datagen
    import probes
    import workloads

    spark = None
    try:
        tables = datagen.base_tables(args.size)
        warm_dir = os.path.join(work, "warm")
        datagen.write_parts(tables["orders"], warm_dir,
                            [(0, tables["orders"].num_rows)])
        t_setup = time.time()
        spark, start_s = _setup(warm_dir)
        tracer = probes.Tracer(bool(args.trace))
        run = workloads.Run(tracer)
        preload_s = 0.0
        if args.workload == "topology_trickle":
            prepared = workloads.trickle_prepare(
                spark, run, tables, work, args.seed,
                n_files=workloads.trickle_files(args.seconds))
            # the preload drain only, not the landing of its files
            preload_s = run.detail["preload"]["wall_s"]
        setup_s = start_s + preload_s
        setup_wall = time.time() - t_setup

        master = spark.sparkContext.master
        status = probes.SparkStatus(spark) if args.trace else None
        deadline = time.time() + args.seconds
        t_meas = time.time()
        if args.workload == "topology_trickle":
            workloads.topology_trickle(spark, run, prepared, work)
        else:
            pins = workloads.load_pins()
            if args.plant_wrong_pin:
                pins[args.size][args.plant_wrong_pin]["checksum"] ^= 1
            workloads.batch_mix(spark, run, tables, work, args.seed,
                                deadline, pins, args.size)
        measured_s = time.time() - t_meas
        if not run.passes:
            raise RuntimeError(f"no complete pass: {run.failures}")
        if args.trace:
            metrics, detail = _metrics_layers(run, status, start_s, cores)
        else:
            rss = probes.peak_rss_mb(spark)
            metrics = _metrics_e2e(run, setup_s, sum(rss.values()))
            detail = {"ops": run.ops, "peak_rss_mb": rss}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop(spark)
        os.chdir(HERE)
        shutil.rmtree(work, ignore_errors=True)

    import pyspark
    result = {
        "correct": not run.failures, "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }
    record = {
        **result, "failures": run.failures,
        "provenance": {
            "workload": args.workload, "seed": args.seed,
            "trace": args.trace, "run_index": args.run_index,
            "seconds": args.seconds, "size": args.size,
            "cores": cores, "master": master,
            "git_sha": _git_sha(), "source_sha": _source_sha(),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "load_start": [round(x, 2) for x in load_start],
            "load_end": probes.loadavg(),
            "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        },
        "setup": {"start_s": start_s,
                  "preload_s": preload_s, "wall_s": setup_wall,
                  **run.detail},
        "measured_s": measured_s,
        # wall figures of this run whatever --trace says: traced minus
        # untraced is the tracing overhead
        "ref13_s": _ref13_s(run),
        "pass_s": statistics.median(p["wall_s"] for p in run.passes),
        "n_ops": len(run.ops), "passes": run.passes,
        "detail": detail,
        "spans": run.tracer.spans,
    }
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{time.strftime('%Y%m%dT%H%M%S')}-"
                                 f"{tag}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        for k, v in detail["layers"].items():
            print(f"perfbench: {k:<58} {v:12.4f}", file=sys.stderr)
    print(f"perfbench: wrote {os.path.relpath(path, ROOT)}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
