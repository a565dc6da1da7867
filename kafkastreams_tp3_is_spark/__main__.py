"""Console entry point — the engine's runnable surface, mirroring the
reference's console apps (MainStreamApp.java:20-38 runs all queries on
one runtime; producers/RoutesProducer.java:30-56 and
producers/TripsProducer.java:30-52 feed the input topics):

    python -m kafkastreams_tp3_is_spark list
    python -m kafkastreams_tp3_is_spark run q4_occupancy_per_route \
        [--sf-dir DIR] [--limit N] [--explain] [--out DIR]
    python -m kafkastreams_tp3_is_spark sql q4 [--sf-dir DIR]
    python -m kafkastreams_tp3_is_spark topology [--sf-dir DIR] \
        [--workdir DIR] [--no-changelog]
    python -m kafkastreams_tp3_is_spark produce routes --n 1000 \
        [--out DIR | --kafka HOST:9092 --topic Routes_topic]

``run`` executes any registered operator (the full __spark_entry__
registry), ``sql`` the Spark-SQL spelling of a reference query,
``topology`` the 13-query MainStreamApp analogue over file streams
derived from the testdata landing zones, and ``produce`` the synthetic
generators (to parquet, or to Kafka when a broker is reachable).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark(cpus: str | None = None):
    from .session import get_spark

    if cpus:
        os.environ["SPARK_GRAFT_CPUS"] = cpus
    spark = get_spark("kafkastreams-tp3-is-spark-cli")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _registry():
    import importlib.util

    # __spark_entry__ lives at the repo root, next to the package
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(root, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def cmd_list(args) -> int:
    mod = _registry()
    q, o = mod.queries(), mod.oracle_sql()
    for name in q:
        gate = "oracle" if name in o else "rows-only"
        print(f"{name:50} {gate}")
    print(f"-- {len(q)} entries, {len(o)} with DuckDB oracles")
    return 0


def cmd_run(args) -> int:
    mod = _registry()
    q = mod.queries()
    if args.query not in q:
        print(f"unknown query {args.query!r}; see `list`", file=sys.stderr)
        return 2
    spark = _spark(args.cpus)
    df = q[args.query](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
        return 0
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
        return 0
    df.show(args.limit, truncate=False)
    return 0


def cmd_sql(args) -> int:
    from .sql import QUERY_SQL, run_sql

    import re

    name = args.query
    if name not in QUERY_SQL:
        # accept the short q-label ("q7" -> "q7_total_capacity_available")
        expanded = [k for k in QUERY_SQL if k.split("_", 1)[0] == name]
        if len(expanded) == 1:
            name = expanded[0]
        elif re.fullmatch(r"q\d+", name):
            # Looks like a q-label but resolved to 0 or >1 entries: a
            # typo like "q99" must NOT fall through to spark.sql() as
            # ad-hoc SQL (raw AnalysisException) — fail friendly like
            # cmd_run does (ADVICE r11).
            cands = expanded or sorted(QUERY_SQL)
            print(f"unknown query label {args.query!r}; candidates: "
                  f"{', '.join(cands)}", file=sys.stderr)
            return 2
    spark = _spark(args.cpus)
    if name in QUERY_SQL:
        print(QUERY_SQL[name].strip())
    run_sql(spark, args.sf_dir, name).show(args.limit, truncate=False)
    return 0


def cmd_topology(args) -> int:
    import shutil
    import tempfile

    from .sources.files import route_file_stream, trip_file_stream
    from .streaming.app import run_topology

    spark = _spark(args.cpus)
    workdir = args.workdir or tempfile.mkdtemp(prefix="topology_")
    own = args.workdir is None
    try:
        if args.kafka:
            # the reference's actual runtime shape: consume
            # Routes_topic/Trips_topic from a broker
            # (MainStreamApp.java:20-27)
            from .sources.kafka import route_stream, trip_stream

            routes_s = route_stream(spark, args.kafka)
            trips_s = trip_stream(spark, args.kafka)
        else:
            for t in ("orders", "lineitem"):
                (spark.read.parquet(f"{args.sf_dir}/{t}.parquet")
                 .repartition(4).write.mode("overwrite")
                 .parquet(os.path.join(workdir, t)))
            routes_s = route_file_stream(
                spark, os.path.join(workdir, "orders"))
            trips_s = trip_file_stream(
                spark, os.path.join(workdir, "lineitem"))
        stats: dict = {}
        sinks = run_topology(
            spark, routes_s, trips_s,
            os.path.join(workdir, "topo"), stats=stats,
            changelog=not args.no_changelog)
        print(json.dumps({
            "n_queries": len(sinks), "n_triggers": stats["n_triggers"],
            "trigger_secs": stats["trigger_secs"],
            "phase_secs": stats["phase_secs"],
            "rows_per_query": {n: len(s.rows())
                               for n, s in sinks.items()}}))
        return 0
    finally:
        if own:
            shutil.rmtree(workdir, ignore_errors=True)


def cmd_produce(args) -> int:
    from .sources import generators as gen

    spark = _spark(args.cpus)
    if args.kind == "routes":
        df = gen.route_batch(spark, args.n)
    else:
        df = gen.trip_batch(spark, args.n, n_routes=args.n_routes)
    if args.kafka:
        from .sources.kafka import to_kafka_records

        key = "route_id" if args.kind == "routes" else "trip_id"
        topic = args.topic or (
            "Routes_topic" if args.kind == "routes" else "Trips_topic")
        (to_kafka_records(df, key)
         .write.format("kafka")
         .option("kafka.bootstrap.servers", args.kafka)
         .option("topic", topic).save())
        print(f"produced {args.n} {args.kind} to {topic} @ {args.kafka}")
    elif args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.n} {args.kind} to {args.out}")
    else:
        df.show(20, truncate=False)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="kafkastreams_tp3_is_spark")
    p.add_argument("--cpus", default=None,
                   help="local[N] cores (default: SPARK_GRAFT_CPUS or all)")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered operators")

    r = sub.add_parser("run", help="run a registered operator")
    r.add_argument("query")
    r.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    r.add_argument("--limit", type=int, default=20)
    r.add_argument("--explain", action="store_true")
    r.add_argument("--out", default=None, help="write parquet instead")

    s = sub.add_parser("sql", help="run a reference query by Spark SQL")
    s.add_argument("query", help="q1..q13 label or ad-hoc SQL")
    s.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    s.add_argument("--limit", type=int, default=20)

    t = sub.add_parser("topology",
                       help="run the 13-query streaming topology")
    t.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    t.add_argument("--workdir", default=None)
    t.add_argument("--kafka", default=None,
                   help="bootstrap servers: consume Routes_topic/"
                        "Trips_topic instead of file streams")
    t.add_argument("--no-changelog", action="store_true",
                   help="whole-table emission per trigger")

    g = sub.add_parser("produce", help="synthetic producers")
    g.add_argument("kind", choices=["routes", "trips"])
    g.add_argument("--n", type=int, default=1000)
    g.add_argument("--n-routes", type=int, default=100)
    g.add_argument("--kafka", default=None,
                   help="bootstrap servers (else --out parquet or show)")
    g.add_argument("--topic", default=None)
    g.add_argument("--out", default=None)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return {"list": cmd_list, "run": cmd_run, "sql": cmd_sql,
            "topology": cmd_topology, "produce": cmd_produce}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
