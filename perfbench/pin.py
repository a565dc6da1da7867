"""Regenerate perfbench/pins.json: the expected checksum and row count of
every batch_mix entry at each input size.

An entry with a DuckDB oracle (oracles.py) is pinned only after its
Spark rows equal the oracle's rows; the others are pinned as computed.
Each entry is computed on two seeds (different row order and file
split) and must give the same checksum, else it is not pinned. Run from
the repository root, only when the inputs or the entry list change:

    python3 perfbench/pin.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _same_rows(spark_df, duck_df) -> bool:
    """Row-set equality after sorting on every column; floats must match
    bit for bit (the oracles are written to be exact)."""
    cols = sorted(spark_df.columns)
    if sorted(duck_df.columns) != cols or len(spark_df) != len(duck_df):
        return False
    a = spark_df[cols].sort_values(cols).reset_index(drop=True)
    b = duck_df[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        if a[c].dtype.kind == "f":
            if not (a[c].values == b[c].astype(float).values).all():
                return False
        elif a[c].astype(str).tolist() != b[c].astype(str).tolist():
            return False
    return True


def main() -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work = tempfile.mkdtemp(prefix="pins_", dir=HERE)
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    import duckdb

    import __spark_entry__ as entry
    import datagen
    import workloads
    from kafkastreams_tp3_is_spark.session import get_spark

    spark = get_spark("perfbench-pins")
    spark.sparkContext.setLogLevel("ERROR")
    registry, oracles = entry.queries(), entry.oracle_sql()
    pins: dict = {}
    ok = True
    try:
        for size in datagen.SIZES:
            tables = datagen.base_tables(size)
            dirs = [datagen.write_batch_dir(
                tables, os.path.join(work, f"{size}-{seed}"), seed)
                for seed in (0, 1)]
            con = duckdb.connect()
            for t in tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                            f"'{dirs[0]}/{t}.parquet/*.parquet')")
            pins[size] = {}
            for name in workloads.batch_entries():
                sums = [workloads.force_full_eval(registry[name](spark, d))
                        for d in dirs]
                verdict = "computed"
                if sums[0] != sums[1]:
                    print(f"NOT PINNED {size} {name}: depends on row order "
                          f"{sums}")
                    ok = False
                    continue
                if name in oracles:
                    got = registry[name](spark, dirs[0]).toPandas()
                    if not _same_rows(got, con.execute(
                            oracles[name]).fetchdf()):
                        print(f"NOT PINNED {size} {name}: differs from "
                              f"the DuckDB oracle")
                        ok = False
                        continue
                    verdict = "duckdb-oracle"
                pins[size][name] = {"checksum": sums[0][0],
                                    "rows": sums[0][1], "checked": verdict}
                print(size, name, pins[size][name], flush=True)
            con.close()
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    with open(workloads.PINS_PATH, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
