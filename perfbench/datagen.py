"""The benchmark's inputs.

``perfbench/data/<size>/`` holds copies of the repository's test tables
(TESTDATA.md: the TPC-H-shaped synthetic tables, seed 42) that the
benchmark reads: ``orders`` -> routes and ``lineitem`` -> trips
(views.py), ``documents`` for the curation operators. ``sf0.01``
(15,000 orders, 60,000 lineitem, 500 documents) is what measured runs
use; ``sf0.001`` is the self-test's. They are kept here because the
benchmark reads nothing outside its own directory and the engine.

The workload seed only permutes row order and chooses where each table
is cut into files, so

- checksums that are order-invariant (xor of row hashes) can be pinned
  once and must hold for every seed, and
- a result that changes with the seed is a row-order dependence in the
  engine, reported as a failure.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SIZES = ("sf0.01", "sf0.001")
TABLES = ("orders", "lineitem", "documents")


def base_tables(size: str = "sf0.01") -> dict[str, pa.Table]:
    """The test tables at ``size``, in the order they are stored."""
    return {t: pq.read_table(os.path.join(DATA, size, f"{t}.parquet"))
            for t in TABLES}


def shuffled(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def cut(n_rows: int, n_parts: int, rng: np.random.Generator,
        min_share: float = 0.5) -> list[tuple[int, int]]:
    """Seeded split of [0, n_rows) into n_parts contiguous ranges, each at
    least ``min_share`` of an even share."""
    even = n_rows / n_parts
    extra = rng.dirichlet(np.ones(n_parts)) * n_rows * (1 - min_share)
    sizes = np.floor(even * min_share + extra).astype(int)
    sizes[-1] = n_rows - sizes[:-1].sum()
    bounds = np.concatenate([[0], np.cumsum(sizes)])
    return [(int(a), int(b)) for a, b in zip(bounds[:-1], bounds[1:])]


def write_parts(table: pa.Table, directory: str,
                ranges: list[tuple[int, int]], prefix: str = "part") -> None:
    """One parquet file per range, named so lexical order = range order
    (the file stream source picks files up in that order)."""
    os.makedirs(directory, exist_ok=True)
    for i, (a, b) in enumerate(ranges):
        pq.write_table(table.slice(a, b - a),
                       os.path.join(directory, f"{prefix}-{i:04d}.parquet"))


def write_batch_dir(tables: dict[str, pa.Table], out_dir: str,
                    seed: int) -> str:
    """An sf-style directory (``<table>.parquet`` per table, each a
    directory of 1-4 files) with seed-permuted rows."""
    rng = np.random.default_rng([seed, 1])
    for name, t in tables.items():
        t = shuffled(t, rng)
        write_parts(t, os.path.join(out_dir, f"{name}.parquet"),
                    cut(t.num_rows, int(rng.integers(1, 5)), rng))
    return out_dir
