"""IVF (inverted-file) approximate-nearest-neighbor index over the
``embeddings`` table — the scale path for MODERATE-similarity search,
complementing the sign-LSH path in similarity.py (which prunes well only
in the true near-duplicate regime, cosine >~ 0.9).

Design (the FAISS IVF-Flat recipe, re-expressed for Spark):

  train    spherical k-means (Lloyd) on a BOUNDED deterministic sample —
           hash-ordered ``TakeOrdered`` of ``sample_n`` rows, so the
           driver-side collect is O(sample_n * dim) regardless of corpus
           size (training on a sample is the standard IVF practice). The
           centroid matrix (K x dim doubles) is model-sized and ships to
           executors inside the assignment UDF closure.
  assign   one Arrow-batched numpy matmul per batch maps each vector to
           its top-m nearest centroids (multi-assign trades candidate
           volume for recall: pairs straddling a cell boundary still meet
           in the runner-up cell).
  search   candidates join on cell id only. Cell count K is the scale
           knob: sized ~ corpus/target_cell_size, within-cell pair counts
           stay ~ N * cell * m^2 — linear in N with bounded cells, never
           the quadratic blowup of a fixed-cardinality bucket scheme.

Determinism: the sample is hash-ordered (xxhash64, vec_id tiebreak), the
k-means init is the first K sample rows, and Lloyd is deterministic given
its init — so centroids, assignments, and results are reproducible with
no RNG anywhere.

Verification: candidate pairs / top-k are scored with the same
zip_with+aggregate cosine fold as similarity.py, so precision is exact
(every emitted pair truly clears the threshold); only recall is
approximate. Recall floors are pytest-enforced against the exact
baselines (tests/test_ivf.py).

Reference scope note: the reference app (Kafka Streams,
MainStreamApp.java) has no vector search; this operator family is part of
the training-data-pipeline surface the engine adds on top.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cache import scratch_dir
from ..views import load
from .similarity import _as_double, _cosine, _dot, _norm


def train_centroids(emb: DataFrame, n_centroids: int = 32,
                    n_iters: int = 5, sample_n: int = 4096,
                    vec_col: str = "embedding") -> list[list[float]]:
    """Spherical k-means centroids (unit-norm, list-of-lists) from a
    bounded deterministic sample. The only driver-side collect in the IVF
    path; its size is capped by ``sample_n`` independent of corpus size."""
    import numpy as np

    rows = (emb.select(F.xxhash64(F.col("vec_id")).alias("h"), "vec_id",
                       _as_double(vec_col).alias("v"))
               .orderBy("h", "vec_id")
               .limit(sample_n)
               .collect())
    M = np.array([r["v"] for r in rows], dtype=np.float64)
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    cent = M[:n_centroids].copy()
    for _ in range(n_iters):
        assign = np.argmax(M @ cent.T, axis=1)
        for c in range(n_centroids):
            members = M[assign == c]
            if len(members):
                v = members.sum(axis=0)
                nrm = np.linalg.norm(v)
                if nrm > 0:
                    cent[c] = v / nrm
    return [row.tolist() for row in cent]


def assign_cells(df: DataFrame, centroids: list[list[float]],
                 m_assign: int = 1, vec_col: str = "embedding",
                 out_col: str = "cells") -> DataFrame:
    """Adds ``out_col`` array<int>: the ids of the top-``m_assign``
    nearest centroids. Narrow map — one matmul per Arrow batch; the UDF
    closure is self-contained (numpy only), so executors never import
    this package."""

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _assign(emb):
        import numpy as np
        import pandas as pd
        C = np.array(centroids, dtype=np.float64)          # (K, dim)
        M = np.stack(emb.to_numpy()).astype(np.float64)    # (batch, dim)
        M /= np.linalg.norm(M, axis=1, keepdims=True)
        order = np.argsort(-(M @ C.T), axis=1, kind="stable")[:, :m_assign]
        return pd.Series([row.tolist() for row in order.astype(np.int32)])

    return df.withColumn(out_col, _assign(F.col(vec_col)))


def _exact_cosine_for_pairs(pairs: DataFrame, emb: DataFrame,
                            threshold: float) -> DataFrame:
    """Score (a_id, b_id) candidate pairs with the sequential-fold cosine
    (identical IEEE-754 operation order as the all-pairs baseline and the
    DuckDB oracle) and keep >= threshold."""
    a = (emb.select(F.col("vec_id").alias("a_id"),
                    _as_double("embedding").alias("a_vec"))
            .withColumn("a_norm", _norm(F.col("a_vec"))))
    b = (emb.select(F.col("vec_id").alias("b_id"),
                    _as_double("embedding").alias("b_vec"))
            .withColumn("b_norm", _norm(F.col("b_vec"))))
    cos = _dot(F.col("a_vec"), F.col("b_vec")) / (F.col("a_norm") * F.col("b_norm"))
    return (pairs.join(a, "a_id").join(b, "b_id")
                 .select("a_id", "b_id", cos.alias("cosine"))
                 .where(F.col("cosine") >= threshold))


def embedding_kmeans_assign_df(emb: DataFrame, n_clusters: int = 16,
                               n_iters: int = 5,
                               sample_n: int = 4096) -> DataFrame:
    """(vec_id, cluster): spherical k-means assignment of every embedding
    to its nearest centroid — the topic/domain bucketing stage of a data
    -mixing pipeline (cluster-balanced sampling, per-domain mixture
    weights over learned clusters instead of source labels).

    Deterministic end-to-end: centroids come from train_centroids'
    hash-ordered bounded sample, assignment is the argmax over a fixed
    centroid list with stable tie order. Rows-only at the driver gate
    (k-means is not SQL-restatable); determinism, full coverage, and
    multi-cluster spread are pytest-pinned.

    Scale: the only collect is the bounded centroid sample; assignment is
    a narrow Arrow-batched matmul map — no shuffle at all."""
    centroids = train_centroids(emb, n_centroids=n_clusters,
                                n_iters=n_iters, sample_n=sample_n)
    assigned = assign_cells(emb, centroids, m_assign=1, out_col="cells")
    return assigned.select(
        "vec_id", F.element_at(F.col("cells"), 1).alias("cluster"))


def embedding_kmeans_assign(spark: SparkSession, sf_dir: str,
                            n_clusters: int = 16) -> DataFrame:
    """Driver-gate fixture (rows-only): k-means cluster id per vector."""
    return embedding_kmeans_assign_df(load(spark, sf_dir, "embeddings"),
                                      n_clusters=n_clusters)


def mix_by_cluster_df(emb: DataFrame, quota: int = 50,
                      n_clusters: int = 16, n_iters: int = 5,
                      sample_n: int = 4096) -> DataFrame:
    """Cluster-balanced sampling: k-means-bucket every embedding, then
    keep at most ``quota`` vectors per cluster in content-addressed
    (md5(vec_id)) order — mix_by_source's quota shape over LEARNED
    domains instead of source labels, the balancing step a data-mixing
    recipe runs when domain labels are missing or too coarse.

    Deterministic end-to-end (seeded centroids + md5 ranks). Scale: the
    assignment is a shuffle-free Arrow map; the quota is one window
    partitioned by cluster — n_clusters parallel streams."""
    assigned = embedding_kmeans_assign_df(emb, n_clusters=n_clusters,
                                          n_iters=n_iters,
                                          sample_n=sample_n)
    key = F.md5(F.col("vec_id").cast("string"))
    w = Window.partitionBy("cluster").orderBy("sample_key", "vec_id")
    return (assigned
            .withColumn("sample_key", key)
            .withColumn("rank_in_cluster", F.row_number().over(w))
            .where(F.col("rank_in_cluster") <= quota)
            .select("vec_id", "cluster", "rank_in_cluster"))


def mix_by_cluster(spark: SparkSession, sf_dir: str,
                   quota: int = 20, n_clusters: int = 8) -> DataFrame:
    """Driver-gate fixture (rows-only: k-means is not SQL-restatable):
    cluster-balanced sample of the embeddings table."""
    return mix_by_cluster_df(load(spark, sf_dir, "embeddings"),
                             quota=quota, n_clusters=n_clusters)


def embedding_near_dup_ivf_df(emb: DataFrame, threshold: float = 0.4,
                              n_centroids: int = 32, m_assign: int = 4,
                              n_iters: int = 5,
                              sample_n: int = 4096) -> DataFrame:
    """Approximate cosine near-dup pairs (a_id < b_id, cosine >=
    threshold): candidates share an IVF cell, cosine verified exactly.

    Candidate generation runs PER CELL as one vectorized numpy matmul
    (applyInPandas over groupBy(cell)) with a 1e-9 slack below the
    threshold, so the within-cell pairs never materialize as wide join
    rows; survivors (a tiny set) are then re-scored with the sequential
    fold, which keeps emitted cosines bit-identical to the exact baseline.
    The slack is ~1e5 x the worst-case float64 matmul-vs-fold rounding
    difference for 64-dim unit vectors — no candidate the fold would
    accept can be lost.

    Defaults are tuned for the testdata regime (threshold 0.4 — the
    moderate-similarity band where sign-LSH stops pruning): K=32, m=4
    measures 98% recall vs the all-pairs baseline at half its candidate
    count. At production scale, grow K with the corpus (bounded cells)
    rather than m."""
    cents = train_centroids(emb, n_centroids, n_iters, sample_n)
    assigned = (assign_cells(emb, cents, m_assign)
                .select("vec_id", "embedding",
                        F.explode("cells").alias("cell")))
    slack = threshold - 1e-9

    def cell_pairs(pdf):
        import numpy as np
        import pandas as pd
        ids = pdf["vec_id"].to_numpy()
        M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        M /= np.linalg.norm(M, axis=1, keepdims=True)
        sim = M @ M.T
        ii, jj = np.nonzero(sim >= slack)
        keep = ids[ii] < ids[jj]
        return pd.DataFrame({"a_id": ids[ii][keep], "b_id": ids[jj][keep]})

    cands = (assigned.groupBy("cell")
             .applyInPandas(cell_pairs, "a_id long, b_id long")
             .dropDuplicates(["a_id", "b_id"]))
    return _exact_cosine_for_pairs(cands, emb, threshold)


def embedding_near_dup_ivf(spark: SparkSession, sf_dir: str,
                           threshold: float = 0.4) -> DataFrame:
    return embedding_near_dup_ivf_df(load(spark, sf_dir, "embeddings"),
                                     threshold)


# --- persisted IVF index (build once, probe with partition pruning) ----

def build_ivf_index(emb: DataFrame, index_dir: str, n_centroids: int = 32,
                    m_assign: int = 2, n_iters: int = 5,
                    sample_n: int = 4096, store_sq8: bool = False) -> None:
    """Materialize the IVF index beside the corpus — the production form
    of this family (FAISS persists its index for the same reason the
    signature store persists shingles: assignment is a pure function of
    content, so recomputing it per query run is waste):

      ``index_dir/centroids.json``  the K x dim centroid matrix
          (model-sized, driver-written atomically via temp + rename)
          plus the name of the postings GENERATION it commits;
      ``index_dir/postings_g<N>/``  parquet PARTITIONED BY cell:
          (vec_id, embedding, cell) — one directory per inverted list.

    Rebuild atomicity: each (re)build writes its postings into a FRESH
    generation directory and only then swaps ``centroids.json`` via
    ``os.replace`` — the metadata replace is the SINGLE commit point, so
    a concurrent reader either sees the old (centroids, postings_g<N>)
    pair or the new one, never new postings under old centroids (ADVICE
    r7). Superseded generations are left on disk for in-flight readers;
    ``prune_ivf_index_generations`` removes unreferenced ones during
    maintenance windows.

    The physical ``cell=N`` partitioning is the probe-time pruning
    mechanism: a query that probes ``nprobe`` cells lists only those
    directories (Spark partition pruning — the untouched inverted lists
    are never opened, the exact analogue of FAISS reading only probed
    lists). Multi-assign (``m_assign``) duplicates each vector into that
    many lists, trading ~m x storage for boundary recall, the standard
    IVF build knob.

    ``store_sq8=True`` stores int8 scalar-quantized codes instead of the
    float vectors — the FAISS ``IVF,SQ8`` recipe: postings become
    (vec_id, qv array<tinyint>, qq bigint self-dot, cell), 1-byte codes
    in the Arrow/scan hot path (parquet encodes the int8-annotated
    values dictionary/RLE-compact on disk). Probes then rank by the
    QUANTIZED cosine; compose with a float rescore of the shortlist
    (similarity.cosine_topk_sq8_rescored_df's phase 2) when exact final
    scores matter."""
    import json
    import os

    cents = train_centroids(emb, n_centroids, n_iters, sample_n)
    os.makedirs(index_dir, exist_ok=True)
    gen = _claim_generation(index_dir)
    _write_postings(emb, cents, index_dir, m_assign, store_sq8,
                    mode="overwrite", subdir=gen)
    tmp = os.path.join(index_dir, "centroids.json.tmp")
    with open(tmp, "w") as f:
        json.dump({"n_centroids": n_centroids, "m_assign": m_assign,
                   "sq8": store_sq8, "postings_dir": gen,
                   "centroids": cents}, f)
    os.replace(tmp, os.path.join(index_dir, "centroids.json"))


def _next_generation(index_dir: str) -> str:
    """Fresh postings generation name: one past the highest existing
    ``postings_g<N>`` (a plain ``postings`` dir from the pre-generation
    layout counts as generation 0)."""
    import os
    import re

    highest = -1
    for name in os.listdir(index_dir):
        if name == "postings":
            highest = max(highest, 0)
        else:
            m = re.fullmatch(r"postings_g(\d+)", name)
            if m:
                highest = max(highest, int(m.group(1)))
    return f"postings_g{highest + 1}"


def _claim_generation(index_dir: str) -> str:
    """Claim a fresh postings generation with ``os.mkdir``
    (exist_ok=False) as the mutual-exclusion point: two concurrent
    builders into the same index_dir race the mkdir, the loser retries
    and gets a DISTINCT generation — no clobbered parquet writes, no
    racing centroids.json commits over the same postings dir (ADVICE
    r8). The bound is a safety net, not a capacity limit."""
    import os

    for _ in range(10_000):
        name = _next_generation(index_dir)
        try:
            os.mkdir(os.path.join(index_dir, name))
            return name
        except FileExistsError:
            continue
    raise RuntimeError(
        f"could not claim a postings generation under {index_dir}")


def _postings_path(index_dir: str, meta: dict) -> str:
    """Postings directory the committed metadata references (legacy
    indexes without ``postings_dir`` fall back to ``postings``)."""
    import os

    return os.path.join(index_dir, meta.get("postings_dir", "postings"))


def prune_ivf_index_generations(index_dir: str) -> list[str]:
    """Delete postings generations NOT referenced by the committed
    ``centroids.json``, returning the removed directory names. A
    maintenance-window operation by contract: callers must know no
    reader still holds a plan over a superseded generation (the same
    contract as compact_parquet)."""
    import json
    import os
    import re
    import shutil

    with open(os.path.join(index_dir, "centroids.json")) as f:
        live = json.load(f).get("postings_dir", "postings")
    removed = []
    for name in sorted(os.listdir(index_dir)):
        if name != live and (name == "postings"
                             or re.fullmatch(r"postings_g(\d+)", name)):
            shutil.rmtree(os.path.join(index_dir, name),
                          ignore_errors=True)
            removed.append(name)
    return removed


def _write_postings(emb: DataFrame, cents: list[list[float]],
                    index_dir: str, m_assign: int, store_sq8: bool,
                    mode: str, subdir: str = "postings") -> None:
    """Assign ``emb`` to cells under the given centroids and write the
    posting rows (partitioned by cell) with the given save mode —
    shared by the full build (overwrite, fresh generation subdir) and
    incremental append (into the committed generation).

    INVARIANT (consumed by the rankers' lag-compare dedup, ADVICE r15):
    a vec_id posted to several cells stores BYTE-IDENTICAL payload rows
    in every cell — the multi-assign explode copies ONE source row, and
    the sq8 path quantizes before/independently of the cell split. A
    future write path that stores per-cell-differing copies (e.g. a
    re-quantized append) would give duplicates distinct cosines, so
    they would stop being rank-adjacent and BOTH survive the in-window
    dedup; keep this invariant or restore dropDuplicates there."""
    import os

    assigned = (assign_cells(emb, cents, m_assign)
                .select("vec_id", "embedding",
                        F.explode("cells").alias("cell")))
    # Cluster the write by cell when the assignment stage is multi-task
    # (guide §6: a partitionBy(cell) write from N tasks opens N files per
    # touched cell directory — tasks x cells small files at cluster
    # scale; one hash exchange on the partition key yields one file per
    # cell, and cell sizes are bounded by the n_centroids build knob).
    # Single-task inputs (the gate corpora) already write one file per
    # cell, so the exchange would be pure overhead — skipped, the same
    # scale-adaptive guard as views.spread().
    try:
        if assigned.rdd.getNumPartitions() > 1:
            assigned = assigned.repartition("cell")
    except Exception:
        pass
    if store_sq8:
        from .similarity import sq8_quantized

        assigned = (sq8_quantized(assigned, keep=["vec_id", "cell"])
                    .select("vec_id",
                            F.transform("qv", lambda x: x.cast("tinyint"))
                             .alias("qv"),
                            "qq", "cell"))
    (assigned.write.partitionBy("cell").mode(mode)
     .parquet(os.path.join(index_dir, subdir)))


def append_to_ivf_index(emb_new: DataFrame, index_dir: str) -> None:
    """Incremental index maintenance — the FAISS ``add`` path: assign
    NEW vectors under the index's EXISTING centroids (read from
    centroids.json; the model is never retrained on append, exactly
    like FAISS) and append their posting rows into the same ``cell=``
    partition directories. Probes pick up the new vectors with no
    rebuild: partition pruning is by directory, and append only adds
    files inside directories.

    At scale this is how a daily embedding delta lands in a corpus
    index: one assignment pass over the delta (centroid matmul,
    broadcast-sized model), one partitioned append — no touch of the
    existing postings. Periodic retrain/rebuild (when the corpus
    distribution drifts from the centroids) uses build_ivf_index; the
    compact_parquet maintenance op handles the small appended files.

    Append-vs-rebuild race (ADVICE r8): a rebuild committing between
    this function's metadata read and its postings write would strand
    the appended vectors in a superseded generation (which prune then
    deletes). Guard: after the write, RE-READ the committed metadata;
    if the generation changed, re-append into the new one (the stranded
    copy in the old generation is harmless — readers of that generation
    expect its pre-rebuild view, and prune reclaims it). Bounded retry;
    raises if the index is being rebuilt continuously."""
    import json
    import os

    def _committed(path: str) -> dict:
        with open(os.path.join(path, "centroids.json")) as f:
            return json.load(f)

    for _ in range(5):
        meta = _committed(index_dir)
        gen = meta.get("postings_dir", "postings")
        _write_postings(emb_new, meta["centroids"], index_dir,
                        meta["m_assign"], bool(meta.get("sq8")),
                        mode="append", subdir=gen)
        if _committed(index_dir).get("postings_dir", "postings") == gen:
            return
    raise RuntimeError(
        f"append_to_ivf_index lost the commit race 5 times under "
        f"{index_dir}: index is being rebuilt continuously")


# committed-generation postings schemas, keyed by postings dir path —
# a generation is immutable once committed, so its schema never changes
_POSTINGS_SCHEMA_CACHE: dict[str, object] = {}


def query_ivf_index(spark: SparkSession, index_dir: str,
                    queries: DataFrame, k: int = 10,
                    nprobe: int = 8) -> DataFrame:
    """Top-``k`` cosine neighbors for (query_id, embedding) rows against
    a ``build_ivf_index`` directory, reading ONLY the probed inverted
    lists. The probe-cell set is bounded by n_queries x nprobe (queries
    are a small frame by contract — they ride a broadcast), so the
    ``isin`` literal list stays tiny and Spark prunes the postings scan
    to those ``cell=`` directories (pytest asserts the file count).
    Output (query_id, neighbor_id, rank) — the cosine_topk shape.

    Against a ``store_sq8`` index the probed lists are 1-byte codes and
    ranking uses the quantized cosine (exact bigint dot over int8 codes;
    queries are quantized in-flight with the same floor-half-up rule) —
    the scan reads a quarter of the bytes and never touches floats."""
    q_rows = queries.select("vec_id",
                            _as_double("embedding").alias("v")).collect()
    return _query_ivf_index_rows(
        spark, index_dir,
        [(int(r["vec_id"]), list(r["v"])) for r in q_rows], k, nprobe)


def _query_ivf_index_rows(spark: SparkSession, index_dir: str,
                          id_vecs: list, k: int = 10,
                          nprobe: int = 8,
                          extra_postings: DataFrame | None = None
                          ) -> DataFrame:
    """query_ivf_index over already-collected (vec_id, [double]) query
    rows. Queries are a SMALL frame by contract (they ride a broadcast),
    so the centroid assignment runs DRIVER-SIDE with the same numpy ops
    as assign_cells' kernel: the old path spent a whole Spark job +
    Python-worker spin-up evaluating a pandas-UDF matmul over a handful
    of rows — the dominant cost of a warm probe. The sq8 quantization
    repeats sq8_quantized's exact operation order (floor(x*127.0/s +
    0.5), s = max(|x|, 1e-30)) in float64, so the quantized codes are
    bit-identical to the JVM expression's.

    ``extra_postings``: additional posting rows in the committed
    generation's raw layout (same columns, same sq8-ness) unioned into
    the scan — the streaming indexer's batch=<id> delta store
    (StreamingIvfIndexer). The cell filter is applied to the union, so
    Catalyst pushes the same ``cell`` partition pruning into BOTH
    parquet scans: a probe still reads only probed inverted lists from
    the base generation AND only probed cells of each stream batch."""
    import json
    import os

    import numpy as np

    with open(os.path.join(index_dir, "centroids.json")) as f:
        meta = json.load(f)
    cents = meta["centroids"]
    if not id_vecs:
        return spark.createDataFrame(
            [], "query_id bigint, neighbor_id bigint, rank int")
    M = np.array([v for _, v in id_vecs], dtype=np.float64)
    C = np.array(cents, dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    order = np.argsort(-(Mn @ C.T), axis=1, kind="stable")[:, :nprobe]
    if meta.get("sq8"):
        s = np.maximum(np.abs(M).max(axis=1), 1e-30)
        qv = np.floor(M * 127.0 / s[:, None] + 0.5).astype(np.int64)
        qq = (qv * qv).sum(axis=1)
        probed_rows = [
            (int(vid), [int(x) for x in qv[i]], int(qq[i]), int(c))
            for i, (vid, _) in enumerate(id_vecs) for c in order[i]]
        probed_schema = ("query_id bigint, a_qv array<bigint>, "
                         "a_qq bigint, cell int")
    else:
        probed_rows = [
            (int(vid), [float(x) for x in M[i]], int(c))
            for i, (vid, _) in enumerate(id_vecs) for c in order[i]]
        probed_schema = "query_id bigint, q_vec array<double>, cell int"
    cells = sorted({r[-1] for r in probed_rows})
    probed = spark.createDataFrame(probed_rows, probed_schema)
    # schema cached per postings dir: footer inference costs ~0.1 s per
    # probe and a committed generation's schema never changes
    ppath = _postings_path(index_dir, meta)
    if ppath not in _POSTINGS_SCHEMA_CACHE:
        _POSTINGS_SCHEMA_CACHE[ppath] = spark.read.parquet(ppath).schema
    postings = spark.read.schema(_POSTINGS_SCHEMA_CACHE[ppath]) \
        .parquet(ppath)
    if extra_postings is not None:
        postings = postings.unionByName(
            extra_postings.select(*postings.columns))
    postings = postings.where(F.col("cell").isin(cells))
    if meta.get("sq8"):
        postings = postings.select(
            F.col("vec_id").alias("neighbor_id"),
            F.transform("qv", lambda x: x.cast("bigint")).alias("b_qv"),
            F.col("qq").alias("b_qq"), "cell")
    else:
        postings = postings.select(
            F.col("vec_id").alias("neighbor_id"),
            _as_double("embedding").alias("c_vec"), "cell")
    cands = (postings.join(F.broadcast(probed), "cell")
             .where(F.col("neighbor_id") != F.col("query_id")))
    if meta.get("sq8"):
        from .similarity import _qdot as _qd
        from .similarity import qcos

        scored = (cands.select(
            "query_id", "neighbor_id",
            _qd(F.col("a_qv"), F.col("b_qv")).alias("qdot"),
            "a_qq", "b_qq")
            .select("query_id", "neighbor_id",
                    qcos(F.col("qdot"), F.col("a_qq"),
                         F.col("b_qq")).alias("cosine")))
    else:
        scored = cands.select(
            "query_id", "neighbor_id",
            _cosine(F.col("q_vec"), F.col("c_vec")).alias("cosine"))
    # Multi-assign duplicates (a neighbor stored in two probed cells of
    # the same query) are EXACT row duplicates — (query, neighbor,
    # cosine) all equal — so after the window sort they are ADJACENT
    # and one lag-compare inside the SAME window partitioning dedups
    # them: no dropDuplicates exchange on (query, neighbor). The whole
    # tail is one shuffle (partitionBy query_id), and the re-rank after
    # the filter reuses that partitioning (no second exchange).
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor_id").asc())
    return (scored
            .withColumn("_prev", F.lag("neighbor_id").over(w))
            .where(F.col("_prev").isNull()
                   | (F.col("_prev") != F.col("neighbor_id")))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank"))


# Per-process registry of already-built scratch indexes, keyed by
# (sf_dir, sq8). Two hazards this kills at once: (a) a prior call's
# still-unevaluated DataFrame can never see a half-rebuilt index,
# because within a process the same directory is built exactly once
# and never touched again; (b) two concurrent sessions can never race
# on a shared path, because the directory name embeds the PID. The
# cost is a bounded scratch leak (one index copy per (sf_dir, sq8)
# per process) — accepted; /tmp is session scratch.
_STORED_INDEX_CACHE: dict[tuple[str, bool], str] = {}
# serializes first-build per key: a check-then-act race between two
# threads would otherwise run build_ivf_index twice into the SAME
# PID-scoped directory (the overwrite deleting files mid-scan of the
# first thread's already-returned DataFrame)
_STORED_INDEX_LOCK = threading.Lock()


def ensure_stored_index(spark: SparkSession, sf_dir: str,
                        sq8: bool = False) -> str:
    """Build-once accessor for the scratch IVF index of ``sf_dir``:
    the first call per process builds into a PID-scoped directory, every
    later call returns the same path untouched (see _STORED_INDEX_CACHE;
    the lock makes first-build exactly-once under concurrent callers).
    Production would pass an explicit durable ``index_dir`` to
    build_ivf_index once and probe it from many jobs; this helper is the
    gate-fixture analogue of that build-once/probe-many contract."""
    import hashlib
    import os
    import tempfile

    key = (sf_dir, sq8)
    with _STORED_INDEX_LOCK:
        if key not in _STORED_INDEX_CACHE:
            tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
            suffix = "_sq8" if sq8 else ""
            index_dir = os.path.join(
                tempfile.gettempdir(),
                f"ivf_index_{tag}_{os.getpid()}{suffix}")
            emb = load(spark, sf_dir, "embeddings")
            build_ivf_index(emb, index_dir, n_centroids=32, m_assign=2,
                            store_sq8=sq8)
            _STORED_INDEX_CACHE[key] = index_dir
        return _STORED_INDEX_CACHE[key]


# (schema, rows) of the bounded probe-fixture query head, collected
# once per (sf_dir, n): the head is deterministic and tiny, so warm
# probes rebuild it from driver memory instead of re-running the
# takeOrdered scan job every call
_QUERY_HEAD_CACHE: dict[tuple[str, int], tuple] = {}


def _stored_query_set(spark: SparkSession, sf_dir: str,
                      n_queries: int) -> DataFrame:
    key = (sf_dir, n_queries)
    if key not in _QUERY_HEAD_CACHE:
        emb = load(spark, sf_dir, "embeddings")
        head = emb.orderBy("vec_id").limit(n_queries) \
                  .select("vec_id", "embedding")
        _QUERY_HEAD_CACHE[key] = (head.schema, head.collect())
    schema, rows = _QUERY_HEAD_CACHE[key]
    return spark.createDataFrame(rows, schema)


def _stored_query_rows(spark: SparkSession, sf_dir: str,
                       n_queries: int) -> list:
    """The cached query head as (vec_id, [float]) pairs for the
    driver-side probe path. collect() already converts array<float>
    elements through the same float->double widening the JVM cast
    performs, so these doubles match _as_double's bit-for-bit."""
    _stored_query_set(spark, sf_dir, n_queries)   # ensure cached
    _, rows = _QUERY_HEAD_CACHE[(sf_dir, n_queries)]
    return [(int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in rows]


def ann_cosine_topk_stored(spark: SparkSession, sf_dir: str,
                           n_queries: int = 5, k: int = 10,
                           nprobe: int = 12) -> DataFrame:
    """Driver-gate fixture (rows-only; recall floor pytest-enforced):
    build the persisted index in a fresh scratch directory, then answer
    the same query set as the other top-k fixtures through it. The build
    is deliberately part of THIS fixture (the gate needs a pure
    (spark, sf_dir) -> DataFrame function and the build path must stay
    exercised); the build-once/probe-many production shape is the
    separate ann_cosine_topk_stored_probe entry. Each call builds into
    its own ``cache.scratch_dir`` — never overwriting one a prior call's
    lazily-evaluated DataFrame may still read — and every directory
    survives until process exit: results from this function stay valid
    for the whole session with no synchronous-consumption assumption.
    Scratch growth is one small index copy (a few MB at gate scale) per
    call — bench/gate call counts are single digits per process."""
    emb = load(spark, sf_dir, "embeddings")
    index_dir = scratch_dir("ivf_index_")
    build_ivf_index(emb, index_dir, n_centroids=32, m_assign=2)
    queries = _stored_query_set(spark, sf_dir, n_queries)
    return query_ivf_index(spark, index_dir, queries, k=k, nprobe=nprobe)


def ann_cosine_topk_stored_probe(spark: SparkSession, sf_dir: str,
                                 n_queries: int = 5, k: int = 10,
                                 nprobe: int = 12) -> DataFrame:
    """PROBE-ONLY twin of ann_cosine_topk_stored — the steady-state cost
    of the persisted index (build once per process via
    ensure_stored_index, then every call only prunes to the probed
    ``cell=`` partitions and ranks). Identical output contract and
    recall floor; registered separately so the bench reports the probe
    path's latency without the build conflated in (the 100 TB story is
    build-once/probe-many: the build amortizes across every query run,
    the probe is what a user pays per query set). Rows-only gate like
    the other float-ANN entries (k-means is not SQL-restatable).

    Warm path: the query head is the cached driver-side row list, so a
    warm probe runs NO Spark job before the single scan+rank job —
    measured median ~0.7 s at sf0.1 (scripts/warm_probe.py)."""
    index_dir = ensure_stored_index(spark, sf_dir)
    return _query_ivf_index_rows(
        spark, index_dir, _stored_query_rows(spark, sf_dir, n_queries),
        k=k, nprobe=nprobe)


def cosine_topk_ivf(spark: SparkSession, sf_dir: str,
                    n_queries: int = 5, k: int = 10,
                    n_centroids: int = 32, nprobe: int = 12,
                    m_assign: int = 2, n_iters: int = 5,
                    sample_n: int = 4096) -> DataFrame:
    """ANN top-k via IVF probing: each query scores only corpus vectors
    whose top-``m_assign`` cells intersect the query's ``nprobe`` nearest
    cells. Output (query_id, neighbor_id, rank) — same shape as the exact
    brute-force baseline; recall floor pytest-enforced. nprobe/K is the
    recall-vs-work dial (defaults: ~0.9 top-10 recall scoring ~60% of
    this near-random corpus; real embedding corpora cluster far more
    sharply and prune far better)."""
    emb = load(spark, sf_dir, "embeddings")
    cents = train_centroids(emb, n_centroids, n_iters, sample_n)
    corpus = (assign_cells(emb, cents, m_assign)
              .select(F.col("vec_id").alias("neighbor_id"),
                      _as_double("embedding").alias("c_vec"),
                      F.explode("cells").alias("cell")))
    queries = (assign_cells(emb.orderBy("vec_id").limit(n_queries),
                            cents, nprobe)
               .select(F.col("vec_id").alias("query_id"),
                       _as_double("embedding").alias("q_vec"),
                       F.explode("cells").alias("cell")))
    cands = (corpus.join(F.broadcast(queries), "cell")
             .where(F.col("neighbor_id") != F.col("query_id")))
    scored = cands.select("query_id", "neighbor_id",
                          _cosine(F.col("q_vec"), F.col("c_vec")).alias("cosine"))
    # multi-assign duplicates are exact rows -> adjacent after the window
    # sort -> one lag-compare dedups them inside the SAME partitioning;
    # no dropDuplicates exchange (r15, the _query_ivf_index_rows pattern)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(),
                                               F.col("neighbor_id").asc())
    return (scored
            .withColumn("_prev", F.lag("neighbor_id").over(w))
            .where(F.col("_prev").isNull()
                   | (F.col("_prev") != F.col("neighbor_id")))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank"))
