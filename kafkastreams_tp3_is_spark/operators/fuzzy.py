"""Edit-distance similarity join over the ``documents`` table — the
approximate STRING-join family (entity resolution, typo-duplicate
detection) the LSH/minhash set-similarity operators don't cover:
find document pairs within Levenshtein distance ``max_dist``.

Algorithm: PassJoin (Li/Deng/Jiang/Feng, ICDE'12 "PASS-JOIN: A
Partition-based Method for Similarity Joins" — public work). Pigeonhole
over edits: partition every string into ``d+1`` contiguous segments;
a string within edit distance ``d`` of it must contain at least one of
those segments EXACTLY, starting within ``±d`` of its source position.
Candidates therefore come from an EQUI-JOIN on (source length, segment
index, segment hash) between each document's d+1 segments and every
document's enumerated probe substrings — never an all-pairs loop — and
only candidates pay the exact Levenshtein verify.

Scale: the segment side emits d+1 rows per doc, the probe side
(2d+1)·(d+1)·(2d+1) rows per doc (75 at d=2) — both linear in corpus
size, 8-byte xxhash64 join keys (a hash collision only adds a
candidate; the verify rejects it identically in both engines). Hot
segments cannot form cliques the way hot LSH buckets can: a segment is
~len/(d+1) consecutive characters at an exact source length, so
sharing one is already near-duplicate evidence; the ``min_len`` floor
keeps segments long enough to stay discriminative (short strings are
better served by brute force within length groups). At 100 TB both
sides hash-partition on the join key; AQE handles residual skew. For
very large ``d`` use threshold-bounded verify
(``levenshtein(a, b, threshold)``, O(d·n) early-exit) — the gate uses
the plain spelling because DuckDB has no threshold argument.

Gate: exact integers end to end (deterministic candidate set, integer
distance) -> full-hash DuckDB oracle restating the same partition
arithmetic (FLOOR-based: DuckDB CAST(double AS INT) rounds where Spark
truncates, so both engines floor explicitly on integer-exact doubles).
Spark's ``levenshtein`` counts CHARACTER edits while DuckDB 1.0.0's
counts BYTE edits — identical on the all-ASCII test corpora the gate
runs on; the operator itself is character-correct on unicode (both
pinned in tests/test_fuzzy.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import scratch_dir
from ..views import load, spread


def _seg_hash(col: F.Column) -> F.Column:
    """Candidate-key hash for segment/probe equi-joins (r15: xxhash64,
    was the md5-hex-conv spelling): the hash never reaches the output —
    candidates are exact-verified with levenshtein and distinct'd, and a
    collision only ADDS a candidate (every true pair already meets on an
    exact substring match, which any hash preserves), so the pair set is
    identical under any hash function while xxhash64 skips the md5 hex
    round-trip per probe row."""
    return F.xxhash64(col)


def _long_base(docs: DataFrame, min_len: int,
               parallel: bool = True) -> DataFrame:
    """The PassJoin long-path working set: (doc_id, t, n) for documents
    of at least ``min_len`` chars. ``parallel`` applies the r15 spread()
    floor — wanted when the frame feeds the 75x probe expansion, skipped
    when it only supplies texts to a candidate-sized verify join (the
    repartition would shuffle full payloads for no row-local work)."""
    txt = F.coalesce(F.col("text"), F.lit(""))
    src = spread(docs) if parallel else docs
    return (src.select("doc_id", txt.alias("t"))
            .where(F.length("t") >= int(min_len))
            .select("doc_id", "t", F.length("t").alias("n")))


def _long_candidates(base: DataFrame, max_dist: int,
                     min_len: int) -> DataFrame:
    """PassJoin candidate generation over the long-path working set:
    distinct (doc_a < doc_b) ids whose strings share a segment at a
    compatible (source length, segment index, position window) — the
    equi-join core of :func:`edit_distance_pairs_df`, split out so the
    driver-gate fixtures can persist ONE candidate inventory shared by
    every fuzzy_* entry (r16; guide §5 caching / §2.4)."""
    d = int(max_dist)
    k = d + 1

    def seg_arith(src_n: F.Column, j: F.Column):
        """1-based start and length of segment ``j`` of a string of
        length ``src_n`` split into k even segments (first k - n%k take
        floor(n/k) chars, the rest one more). FLOOR keeps the integer
        arithmetic identical across engines."""
        b = F.floor(src_n / k).cast("int")
        rem = (src_n % k).cast("int")
        extra = F.greatest(F.lit(0), j - (F.lit(k) - rem))
        start = (j * b + extra + 1).cast("int")
        length = F.when(j >= F.lit(k) - rem, b + 1).otherwise(b).cast("int")
        return start, length

    # segment side: the d+1 segments of every doc, keyed (src_n, j, h)
    j_arr = F.array(*[F.lit(j) for j in range(k)])
    segs = (base.select(F.col("doc_id").alias("a_id"), "t",
                        F.col("n").alias("src_n"),
                        F.explode(j_arr).alias("j")))
    s_start, s_len = seg_arith(F.col("src_n"), F.col("j"))
    a_side = (segs.select("a_id", "src_n", "j",
                          s_start.alias("pos"), s_len.alias("len"), "t")
              .select("a_id", "src_n", "j",
                      _seg_hash(F.expr("substring(t, pos, len)"))
                      .alias("h")))

    # probe side: for every candidate source length src_n in [m-d, m+d]
    # and segment j of THAT length, substrings starting within +-d of
    # the segment's source position. (dn, j, ds) is a 75-element
    # literal cross product — one explode, then scalar arithmetic.
    combos = F.array(*[
        F.struct(F.lit(dn).alias("dn"), F.lit(j).alias("j"),
                 F.lit(ds).alias("ds"))
        for dn in range(-d, d + 1)
        for j in range(k)
        for ds in range(-d, d + 1)])
    probes = (base.select(F.col("doc_id").alias("b_id"), "t",
                          F.col("n").alias("m"),
                          F.explode(combos).alias("c"))
              .select("b_id", "t", "m",
                      (F.col("m") + F.col("c.dn")).alias("src_n"),
                      F.col("c.j").alias("j"), F.col("c.ds").alias("ds")))
    p_start, p_len = seg_arith(F.col("src_n"), F.col("j"))
    b_side = (probes
              .where(F.col("src_n") >= int(min_len))
              .select("b_id", "src_n", "j",
                      (p_start + F.col("ds")).cast("int").alias("pos"),
                      p_len.alias("len"), "t", "m")
              .where((F.col("pos") >= 1)
                     & (F.col("pos") + F.col("len") - 1 <= F.col("m")))
              .select("b_id", "src_n", "j",
                      _seg_hash(F.expr("substring(t, pos, len)"))
                      .alias("h")))

    return (a_side.join(b_side, ["src_n", "j", "h"])
            .where(F.col("a_id") != F.col("b_id"))
            .select(F.least("a_id", "b_id").alias("doc_a"),
                    F.greatest("a_id", "b_id").alias("doc_b"))
            .distinct())


def _verified_pairs(cands: DataFrame, base: DataFrame,
                    max_dist: int) -> DataFrame:
    """Exact-Levenshtein verification of a (doc_a, doc_b) candidate set
    against the long-path working set's texts — the output stage of
    :func:`edit_distance_pairs_df`."""
    ta = base.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("ta"))
    tb = base.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("tb"))
    return (cands.join(ta, "doc_a").join(tb, "doc_b")
            .select("doc_a", "doc_b",
                    F.levenshtein("ta", "tb").cast("int").alias("dist"))
            .where(F.col("dist") <= int(max_dist)))


def edit_distance_pairs_df(docs: DataFrame, max_dist: int = 2,
                           min_len: int = 24) -> DataFrame:
    """(doc_a < doc_b, dist) for every pair of documents with
    ``levenshtein(text_a, text_b) <= max_dist``, via PassJoin candidate
    generation. Documents shorter than ``min_len`` chars are excluded
    (contract: short strings belong in a per-length-group brute force;
    the floor keeps segments discriminative)."""
    # parallelism floor (r15): the 75x probe expansion + hashing is
    # row-local CPU off a (possibly single-file) scan
    base = _long_base(docs, min_len)
    cands = _long_candidates(base, max_dist, min_len)
    return _verified_pairs(cands, base, max_dist)


def _seg_arith(src_n: F.Column, j: F.Column, k: int):
    """1-based start and length of segment ``j`` of a string of length
    ``src_n`` split into k even segments (first k - n%k take floor(n/k)
    chars, the rest one more). FLOOR keeps the integer arithmetic
    identical across engines. Shared by the self-join and the
    cross-table join."""
    b = F.floor(src_n / k).cast("int")
    rem = (src_n % k).cast("int")
    extra = F.greatest(F.lit(0), j - (F.lit(k) - rem))
    start = (j * b + extra + 1).cast("int")
    length = F.when(j >= F.lit(k) - rem, b + 1).otherwise(b).cast("int")
    return start, length


def _prep(docs: DataFrame, id_out: str) -> DataFrame:
    txt = F.coalesce(F.col("text"), F.lit(""))
    return (spread(docs).select(F.col("doc_id").alias(id_out), txt.alias("t"))
            .select(id_out, "t", F.length("t").alias("n")))


def edit_distance_join_df(left: DataFrame, right: DataFrame,
                          max_dist: int = 2,
                          min_len: int = 24) -> DataFrame:
    """CROSS-TABLE edit-distance join: (l_id, r_id, dist) for every
    (left, right) pair with ``levenshtein <= max_dist`` — entity
    resolution / fuzzy decontamination against a reference table, the
    two-frame variant of :func:`edit_distance_pairs_all_df`. Both
    frames are (doc_id, text).

    Long pairs (both >= ``min_len``) come from PassJoin's pigeonhole,
    directional: segments from the LEFT string, probe substrings from
    the RIGHT (ed(a,b) <= d guarantees b contains one of a's d+1
    segments at source length len(a) within the position window, so one
    direction is complete — Li et al. ICDE'12 Lemma 1). Pairs whose
    shorter side is under ``min_len`` come from a length-banded join
    over DISTINCT strings (right side emits keys len-d..len+d, no
    canonicalization since the pair is ordered by table). Partitions
    disjoint on min-side length; union exact.

    Scale: identical candidate structure to the self-join — per-doc
    linear emission, equi-join keys, Levenshtein only on candidates;
    the short band runs over distinct strings per side."""
    d = int(max_dist)
    k = d + 1
    base_l = _prep(left, "l_id")
    base_r = _prep(right, "r_id")

    # --- long path: segments(L) equi-join probes(R) ---------------------
    long_l = base_l.where(F.col("n") >= int(min_len))
    long_r = base_r.where(F.col("n") >= int(min_len))
    j_arr = F.array(*[F.lit(j) for j in range(k)])
    segs = long_l.select("l_id", "t", F.col("n").alias("src_n"),
                         F.explode(j_arr).alias("j"))
    s_start, s_len = _seg_arith(F.col("src_n"), F.col("j"), k)
    l_side = (segs.select("l_id", "src_n", "j",
                          s_start.alias("pos"), s_len.alias("len"), "t")
              .select("l_id", "src_n", "j",
                      _seg_hash(F.expr("substring(t, pos, len)"))
                      .alias("h")))
    combos = F.array(*[
        F.struct(F.lit(dn).alias("dn"), F.lit(j).alias("j"),
                 F.lit(ds).alias("ds"))
        for dn in range(-d, d + 1)
        for j in range(k)
        for ds in range(-d, d + 1)])
    probes = (long_r.select("r_id", "t", F.col("n").alias("m"),
                            F.explode(combos).alias("c"))
              .select("r_id", "t", "m",
                      (F.col("m") + F.col("c.dn")).alias("src_n"),
                      F.col("c.j").alias("j"), F.col("c.ds").alias("ds")))
    p_start, p_len = _seg_arith(F.col("src_n"), F.col("j"), k)
    r_side = (probes
              .where(F.col("src_n") >= int(min_len))
              .select("r_id", "src_n", "j",
                      (p_start + F.col("ds")).cast("int").alias("pos"),
                      p_len.alias("len"), "t", "m")
              .where((F.col("pos") >= 1)
                     & (F.col("pos") + F.col("len") - 1 <= F.col("m")))
              .select("r_id", "src_n", "j",
                      _seg_hash(F.expr("substring(t, pos, len)"))
                      .alias("h")))
    long_cands = (l_side.join(r_side, ["src_n", "j", "h"])
                  .select("l_id", "r_id").distinct())
    tl = base_l.select("l_id", F.col("t").alias("tl"))
    tr = base_r.select("r_id", F.col("t").alias("tr"))
    long_pairs = (long_cands.join(tl, "l_id").join(tr, "r_id")
                  .select("l_id", "r_id",
                          F.levenshtein("tl", "tr").cast("int")
                          .alias("dist"))
                  .where(F.col("dist") <= d))

    # --- short path: length-banded distinct join, min side < min_len ----
    pool_l = base_l.where(F.length("t") < int(min_len) + d)
    pool_r = base_r.where(F.length("t") < int(min_len) + d)
    uq_l = pool_l.select("t", "n").distinct().select(
        F.col("t").alias("tl"), F.col("n").alias("nl"))
    uq_r = (pool_r.select("t", "n").distinct()
            .select(F.col("t").alias("tr"), F.col("n").alias("nr"),
                    F.explode(F.sequence(F.col("n") - d, F.col("n") + d))
                     .alias("nl"))
            .where(F.col("nl") >= 0))
    short_upairs = (uq_l.join(uq_r, "nl")
                    .where(F.least("nl", "nr") < int(min_len))
                    .select("tl", "tr",
                            F.levenshtein("tl", "tr").cast("int")
                            .alias("dist"))
                    .where(F.col("dist") <= d))
    short_pairs = (short_upairs
                   .join(pool_l.select(F.col("t").alias("tl"), "l_id"),
                         "tl")
                   .join(pool_r.select(F.col("t").alias("tr"), "r_id"),
                         "tr")
                   .select("l_id", "r_id", "dist"))
    return long_pairs.unionByName(short_pairs)


def fuzzy_dedup_against_df(corpus: DataFrame, reference: DataFrame,
                           max_dist: int = 2,
                           min_len: int = 24) -> DataFrame:
    """Cross-corpus fuzzy decontamination: per corpus document, how many
    reference documents sit within ``max_dist`` edits, and the drop
    verdict — the edit-distance analogue of ``dedup_against`` (minhash)
    and ``decontaminate`` (n-gram): near-verbatim benchmark copies that
    differ by a character of punctuation still leak eval data. Output:
    (doc_id, n_fuzzy_matches, dropped) for EVERY corpus document."""
    hits = (edit_distance_join_df(corpus, reference, max_dist, min_len)
            .groupBy("l_id")
            .agg(F.count(F.lit(1)).alias("n_fuzzy_matches")))
    return (corpus.select("doc_id")
            .join(hits, corpus["doc_id"] == hits["l_id"], "left")
            .select("doc_id",
                    F.coalesce("n_fuzzy_matches", F.lit(0).cast("bigint"))
                     .alias("n_fuzzy_matches"))
            .withColumn("dropped", F.col("n_fuzzy_matches") > 0))


def fuzzy_dedup_against(spark: SparkSession, sf_dir: str,
                        max_dist: int = 2) -> DataFrame:
    """Driver-gate fixture (full hash): fuzzy decontamination of the
    documents corpus (plus planted short typo keys ``Rout_<id>``)
    against a synthetic reference set — every 40th document with one
    substituted char at position 50 (distance 1 from its source) and
    the clean short keys ``Route_<id>`` for every 50th doc (distance 1
    from the planted typos). Expected drops: the %40 source docs and
    the planted short keys; everything else survives. Exercises BOTH
    paths of the cross-table join under the hash gate."""
    if max_dist != 2:
        # ORACLES['fuzzy_dedup_against'] pins d=2
        raise ValueError(
            f"fuzzy_dedup_against oracle pins max_dist=2; got "
            f"{max_dist} — call fuzzy_dedup_against_df directly")
    docs = load(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    short_typos = (docs.where(F.col("doc_id") % 50 == 0)
                   .select((F.col("doc_id") + F.lit(9_500_000_000))
                           .alias("doc_id"),
                           F.concat(F.lit("Rout_"),
                                    F.col("doc_id").cast("string"))
                            .alias("text")))
    corpus = docs.select("doc_id", "text").unionByName(short_typos)
    mutated = (docs.where((F.col("doc_id") % 40 == 0)
                          & (F.length(t) >= 51))
               .select((F.col("doc_id") + F.lit(7_000_000_000))
                       .alias("doc_id"),
                       F.concat(F.substring(t, 1, 49), F.lit("~"),
                                F.expr("substring(coalesce(text, ''), 51,"
                                       " 2147483647)")).alias("text")))
    short_ref = (docs.where(F.col("doc_id") % 50 == 0)
                 .select((F.col("doc_id") + F.lit(7_500_000_000))
                         .alias("doc_id"),
                         F.concat(F.lit("Route_"),
                                  F.col("doc_id").cast("string"))
                          .alias("text")))
    reference = mutated.unionByName(short_ref)
    return fuzzy_dedup_against_df(corpus, reference, max_dist)


def edit_distance_pairs_short_df(docs: DataFrame, max_dist: int = 2,
                                 min_len: int = 24) -> DataFrame:
    """The per-length-group companion the ``min_len`` contract of
    :func:`edit_distance_pairs_df` promises: (doc_a < doc_b, dist) for
    every pair whose SHORTER string has fewer than ``min_len`` chars
    (reference-scale keys like ``Route_7``/``Trip_42``,
    classes/Route.java:3-29, are exactly this short). Candidates come
    from a length-banded join over DISTINCT strings — two strings within
    edit distance d differ in length by at most d, so each distinct
    string meets its candidates at the shorter one's length band;
    identical-text pairs (distance 0) come from one equi-self-join on
    the text.

    Scale: candidate generation runs over DISTINCT strings, never docs —
    short-string cardinality is entropy-bounded (|alphabet|^len in
    theory, the small key space of ids/names in practice), and the
    verify is O(d·len) per candidate. Doc-level expansion afterwards is
    output-sized (one equi-join per side on the text). This IS the
    brute-force-within-length-groups contract: quadratic only in
    distinct-short-string count per d-wide length band, which is what
    bounds real corpora; everything >= min_len stays with the
    sub-quadratic segment path. Boundary pairs (shorter < min_len <=
    longer) are covered HERE: the pool admits strings up to
    min_len + d - 1 chars and keeps pairs whose shorter side is under
    min_len, so the union with the segment path is exactly complete."""
    d = int(max_dist)
    txt = F.coalesce(F.col("text"), F.lit(""))
    pool = (docs.select("doc_id", txt.alias("t"))
            .where(F.length("t") < int(min_len) + d)
            .select("doc_id", "t", F.length("t").alias("n")))
    uniq = pool.select("t", "n").distinct()
    a = uniq.select(F.col("t").alias("ta"), F.col("n").alias("na"))
    # B meets A at the shorter side's length: emit each string under
    # every length in [n-d, n] -> pure equi-join on the band key
    b = (uniq.select(F.col("t").alias("tb"), F.col("n").alias("nb"),
                     F.explode(F.sequence(F.col("n") - d, F.col("n")))
                      .alias("na"))
         .where(F.col("na") >= 0))
    upairs = (a.join(b, "na")
              .where((F.col("na") < F.col("nb"))
                     | ((F.col("na") == F.col("nb"))
                        & (F.col("ta") < F.col("tb"))))
              .where(F.col("na") < int(min_len))
              .select("ta", "tb",
                      F.levenshtein("ta", "tb").cast("int").alias("dist"))
              .where(F.col("dist") <= d))
    da = pool.select(F.col("t").alias("ta"), F.col("doc_id").alias("ida"))
    db = pool.select(F.col("t").alias("tb"), F.col("doc_id").alias("idb"))
    cross = (upairs.join(da, "ta").join(db, "tb")
             .select(F.least("ida", "idb").alias("doc_a"),
                     F.greatest("ida", "idb").alias("doc_b"), "dist"))
    same = (pool.where(F.col("n") < int(min_len))
            .select(F.col("t").alias("ts"), F.col("doc_id").alias("ida"))
            .join(pool.where(F.col("n") < int(min_len))
                  .select(F.col("t").alias("ts"),
                          F.col("doc_id").alias("idb")), "ts")
            .where(F.col("ida") < F.col("idb"))
            .select(F.col("ida").alias("doc_a"),
                    F.col("idb").alias("doc_b"),
                    F.lit(0).cast("int").alias("dist")))
    return cross.unionByName(same)


def edit_distance_pairs_all_df(docs: DataFrame, max_dist: int = 2,
                               min_len: int = 24) -> DataFrame:
    """Full-corpus edit-distance join: the PassJoin segment path for
    pairs with both strings >= ``min_len`` chars, unioned with the
    length-banded short-string companion for pairs whose shorter string
    is under it. The two partitions of the pair space are disjoint by
    construction (min side < min_len vs both >= min_len), so the union
    needs no dedup and covers EVERY pair within ``max_dist``."""
    return (edit_distance_pairs_df(docs, max_dist, min_len)
            .unionByName(edit_distance_pairs_short_df(docs, max_dist,
                                                      min_len)))


# Per-process fuzzy candidate inventory (r16, VERDICT r15 ask #1; guide
# §5 caching / §2.4): the four long-path fuzzy_* fixtures
# (fuzzy_edit_pairs[_all], fuzzy_dup_clusters[_all]) all generate THE
# SAME PassJoin candidate set — the _all corpus only adds sub-min_len
# short keys, which the long path's length floor excludes — and the
# candidate equi-join (75x probe expansion + distinct) is ~80% of each
# entry's wall. Build the candidate inventory ONCE per process into a
# scratch parquet and let every fixture read it back, exactly the
# stored-IVF ensure_stored_index / stored-tokenizer pattern (ivf.py,
# text.py). The store holds CANDIDATE ids only, never verified results:
# each entry still scans the corpus for texts and runs its own exact
# Levenshtein verify + composition. A fresh process (every driver
# bench/verify invocation) always regenerates from the parquet inputs.
# (sf_dir, max_dist, min_len) -> (session, parquet dir)
_CANDS_CACHE: dict[tuple, tuple] = {}


def _fixture_long_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planted long-typo corpus shared by fuzzy_edit_pairs and
    fuzzy_edit_pairs_all: documents plus, for every 25th (long enough)
    doc, a copy with one char deleted (position 40) and one substituted
    (position 80 -> '~') — distance <= 2 from its source."""
    docs = load(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    edited = F.concat(
        F.substring(t, 1, 39), F.substring(t, 41, 39), F.lit("~"),
        F.expr("substring(coalesce(text, ''), 81, 2147483647)"))
    planted = (docs.where((F.col("doc_id") % 25 == 0)
                          & (F.length(t) >= 81))
               .select((F.col("doc_id") + F.lit(8_000_000_000))
                       .alias("doc_id"), edited.alias("text")))
    return docs.select("doc_id", "text").unionByName(planted)


def _ensure_fixture_candidates(spark: SparkSession, sf_dir: str,
                               max_dist: int, min_len: int = 24) -> str:
    """Build-once accessor for the fixtures' long-path candidate
    inventory: first call per (session, sf_dir, d) generates the
    PassJoin candidates over the shared planted corpus and writes them
    to a scratch parquet; later calls return the path untouched."""
    key = (sf_dir, int(max_dist), int(min_len))
    hit = _CANDS_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    workdir = scratch_dir("fuzzy_cands_")
    base = _long_base(_fixture_long_corpus(spark, sf_dir), min_len)
    (_long_candidates(base, max_dist, min_len)
     .write.mode("overwrite").parquet(os.path.join(workdir, "cands")))
    _CANDS_CACHE[key] = (spark, workdir)
    return workdir


def _fixture_long_pairs(spark: SparkSession, sf_dir: str,
                        max_dist: int) -> DataFrame:
    """Long-path pairs of the planted fixture corpus via the shared
    candidate inventory: read the stored (doc_a, doc_b) candidates and
    run the exact verify against the corpus texts."""
    workdir = _ensure_fixture_candidates(spark, sf_dir, max_dist)
    cands = spark.read.parquet(os.path.join(workdir, "cands"))
    base = _long_base(_fixture_long_corpus(spark, sf_dir), 24,
                      parallel=False)
    return _verified_pairs(cands, base, max_dist)


def fuzzy_edit_pairs(spark: SparkSession, sf_dir: str,
                     max_dist: int = 2) -> DataFrame:
    """Driver-gate fixture (full hash): edit-distance pairs over the
    documents table plus planted typo twins — every 25th document (long
    enough) gets a copy with one character deleted (position 40) and
    one substituted (position 80 -> '~'), landing at distance <= 2;
    recovery of every planted pair is the PassJoin completeness
    guarantee, asserted in pytest alongside brute-force equivalence.
    Candidates come from the shared per-process inventory
    (_ensure_fixture_candidates); the verify runs per call."""
    return _fixture_long_pairs(spark, sf_dir, max_dist)


def fuzzy_edit_pairs_all(spark: SparkSession, sf_dir: str,
                         max_dist: int = 2) -> DataFrame:
    """Driver-gate fixture (full hash): FULL-corpus edit-distance join —
    the segment path's planted long typo twins (as ``fuzzy_edit_pairs``)
    PLUS planted reference-scale short keys: every 50th document
    contributes ``Route_<id>`` and its deletion typo ``Rout_<id>``
    (distance 1), and every 100th an exact duplicate of its Route key
    (distance 0) — the ``Route_7``/``Trip_42``-sized strings the
    PassJoin min_len contract excludes. Short keys also pair with each
    OTHER across ids where one or two character edits connect them
    (e.g. ``Route_100``/``Route_200``), so the gate exercises genuine
    per-band candidate structure, not just the plants."""
    if max_dist != 2:
        # ORACLES['fuzzy_edit_pairs_all'] pins d=2 (range literals,
        # levenshtein <= 2, the 26-char pool bound)
        raise ValueError(
            f"fuzzy_edit_pairs_all oracle pins max_dist=2; got "
            f"{max_dist} — call edit_distance_pairs_all_df directly")
    docs = load(spark, sf_dir, "documents")
    route_key = F.concat(F.lit("Route_"), F.col("doc_id").cast("string"))
    typo_key = F.concat(F.lit("Rout_"), F.col("doc_id").cast("string"))
    every50 = docs.where(F.col("doc_id") % 50 == 0)
    s_route = every50.select(
        (F.col("doc_id") + F.lit(9_000_000_000)).alias("doc_id"),
        route_key.alias("text"))
    s_typo = every50.select(
        (F.col("doc_id") + F.lit(9_500_000_000)).alias("doc_id"),
        typo_key.alias("text"))
    s_dup = (docs.where(F.col("doc_id") % 100 == 0)
             .select((F.col("doc_id") + F.lit(9_750_000_000))
                     .alias("doc_id"), route_key.alias("text")))
    both = (_fixture_long_corpus(spark, sf_dir)
            .unionByName(s_route).unionByName(s_typo).unionByName(s_dup))
    # The planted short keys are all far under the 24-char long-path
    # floor ("Route_" + a decimal id stays < 24 chars up to 17-digit
    # ids), so the long path over `both` equals the long path over the
    # fixture corpus WITHOUT them — which is exactly the shared
    # candidate inventory fuzzy_edit_pairs reads. Only the
    # length-banded short companion runs over `both`.
    return (_fixture_long_pairs(spark, sf_dir, max_dist)
            .unionByName(edit_distance_pairs_short_df(both,
                                                      max_dist=max_dist)))


def fuzzy_dup_clusters_all(spark: SparkSession, sf_dir: str,
                           max_dist: int = 2) -> DataFrame:
    """Typo-duplicate clusters over the FULL corpus — the
    ``fuzzy_dup_clusters`` composition with ``fuzzy_edit_pairs_all``'s
    edges, so reference-scale short keys cluster too: each planted
    Route_<id>/Rout_<id>(/exact-dup) family lands in one component with
    the original id as canonical, alongside the long typo-twin
    clusters. Full-hash gate (pair SQL nested in the recursive-closure
    spelling)."""
    from .graph import _clusters

    pairs = (fuzzy_edit_pairs_all(spark, sf_dir, max_dist)
             .select(F.col("doc_a").alias("a_id"),
                     F.col("doc_b").alias("b_id")))
    return _clusters(pairs)


def fuzzy_dup_clusters(spark: SparkSession, sf_dir: str,
                       max_dist: int = 2) -> DataFrame:
    """Typo-duplicate clusters — the dedup composition over the
    edit-distance join: PassJoin pairs (same planted fixture as
    ``fuzzy_edit_pairs``) chained into Large-Star/Small-Star connected
    components, cluster_id = min doc_id, canonical = the record a
    dedup pass keeps. Mirrors ``duplicate_clusters_lsh``'s
    edges -> CC -> canonical shape with edit-distance edges: every
    stage sub-quadratic (segment equi-join candidates, log-round CC).
    Full-hash gate: the oracle nests the fuzzy-pair SQL inside the
    recursive-closure spelling the other cluster oracles use."""
    from .graph import _clusters

    pairs = (fuzzy_edit_pairs(spark, sf_dir, max_dist)
             .select(F.col("doc_a").alias("a_id"),
                     F.col("doc_b").alias("b_id")))
    return _clusters(pairs)
