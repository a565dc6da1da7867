"""Text-analysis operators for a large-scale training-data pipeline, over the
``documents`` table (doc_id, text, lang, source, n_chars).

All hot-path expressions are built-in pyspark.sql.functions — JVM-side
throughout, never a Python worker (higher-order array expressions like the
fingerprint's aggregate run interpreted in the JVM, outside whole-stage
codegen; the scalar paths codegen fully). Everything is a narrow per-row
map — no shuffle — so it scales linearly with input splits.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import scratch_dir
from ..views import load, spread

# Small per-language stopword marker sets for the n-gram-free heuristic
# language id. Deliberately tiny and deterministic.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "fr": ["le", "la", "les", "et", "est", "une", "que", "dans"],
    "es": ["el", "la", "los", "es", "una", "que", "por", "con"],
}

_PUNCT = r"[.,!?;:'\"()\[\]{}-]"


def tokens_col(text_col: str = "text") -> F.Column:
    """Whitespace tokenization with empty-token filtering (deterministic,
    matches the oracle's regexp split). NULL text coalesces to '' FIRST so
    ``F.size(tokens_col())`` is 0 — never NULL, and never -1 under legacy
    sizeOfNull — keeping token-mass sums aligned with SQL oracles whose
    SUM would silently skip a NULL."""
    return F.filter(F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
                    lambda x: x != "")


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token count per document: whitespace tokens + a BPE-ish proxy count
    (4 chars/token heuristic over non-space chars)."""
    docs = load(spark, sf_dir, "documents")
    nonspace = F.length(F.regexp_replace(
        F.coalesce(F.col("text"), F.lit("")), r"\s+", ""))
    return docs.select(
        "doc_id",
        F.size(tokens_col()).cast("bigint").alias("n_tokens"),
        F.ceil(nonspace.cast("double") / 4.0).cast("bigint").alias("n_tokens_bpe_est"),
    )


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality signals: mean word length, punctuation ratio,
    stopword(en) ratio, and a composite score. Ratios are single divisions of
    exact integer counts (bit-reproducible vs the SQL oracle)."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens_col()
    txt = F.coalesce(F.col("text"), F.lit(""))  # NULL-total like tokens_col
    n_tok = F.size(toks).cast("bigint")
    n_chars = F.length(txt).cast("bigint")
    n_punct = F.size(F.regexp_extract_all(txt, F.lit(_PUNCT), 0)).cast("bigint")
    n_stop = F.size(F.filter(F.transform(toks, lambda x: F.lower(x)),
                             lambda x: x.isin(*[w for w in _LANG_MARKERS["en"]]))).cast("bigint")
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.when(n_tok == 0, F.lit(0.0))
         .otherwise(n_chars.cast("double") / n_tok.cast("double")).alias("mean_word_len"),
        F.when(n_chars == 0, F.lit(0.0))
         .otherwise(n_punct.cast("double") / n_chars.cast("double")).alias("punct_ratio"),
        F.when(n_tok == 0, F.lit(0.0))
         .otherwise(n_stop.cast("double") / n_tok.cast("double")).alias("stopword_ratio"),
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language id over {en,de,fr,es}: the language whose
    marker set hits the most tokens wins; 'und' (undetermined) when no
    marker hits. Tie-break: language code ascending."""
    docs = spread(load(spark, sf_dir, "documents"))
    lowered = F.transform(tokens_col(), lambda x: F.lower(x))
    def _marker_hits(words: list[str]) -> F.Column:
        return F.size(F.filter(lowered, lambda x: x.isin(*words))).cast("bigint")

    hits = {lang: _marker_hits(words) for lang, words in _LANG_MARKERS.items()}
    # argmax over a fixed tiny set of columns, expressed as a when-chain:
    # deterministic, codegen-friendly, no UDF. Iterating in reverse-sorted
    # order with >= means the lexicographically smallest language wins ties.
    best_lang = F.lit("und")
    best_hits = F.lit(0).cast("bigint")
    for lang in sorted(_LANG_MARKERS, reverse=True):
        h = hits[lang]
        cond = (h >= best_hits) & (h > 0)
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(cond, h).otherwise(best_hits)
    return docs.select("doc_id", F.col("lang").alias("lang_true"),
                       best_lang.alias("lang_pred"))


def vocab_top_tokens(spark: SparkSession, sf_dir: str,
                     k: int = 100) -> DataFrame:
    """Corpus-level vocabulary: the ``k`` most frequent whitespace tokens
    with occurrence counts and ranks (count desc, token asc — fully
    deterministic). The counting stage of tokenizer training (BPE/WordPiece
    vocabularies start from exactly this corpus-frequency table).

    Scale: explode + one map-side-combined hash agg — the shuffle carries
    one (token, partial_count) row per distinct token per partition, not
    the exploded occurrences; the global top-k over the aggregated vocab
    compiles to TakeOrderedAndProject (no single-partition sort of the
    full vocabulary)."""
    docs = load(spark, sf_dir, "documents")
    counts = (docs.select(F.explode(tokens_col()).alias("token"))
                  .groupBy("token")
                  .agg(F.count(F.lit(1)).alias("n_occurrences")))
    top = (counts.orderBy(F.col("n_occurrences").desc(),
                          F.col("token").asc())
                 .limit(k))
    return top.select(
        "token", "n_occurrences",
        F.row_number().over(
            Window.orderBy(F.col("n_occurrences").desc(),
                           F.col("token").asc())).alias("rank"))


FP_BASE = 31
FP_MOD = 1 << 40  # keeps acc*31 + codepoint < 2^45, no BIGINT overflow


def fingerprint_col(text_col: str = "text") -> F.Column:
    """Polynomial rolling hash (base 31, mod 2^40) over the document's
    codepoints — pure JVM expressions (split + aggregate + ascii), fully
    codegen'd, no Python in the hot path. Matches the DuckDB list_reduce
    oracle bit-for-bit."""
    chars = F.filter(F.split(F.col(text_col), ""), lambda c: c != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: F.pmod(acc * FP_BASE + F.ascii(c), F.lit(FP_MOD)),
    )


def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint per document (rolling hash), hash-checked against
    the DuckDB oracle. A narrow per-row map: no shuffle, linear scale-out."""
    docs = spread(load(spark, sf_dir, "documents"))
    return docs.select("doc_id", fingerprint_col("text").alias("fingerprint"))


# --- repetition signals (Gopher-style quality filters) -----------------

def _gram_hashes(toks, n: int) -> F.Column:
    """Sliding word n-gram identity hashes as array<bigint>; empty when
    the doc has < n tokens. Construction: hash every token ONCE, then
    chain neighbor hashes with zip_with over shifted slices —
    h2[i] = xxhash64(h[i], h[i+1]), h3[i] = xxhash64(h2[i], h[i+2]).
    Measured 17x faster than the naive transform(sequence, ...,
    element_at) form (0.7s vs 11.4s for 2+3-grams over 50k docs): the
    indexed form pays an interpreted, ANSI-bounds-checked element_at per
    member token per gram, while zip_with walks the arrays positionally.
    A hash-chain collision could only perturb one doc's max count and is
    negligible at 2^-64."""
    n_tok = F.size(toks)
    h = F.transform(toks, lambda x: F.xxhash64(x))
    grams = h
    for k in range(2, n + 1):
        width = F.greatest(n_tok - (k - 1), F.lit(0))
        grams = F.zip_with(F.slice(grams, 1, width),
                           F.slice(h, k, width),
                           lambda a, b: F.xxhash64(a, b))
    return grams


def _max_run(arr: F.Column) -> F.Column:
    """Max multiplicity of any element: sort, then fold the longest run of
    equal neighbors. ROW-LOCAL — the whole top-gram statistic needs no
    explode and no shuffle (the r2-style explode -> groupBy(doc, gram) ->
    max pipeline shuffled two gram-rows per token per doc; this is a
    narrow map, embarrassingly parallel at any corpus size). O(len log
    len) per row, all JVM expressions."""
    zero = F.lit(0).cast("bigint")
    init = F.struct(F.lit(None).cast("bigint").alias("prev"),
                    zero.alias("run"), zero.alias("best"))
    def step(acc, x):
        run = (F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1).cast("bigint")))
        return F.struct(x.alias("prev"), run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))
    return F.aggregate(F.array_sort(arr), init, step, lambda a: a["best"])


def _top_gram_frac(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, top_frac) for docs with >= n tokens: frequency share of
    the most common word n-gram = max n-gram multiplicity / (n_tokens -
    n + 1). Kept as a standalone helper for the hand-computed tests; the
    registered queries inline the same expressions."""
    toks = tokens_col()
    n_tok = F.size(toks)
    frac = (_max_run(_gram_hashes(toks, n)).cast("double")
            / (n_tok - (n - 1)).cast("double"))
    return (docs.where(F.size(tokens_col()) >= n)
                .select("doc_id", frac.alias("top_frac")))


def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition statistics, the Gopher-family quality
    filters (Rae et al. 2021, appendix A — public heuristics) restated
    for a corpus without line structure:

      dup_token_frac   1 - distinct/total whitespace tokens
      top_2gram_frac   frequency share of the most common word bigram
      top_3gram_frac   ... trigram

    Everything is computed in ONE row-local projection (array_sort +
    longest-equal-run fold per gram size) — no explode, no join, no
    shuffle; the scan parallelism is the only scale knob (hence the
    spread() floor below: a single-file gate corpus serializes the
    whole fold onto one core otherwise). Ratios are single divisions of
    exact integer counts, so the DuckDB oracle is bit-identical.
    Zero/short docs yield 0.0 by guard."""
    docs = spread(load(spark, sf_dir, "documents"))
    toks = tokens_col()
    n_tok = F.size(toks).cast("bigint")
    n_dis = F.size(F.array_distinct(toks)).cast("bigint")

    def top_frac(n):
        return F.when(
            n_tok < n, F.lit(0.0)).otherwise(
            _max_run(_gram_hashes(toks, n)).cast("double")
            / (n_tok - (n - 1)).cast("double"))

    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.when(n_tok == 0, F.lit(0.0))
         .otherwise((n_tok - n_dis).cast("double") / n_tok.cast("double"))
         .alias("dup_token_frac"),
        top_frac(2).alias("top_2gram_frac"),
        top_frac(3).alias("top_3gram_frac"))


def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) corpus report card: document count, exact
    character/token totals, average and lower-median document length —
    the first artifact a curation run produces (what is in this corpus,
    per slice?).

    The median is the LOWER median (row_number == (n+1) div 2 over
    (n_chars, doc_id) order) rather than an interpolated percentile:
    integer in, integer out, restated identically in the oracle — exact
    cross-engine, no quantile-interpolation formula drift. avg_chars is
    the single division of two exact integers.

    Scale: one hash aggregation on (source, lang) plus one window over
    the same partitioning — the sort is per-group, and group count is
    bounded by sources x languages, so the join back is broadcast-sized.
    """
    docs = load(spark, sf_dir, "documents")
    # NULL text counts as an empty document — keeps every downstream
    # integer non-null, so the median pick and the streaming histogram
    # twin (streaming/partial_agg.py) agree on nullable corpora too
    t = F.coalesce(F.col("text"), F.lit(""))
    base = docs.select("source", "lang", "doc_id",
                       F.length(t).cast("bigint").alias("nc"),
                       F.size(F.filter(F.split(t, r"\s+"),
                                       lambda x: x != ""))
                        .cast("bigint").alias("nt"))
    aggs = base.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nc").alias("total_chars"),
        F.min("nc").alias("min_chars"),
        F.max("nc").alias("max_chars"),
        F.sum("nt").alias("total_tokens"))
    w = Window.partitionBy("source", "lang").orderBy("nc", "doc_id")
    cnt_w = Window.partitionBy("source", "lang")
    med = (base
           .withColumn("rn", F.row_number().over(w))
           .withColumn("cnt", F.count(F.lit(1)).over(cnt_w))
           .where(F.col("rn") == F.floor((F.col("cnt") + F.lit(1)) / F.lit(2)))
           .select("source", "lang", F.col("nc").alias("median_chars")))
    return (aggs.join(med, ["source", "lang"])
            .select("source", "lang", "n_docs", "total_chars",
                    (F.col("total_chars").cast("double")
                     / F.col("n_docs").cast("double")).alias("avg_chars"),
                    "min_chars", "max_chars", "median_chars",
                    "total_tokens"))


def doc_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM corpus-fit score per document, in exact rational form:

      commonness = (sum over token occurrences of corpus_count(token))
                   / (n_tokens * total_occurrences)

    — the per-token mean unigram probability. High = the doc is built
    from the corpus's common vocabulary; low = rare/garbled content.
    This is the monotone rational core of the perplexity-style LM
    filters data pipelines run (CCNet/Gopher use trained LMs — a library
    call; the unigram form keeps the signal AND the cross-engine
    bit-exact gate: the numerator is an INTEGER aggregate, the score one
    division, where a log-space perplexity would hinge on libm ln
    agreement — see retrieval.py's module note).

    Scale: token counts are one map-side-combined agg; the per-doc sum
    re-joins occurrences to counts on the token key (vocab-sized build
    side, AQE-broadcast when small) and aggregates per doc — never more
    than one row per occurrence in flight, no driver state. Token-less
    docs emit 0.0 via left join + coalesce (null-free gate)."""
    return doc_commonness_df(load(spark, sf_dir, "documents"))


def doc_commonness_df(docs: DataFrame) -> DataFrame:
    """Frame form of :func:`doc_commonness` — the commonness statistics
    are computed over exactly the rows of ``docs`` (so a pipeline stage
    scores a partially-cleaned corpus against ITSELF, not the raw
    table)."""
    from .retrieval import lower_tokens_col

    occ = docs.select("doc_id",
                      F.explode(lower_tokens_col()).alias("token"))
    counts = occ.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = occ.agg(F.count(F.lit(1)).alias("total"))
    per_doc = (occ.join(counts, "token")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_tokens"),
                    F.sum("cnt").alias("sum_cnt")))
    scored = (per_doc.crossJoin(F.broadcast(total))
              .select("doc_id", "n_tokens",
                      (F.col("sum_cnt").cast("double")
                       / (F.col("n_tokens") * F.col("total")).cast("double"))
                      .alias("commonness")))
    return (docs.select("doc_id").join(scored, "doc_id", "left")
            .select("doc_id",
                    F.coalesce(F.col("n_tokens"),
                               F.lit(0).cast("bigint")).alias("n_tokens"),
                    F.coalesce(F.col("commonness"),
                               F.lit(0.0)).alias("commonness")))


def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the heuristic language id against the labeled
    lang column: (lang_true, lang_pred, n_docs, is_correct) — the
    evaluation report that decides whether the cheap classifier is good
    enough to gate ingestion per language. One hash aggregation over the
    per-doc predictions; the matrix is at most |langs|^2 rows."""
    return (lang_id(spark, sf_dir)
            .groupBy("lang_true", "lang_pred")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .withColumn("is_correct",
                        F.col("lang_true") == F.col("lang_pred")))


def quality_decile_filter(spark: SparkSession, sf_dir: str,
                          drop_num: int = 1,
                          drop_den: int = 10) -> DataFrame:
    """Corpus-RELATIVE quality gate: drop the lowest-commonness tail of
    the corpus (default: bottom decile) instead of a fixed threshold —
    the 'drop the worst X% by model score' pattern curation recipes use
    when absolute score scales drift between corpus snapshots.

    Semantics are value-based and exact: threshold = the smallest
    commonness value v whose cumulative doc count reaches
    ceil(n * drop_num / drop_den); kept = commonness > v. Ties at the
    threshold value all drop together (deterministic, no doc-level
    arbitrariness); the realized drop fraction can slightly exceed the
    target when ties straddle it. All counts integer; the target is
    integer ceil-division; the comparison is on exact doubles.

    Scale: the cumulation runs over the VALUE HISTOGRAM (one row per
    distinct score), not per document — a single-partition window over
    that histogram, which for discrete-structured scores (ratios of
    small integers) is far smaller than the corpus; a continuous-score
    variant would swap in the GK quantile sketch (operators/olap.py) at
    the cost of exactness."""
    return quality_decile_flags_df(load(spark, sf_dir, "documents"),
                                   drop_num, drop_den)


def quality_decile_flags_df(docs: DataFrame, drop_num: int = 1,
                            drop_den: int = 10) -> DataFrame:
    """Frame form of :func:`quality_decile_filter`: (doc_id, commonness,
    threshold, kept) with the commonness distribution and the decile
    threshold computed over exactly the rows of ``docs``.

    ``scored`` is persisted: three consumers (corpus count, value
    histogram, final flag projection) would each re-run the
    occurrence-join scoring pass. Ownership rides the result frame
    (cache.py contract)."""
    from ..cache import owned

    scored = doc_commonness_df(docs).persist()
    n = scored.agg(F.count(F.lit(1)).alias("n"))
    hist = scored.groupBy("commonness").agg(F.count(F.lit(1)).alias("c"))
    w = (Window.orderBy("commonness")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    target = F.floor((F.col("n") * drop_num + (drop_den - 1)) / drop_den)
    thresh = (hist.withColumn("cum", F.sum("c").over(w))
              .crossJoin(F.broadcast(n))
              .where(F.col("cum") >= target)
              .agg(F.min("commonness").alias("threshold")))
    out = (scored.crossJoin(F.broadcast(thresh))
           .select("doc_id", "commonness", "threshold",
                   (F.col("commonness") > F.col("threshold"))
                   .alias("kept")))
    return owned(out, scored)


def quality_filter(spark: SparkSession, sf_dir: str,
                   min_tokens: int = 15,
                   max_mean_word_len: float = 5.9,
                   max_top_2gram_frac: float = 0.08) -> DataFrame:
    """C4/Gopher-style document filter verdicts: each rule as an explicit
    boolean flag plus the composite ``kept`` — the shape a curation
    pipeline audits (why was this doc dropped?) rather than a bare
    filter. Thresholds are corpus-tuned so the gate exercises both
    branches of every flag. One row-local projection, no shuffle."""
    docs = spread(load(spark, sf_dir, "documents"))
    toks = tokens_col()
    n_tok = F.size(toks).cast("bigint")
    n_chars = F.length(F.col("text")).cast("bigint")
    mean_wl = F.when(n_tok == 0, F.lit(0.0)).otherwise(
        n_chars.cast("double") / n_tok.cast("double"))
    top2 = F.when(n_tok < 2, F.lit(0.0)).otherwise(
        _max_run(_gram_hashes(toks, 2)).cast("double")
        / (n_tok - 1).cast("double"))
    flags = docs.select(
        "doc_id",
        (n_tok < min_tokens).alias("flag_too_short"),
        (mean_wl > max_mean_word_len).alias("flag_long_words"),
        (top2 > max_top_2gram_frac).alias("flag_repetitive"))
    return flags.select(
        "doc_id", "flag_too_short", "flag_long_words", "flag_repetitive",
        (~(F.col("flag_too_short") | F.col("flag_long_words")
           | F.col("flag_repetitive"))).alias("kept"))


def vocab_drift_df(old: DataFrame, new: DataFrame,
                   top_n: int = 100) -> DataFrame:
    """Token-distribution drift between two corpus snapshots: the
    ``top_n`` tokens whose corpus counts moved the most (risers AND
    fallers), the monitoring report a training pipeline publishes when a
    corpus refresh lands — a sudden vocabulary shift is the cheapest
    tripwire for scraping regressions or contamination floods. Ordering
    is fully deterministic: (|delta| DESC, token ASC).

    Counts are exact integers; no rates or logs, so the gate is
    bit-exact. Scale: two map-side-combined token aggregations, one
    full-outer join on the token key (vocabulary-sized, not
    corpus-sized), and a TakeOrderedAndProject top-n — never a global
    sort of the vocabulary."""
    from .retrieval import lower_tokens_col

    def counts(df: DataFrame, name: str) -> DataFrame:
        return (df.select(F.explode(lower_tokens_col()).alias("token"))
                  .groupBy("token")
                  .agg(F.count(F.lit(1)).alias(name)))
    co, cn = counts(old, "cnt_old"), counts(new, "cnt_new")
    merged = (co.join(cn, "token", "full_outer")
              .select("token",
                      F.coalesce("cnt_old", F.lit(0).cast("bigint"))
                       .alias("cnt_old"),
                      F.coalesce("cnt_new", F.lit(0).cast("bigint"))
                       .alias("cnt_new")))
    merged = merged.withColumn("delta",
                               F.col("cnt_new") - F.col("cnt_old"))
    return (merged.orderBy(F.abs(F.col("delta")).desc(),
                           F.col("token").asc())
                  .limit(top_n))


def vocab_drift(spark: SparkSession, sf_dir: str,
                top_n: int = 100) -> DataFrame:
    """Driver-gate fixture: drift between the documents table and the
    SAME deterministic mutation the corpus_diff gate uses — shared
    definition in curation.mutated_snapshot, so the claim is
    structural, not a comment."""
    from .curation import mutated_snapshot

    docs = load(spark, sf_dir, "documents")
    return vocab_drift_df(docs, mutated_snapshot(docs), top_n)


def bigrams_col(text_col: str = "text") -> F.Column:
    """Adjacent whitespace-token bigrams as 'tok1 tok2' strings — pure
    JVM array expressions (zip_with over two shifted slices), no UDF.
    Empty array for docs with fewer than two tokens.

    NOT transform(sequence, element_at...): element_at pays an
    interpreted ANSI bounds check per element, measured ~10-17x slower
    on this corpus — the zip_with spelling is what dropped
    ngram_lm_score/select_token_budget from ~7-9 s to ~1-2 s at
    sf0.1."""
    toks = tokens_col(text_col)
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.zip_with(F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1),
                   lambda a, b: F.concat(a, F.lit(" "), b))
    ).otherwise(F.array().cast("array<string>"))


def ngram_lm_score_df(docs: DataFrame, min_count: int = 2) -> DataFrame:
    """Corpus-familiarity LM score — the shuffle-cheap cousin of the
    CCNet/KenLM perplexity filter: train bigram counts over the corpus
    itself, then score each document by the fraction of its bigram
    occurrences whose corpus frequency is at least ``min_count``.
    Low-familiarity documents are the gibberish/boilerplate-outlier
    tail a perplexity filter would cut. Output per doc:
    (doc_id, n_bigrams, n_familiar, familiarity) — the two counts are
    exact bigints and familiarity is ONE IEEE division, so the result
    hash-matches the SQL oracle bit-for-bit.

    Scale shape: explode collapses to per-(doc, bigram) occurrence
    counts FIRST (map-side-combined agg); the corpus frequency of each
    bigram then rides ONE window over the bigram key (r16; guide §2.4)
    — the previous separate count aggregate + join re-planned the
    explode+groupBy subtree a second time (two corpus-sized bigram
    explodes per evaluation, visible as two Generate branches in the
    r15 plan). cnt = sum(occ) over (partition by bigram) is the same
    exact integer; all stages stay linear in corpus token count, no
    driver state, no UDF, no broadcast of an unbounded vocabulary."""
    from pyspark.sql import Window

    docbg = (docs.select("doc_id", F.explode(bigrams_col()).alias("bigram"))
                 .groupBy("doc_id", "bigram")
                 .agg(F.count(F.lit(1)).alias("occ")))
    cnt = F.sum("occ").over(Window.partitionBy("bigram"))
    agg = (docbg.withColumn("cnt", cnt)
                .groupBy("doc_id")
                .agg(F.sum("occ").cast("bigint").alias("n_bigrams"),
                     F.sum(F.when(F.col("cnt") >= min_count,
                                  F.col("occ")).otherwise(F.lit(0)))
                      .cast("bigint").alias("n_familiar")))
    return (docs.select("doc_id").join(agg, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_bigrams", F.lit(0).cast("bigint"))
                 .alias("n_bigrams"),
                F.coalesce("n_familiar", F.lit(0).cast("bigint"))
                 .alias("n_familiar"))
            .withColumn(
                "familiarity",
                F.when(F.col("n_bigrams") == 0, F.lit(0.0))
                 .otherwise(F.col("n_familiar").cast("double")
                            / F.col("n_bigrams").cast("double"))))


def ngram_lm_score(spark: SparkSession, sf_dir: str,
                   min_count: int = 2) -> DataFrame:
    """Driver-gate fixture: bigram-familiarity scores over the
    documents table (full hash oracle — integer counts plus one exact
    division)."""
    return ngram_lm_score_df(load(spark, sf_dir, "documents"), min_count)


def bpe_encode_vocab_df(docs: DataFrame, n_merges: int = 8) -> DataFrame:
    """The INFERENCE half of BPE: apply the ``n_merges`` merges
    ``bpe_train_df`` learns to the full corpus word table (ALL tokens,
    including the single-character ones training skips — they encode as
    themselves) and report the resulting symbol vocabulary:
    (symbol, n_occurrences) where n_occurrences is the corpus-weighted
    count of each post-merge symbol. This is the table a tokenizer
    build would persist: train -> encode -> vocabulary.

    Scale: training already leaves the length>=2 word table fully
    encoded (the trainer's per-round merge application IS the encode),
    so this reuses that table directly instead of re-applying the merge
    chain — single-character tokens, which training drops because they
    can never pair, are unioned back as self-encoding one-symbol rows.
    No re-fold, no nested plan (r12's version chained 8 un-checkpointed
    folds and was the slowest bench entry); the only corpus-sized work
    is the one word-count scan training does anyway, then one
    map-side-combined groupBy over the symbol key space. The gate is a
    FULL HASH: the DuckDB oracle replays the merges as wrapped-symbol
    string replaces (oracles._bpe_encode_oracle), LEFT-JOIN-coalesced
    so a vanished merge round is the identity."""
    _, words, wc = _bpe_train_core(docs, n_merges)
    singles = (wc.where(F.length("tok") == 1)
               .select(F.array(F.col("tok")).alias("syms"), "cnt"))
    enc = words.select("syms", "cnt").unionByName(singles)
    return (enc.select(F.explode("syms").alias("symbol"), "cnt")
            .groupBy("symbol")
            .agg(F.sum("cnt").alias("n_occurrences")))


def bpe_encode_vocab(spark: SparkSession, sf_dir: str,
                     n_merges: int = 8) -> DataFrame:
    """Driver-gate fixture (full hash; ORACLES['bpe_encode_vocab']
    replays the pinned 8 merges): post-BPE symbol vocabulary of the
    documents table."""
    if n_merges != 8:
        raise ValueError(
            f"bpe_encode_vocab oracle pins n_merges=8; got {n_merges} — "
            f"call bpe_encode_vocab_df directly for other settings")
    return bpe_encode_vocab_df(load(spark, sf_dir, "documents"), n_merges)


def bpe_merge_candidates(spark: SparkSession, sf_dir: str,
                         top_n: int = 50) -> DataFrame:
    """The counting step of one BPE merge round (tokenizer training):
    corpus-wide frequencies of adjacent CHARACTER pairs inside
    whitespace tokens, ranked (count desc, pair asc) — the top row is
    exactly the first merge BPE would perform. Output: (pair,
    n_occurrences, rank 1..top_n), the vocab_top_tokens contract one
    level down.

    Scale: per-token 2-gram expansion is a narrow in-scan generator
    (sequence + substr, no UDF); the only shuffle carries one (pair,
    partial_count) row per distinct pair per partition (map-side
    combine over a <=|alphabet|^2 key space), and the global cut is
    TakeOrderedAndProject. A full BPE trainer iterates this count with
    a merged-vocabulary re-tokenization per round; the per-round count
    is the distributed-heavy part and is what this operator provides."""
    docs = load(spark, sf_dir, "documents")
    toks = (docs.select(F.explode(tokens_col()).alias("tok"))
                .where(F.length("tok") >= 2))
    pairs = toks.select(
        F.explode(
            F.transform(F.sequence(F.lit(1), F.length("tok") - 1),
                        lambda i: F.col("tok").substr(i, F.lit(2))))
        .alias("pair"))
    counts = (pairs.groupBy("pair")
              .agg(F.count(F.lit(1)).alias("n_occurrences")))
    top = (counts.orderBy(F.col("n_occurrences").desc(),
                          F.col("pair").asc())
           .limit(top_n))
    return top.select(
        "pair", "n_occurrences",
        F.row_number().over(
            Window.orderBy(F.col("n_occurrences").desc(),
                           F.col("pair").asc())).alias("rank"))


# --- iterative BPE training ---------------------------------------------

def _char_syms(tok: F.Column) -> F.Column:
    """Token -> array of single-character symbol strings (sequence +
    substr; split-on-empty-regex keeps a trailing '' under Spark's
    limit=-1 semantics)."""
    return F.transform(F.sequence(F.lit(1), F.length(tok)),
                       lambda i: tok.substr(i, F.lit(1)))


def _apply_merge(syms: F.Column, a: str, b: str) -> F.Column:
    """Replace every adjacent (a, b) symbol pair with a+b, greedy
    left-to-right non-overlapping (classic BPE apply): a JVM fold that
    compares the accumulator's LAST symbol to ``a`` — after a merge the
    last symbol is a+b != a, so 'aaa' under merge (a,a) correctly yields
    ['aa','a']. No UDF; the size guard keeps ANSI element_at off empty
    arrays (CaseWhen branches evaluate conditionally)."""
    la, lb, merged = F.lit(a), F.lit(b), F.lit(a + b)
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == la) & (s == lb),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1),
                     F.array(merged))
        ).otherwise(F.concat(acc, F.array(s))))


def _word_counts(docs: DataFrame) -> DataFrame:
    """Distinct whitespace-token table (tok, cnt) — the ONE corpus-sized
    scan every BPE operation shares — localCheckpointed so training,
    vocabulary encode and document encode all reuse it.

    Data contract (ADVICE r12, oracles.py): the DuckDB oracles replay
    merges over a WRAPPED symbol encoding ('abc' -> '|a||b||c|'), which
    is only faithful while no token contains '|'. The check runs on the
    vocabulary-bounded table (not corpus rows) and fails loudly with the
    offending token so a future corpus change is diagnosable instead of
    surfacing as a confusing hash mismatch."""
    # no parallelism floor here (r15, measured): the whitespace-token
    # explode + map-side agg is cheap per row and the groupBy shuffles
    # only (tok, cnt) aggregate rows, so pre-shuffling full text costs
    # more than the narrow scan saves (~+0.7s per tokenizer train at
    # sf0.1; the heavy-kernel paths that DO want spread() keep it)
    wc = (docs.select(F.explode(tokens_col()).alias("tok"))
          .groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
          .localCheckpoint())
    bad = wc.where(F.col("tok").contains("|")).limit(1).collect()
    if bad:
        raise ValueError(
            f"BPE data contract violated: token {bad[0]['tok']!r} "
            f"contains '|', the symbol delimiter of the wrapped-symbol "
            f"DuckDB oracle (oracles._bpe_chain_parts) — the hash gate "
            f"would desynchronize on this corpus")
    return wc


# Driver-local trainer ceiling (optimization r15, guide §1.2/§8): the
# merge loop's input is the DISTINCT-token table — vocabulary-bounded,
# NOT corpus-bounded — and real BPE trainers (HF tokenizers, Sennrich's
# subword-nmt) run the loop locally over exactly this aggregate for the
# same reason. Up to this many distinct tokens the loop runs driver-side
# (zero Spark jobs per merge round instead of one job whose input is a
# handful of aggregate rows); above it the distributed round loop below
# takes over unchanged. 1M rows ~ tens of MB on a 16g driver.
_BPE_LOCAL_VOCAB_MAX = int(
    os.environ.get("SPARK_GRAFT_BPE_LOCAL_VOCAB", "1000000"))


def _train_merges_local(rows: list, n_merges: int
                        ) -> tuple[list, list]:
    """The BPE merge loop over collected (tok, cnt) rows — semantics
    bit-identical to the distributed round loop in ``_bpe_train_core``:
    per round, adjacent-pair counts weighted by cnt over the length>=2
    word table (EVERY adjacent occurrence counts, so 'aaa' contributes
    (a,a) twice), argmax tie-broken (count desc, left asc, right asc)
    — Python code-point string order == Spark UTF8String binary order
    (UTF-8 preserves code-point order) — and the greedy left-to-right
    non-overlapping apply of ``_apply_merge`` (the accumulator's last
    symbol is compared to ``left``; after a merge it is left+right !=
    left, so 'aaa' under (a,a) yields ['aa','a']). Returns (merge rows,
    [(tok, syms, cnt), ...] post-merge word rows in input order)."""
    words = [(tok, list(tok), int(cnt)) for tok, cnt in rows
             if len(tok) >= 2]
    merges: list[tuple] = []
    for rnd in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for _tok, syms, cnt in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + cnt
        if not counts:
            break
        a, b = min(counts, key=lambda p: (-counts[p], p[0], p[1]))
        merges.append((rnd, a, b, a + b, int(counts[(a, b)])))
        for w in words:
            syms = w[1]
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            syms[:] = out
    return merges, words


def _bpe_train_core(docs: DataFrame, n_merges: int
                    ) -> tuple[list, DataFrame, DataFrame]:
    """Shared trainer core: returns (merge rows, the post-merge word
    table with the ORIGINAL token kept — i.e. the trained tok->symbols
    encode dictionary — and the raw word-count table). Training iterates
    the vocabulary-bounded word table, never corpus rows.

    Fast path (r15): ONE corpus-sized Spark job aggregates the distinct
    word counts; when the vocabulary fits under ``_BPE_LOCAL_VOCAB_MAX``
    (decided and fetched by the same bounded ``limit(max+1).collect()``
    — no separate count job) the merge loop runs driver-side
    (_train_merges_local, bit-identical semantics; equality vs the
    distributed loop is pytest-pinned) and the dictionary/word tables
    return as local relations — the n_merges-round Spark loop was pure
    job-scheduling + codegen latency over a handful of aggregate rows
    (measured ~0.3-0.5 s PER ROUND at sf0.1 over a 31-row word table).
    Above the ceiling, the distributed loop below runs unchanged: each
    round is one map-side-combined pair count, a LIMIT-1 argmax collect
    (the only driver traffic), and a row-local JVM merge fold,
    localCheckpointed so the plan never nests folds."""
    spark = docs.sparkSession
    # persisted before the probe (r16, ADVICE r15): on vocabulary
    # overflow the distributed path below re-reads this same aggregate
    # as its word table — the persist lets the checkpoint pick up the
    # agg partitions the probe already computed instead of re-running
    # the corpus-sized explode+groupBy from scratch. The local path
    # (one bounded limit+collect job, unchanged) just unpersists.
    wc_frame = (docs.select(F.explode(tokens_col()).alias("tok"))
                .groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
                .persist())
    head = wc_frame.limit(_BPE_LOCAL_VOCAB_MAX + 1).collect()
    if len(head) <= _BPE_LOCAL_VOCAB_MAX:
        wc_frame.unpersist()
        for r in head:
            if "|" in r["tok"]:
                raise ValueError(
                    f"BPE data contract violated: token {r['tok']!r} "
                    f"contains '|', the symbol delimiter of the "
                    f"wrapped-symbol DuckDB oracle "
                    f"(oracles._bpe_chain_parts) — the hash gate would "
                    f"desynchronize on this corpus")
        pairs = [(r["tok"], int(r["cnt"])) for r in head]
        merges, word_rows = _train_merges_local(pairs, n_merges)
        # plain createDataFrame (LocalRelation): Catalyst evaluates local
        # relations driver-side and broadcasts them without a job; a
        # coalesce(1) wrapper was measured to DESTROY that (8-13 s evals
        # — it turns the local relation into a real RDD scan and blocks
        # the local-relation optimizations)
        wc = spark.createDataFrame(pairs, schema="tok string, cnt bigint")
        words = spark.createDataFrame(
            word_rows,
            schema="tok string, syms array<string>, cnt bigint")
        return merges, words, wc
    # distributed path: materialize the SAME aggregate the probe ran
    # (localCheckpoint reads the persisted partitions) instead of
    # re-deriving it via _word_counts; same eager checkpoint + '|'
    # data-contract check as _word_counts
    wc = wc_frame.localCheckpoint()
    wc_frame.unpersist()
    bad = wc.where(F.col("tok").contains("|")).limit(1).collect()
    if bad:
        raise ValueError(
            f"BPE data contract violated: token {bad[0]['tok']!r} "
            f"contains '|', the symbol delimiter of the wrapped-symbol "
            f"DuckDB oracle (oracles._bpe_chain_parts) — the hash gate "
            f"would desynchronize on this corpus")
    # single-char tokens never form a pair and merges only grow
    # symbols, so they can be dropped once, permanently
    words = (wc.where(F.length("tok") >= 2)
             .select("tok", _char_syms(F.col("tok")).alias("syms"), "cnt"))
    merges: list[tuple] = []
    for rnd in range(1, n_merges + 1):
        # NOTE each round's localCheckpoint below is LAZY (r15): the
        # next round's TakeOrderedAndProject count computes every
        # partition of the checkpointed word table in ITS OWN job and
        # the local-checkpoint machinery caches them as a side effect,
        # so the per-round eager barrier job (pure scheduling, one per
        # merge) disappears — 2 jobs/round -> 1 — while the lineage
        # still truncates to one fold per round. Lazy is safe here
        # precisely because the count is a full-child TakeOrdered (no
        # incremental executeTake waves); _word_counts keeps its EAGER
        # checkpoint for the symmetric reason — its consumer is a
        # limit(1) whose executeTake ramp would serialize the corpus
        # scan into sequential partition waves.
        pair_rows = (
            words.where(F.size("syms") >= 2)
            .select("cnt",
                    F.explode(F.transform(
                        F.sequence(F.lit(1), F.size("syms") - 1),
                        lambda i: F.struct(
                            F.element_at(F.col("syms"), i).alias("a"),
                            F.element_at(F.col("syms"), i + 1).alias("b"))))
                    .alias("p"))
            .groupBy("p.a", "p.b").agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1).collect())
        if not pair_rows:
            break
        a, b, n = pair_rows[0]["a"], pair_rows[0]["b"], pair_rows[0]["n"]
        merges.append((rnd, a, b, a + b, int(n)))
        words = (words.select("tok",
                              _apply_merge(F.col("syms"), a, b)
                              .alias("syms"), "cnt")
                 .localCheckpoint(eager=False))
    return merges, words, wc


def bpe_train_df(docs: DataFrame, n_merges: int = 8) -> DataFrame:
    """Train ``n_merges`` BPE merge rounds over the corpus and return the
    learned merge table: (round 1.., left, right, merged,
    n_occurrences) — the argmax pair of each round and its corpus-wide
    weighted count at the time of the merge. Ties break (count desc,
    left asc, right asc), so the whole table is deterministic.

    This is the full iterative trainer whose single counting round is
    ``bpe_merge_candidates``; like every real BPE implementation
    (Sennrich ACL'16; HF tokenizers) it iterates over the DISTINCT
    word -> count table, not the corpus:

      - the corpus-sized work (token explode + count) happens ONCE;
        every round after that runs on the vocabulary-bounded word
        table (|distinct tokens| rows, never corpus rows),
      - each round is one map (adjacent-pair expansion of the symbol
        arrays), one map-side-combined agg over the pair key space, and
        a LIMIT-1 argmax collect — the only driver traffic is that one
        row per round,
      - the merge application is a row-local JVM fold (no UDF), and
        ``localCheckpoint`` truncates the per-round lineage so the plan
        does not nest n_merges folds deep.

    The registry gate is a FULL HASH since r12: with n_merges pinned the
    iterated argmax unrolls into chained DuckDB CTEs, and the merge fold
    restates as a wrapped-symbol string replace (oracles._bpe_train_oracle)
    — '|a||b|' -> '|ab|' resolves left-to-right exactly like this fold.
    Exactness is additionally pinned by a pytest running a pure-Python
    reference BPE with identical tie-break and apply semantics."""
    merges, _, _ = _bpe_train_core(docs, n_merges)
    return docs.sparkSession.createDataFrame(
        merges, schema="round int, left string, right string, "
                       "merged string, n_occurrences bigint")


def bpe_train(spark: SparkSession, sf_dir: str,
              n_merges: int = 8) -> DataFrame:
    """Driver-gate fixture (full hash since r12; the DuckDB oracle
    unrolls the 8 pinned merge rounds): BPE training over the documents
    table. n_merges != 8 would gate against a mismatched oracle, so the
    registry path pin-guards it."""
    if n_merges != 8:
        raise ValueError(
            f"bpe_train oracle pins n_merges=8; got {n_merges} — call "
            f"bpe_train_df directly for other settings")
    return bpe_train_df(load(spark, sf_dir, "documents"), n_merges)


def bpe_encode_docs_df(docs: DataFrame, n_merges: int = 8) -> DataFrame:
    """Encode every DOCUMENT under the learned BPE merges: ordered
    (doc_id, pos, symbol, token_id) rows — the per-document token-id
    sequence a training run consumes, closing the train -> encode ->
    pack loop (pack_token_sequences_df takes exactly this row layout).
    token_id is the 0-based rank of the symbol in the post-merge
    vocabulary ordered lexicographically — a pure deterministic function
    of the corpus, so the gate is a full hash.

    Scale (dictionary-encode, never per-occurrence folds): each DISTINCT
    token is encoded ONCE by training's own merge application (the
    trained word table IS the tok -> symbols dictionary); documents then
    broadcast-join that vocabulary-bounded dictionary on the token.
    Single-char tokens self-encode via coalesce. The id table is a
    row_number over the post-merge symbol vocabulary (<= |alphabet| +
    n_merges rows — every merge mints exactly one new symbol), so its
    single-partition window is contract-bounded. The only per-corpus
    shuffle is the per-doc position window (partitionBy doc_id — one
    hash exchange, per-doc sorts)."""
    _, words, wc = _bpe_train_core(docs, n_merges)
    word_map = words.select("tok", "syms")
    ids = _bpe_vocab_ids(words, wc)
    toks = spread(docs).select(
        "doc_id", F.posexplode(tokens_col()).alias("tpos", "tok"))
    enc = (toks.join(F.broadcast(word_map), "tok", "left")
           .select("doc_id", "tpos",
                   F.coalesce("syms", F.array(F.col("tok"))).alias("syms")))
    # position window over TOKEN rows, not symbol rows (r15): pos =
    # (symbols emitted by earlier tokens of the doc) + spos — the same
    # dense (tpos, spos)-ordered numbering row_number produced over the
    # exploded rows, with the exchange+sort paying per token instead of
    # per symbol and the explode running after the window
    w = Window.partitionBy("doc_id").orderBy("tpos")
    off = F.coalesce(
        F.sum(F.size("syms")).over(w.rowsBetween(Window.unboundedPreceding,
                                                 -1)),
        F.lit(0))
    sym_rows = (enc.withColumn("off", off)
                .select("doc_id", "off",
                        F.posexplode("syms").alias("spos", "symbol")))
    return (sym_rows
            .join(F.broadcast(ids), "symbol")
            .select("doc_id",
                    (F.col("off") + F.col("spos")).cast("int").alias("pos"),
                    "symbol", "token_id"))


def bpe_encode_docs(spark: SparkSession, sf_dir: str,
                    n_merges: int = 8) -> DataFrame:
    """Driver-gate fixture (full hash; ORACLES['bpe_encode_docs'] replays
    the 8 pinned merges per distinct token and re-derives the same
    lexicographic id table): per-document BPE token-id sequences."""
    if n_merges != 8:
        raise ValueError(
            f"bpe_encode_docs oracle pins n_merges=8; got {n_merges} — "
            f"call bpe_encode_docs_df directly for other settings")
    return bpe_encode_docs_df(load(spark, sf_dir, "documents"), n_merges)


def _bpe_vocab_ids(words: DataFrame, wc: DataFrame) -> DataFrame:
    """The deterministic (symbol, token_id) table of a trained
    tokenizer: post-merge symbols of the length>=2 word table plus the
    self-encoding single-char tokens, ids by lexicographic rank. The
    table is <= |alphabet| + n_merges rows (every merge mints exactly
    one symbol), so its single-partition window is contract-bounded."""
    vocab = (words.select(F.explode("syms").alias("symbol"))
             .unionByName(wc.where(F.length("tok") == 1)
                          .select(F.col("tok").alias("symbol")))
             .distinct())
    return vocab.withColumn(
        "token_id",
        (F.row_number().over(Window.orderBy("symbol")) - 1).cast("bigint"))


def bpe_persist_tokenizer(docs: DataFrame, path: str,
                          n_merges: int = 8) -> None:
    """Train a BPE tokenizer on ``docs`` and persist it as the reusable
    artifact a production pipeline hands around: ``<path>/merges``
    (round, left, right, merged, n_occurrences) and ``<path>/vocab``
    (symbol, token_id). Train once on a fixed corpus snapshot, then
    every future crawl increment encodes against the STORED tokenizer
    without re-reading the training corpus — the dsir_persist_stats
    pattern applied to tokenization."""
    merges, words, wc = _bpe_train_core(docs, n_merges)
    spark = docs.sparkSession
    (spark.createDataFrame(
        merges, schema="round int, left string, right string, "
                       "merged string, n_occurrences bigint")
     .write.mode("overwrite").parquet(os.path.join(path, "merges")))
    (_bpe_vocab_ids(words, wc)
     .write.mode("overwrite").parquet(os.path.join(path, "vocab")))


def bpe_encode_with_tokenizer(new_docs: DataFrame, merges_df: DataFrame,
                              vocab_df: DataFrame) -> DataFrame:
    """Encode a NEW document increment under a STORED tokenizer:
    apply the stored merges (contract-bounded driver state, read
    ordered by round) to the increment's own distinct-token table —
    new tokens were never in the training word table, so the dictionary
    is rebuilt increment-side, still vocabulary-bounded — then map
    symbols through the stored id table. Symbols outside the trained
    vocabulary (characters unseen in training) get token_id -1, the
    UNK sentinel a trainer's embedding lookup reserves.

    Same output contract as bpe_encode_docs: (doc_id, pos, symbol,
    token_id), positions dense per doc in (token, symbol) order."""
    merges = [(r["left"], r["right"])
              for r in merges_df.orderBy("round").collect()]
    return bpe_encode_with_merges(new_docs, merges, vocab_df)


def bpe_encode_with_merges(new_docs: DataFrame,
                           merges: list[tuple[str, str]],
                           vocab_df: DataFrame) -> DataFrame:
    """``bpe_encode_with_tokenizer`` with the merge list already on the
    driver — the shape a long-lived consumer (the streaming encoder)
    wants: collect the contract-bounded merges ONCE at startup, not
    once per micro-batch."""
    words = _encode_dictionary(new_docs, merges)
    toks = spread(new_docs).select(
        "doc_id", F.posexplode(tokens_col()).alias("tpos", "tok"))
    enc = (toks.join(F.broadcast(words), "tok", "left")
           .select("doc_id", "tpos",
                   F.coalesce("syms", F.array(F.col("tok"))).alias("syms")))
    # token-row position window + post-window explode, exactly as
    # bpe_encode_docs_df (r15)
    w = Window.partitionBy("doc_id").orderBy("tpos")
    off = F.coalesce(
        F.sum(F.size("syms")).over(w.rowsBetween(Window.unboundedPreceding,
                                                 -1)),
        F.lit(0))
    sym_rows = (enc.withColumn("off", off)
                .select("doc_id", "off",
                        F.posexplode("syms").alias("spos", "symbol")))
    return (sym_rows
            .join(F.broadcast(vocab_df), "symbol", "left")
            .select("doc_id",
                    (F.col("off") + F.col("spos")).cast("int").alias("pos"),
                    "symbol",
                    F.coalesce("token_id", F.lit(-1).cast("bigint"))
                    .alias("token_id")))


def _encode_dictionary(new_docs: DataFrame,
                       merges: list[tuple[str, str]]) -> DataFrame:
    """The increment's tok -> syms encode dictionary under a stored
    merge list: char-split every distinct length>=2 token and apply the
    merges as ONE chained row-local expression (r15: the fold used to
    localCheckpoint after every round — 8 barrier jobs per encode whose
    scheduling dominated a per-trigger streaming encode; the merge list
    is contract-bounded, so the nested expression stays shallow and the
    whole dictionary is one job). Coalesced: the table is
    vocabulary-bounded, a session-wide shuffle-partition fan-out would
    pay scheduling for near-empty tasks."""
    wc = _word_counts(new_docs)
    syms = _char_syms(F.col("tok"))
    for a, b in merges:
        syms = _apply_merge(syms, a, b)
    return (wc.where(F.length("tok") >= 2)
            .coalesce(8)
            .select("tok", syms.alias("syms")))


# (sf_dir, n_merges) -> (session, workdir): the incremental-tokenizer
# gates (bpe_encode_increment, bpe_oov_rate, and the streaming encode
# demo's batch oracle) all train THE SAME even-half tokenizer over the
# same corpus — and the operators' own contract is train-once/
# encode-many ("train on a fixed corpus snapshot, then every future
# crawl increment encodes against the STORED tokenizer"). Build the
# store once per process and let every later gate read the parquet
# artifact back, exactly the stored-IVF ensure_stored_index pattern
# (ivf.py) and the shared containment shingle inventory (dedup.py,
# VERDICT r14 ask #3). The cache holds a PATH to a parquet artifact,
# never result rows; a fresh process (every driver bench/verify
# invocation) always retrains from the parquet inputs.
_TOKENIZER_STORE_CACHE: dict[tuple, tuple] = {}


def bpe_encode_increment(spark: SparkSession, sf_dir: str,
                         n_merges: int = 8) -> DataFrame:
    """Driver-gate fixture (full hash): the incremental tokenizer loop
    end to end — train on the EVEN-doc_id half of the corpus, persist
    the tokenizer to a parquet store and read it back, then encode the
    ODD half as the arriving increment (stored merges + stored vocab
    ids, OOV -> -1). The oracle re-derives the even-half training chain
    and the odd-half layout directly. Scratch tokenizer dirs live until
    process exit (the stored-IVF-index pattern) so the returned frame
    stays valid lazily."""
    inc, merges_df, vocab_df = _increment_tokenizer(spark, sf_dir,
                                                    n_merges,
                                                    "bpe_encode_increment")
    return bpe_encode_with_tokenizer(inc, merges_df, vocab_df)


def _increment_tokenizer(spark: SparkSession, sf_dir: str, n_merges: int,
                         caller: str):
    """Shared fixture core of the incremental-tokenizer gates: train on
    the EVEN-doc_id half, persist to a scratch parquet store, read the
    stored tokenizer back; returns (odd-half increment frame, stored
    merges frame, stored vocab frame)."""
    if n_merges != 8:
        raise ValueError(
            f"{caller} oracle pins n_merges=8; got "
            f"{n_merges} — use bpe_persist_tokenizer/"
            f"bpe_encode_with_tokenizer directly for other settings")
    docs = load(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") % 2 == 0)
    inc = docs.where(F.col("doc_id") % 2 == 1)
    key = (sf_dir, n_merges)
    hit = _TOKENIZER_STORE_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        workdir = hit[1]
    else:
        workdir = scratch_dir("bpe_tokenizer_")
        bpe_persist_tokenizer(base, workdir, n_merges)
        _TOKENIZER_STORE_CACHE[key] = (spark, workdir)
    merges_df = spark.read.parquet(os.path.join(workdir, "merges"))
    vocab_df = spark.read.parquet(os.path.join(workdir, "vocab"))
    return inc, merges_df, vocab_df


def bpe_oov_rate(spark: SparkSession, sf_dir: str,
                 n_merges: int = 8) -> DataFrame:
    """Driver-gate fixture (full hash): tokenizer-coverage QA for the
    incremental loop — per document ``source``, the fraction of the
    ODD-half increment's tokens that encode to the OOV sentinel (-1)
    under the EVEN-half-trained stored tokenizer. The number a crawl
    operator watches before accepting a new increment: a rising OOV
    rate means the snapshot tokenizer no longer covers the incoming
    distribution and needs retraining. Exact integer counts plus ONE
    guarded division; rides bpe_encode_increment's stored-tokenizer
    encode, then one map-side-combined groupBy over the source key
    space — aggregate-sized."""
    # r15: aggregate at DICTIONARY granularity instead of riding the full
    # positioned encode. The encode's per-symbol rows exist only to be
    # counted here — n_tokens(source) = sum over token occurrences of the
    # token's symbol count, n_oov(source) = sum of its out-of-vocab
    # symbol count — and both are per-DISTINCT-token facts: compute them
    # once on the vocabulary-bounded dictionary (symbols explode + stored
    # vocab join on ~|vocab| rows), broadcast-join them to the
    # increment's token occurrences, and sum per source. Kills the
    # corpus-wide symbol explode, the per-doc position window, and the
    # per-symbol vocab join; the counts — and therefore the divisions —
    # are value-identical (same oracle, hash-green).
    inc, merges_df, vocab_df = _increment_tokenizer(spark, sf_dir,
                                                    n_merges,
                                                    "bpe_oov_rate")
    merges = [(r["left"], r["right"])
              for r in merges_df.orderBy("round").collect()]
    words = _encode_dictionary(inc, merges)
    st = (words.select("tok", F.explode("syms").alias("symbol"))
          .join(F.broadcast(vocab_df), "symbol", "left")
          .groupBy("tok")
          .agg(F.count(F.lit(1)).alias("_ns"),
               F.sum(F.isnull(F.col("token_id")).cast("long"))
               .alias("_no")))
    # single-char tokens (absent from the length>=2 dictionary)
    # self-encode to one symbol; OOV iff the char is not in the stored
    # vocab
    char_ids = vocab_df.select(F.col("symbol").alias("tok"),
                               F.col("token_id").alias("_cid"))
    occ = (spread(inc).select("source",
                              F.explode(tokens_col()).alias("tok"))
           .join(F.broadcast(st), "tok", "left")
           .join(F.broadcast(char_ids), "tok", "left")
           .select("source",
                   F.coalesce("_ns", F.lit(1).cast("bigint")).alias("_ns"),
                   F.coalesce(
                       "_no",
                       F.when(F.col("_cid").isNull(), F.lit(1))
                       .otherwise(F.lit(0)).cast("long")).alias("_no")))
    t = F.sum("_ns").cast("bigint")
    o = F.sum("_no").cast("bigint")
    return (occ.groupBy("source")
            .agg(t.alias("n_tokens"), o.alias("n_oov"),
                 (o.cast("double") / t.cast("double")).alias("oov_rate"))
            )


def bpe_compression_stats_df(docs: DataFrame,
                             n_merges: int = 8) -> DataFrame:
    """Tokenizer-quality report for the learned BPE vocabulary: per
    document ``source``, how many symbols the corpus encodes into and
    the resulting characters-per-token ratio — the standard compression
    metric a tokenizer build is judged on (byte-pair encoding IS a
    compression scheme, Gage 1994; higher chars/token = fewer tokens
    for the same text = cheaper training/inference). Zero-token docs
    still count toward n_docs (left join + zero coalesce).

    Output (source, n_docs, n_tokens, n_chars, chars_per_token): all
    exact integer aggregates plus ONE guarded division, so the gate is
    a full hash. Scale: rides bpe_encode_docs' dictionary-encode; the
    report itself is one map-side-combined groupBy over the source key
    space."""
    # r15: aggregate at DICTIONARY granularity instead of riding the
    # positioned encode. Per token occurrence the report needs only the
    # token's symbol COUNT (from the trained word table — the encode's
    # own dictionary) and its char length (symbols partition the token,
    # so chars are conserved by every merge); single-char tokens
    # self-encode to one symbol. Kills the corpus symbol explode, the
    # position window, the vocab-id join and the per-doc reagg — the
    # summed counts, and therefore the division, are value-identical.
    _, words, _ = _bpe_train_core(docs, n_merges)
    st = words.select("tok", F.size("syms").cast("long").alias("_ns"))
    occ = (spread(docs).select("source",
                               F.explode(tokens_col()).alias("tok"))
           .join(F.broadcast(st), "tok", "left")
           .select("source",
                   F.coalesce("_ns", F.lit(1).cast("long")).alias("_ns"),
                   F.length("tok").cast("long").alias("_nc")))
    tok_agg = (occ.groupBy("source")
               .agg(F.sum("_ns").alias("_t"), F.sum("_nc").alias("_c")))
    docs_agg = (docs.groupBy("source")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs")))
    t = F.coalesce(F.col("_t"), F.lit(0)).cast("bigint")
    c = F.coalesce(F.col("_c"), F.lit(0)).cast("bigint")
    return (docs_agg.join(tok_agg, "source", "left")
            .select("source", "n_docs",
                    t.alias("n_tokens"),
                    c.alias("n_chars"),
                    F.when(t > 0, c.cast("double") / t.cast("double"))
                    .otherwise(F.lit(0.0)).alias("chars_per_token")))


def bpe_compression_stats(spark: SparkSession, sf_dir: str,
                          n_merges: int = 8) -> DataFrame:
    """Driver-gate fixture (full hash): per-source BPE compression
    report over the documents table."""
    if n_merges != 8:
        raise ValueError(
            f"bpe_compression_stats oracle pins n_merges=8; got "
            f"{n_merges} — call bpe_compression_stats_df directly")
    return bpe_compression_stats_df(load(spark, sf_dir, "documents"),
                                    n_merges)
