"""foreachBatch sinks of the crawl-increment loop — every stage that
turns an arriving document or vector stream into maintained training
state without re-reading what already arrived: near-dup corpus
ingestion (StreamingCorpusDedup, StreamingSemanticDedup), exact-substring
scrub (StreamingSpanScrubber), DSIR selection (StreamingDsirSelector),
BPE encoding (StreamingBpeEncoder) and IVF index maintenance
(StreamingIvfIndexer), plus their driver-gate demo fixtures.

Sink contract (``ForeachBatchSink``, shared by all six). Structured
Streaming gives exactly-once output from a replayable source plus an
idempotent sink; foreachBatch itself is at-least-once, because a
recovered query re-runs its last uncommitted batch id. So every sink:

  1. writes micro-batch ``<id>`` into ``<store>/batch=<id>``
     subdirectories with mode('overwrite'): a replayed id replaces its
     own partial output instead of appending a duplicate, with no
     transaction across the sink's stores. Accumulated state read while
     processing batch ``<id>`` excludes ``batch=<id>``, so a retry never
     dedups against its own first attempt. (StreamingDsirSelector keeps
     versioned ``v<id>`` state committed through ``_latest.json`` and
     skips ids at or below the committed version instead.)
  2. guards the batch-id sequence: ``run`` records the checkpoint path
     in ``_checkpoint_marker.json`` before the first trigger and refuses
     a different checkpoint, a store that holds batches but no marker,
     and an unreadable marker. A fresh checkpoint restarts ids at 0,
     which would silently overwrite committed batches (or, for DSIR,
     drop every new batch as a replay). ``adopt_checkpoint=True`` claims
     such a store as an explicit operator decision.

All heavy work is DataFrame-distributed; the driver only coordinates.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import scratch_dir
from ..operators.dedup import (compute_signatures_df, dedup_against_sigs_df,
                               dedup_minhash_lsh_from_sigs)
from ..operators.graph import connected_components_df
from ..operators.pipeline import build_pipeline


class ForeachBatchSink:
    """The sink contract of the module docstring, written once. A
    subclass passes its marker directory and its ``batch=<id>`` store
    roots (``{label: path}``; the labels name the stores in guard
    errors) and implements ``process(batch_df, batch_id)``."""

    def __init__(self, spark: SparkSession, marker_dir: str,
                 stores: dict[str, str]):
        self.spark = spark
        self._marker_dir = marker_dir
        self._stores = stores

    def process(self, batch_df: DataFrame, batch_id: int) -> None:
        raise NotImplementedError

    def run(self, stream: DataFrame, checkpoint_dir: str,
            adopt_checkpoint: bool = False) -> None:
        """Drain ``stream`` through ``process`` (availableNow) under
        ``checkpoint_dir``, after the checkpoint-marker guard."""
        self._guard_checkpoint(checkpoint_dir, adopt=adopt_checkpoint)
        q = (stream.writeStream
             .foreachBatch(self.process)
             .outputMode("append")
             .option("checkpointLocation", checkpoint_dir)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()

    @staticmethod
    def _batch_dirs(root: str, exclude_batch: int | None = None) -> list[str]:
        if not os.path.isdir(root):
            return []
        return sorted(os.path.join(root, d) for d in os.listdir(root)
                      if d.startswith("batch=")
                      and d != f"batch={exclude_batch}")

    def _read_store(self, root: str,
                    exclude_batch: int | None = None) -> DataFrame | None:
        """Every ``batch=<id>`` subdirectory of ``root`` (minus
        ``exclude_batch``) as one frame, or None when there is none."""
        dirs = self._batch_dirs(root, exclude_batch)
        if not dirs:
            return None
        # partition discovery adds the batch column; drop it — it is a
        # write-idempotence mechanism, not data
        return self.spark.read.option("basePath", root).parquet(
            *dirs).drop("batch")

    def _has_state(self) -> bool:
        """Committed batches in ANY store root: the stores share one
        batch-id sequence, so a stale second store under a fresh first
        one is just as corrupting (e.g. ghost signatures would suppress
        new documents forever)."""
        return any(self._batch_dirs(root) for root in self._stores.values())



    def _delete_dir(self, path: str) -> None:
        """Recursive delete via the Hadoop FileSystem API — works for
        local paths, HDFS, and object stores alike (the same route
        graph.py's round rotation uses)."""
        sc = self.spark.sparkContext
        jp = sc._jvm.org.apache.hadoop.fs.Path(path)
        jp.getFileSystem(sc._jsc.hadoopConfiguration()).delete(jp, True)

    def _guard_checkpoint(self, checkpoint_dir: str,
                          adopt: bool = False) -> None:
        """Record ``checkpoint_dir`` in the marker, or refuse to run
        (module docstring, contract 2). A marker pointing elsewhere over
        EMPTY stores is harmless (nothing to clobber) and is rewritten.

        The marker lives on a LOCAL filesystem (plain open/os.replace —
        the store dirs themselves may be remote, but this guard's
        read-modify-write protocol assumes POSIX semantics; a fully
        remote deployment would keep the marker in its coordination
        store instead). Writes go through a temp file + os.replace so a
        crash mid-write can never leave truncated JSON; an unreadable
        marker fails fast with the same refuse-to-run guidance as a
        missing one, instead of an opaque decode error."""
        ckpt = os.path.abspath(checkpoint_dir)
        marker = os.path.join(self._marker_dir, "_checkpoint_marker.json")
        stores = " + ".join(f"{label} {root!r}"
                            for label, root in self._stores.items())
        has_state = self._has_state()
        if os.path.isfile(marker):
            try:
                with open(marker) as f:
                    recorded = json.load(f).get("checkpoint_dir")
            except (json.JSONDecodeError, OSError) as exc:
                if not adopt:
                    raise RuntimeError(
                        f"checkpoint marker {marker!r} exists but cannot "
                        f"be read ({exc}) — refusing to run a stream over "
                        f"{stores} (batch-id collisions would silently "
                        "overwrite data). Restore or delete the marker, "
                        "or pass adopt_checkpoint=True if this checkpoint "
                        "genuinely owns the store.") from exc
                recorded = None  # adopt: rewrite the marker below
            if recorded == ckpt:
                return
            if has_state and not adopt:
                raise RuntimeError(
                    f"{stores} was built by the stream checkpointed at "
                    f"{recorded!r}; running it with checkpoint {ckpt!r} "
                    "would restart batch ids at 0 and collide with the "
                    "committed batches. Resume with the original "
                    "checkpoint, point at a fresh store, or pass "
                    "adopt_checkpoint=True to claim the store "
                    "deliberately.")
        elif has_state and not adopt:
            raise RuntimeError(
                f"{stores} holds committed batches but no checkpoint "
                "marker — refusing to run a stream over it (batch-id "
                "collisions would silently overwrite data). Point at a "
                "fresh store, or pass adopt_checkpoint=True if this "
                "checkpoint genuinely owns the store (pre-marker "
                "deployments resuming their original checkpoint).")
        os.makedirs(self._marker_dir, exist_ok=True)
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"checkpoint_dir": ckpt}, f)
        os.replace(tmp, marker)


class StreamingCorpusDedup(ForeachBatchSink):
    """foreachBatch sink: maintain a near-dup-free corpus under a stream
    of (doc_id, text) documents. Exactly-once per document content: a
    near-dup arriving in the same batch as its original, in a later
    batch, or transitively through a chain is suppressed either by the
    within-batch clustering or by the cross-corpus check.

    Per micro-batch:
      1. signatures for the BATCH are computed once (shingle + minhash);
      2. within-batch dedup: LSH pairs over the batch signatures ->
         connected components -> keep each cluster's canonical (minimum
         doc_id) document;
      3. cross-corpus dedup: band-join the surviving batch signatures
         against the persisted SIGNATURE STORE (a parquet table of
         (doc_id, shingles, minhash) maintained beside the corpus) — the
         corpus text is never re-shingled;
      4. surviving documents append to the corpus store, their
         signatures append to the signature store.

    Per-trigger compute cost is therefore O(|batch| shingling + band-join
    fan-in), and the corpus side contributes a columnar signature SCAN,
    not recompute — signatures are a pure function of content, so the
    store is a cache that is never invalidated (the pytest pins that the
    corpus text column is read only by the terminal append, not by the
    dedup path)."""

    def __init__(self, spark: SparkSession, corpus_dir: str,
                 jaccard_threshold: float = 0.8, k: int = 9,
                 num_hashes: int = 32, bands: int = 8,
                 sig_dir: str | None = None,
                 clean_spec: list[dict] | None = None,
                 cc_checkpoint_dir: str | None = None):
        self.corpus_dir = corpus_dir
        self.sig_dir = sig_dir or corpus_dir.rstrip("/") + "_sigs"
        super().__init__(spark, corpus_dir, {"corpus": corpus_dir,
                                             "signature store": self.sig_dir})
        self.threshold = jaccard_threshold
        self.k = k
        self.num_hashes = num_hashes
        self.bands = bands
        self.batches = 0
        # optional declarative pre-clean (operators/pipeline.py stage
        # spec), validated at construction and applied to every batch
        # BEFORE dedup — normalization here also canonicalizes what the
        # shingles see, so case/spacing variants dedup exactly
        self._clean = (build_pipeline(clean_spec)
                       if clean_spec is not None else None)
        # durable lineage truncation for the per-batch CC rounds: under
        # executor loss mid-trigger, localCheckpoint state dies with the
        # executor (see connected_components_df docstring)
        self.cc_checkpoint_dir = cc_checkpoint_dir

    def _stored_sigs(self, exclude_batch: int) -> DataFrame | None:
        """Stored corpus signatures EXCLUDING the current batch's own
        subdirectory: on a foreachBatch retry the first attempt's
        partial writes for this batch_id may exist, and deduping the
        retried batch against its own prior attempt would suppress every
        document and overwrite the store with an empty survivor set."""
        return self._read_store(self.sig_dir, exclude_batch=exclude_batch)

    def process(self, batch_df: DataFrame, batch_id: int) -> None:
        self.batches += 1
        batch = batch_df.select("doc_id", "text")
        if self._clean is not None:
            batch = self._clean(batch).select("doc_id", "text")
        if batch.isEmpty():
            return
        # 1. batch signatures, computed ONCE for both dedup directions
        # and for the signature-store append
        sigs = compute_signatures_df(batch, self.num_hashes,
                                     self.k).persist()
        keep_ids = None
        # per-BATCH subdirectory: graph.py keeps only the final round's
        # files alive for the returned frame, and once this trigger's
        # terminal writes land even those are dead weight — without the
        # delete below a long-running stream accumulates one edge-set
        # snapshot per micro-batch
        cc_dir = (os.path.join(self.cc_checkpoint_dir, f"batch-{batch_id}")
                  if self.cc_checkpoint_dir is not None else None)
        try:
            # 2. within-batch: cluster near-dups, keep canonical docs
            pairs = dedup_minhash_lsh_from_sigs(
                sigs, self.num_hashes, self.bands, self.threshold)
            cc = connected_components_df(pairs, checkpoint_dir=cc_dir)
            non_canonical = (cc.where(F.col("node") != F.col("component"))
                               .select(F.col("node").alias("doc_id")))
            keep_ids = (sigs.select("doc_id")
                        .join(non_canonical, "doc_id", "left_anti"))
            # 3. cross-corpus: band-join surviving batch signatures
            # against the STORED corpus signatures (scan, no recompute)
            stored = self._stored_sigs(exclude_batch=batch_id)
            if stored is not None:
                surviving_sigs = sigs.join(keep_ids, "doc_id", "left_semi")
                dup_new = (dedup_against_sigs_df(
                               surviving_sigs, stored, self.num_hashes,
                               self.bands, self.threshold)
                           .select(F.col("new_id").alias("doc_id"))
                           .distinct())
                keep_ids = keep_ids.join(dup_new, "doc_id", "left_anti")
            # the survivor set feeds BOTH terminal writes — persist it so
            # the band join + verification run once per trigger, not twice
            keep_ids = keep_ids.persist()
            # 4. write surviving documents + signatures into
            # batch=<epoch id> subdirectories with OVERWRITE semantics:
            # a foreachBatch retry (crash between the two writes) re-runs
            # the same batch_id and replaces its own partial output
            # instead of appending a duplicate — the store stays
            # exactly-once per document without a transaction across the
            # two directories
            survivors = batch.join(keep_ids, "doc_id", "left_semi")
            survivors.write.mode("overwrite").parquet(
                os.path.join(self.corpus_dir, f"batch={batch_id}"))
            (sigs.join(keep_ids, "doc_id", "left_semi")
                 .write.mode("overwrite").parquet(
                     os.path.join(self.sig_dir, f"batch={batch_id}")))
        finally:
            sigs.unpersist()
            if keep_ids is not None:
                keep_ids.unpersist()
            # the terminal parquet writes (or the retry that will redo
            # them) are the last consumers of the CC result — reclaim the
            # batch's whole checkpoint subtree either way
            if cc_dir is not None:
                self._delete_dir(cc_dir)

    def corpus(self) -> DataFrame:
        out = self._read_store(self.corpus_dir)
        if out is None:
            raise FileNotFoundError(f"no corpus at {self.corpus_dir}")
        return out

    def compact(self) -> None:
        """Rewrite every ``batch=...`` subdirectory of BOTH stores into
        one consolidated directory per store. The per-batch layout is
        what the overwrite-per-batch_id idempotence needs DURING a run,
        but it grows one directory (plus file-listing and footer cost)
        per micro-batch forever; a long-lived store compacts between
        runs. The checkpoint guard's marker file is untouched, so the
        original checkpoint still owns the store and resumes cleanly.

        Replay-safety: the LATEST plain ``batch=<id>`` directory is
        never folded. It is the only batch a crashed run's checkpoint
        can replay, and the replay protections are name-based — the
        per-batch overwrite targets ``batch=<id>`` and ``_stored_sigs``
        excludes exactly that name — so folding it into a ``...c``
        directory would turn a replay into duplicate documents (sig
        write lost) or a silently-empty batch (sig write landed). With
        it left in place, compact() is safe to run even after a crashed
        run: the replayed trigger sees precisely the during-run layout.
        Batch ids under the owning checkpoint are monotone, so a
        compacted directory named after a past id can never collide
        with a future trigger's overwrite — and the id suffix 'c'
        keeps it out of the name-based protections entirely.
        Crash-safety of compact() itself: the consolidated directory is
        fully written and renamed into place BEFORE the source
        directories are deleted; a crash in the delete loop leaves
        duplicate rows visible, which re-running compact() (it folds
        the compacted dir in with the stragglers) repairs."""
        import shutil

        for root in (self.corpus_dir, self.sig_dir):
            if not os.path.isdir(root):
                continue
            subdirs = sorted(d for d in os.listdir(root)
                             if d.startswith("batch="))
            plain = [d for d in subdirs
                     if d.split("=", 1)[1].isdigit()]
            latest = (max(plain, key=lambda d: int(d.split("=", 1)[1]))
                      if plain else None)
            fold = [d for d in subdirs if d != latest]
            if len(fold) <= 1:
                continue
            max_id = max(int(d.split("=", 1)[1].rstrip("c"))
                         for d in fold
                         if d.split("=", 1)[1].rstrip("c").isdigit())
            df = self.spark.read.option("basePath", root).parquet(
                *[os.path.join(root, d) for d in fold]).drop("batch")
            tmp = os.path.join(root, "_compact_tmp")
            df.write.mode("overwrite").parquet(tmp)
            final = os.path.join(root, f"batch={max_id}c")
            if os.path.isdir(final):          # re-run after a crash
                shutil.rmtree(final)
            os.rename(tmp, final)
            for d in fold:
                if d != f"batch={max_id}c":
                    shutil.rmtree(os.path.join(root, d))


class StreamingBpeEncoder(ForeachBatchSink):
    """foreachBatch sink: tokenize arriving documents per-trigger
    against a PERSISTED BPE tokenizer (``bpe_persist_tokenizer``'s
    merges + vocab parquet store) and append the (doc_id, pos, symbol,
    token_id) rows to a token store — the VERDICT-r13 ask #6 loop:
    train once on a corpus snapshot, then every crawl increment is
    tokenized as it lands, never re-reading the training corpus.

    Per-trigger cost is the batch's OWN dictionary rebuild (merge
    replay over the batch's distinct tokens — vocabulary-bounded) plus
    two broadcast joins linear in the batch's token occurrences; the
    merge list is collected ONCE at construction (contract-bounded:
    one row per trained merge)."""

    def __init__(self, spark: SparkSession, tokenizer_dir: str,
                 out_dir: str):
        from ..operators.text import bpe_encode_with_merges  # noqa: F401

        super().__init__(spark, out_dir, {"token store": out_dir})
        self.out_dir = out_dir
        merges_df = spark.read.parquet(
            os.path.join(tokenizer_dir, "merges"))
        self._merges = [(r["left"], r["right"])
                        for r in merges_df.orderBy("round").collect()]
        self._vocab = spark.read.parquet(
            os.path.join(tokenizer_dir, "vocab"))

    def process(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.text import bpe_encode_with_merges

        batch = batch_df.select("doc_id", "text")
        if batch.isEmpty():
            return
        enc = bpe_encode_with_merges(batch, self._merges, self._vocab)
        enc.write.mode("overwrite").parquet(
            os.path.join(self.out_dir, f"batch={batch_id}"))

    def tokens(self) -> DataFrame:
        out = self._read_store(self.out_dir)
        if out is None:
            raise FileNotFoundError(f"no token batches at {self.out_dir}")
        return out.select("doc_id", "pos", "symbol", "token_id")


def bpe_encode_increment_stream(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Driver-gate DEMO fixture (full hash against the SAME oracle as
    batch ``bpe_encode_increment``): the incremental tokenizer loop in
    native streaming form. Train on the EVEN-doc_id half and persist
    the tokenizer; replay the ODD half as a 4-file parquet stream
    (maxFilesPerTrigger=1 -> 4 triggers); each trigger encodes its
    arriving documents against the STORED tokenizer via
    StreamingBpeEncoder. Documents are encoded independently, so the
    final token store must equal the one-shot batch encode exactly —
    bit-identical row set, whatever the file-to-trigger assignment.
    Scratch dirs live until process exit (the stored-IVF-index
    pattern) so the returned frame stays valid lazily."""
    from ..operators.text import bpe_persist_tokenizer
    from ..views import load

    workdir = scratch_dir("bpe_stream_")

    docs = load(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") % 2 == 0)
    inc = docs.select("doc_id", "text").where(F.col("doc_id") % 2 == 1)
    tok_dir = os.path.join(workdir, "tokenizer")
    bpe_persist_tokenizer(base, tok_dir, n_merges=8)

    src = os.path.join(workdir, "incoming")
    inc.repartition(4).write.parquet(src)
    stream = (spark.readStream.schema(inc.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    sink = StreamingBpeEncoder(spark, tok_dir,
                               os.path.join(workdir, "tokens"))
    sink.run(stream, os.path.join(workdir, "ckpt"))
    return sink.tokens()


class StreamingDsirSelector(ForeachBatchSink):
    """foreachBatch sink: maintain the running DSIR top-k over a stream
    of arriving documents, scored per trigger against PERSISTED bucket
    stats (``dsir_persist_stats``'s store) — the importance-resampling
    half of the crawl-increment loop (the tokenizer half is
    StreamingBpeEncoder).

    Top-k is merge-stable: top_k(all docs) = top_k(top_k(state) ∪
    batch), with the deterministic (_logw desc, doc_id asc) order, so
    per trigger the sink scores ONLY the batch (one fold per doc, no
    shuffle — the stats are <= n_buckets driver-state map literals),
    unions the k-row state, and rewrites the k-row state — per-trigger
    cost is O(|batch| + k) regardless of how many documents have
    arrived. State versions by batch id (``v<id>`` + _SUCCESS commit,
    marker-recorded), so a foreachBatch replay of a committed id is a
    no-op and a crash mid-write resumes from the last committed
    version."""

    def __init__(self, spark: SparkSession, stats_dir: str, out_dir: str,
                 n_buckets: int | None = None, k: int = 50):
        from ..operators.dsir import N_BUCKETS

        super().__init__(spark, out_dir, {"selection state": out_dir})
        self.out_dir = out_dir
        self.n_buckets = n_buckets or N_BUCKETS
        self.k = k
        self._stats_rows = spark.read.parquet(stats_dir).collect()
        self.version = -1
        os.makedirs(out_dir, exist_ok=True)
        marker = os.path.join(out_dir, "_latest.json")
        if os.path.isfile(marker):
            with open(marker) as fh:
                v = json.load(fh)["version"]
            if os.path.exists(os.path.join(out_dir, f"v{v}", "_SUCCESS")):
                self.version = v

    def _state(self) -> DataFrame | None:
        if self.version < 0:
            return None
        return self.spark.read.parquet(
            os.path.join(self.out_dir, f"v{self.version}"))

    def process(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.dsir import _score_against

        if batch_id <= self.version:
            return  # replayed, already committed
        batch = batch_df.select("doc_id", "lang", "text")
        if batch.isEmpty():
            return
        scored = _score_against(batch, self._stats_rows, self.n_buckets)
        state = self._state()
        if state is not None:
            scored = scored.unionByName(state)
        top = (scored.orderBy(F.col("_logw").desc(),
                              F.col("doc_id").asc())
               .limit(self.k))
        vdir = os.path.join(self.out_dir, f"v{batch_id}")
        top.write.mode("overwrite").parquet(vdir)
        marker = os.path.join(self.out_dir, "_latest.json")
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"version": batch_id}, fh)
        os.replace(tmp, marker)
        old = self.version
        self.version = batch_id
        if old >= 0:
            import shutil
            shutil.rmtree(os.path.join(self.out_dir, f"v{old}"),
                          ignore_errors=True)

    def _has_state(self) -> bool:
        """Committed state is the last ``v<id>`` version, not batch
        dirs. The ``batch_id <= self.version`` replay check is only
        sound under ONE checkpoint's monotone batch-id sequence: under a
        fresh checkpoint every new batch would be silently dropped as a
        'replay'."""
        return self.version >= 0

    def selected(self) -> DataFrame:
        """The running top-k in dsir_select_increment's emit contract:
        (doc_id, lang, rank, n_grams, sum_target_count, sum_raw_count),
        rank re-derived over the k state rows only."""
        from pyspark.sql import Window

        state = self._state()
        if state is None:
            raise FileNotFoundError(f"no selection state at {self.out_dir}")
        w = Window.orderBy(F.col("_logw").desc(), F.col("doc_id").asc())
        return (state.withColumn("rank", F.row_number().over(w))
                .select("doc_id", "lang", "rank", "n_grams",
                        "sum_target_count", "sum_raw_count"))


def dsir_select_increment_stream(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Driver-gate DEMO fixture (full hash against the SAME oracle as
    batch ``dsir_select_increment``): train bucket stats on the
    EVEN-doc_id half and persist them; replay the ODD half as a 4-file
    stream; each trigger scores its arriving documents against the
    stored stats and folds them into the maintained top-50. Top-k
    merge-stability makes the final state equal the one-shot batch
    selection exactly, whatever the file-to-trigger assignment."""
    from ..operators.dsir import (TARGET_LANG, dsir_bucket_stats_df,
                                  dsir_persist_stats)
    from ..views import load

    workdir = scratch_dir("dsir_stream_")

    docs = load(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") % 2 == 0)
    inc = docs.select("doc_id", "lang", "text").where(
        F.col("doc_id") % 2 == 1)
    stats_dir = os.path.join(workdir, "stats")
    dsir_persist_stats(dsir_bucket_stats_df(base, TARGET_LANG), stats_dir)

    src = os.path.join(workdir, "incoming")
    inc.repartition(4).write.parquet(src)
    stream = (spark.readStream.schema(inc.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    sink = StreamingDsirSelector(spark, stats_dir,
                                 os.path.join(workdir, "topk"), k=50)
    sink.run(stream, os.path.join(workdir, "ckpt"))
    return sink.selected()


class StreamingSpanScrubber(ForeachBatchSink):
    """foreachBatch sink: exact-substring dedup WITH REMOVAL (the Lee
    ACL'22 cut, ``repeated_span_scrub_df``) maintained over a stream of
    arriving documents — the span-hash inventory is the accumulated
    state, so each trigger scrubs ONLY its own batch against everything
    seen so far and the training corpus never gets re-read (the
    crawl-increment loop's scrub stage, beside StreamingCorpusDedup /
    StreamingBpeEncoder / StreamingDsirSelector).

    Semantics: first-occurrence-canonical in ARRIVAL order — a span
    occurrence is cut iff its hash was seen in an earlier trigger, or
    a smaller (doc_id, pos) occurrence exists in the same batch.
    When documents arrive in doc_id order this equals the batch
    operator exactly (canonical = global min(doc_id, pos)), which the
    parity pytest and the driver gate pin bit-identically against the
    batch oracle.

    Per-trigger cost: the batch's own O(chars) rolling-hash inventory
    (span_hash_rows — substrings never shuffle), one map-side-combined
    canonical agg on the batch, one join of the batch inventory against
    the accumulated distinct-hash store (8-byte long keys), and the
    row-local interval-union rebuild. The store grows with corpus
    distinct spans — inherent to exact-substring dedup (the batch form
    needs the same inventory as one suffix-array-sized shuffle); at
    100 TB the store would be hash-range bucketed (the BucketedAggStore
    discipline) so a trigger reads only the buckets its batch hashes
    touch."""

    def __init__(self, spark: SparkSession, out_dir: str,
                 span_len: int = 30):
        self.out_dir = out_dir
        self.span_len = span_len
        self.docs_dir = os.path.join(out_dir, "docs")
        self.spans_dir = os.path.join(out_dir, "spans")
        super().__init__(spark, out_dir, {"scrub store": self.docs_dir,
                                          "span store": self.spans_dir})

    def process(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.dedup import scrub_cut_positions, span_hash_rows

        batch = batch_df.select(
            "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text"))
        if batch.isEmpty():
            return
        inv = span_hash_rows(batch, self.span_len).persist()
        try:
            # seen EXCLUDING this batch id: a foreachBatch retry must
            # not scrub the batch against its own partial first attempt
            seen = self._read_store(self.spans_dir,
                                    exclude_batch=batch_id)
            canon = (inv.groupBy("h")
                     .agg(F.min(F.struct("doc_id", "pos")).alias("c"),
                          F.count(F.lit(1)).alias("n")))
            flagged = inv.join(canon, "h")
            if seen is not None:
                flagged = flagged.join(
                    seen.select("h").withColumn("_seen", F.lit(True)),
                    "h", "left")
            else:
                flagged = flagged.withColumn(
                    "_seen", F.lit(None).cast("boolean"))
            cuts = (flagged.where(
                        F.coalesce(F.col("_seen"), F.lit(False))
                        | ((F.col("n") >= 2)
                           & ((F.col("doc_id") != F.col("c.doc_id"))
                              | (F.col("pos") != F.col("c.pos")))))
                    .select("doc_id", "pos"))
            scrubbed = scrub_cut_positions(batch, cuts, self.span_len)
            scrubbed.write.mode("overwrite").parquet(
                os.path.join(self.docs_dir, f"batch={batch_id}"))
            new_h = inv.select("h").distinct()
            if seen is not None:
                new_h = new_h.join(seen.select("h"), "h", "left_anti")
            new_h.write.mode("overwrite").parquet(
                os.path.join(self.spans_dir, f"batch={batch_id}"))
        finally:
            inv.unpersist()

    def scrubbed(self) -> DataFrame:
        """Union of every trigger's scrubbed rows — the batch
        operator's (doc_id, clean_text, n_cut_spans, n_cut_chars)."""
        out = self._read_store(self.docs_dir)
        if out is None:
            raise FileNotFoundError(f"no scrubbed batches at "
                                    f"{self.docs_dir}")
        return out.select("doc_id", "clean_text", "n_cut_spans",
                          "n_cut_chars")


def repeated_span_scrub_stream(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Driver-gate DEMO fixture (full hash against the SAME oracle as
    batch ``repeated_span_scrub``): the exact-substring scrub as a
    maintained stream. The planted scrub corpus is replayed as a
    4-file parquet stream in doc_id ORDER (files get strictly
    increasing mtimes, which is the file source's oldest-first pickup
    order; both plant shapes carry ids above every base doc, so they
    arrive after their sources) — under ordered arrival the
    first-occurrence-canonical streaming semantics equal the batch
    operator's global min(doc_id, pos) selection bit-for-bit, whatever
    the within-file layout. Scratch dirs live until process exit so
    the returned frame stays valid lazily."""
    from pyspark.sql import Window

    from ..operators.dedup import _scrub_gate_docs

    workdir = scratch_dir("scrub_stream_")

    corpus = _scrub_gate_docs(spark, sf_dir)
    parts = corpus.withColumn(
        "_f", F.ntile(4).over(Window.orderBy("doc_id")))
    src = os.path.join(workdir, "incoming")
    os.makedirs(src)
    for i in range(1, 5):
        stage = os.path.join(workdir, f"stage{i}")
        (parts.where(F.col("_f") == i).drop("_f")
              .coalesce(1).write.parquet(stage))
        pf = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(src, f"{i:04d}.parquet")
        os.replace(os.path.join(stage, pf), dst)
        # deterministic strictly-increasing mtimes: the file source
        # picks oldest-first, so trigger order == doc_id order
        os.utime(dst, (1_600_000_000 + i, 1_600_000_000 + i))

    stream = (spark.readStream.schema(corpus.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    sink = StreamingSpanScrubber(spark, os.path.join(workdir, "scrub"))
    sink.run(stream, os.path.join(workdir, "ckpt"))
    return sink.scrubbed()


class StreamingIvfIndexer(ForeachBatchSink):
    """foreachBatch sink: incremental IVF index maintenance under a
    stream of arriving (vec_id, embedding) rows — the streaming form of
    ``append_to_ivf_index`` (the FAISS ``add`` path), completing the
    crawl-increment loop's retrieval stage beside StreamingCorpusDedup /
    StreamingBpeEncoder / StreamingDsirSelector / StreamingSpanScrubber:
    as deduped, selected, tokenized documents land, their embeddings
    become searchable without an index rebuild.

    State model: the index's committed ``centroids.json`` is the FIXED
    model (never retrained on append, exactly like FAISS ``add``); the
    accumulated state is the delta posting store
    ``<index_dir>/stream_postings/batch=<id>/cell=<c>/`` — each trigger
    assigns ONLY its own batch under the committed centroids (one
    Arrow-batched matmul over the batch) and overwrites its own
    batch=<id> subtree (an append into the base generation would double
    the batch's vectors on retry).
    Probes read base generation + delta with the SAME ``cell`` partition
    pruning on both sides (``_query_ivf_index_rows(extra_postings=...)``)
    — cell is a partition directory level in the delta store too, so an
    nprobe-cell probe opens only probed cells of each batch.

    Stream == batch: posting content is a pure per-vector function of
    (embedding, centroids), so the final index equals
    ``append_to_ivf_index`` of the whole delta in one shot — whatever
    the batch boundaries — and probe results over the two are
    bit-identical (pytest-pinned). At 100 TB the delta store's many
    small batch=<id> files are the standard compaction debt —
    ``compact_delta`` folds them into a fresh committed generation
    through the atomic centroids.json swap (and a periodic
    ``build_ivf_index`` rebuild retrains when distribution drift
    demands).

    Ownership contract: the stream owns the index's delta — no
    concurrent ``build_ivf_index`` rebuild of the same index_dir while
    the stream runs (append_to_ivf_index's rebuild-race retry exists for
    the shared-batch-job world; here the checkpoint marker pins the
    directory to one stream)."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.index_dir = index_dir
        self.stream_dir = os.path.join(index_dir, "stream_postings")
        super().__init__(spark, self.stream_dir,
                         {"IVF delta store": self.stream_dir})

    def _meta(self) -> dict:
        with open(os.path.join(self.index_dir, "centroids.json")) as f:
            return json.load(f)

    def process(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.ivf import _write_postings

        batch = batch_df.select("vec_id", "embedding")
        if batch.isEmpty():
            return
        meta = self._meta()
        _write_postings(batch, meta["centroids"], self.stream_dir,
                        meta["m_assign"], bool(meta.get("sq8")),
                        mode="overwrite", subdir=f"batch={batch_id}")

    def delta_postings(self) -> DataFrame | None:
        """Accumulated delta posting rows in the base generation's raw
        layout (batch column dropped), or None before the first batch."""
        return self._read_store(self.stream_dir)

    def query(self, id_vecs: list, k: int = 10,
              nprobe: int = 8) -> DataFrame:
        """Top-k probe over base generation + accumulated delta —
        query_ivf_index's contract (query_id, neighbor_id, rank)."""
        from ..operators.ivf import _query_ivf_index_rows

        return _query_ivf_index_rows(
            self.spark, self.index_dir, id_vecs, k=k, nprobe=nprobe,
            extra_postings=self.delta_postings())

    def compact_delta(self) -> bool:
        """Fold the accumulated delta into a FRESH base generation —
        the maintenance op that pays down the delta store's
        small-files debt without retraining: write base+delta posting
        rows into a newly claimed ``postings_g<N>``, commit it via the
        atomic ``centroids.json`` replace (build_ivf_index's single
        commit point — readers see old or new pair, never a mix), then
        clear the delta batches. Returns False (no-op) on an empty
        delta. The stream may keep running afterwards: batch ids only
        march forward, so post-compact triggers land in fresh
        ``batch=<id>`` dirs.

        Crash window (generation committed, delta not yet cleared):
        the delta's vectors exist in BOTH the new generation and the
        delta store, but a probe stays CORRECT — a vector doubled into
        the same cell yields exact-duplicate (query, neighbor, cosine)
        rows, which the probe's window lag-dedup collapses exactly like
        multi-assign duplicates (pytest-pinned). Re-running
        compact_delta after the crash converges the layout.

        Maintenance-window contract (prune_ivf_index_generations'):
        callers must know no reader still holds an unevaluated frame
        over the delta store — the batch dirs are deleted here; frames
        over the OLD base generation stay valid (superseded generations
        are left on disk for in-flight readers)."""
        import shutil

        from ..operators.ivf import _claim_generation, _postings_path

        delta = self.delta_postings()
        if delta is None:
            return False
        meta = self._meta()
        base = self.spark.read.parquet(
            _postings_path(self.index_dir, meta))
        gen = _claim_generation(self.index_dir)
        (base.unionByName(delta.select(*base.columns))
         .write.partitionBy("cell").mode("overwrite")
         .parquet(os.path.join(self.index_dir, gen)))
        meta["postings_dir"] = gen
        tmp = os.path.join(self.index_dir, "centroids.json.tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, os.path.join(self.index_dir, "centroids.json"))
        for d in self._batch_dirs(self.stream_dir):
            shutil.rmtree(d, ignore_errors=True)
        return True


def ann_index_increment_stream(spark: SparkSession, sf_dir: str,
                               n_queries: int = 5, k: int = 10,
                               nprobe: int = 12) -> DataFrame:
    """Driver-gate DEMO fixture (rows-only; stream==batch probe
    equality + retry/guard pytests in tests/test_streaming.py — kmeans
    centroids are float training state with no SQL restatement, the
    ann_recall_ivf family's standing rationale): the stored IVF index
    maintained as a stream. Build the base index over the EVEN-vec_id
    half of ``embeddings``; replay the ODD half as a 4-file parquet
    stream (maxFilesPerTrigger=1 -> 4 triggers of assign+append under
    the committed centroids); answer the standard stored-index query
    set over base+delta. Posting content is a pure per-vector function
    of (embedding, centroids), so the final index — and every probe
    over it — equals the one-shot ``append_to_ivf_index`` of the whole
    odd half, whatever the file-to-trigger assignment. Scratch dirs
    live until process exit so the returned frame stays valid lazily."""
    from ..operators.ivf import _stored_query_rows, build_ivf_index
    from ..views import load

    workdir = scratch_dir("ivf_stream_")

    emb = load(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 2 == 0)
    inc = emb.select("vec_id", "embedding").where(F.col("vec_id") % 2 == 1)
    index_dir = os.path.join(workdir, "index")
    build_ivf_index(base, index_dir, n_centroids=32, m_assign=2)

    src = os.path.join(workdir, "incoming")
    inc.repartition(4).write.parquet(src)
    stream = (spark.readStream.schema(inc.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    indexer = StreamingIvfIndexer(spark, index_dir)
    indexer.run(stream, os.path.join(workdir, "ckpt"))
    return indexer.query(_stored_query_rows(spark, sf_dir, n_queries),
                         k=k, nprobe=nprobe)


class StreamingSemanticDedup(ForeachBatchSink):
    """foreachBatch sink: maintain a SEMANTICALLY near-dup-free corpus
    under a stream of (vec_id, embedding) rows — the embedding-space
    counterpart of ``StreamingCorpusDedup`` (whose minhash signatures
    catch lexical near-dups; a paraphrase with disjoint shingles but
    cosine-close embedding sails through it). Together with the
    scrub/DSIR/BPE/IVF sinks this closes the crawl-increment loop's
    semantic-dedup stage: arriving vectors are admitted only when no
    cosine-near twin already survived.

    Semantics: GREEDY ONLINE dedup, the production crawl contract (and
    the streaming-corpus-dedup family's): an arriving vector is dropped
    iff it is cosine >= threshold to a SURVIVOR — either the canonical
    (min vec_id) member of its within-batch near-dup component, or any
    vector already in the accumulated corpus. A vector near-dup ONLY to
    a previously-DROPPED vector survives (the dropped one suppresses
    nothing — it is not in the corpus), which differs from one-shot
    whole-corpus clustering exactly on cross-batch transitive chains;
    the pytest pins this divergence explicitly rather than papering
    over it.

    State: two batch=<id> stores: ``corpus_dir`` holds surviving
    (vec_id, embedding); ``bucket_dir`` holds their exploded sign-LSH band keys
    (seed-deterministic ``band_buckets``), so the cross-corpus check is
    a band equi-join against a SCAN — the accumulated corpus is never
    re-hashed. Candidates are verified with the exact zip_with/
    aggregate fold cosine (bit-reproducible), so the LSH banding only
    bounds the candidate set, never decides a verdict.

    100 TB: per trigger the work is one Arrow matmul over the BATCH
    (the corpus side is a pruned scan of bucket rows joined on band
    key), candidate verification on band-collision pairs only, and two
    batch-sized writes. The bucket store is the only per-trigger-scanned
    state and it is 4 longs per corpus vector."""

    def __init__(self, spark: SparkSession, corpus_dir: str,
                 threshold: float = 0.95, n_planes: int = 64,
                 band_bits: int = 16, seed: int = 42,
                 bucket_dir: str | None = None,
                 cc_checkpoint_dir: str | None = None):
        self.corpus_dir = corpus_dir
        self.bucket_dir = bucket_dir or corpus_dir.rstrip("/") + "_buckets"
        super().__init__(spark, corpus_dir,
                         {"semantic-dedup corpus": corpus_dir,
                          "bucket store": self.bucket_dir})
        self.threshold = threshold
        self.n_planes = n_planes
        self.band_bits = band_bits
        self.seed = seed
        self.cc_checkpoint_dir = cc_checkpoint_dir

    def process(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.graph import connected_components_df
        from ..operators.similarity import (_as_double, _dot, _norm,
                                            band_buckets)

        batch = batch_df.select("vec_id", "embedding")
        if batch.isEmpty():
            return
        # ONE banding pass serves the within-batch self-join, the
        # cross-corpus probe, and the bucket-store append
        bucketed = (band_buckets(batch, n_planes=self.n_planes,
                                 band_bits=self.band_bits, seed=self.seed)
                    .select("vec_id",
                            _as_double("embedding").alias("vec"),
                            F.explode("buckets").alias("bucket"))
                    .withColumn("nrm", _norm(F.col("vec")))
                    .persist())
        cc_dir = (os.path.join(self.cc_checkpoint_dir, f"batch-{batch_id}")
                  if self.cc_checkpoint_dir is not None else None)
        keep_ids = None
        try:
            cos = (_dot(F.col("a_vec"), F.col("b_vec"))
                   / (F.col("a_norm") * F.col("b_norm")))
            # 1. within-batch: band-collision pairs, exact-fold verify,
            # CC -> canonical (min id) survivor per component
            a = bucketed.select(F.col("vec_id").alias("a_id"),
                                F.col("vec").alias("a_vec"),
                                F.col("nrm").alias("a_norm"), "bucket")
            b = bucketed.select(F.col("vec_id").alias("b_id"),
                                F.col("vec").alias("b_vec"),
                                F.col("nrm").alias("b_norm"), "bucket")
            pairs = (a.join(b, "bucket")
                     .where(F.col("a_id") < F.col("b_id"))
                     .select("a_id", "b_id", cos.alias("cosine"))
                     .where(F.col("cosine") >= self.threshold)
                     .dropDuplicates(["a_id", "b_id"]))
            cc = connected_components_df(pairs, checkpoint_dir=cc_dir)
            non_canonical = (cc.where(F.col("node") != F.col("component"))
                             .select(F.col("node").alias("vec_id")))
            keep_ids = (batch.select("vec_id")
                        .join(non_canonical, "vec_id", "left_anti"))
            # 2. cross-corpus: surviving batch buckets vs the STORED
            # bucket rows (scan, no re-hash), exact-fold verify against
            # stored embeddings
            stored_b = self._read_store(self.bucket_dir,
                                        exclude_batch=batch_id)
            if stored_b is not None:
                stored_e = (self._read_store(self.corpus_dir,
                                             exclude_batch=batch_id)
                            .select(F.col("vec_id").alias("b_id"),
                                    _as_double("embedding").alias("b_vec"))
                            .withColumn("b_norm", _norm(F.col("b_vec"))))
                cand = (bucketed.join(keep_ids, "vec_id", "left_semi")
                        .select(F.col("vec_id").alias("a_id"),
                                F.col("vec").alias("a_vec"),
                                F.col("nrm").alias("a_norm"), "bucket")
                        .join(stored_b.select(
                            F.col("vec_id").alias("b_id"), "bucket"),
                            "bucket")
                        .dropDuplicates(["a_id", "b_id"]))
                dup_new = (cand.join(stored_e, "b_id")
                           .where(cos >= self.threshold)
                           .select(F.col("a_id").alias("vec_id"))
                           .distinct())
                keep_ids = keep_ids.join(dup_new, "vec_id", "left_anti")
            keep_ids = keep_ids.persist()
            # 3. terminal writes: survivors + their bucket rows, each
            # into its own batch=<id> subtree with overwrite semantics
            (batch.join(keep_ids, "vec_id", "left_semi")
             .write.mode("overwrite")
             .parquet(os.path.join(self.corpus_dir, f"batch={batch_id}")))
            (bucketed.select("vec_id", "bucket")
             .join(keep_ids, "vec_id", "left_semi")
             .write.mode("overwrite")
             .parquet(os.path.join(self.bucket_dir, f"batch={batch_id}")))
        finally:
            bucketed.unpersist()
            if keep_ids is not None:
                keep_ids.unpersist()
            if cc_dir is not None:
                self._delete_dir(cc_dir)

    def corpus(self) -> DataFrame:
        out = self._read_store(self.corpus_dir)
        if out is None:
            raise FileNotFoundError(
                f"no corpus batches at {self.corpus_dir}")
        return out
