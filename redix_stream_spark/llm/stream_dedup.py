"""Streaming near-duplicate filtering: the q36/q80 MinHash pipeline as an
*incremental* operator over a document stream.

A training-data pipeline rarely gets its corpus at rest: crawl batches
arrive continuously, and each batch must be deduplicated against
everything already accepted. This operator runs the batch engine's exact
MinHash machinery (``llm.dedup`` — same signatures, same band keys) per
micro-batch against a durable **claimed-bands index**:

per micro-batch
  1. signature + band keys for the batch's docs (map-only, as in q36);
  2. any band already claimed by an accepted doc → the doc is a near-dup
     of earlier data → dropped (one equi-join against the index);
  3. survivors are clustered *within* the batch over shared bands (the
     q80 min-label collapse, batch-local) and only each cluster's
     canonical (min doc_id) is accepted;
  4. accepted docs claim their bands — an append to the index.

Policy = the batch pipeline's: one canonical survivor per near-dup
cluster. A drained stream therefore matches the batch q80/q81 collapse up
to batch-boundary effects (two docs that would share a cluster only
through a *dropped* third doc can both survive when they arrive in
different batches — LSH banding is itself an approximation with exactly
this character, so the boundary effect does not change the contract).

Scale (100 TB): the index is a parquet table keyed by band_key — the join
in step 2 is an ordinary distributed equi-join (shuffle or bucketed on
band_key), never a corpus self-join; per-batch state never lives on the
driver; step 3 touches only the batch. The index grows ~n_bands rows per
accepted doc and is itself compactable. This is the standard inverted
band index shape — the same index q36 computes implicitly per run, made
durable and incremental.

Reference parity note: the reference has no dedup operator at all — this
is engine surface beyond the reference (SURVEY §2.2 E23 family), composed
with its R3 stream-consumption semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import (
    PROD_BANDS,
    PROD_PERM_PARAMS,
    _sym_edges,
    banded_keys,
    lsh_candidate_pairs,
    minhash_signatures,
    propagate_min_labels,
)


class _PathIndexedFilter:
    """Plumbing both stream filters share: the path-mode index's live
    generation dir and the foreachBatch attachment."""

    def _index_dir(self) -> str:
        """Current generation dir for the path-mode index (committed on
        first use so appends always have a live target)."""
        return self._index_state.ensure_committed()

    def run(self, doc_stream: DataFrame, checkpoint_dir: str, **trigger):
        """Attach to a streaming (doc_id, text) DataFrame; returns the
        StreamingQuery. Default trigger drains what is available."""
        trigger = trigger or {"availableNow": True}
        return (
            doc_stream.writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**trigger)
            .start()
        )


class StreamingNearDupFilter(_PathIndexedFilter):
    """Incremental MinHash near-dup filter with a durable band index.

    ``accepted_path`` receives accepted (doc_id, text) rows;
    ``index_path`` holds claimed (band_key, owner_doc_id) rows. Both are
    append-only parquet — replays of a failed epoch re-append, so reads
    dedup by (band_key, min owner) / doc_id, the same at-least-once
    discipline the consumer's ack log uses.

    Default MinHash configuration is the production width (64 perms /
    16 bands — q36b's driver-verified face); pass ``params``/``n_bands``
    to run the 16/4 demo width (q36) or wider sketches.

    Index layout: with ``index_table`` set, the claimed-bands index lives
    as a catalog table **bucketed by band_key** — the per-batch hit-join
    then shuffles only the (small) batch side into the bucket layout and
    the index side is read Exchange-free, instead of reshuffling the
    whole O(accepted-corpus) index every micro-batch. This is the 100 TB
    deployment layout (claims append into the same bucketing, so the
    property is durable); the plain ``index_path`` parquet directory
    remains for small/ephemeral runs.
    """

    def __init__(
        self,
        index_path: str,
        accepted_path: str,
        params: list[tuple[int, int]] | None = None,
        n_bands: int | None = None,
        index_table: str | None = None,
        n_index_buckets: int = 32,
    ):
        from ..streaming.commit import GenerationState

        self.index_path = index_path
        self.accepted_path = accepted_path
        self.params = params if params is not None else PROD_PERM_PARAMS
        self.n_bands = n_bands if n_bands is not None else PROD_BANDS
        self.index_table = index_table
        self.n_index_buckets = n_index_buckets
        # path-mode index state: appends land in the CURRENT generation
        # dir; compaction writes a folded generation and pointer-commits
        # it (object-store-safe — streaming.commit).
        self._index_state = (
            None if index_table is not None else GenerationState(index_path)
        )

    # -- the per-batch step (also usable on a static batch) -------------

    def _claimed(self, spark: SparkSession) -> DataFrame:
        if self.index_table is not None:
            if spark.catalog.tableExists(self.index_table):
                return spark.table(self.index_table).select("band_key", "owner")
            return spark.createDataFrame([], "band_key string, owner long")
        if not _has_parquet(self._index_dir()):
            return spark.createDataFrame([], "band_key string, owner long")
        return spark.read.schema("band_key string, owner long").parquet(
            self._index_dir()
        )

    def _append_claims(self, claims: DataFrame) -> None:
        """Append (band_key, owner) rows in the index's layout."""
        if self.index_table is not None:
            (
                claims.write.mode("append")
                .format("parquet")
                .bucketBy(self.n_index_buckets, "band_key")
                .sortBy("band_key")
                .saveAsTable(self.index_table)
            )
        else:
            claims.write.mode("append").parquet(self._index_dir())

    def apply_batch(self, batch: DataFrame, epoch_id: int = 0) -> None:
        """Dedup one (micro-)batch of (doc_id, text) against the index."""
        spark = batch.sparkSession
        docs = batch.select("doc_id", "text")
        sig = minhash_signatures(docs, params=self.params)
        bands = banded_keys(sig, self.n_bands)

        # 2. cross-batch: any claimed band → near-dup of accepted history.
        hit = (
            bands.join(self._claimed(spark), "band_key", "left_semi")
            .select("doc_id")
            .distinct()
        )
        fresh = docs.join(hit, "doc_id", "left_anti").cache()

        # 3. intra-batch: q80's min-label collapse over shared bands,
        # restricted to the batch (candidate pairs from band equality —
        # the LSH decision, no O(n²) verify needed to *cluster*). Band
        # keys are per-doc, so the fresh docs' bands are a semi-join of
        # the batch's, not a second banding.
        pairs = lsh_candidate_pairs(
            bands.join(fresh.select("doc_id"), "doc_id", "left_semi")
        )
        non_canonical = (
            propagate_min_labels(_sym_edges(pairs))
            .filter(F.col("is_canonical") == 0)
            .select("doc_id")
        )
        accepted = fresh.join(non_canonical, "doc_id", "left_anti").cache()

        # 4. accepted rows land, THEN the band claims. Order is
        # correctness, not style: every write re-evaluates its lineage,
        # and `accepted`'s lineage reads the index (step 2's anti-join) —
        # writing the claims first would put the batch's own bands in the
        # index before the accepted write re-reads it, making every
        # accepted doc a "duplicate" of itself (zero rows written; found
        # by the two-batch pytest).
        accepted.write.mode("append").parquet(self.accepted_path)
        # The claims write must NOT recompute `accepted` from lineage:
        # its anti-join reads the index this very write appends to, and
        # the .cache() above is evictable — an eviction mid-write would
        # silently claim zero bands. Read the accepted ids back from the
        # file just written (durable, lineage-free); `bands` holds only
        # this batch's docs, so joining against the full accepted set
        # claims exactly this batch's accepted bands.
        spark.catalog.refreshByPath(self.accepted_path)
        accepted_ids = (
            spark.read.schema("doc_id long, text string")
            .parquet(self.accepted_path)
            .select("doc_id")
        )
        self._append_claims(
            bands.join(accepted_ids, "doc_id", "left_semi").select(
                "band_key", F.col("doc_id").alias("owner")
            )
        )
        fresh.unpersist()
        accepted.unpersist()

    # -- streaming face --------------------------------------------------

    def accepted(self, spark: SparkSession) -> DataFrame:
        """Accepted corpus so far (deduped by doc_id — epoch replays may
        re-append, exactly like the consumer's ack log)."""
        if not _has_parquet(self.accepted_path):
            return spark.createDataFrame([], "doc_id long, text string")
        raw = spark.read.schema("doc_id long, text string").parquet(
            self.accepted_path
        )
        return raw.dropDuplicates(["doc_id"])

    def compact_index(self, spark: SparkSession, n_files: int = 8) -> int:
        """Rewrite the band index: one row per band_key (min owner wins,
        mirroring the canonical-doc rule), bounded file count.

        Every micro-batch appends one file set; after thousands of
        batches the index is a small-files swamp and every hit-join pays
        the listing. Path mode commits via the generation pointer
        (``streaming.commit`` — a reader resolves the pointer and sees
        either the old or the new complete index; object-store-safe,
        no directory renames). Table mode commits via the metastore's
        ALTER TABLE RENAME, which is the catalog's own atomic swap. Run
        between drains (not concurrently with an active stream). Returns
        the row count.
        """
        idx = self._claimed(spark).groupBy("band_key").agg(
            F.min("owner").alias("owner")
        )
        if self.index_table is not None:
            staged_tbl = self.index_table + "_compact"
            spark.sql(f"DROP TABLE IF EXISTS {staged_tbl}")
            (
                idx.write.mode("overwrite")
                .format("parquet")
                .bucketBy(self.n_index_buckets, "band_key")
                .sortBy("band_key")
                .saveAsTable(staged_tbl)
            )
            n = spark.table(staged_tbl).count()
            spark.sql(f"DROP TABLE IF EXISTS {self.index_table}")
            spark.sql(f"ALTER TABLE {staged_tbl} RENAME TO {self.index_table}")
            return n
        gen, gen_dir = self._index_state.stage()
        idx.repartition(n_files).write.mode("overwrite").parquet(gen_dir)
        n = (
            spark.read.schema("band_key string, owner long")
            .parquet(gen_dir)
            .count()
        )
        self._index_state.commit(gen)
        self._index_state.cleanup()
        # Drop the cached file listing for the path — Spark's shared
        # FileStatusCache still names the pre-compaction part files
        # otherwise.
        spark.catalog.refreshByPath(self.index_path)
        return n


def _has_parquet(path: str) -> bool:
    return os.path.isdir(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    )


class StreamingExactSubstrScrubber(_PathIndexedFilter):
    """Incremental exact-substring dedup (E168's q211/q211b made
    streaming, E169): each arriving batch of (doc_id, text) gets its
    ExactSubstr cut-list report — duplicated spans vs everything seen in
    EARLIER batches plus within the batch itself — and then claims its
    window hashes into a durable index. First-occurrence semantics: the
    first copy of a passage ever seen reports clean; later copies report
    the span (the keep-first cut policy of Lee et al. ACL 2022, which a
    batch run can only approximate after the fact).

    ``winnowed=True`` runs the q211b configuration end to end: windows
    are winnowing-selected per doc (a per-doc operation, so batch-local
    selection is identical to a corpus run), the index holds selected
    fingerprints only (~2/(S+1) of the exact index), and reports carry
    the n_fingerprints column — a drained one-batch stream equals the
    q211b batch face exactly (pytest), as the exact mode equals q211.

    Report-only: nothing is dropped — the report IS the scrub
    instruction for a downstream cutter, and claims cover ALL batch
    windows (seen text is seen, duplicated or not).

    At-least-once replay discipline (the crash-window analysis that
    shaped the write order): the per-doc duplicated-ness DECISION must
    be durable BEFORE the index mutates, or a replay after the claims
    append would see the batch's own windows in the index and mark every
    doc a duplicate of itself. Per epoch:

    1. completed-batch marker present → no-op (full replay protection;
       markers are keyed by epoch_id + a content digest of the batch's
       doc_ids, so an epoch counter restarting at 0 — manual calls with
       the default, a re-attached stream on a fresh checkpoint — can
       never silently swallow NEW data);
    2. stage the report (overwrite-per-epoch; skipped when the staging
       write already completed — ``_SUCCESS`` is the completeness mark),
       computed against the PRE-CLAIM index;
    3. append claims as ``batch windows ANTI-JOIN index`` — a replayed
       append finds its own rows and appends nothing (idempotent), and
       the anti-join halves index growth on duplicate-heavy streams;
    4. append the STAGED FILES into the durable report (lineage-free
       read-back, the StreamingNearDupFilter rule — recomputing from
       lineage here would re-read the just-mutated index); a replayed
       append duplicates byte-identical rows, which ``report()``'s
       doc_id dedup absorbs;
    5. write the epoch marker (one tiny PUT).

    Scale: the per-batch history probe is an equi-join of the batch's
    window relation against the h-keyed index — never corpus×corpus;
    everything else is the batch faces' per-doc window work. The index
    grows ≤1 row per NEW token seen (winnowed: ~2/(S+1) of that) and
    ``compact_index`` folds replay duplicates via the generation pointer
    (object-store-safe, streaming.commit).
    """

    def __init__(self, index_path: str, report_path: str, winnowed: bool = False):
        from ..streaming.commit import GenerationState

        self.index_path = index_path
        self.report_path = report_path
        self.winnowed = winnowed
        self._index_state = GenerationState(index_path)
        self._epochs_dir = report_path.rstrip("/") + "_epochs"
        self._staging_dir = report_path.rstrip("/") + "_staging"

    # -- index plumbing (path mode, as StreamingNearDupFilter) ----------

    def _claimed(self, spark: SparkSession) -> DataFrame:
        if not _has_parquet(self._index_dir()):
            return spark.createDataFrame([], "h string")
        return spark.read.schema("h string").parquet(self._index_dir())

    # -- batch geometry --------------------------------------------------

    def _batch_windows(self, docs: DataFrame) -> DataFrame:
        """(doc_id, start, h) under the face's configuration: every
        window (exact) or the winnow-selected fingerprints (winnowed —
        per-doc selection, so batch-local selection is identical to the
        batch face's; ``_winnow_fps`` is the SHARED definition — the
        drained-stream ≡ batch-face contract depends on it)."""
        from .dedup import _exsub_windows, _winnow_fps

        wins = _exsub_windows(docs)
        return _winnow_fps(wins) if self.winnowed else wins

    def _report_df(self, docs: DataFrame, wins: DataFrame) -> DataFrame:
        """The batch faces' report over history-matched ∪ within-batch
        duplicated positions (computed against the PRE-claim index)."""
        from pyspark.sql.window import Window as W

        from .dedup import _dup_span_stats, _exsub_assemble

        spark = docs.sparkSession
        hist = wins.join(self._claimed(spark), "h", "left_semi").select(
            "doc_id", "start"
        )
        local = (
            wins.withColumn("occ", F.count(F.lit(1)).over(W.partitionBy("h")))
            .filter(F.col("occ") >= 2)
            .select("doc_id", "start")
        )
        pos = hist.union(local).distinct()
        extra = None
        if self.winnowed:
            extra = wins.groupBy("doc_id").agg(
                F.count(F.lit(1)).cast("long").alias("n_fingerprints")
            )
        return _exsub_assemble(docs, _dup_span_stats(pos), extra=extra)

    # -- the per-batch step ----------------------------------------------

    def _batch_key(self, docs: DataFrame, epoch_id: int) -> str:
        """Content-derived processing-unit key: epoch_id alone would
        silently no-op NEW data whenever batch ids restart at 0 (manual
        apply_batch calls with the default, or a re-attached stream on a
        fresh checkpoint dir) — the marker must recognize the BATCH, not
        the counter. One bounded 1-row agg: row count + an
        order-insensitive md5-derived doc_id digest (each term < 2^31,
        so the BIGINT sum can't overflow under ANSI)."""
        row = docs.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.conv(
                    F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
                    16,
                    10,
                ).cast("long")
                % 2147483647
            ).alias("s"),
        ).collect()[0]
        return f"{epoch_id}_{row['n']}_{(row['s'] or 0):x}"

    def apply_batch(self, batch: DataFrame, epoch_id: int = 0) -> None:
        spark = batch.sparkSession
        docs = batch.select("doc_id", "text")
        batch_key = self._batch_key(docs, epoch_id)
        marker = os.path.join(self._epochs_dir, f"epoch_{batch_key}.done")
        if os.path.exists(marker):
            return
        # Four consumers branch off the window relation (history probe,
        # within-batch counts, n_fingerprints, claims) and Spark never
        # reuses self-join subtrees — materialize it once. Unlike the
        # batch face (whole-corpus input, where checkpointing the
        # exploded relation would write ~9× the text), a micro-batch is
        # ingestion-sized; lazy, so the marker short-circuit above stays
        # free.
        wins = self._batch_windows(docs).localCheckpoint(eager=False)

        staging = os.path.join(self._staging_dir, f"epoch_{batch_key}")
        if not os.path.exists(os.path.join(staging, "_SUCCESS")):
            (
                self._report_df(docs, wins)
                .withColumn("epoch_key", F.lit(batch_key))
                .write.mode("overwrite")
                .parquet(staging)
            )

        claims = (
            wins.select("h")
            .distinct()
            .join(self._claimed(spark), "h", "left_anti")
        )
        claims.write.mode("append").parquet(self._index_dir())

        spark.catalog.refreshByPath(staging)
        spark.read.parquet(staging).write.mode("append").parquet(self.report_path)

        os.makedirs(self._epochs_dir, exist_ok=True)
        with open(marker, "w") as f:
            f.write("done\n")
        # The decision is durable in the report now and the marker
        # short-circuits any replay — the staged copy is dead weight.
        import shutil

        shutil.rmtree(staging, ignore_errors=True)

    # -- streaming face --------------------------------------------------

    def report(self, spark: SparkSession) -> DataFrame:
        """Cut-list rows so far: one row per (doc_id, batch) — a
        re-crawled doc_id legitimately gets a NEW row (its cut list vs
        history as of that batch; the earlier row is never rewritten,
        so first-occurrence history is preserved, not averaged away).
        Replay re-appends are byte-identical by the staging discipline,
        so the full-row distinct removes exactly them and nothing else."""
        if not _has_parquet(self.report_path):
            cols = (
                "doc_id long, n_tokens long, dup_tokens long, "
                "n_dup_spans long, dup_fraction double, epoch_key string"
            )
            if self.winnowed:
                cols = cols.replace(
                    "n_tokens long,", "n_tokens long, n_fingerprints long,"
                )
            return spark.createDataFrame([], cols)
        return spark.read.parquet(self.report_path).dropDuplicates()

    def compact_index(self, spark: SparkSession, n_files: int = 8) -> int:
        """Fold the window index to one row per hash via the generation
        pointer (replay appends and pre-anti-join history can leave
        duplicates). Run between drains. Returns the row count."""
        idx = self._claimed(spark).distinct()
        gen, gen_dir = self._index_state.stage()
        idx.repartition(n_files).write.mode("overwrite").parquet(gen_dir)
        n = spark.read.schema("h string").parquet(gen_dir).count()
        self._index_state.commit(gen)
        self._index_state.cleanup()
        spark.catalog.refreshByPath(self.index_path)
        return n
