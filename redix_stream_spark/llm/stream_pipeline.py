"""End-to-end streaming corpus cleaning: q81's batch composite as a
continuously-running pipeline.

``StreamingCorpusCleaner`` chains, per micro-batch:

1. **Quality gate** — the q32 expressions (``text.quality_columns``),
   map-only, identical in batch and streaming (the Spark-first payoff);
   docs below ``min_quality`` are rejected before any dedup work and
   never claim bands (a rejected doc must not block a future
   good-quality near-duplicate).
2. **Near-dup filter** — ``StreamingNearDupFilter`` (production-width
   MinHash, durable claimed-bands index): drops docs near-duplicate to
   the accepted history, collapses intra-batch clusters to their
   canonical doc, claims accepted bands.
3. **Per-epoch stats** — a one-row partial per epoch written with
   directory overwrite (the matview idempotence discipline), so the
   running report survives crash-replay without double counting.

This is the dedup-against-history + quality shape a continuously-crawled
pretraining corpus runs; the batch twin (q81) is driver-verified against
a recursive-CTE oracle, and the streaming pytest pins batch/stream
agreement on planted fixtures.

Scale: the quality gate is codegen'd expressions; every dedup join is
band-keyed (see stream_dedup.py for the bucketed index layout at 10⁹
docs); stats are one aggregate row per epoch. The only driver-side
collect is the 1-row stats aggregate — same bounded class as the
consumer's watermark reads.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..streaming.log import local_frame
from .stream_dedup import StreamingNearDupFilter
from .text import quality_columns

_QUALITY_RANK = {"low": 0, "medium": 1, "high": 2}

#: One row per epoch, under ``stats/epoch=<id>``.
_STATS_SCHEMA = StructType(
    [
        StructField(name, LongType())
        for name in ("n_in", "n_quality_rejected", "n_submitted")
    ]
)


class StreamingCorpusCleaner:
    def __init__(
        self,
        workdir: str,
        min_quality: str = "medium",
        expectations: dict | None = None,
        **dedup_kwargs,
    ):
        """``expectations`` (optional): rule name → (violation predicate,
        max violations) — the q203 shape. When set, every incoming epoch
        is first stage-written with the counters riding that write
        (GatedEpochWriter — zero extra pass); an epoch exceeding a
        threshold is QUARANTINED whole: it never reaches the quality
        gate or the dedup index, so a poisoned crawl batch can't claim
        bands and shadow future good documents (E155 — the observe()→
        gate loop closed over the E51 pipeline)."""
        if min_quality not in _QUALITY_RANK:
            raise ValueError(f"min_quality must be one of {sorted(_QUALITY_RANK)}")
        self.min_quality = min_quality
        self.stats_root = os.path.join(workdir, "stats")
        os.makedirs(self.stats_root, exist_ok=True)
        self.gate = None
        if expectations:
            from ..streaming.gate import GatedEpochWriter

            self.gate = GatedEpochWriter(
                os.path.join(workdir, "gated"), expectations
            )
        self.dedup = StreamingNearDupFilter(
            index_path=os.path.join(workdir, "band_index"),
            accepted_path=os.path.join(workdir, "accepted"),
            **dedup_kwargs,
        )

    def _passes(self) -> F.Column:
        ok = [q for q, r in _QUALITY_RANK.items() if r >= _QUALITY_RANK[self.min_quality]]
        return F.col("quality").isin(ok)

    def apply_batch(self, batch: DataFrame, epoch_id: int = 0) -> None:
        spark = batch.sparkSession
        if self.gate is not None:
            promoted = self.gate.apply_batch(batch, epoch_id)
            if not promoted:
                # Withheld epoch: record it in stats (idempotent
                # overwrite like any epoch) and touch NOTHING else —
                # no quality pass, no band claims.
                self._write_stats(spark, epoch_id, 0, 0)
                return
            # Promoted: continue from the published staging data (the
            # batch was already materialized by the gate's one pass —
            # reading it back beats recomputing an arbitrary upstream).
            batch = spark.read.parquet(self.gate._epoch_dir(epoch_id)).select(
                "doc_id", "text"
            )
        scored = batch.select("doc_id", "text", *quality_columns()).cache()
        good = scored.filter(self._passes()).select("doc_id", "text")
        # 1-row aggregate (bounded driver read, consumer-watermark class).
        counts = scored.agg(
            F.count(F.lit(1)).alias("n_in"),
            F.sum(F.when(self._passes(), 0).otherwise(1)).alias("n_quality_rejected"),
        ).collect()[0]
        self.dedup.apply_batch(good, epoch_id)
        scored.unpersist()
        self._write_stats(
            spark,
            epoch_id,
            int(counts["n_in"]),
            int(counts["n_quality_rejected"] or 0),
        )

    def _write_stats(
        self, spark: SparkSession, epoch_id: int, n_in: int, n_rejected: int
    ) -> None:
        # The epoch id lives in the directory name only (partition
        # discovery recovers it as a column; storing it in the file too
        # would collide with the partition column).
        stats = local_frame(
            spark, [(n_in, n_rejected, n_in - n_rejected)], _STATS_SCHEMA
        )
        # Overwrite-per-epoch ⇒ crash-replay idempotent (matview rule).
        stats.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(self.stats_root, f"epoch={epoch_id}")
        )

    def run(self, doc_stream: DataFrame, checkpoint_dir: str, **trigger):
        trigger = trigger or {"availableNow": True}
        return (
            doc_stream.writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**trigger)
            .start()
        )

    def accepted(self, spark: SparkSession) -> DataFrame:
        return self.dedup.accepted(spark)

    def report(self, spark: SparkSession) -> DataFrame:
        """Running totals: input, quality-rejected, submitted to dedup,
        accepted, and (by difference) near-dup-dropped."""
        per_epoch = spark.read.parquet(self.stats_root)
        totals = per_epoch.agg(
            F.sum("n_in").cast("long").alias("n_in"),
            F.sum("n_quality_rejected").cast("long").alias("n_quality_rejected"),
            F.sum("n_submitted").cast("long").alias("n_submitted"),
        )
        n_accepted = self.accepted(spark).count()
        return totals.select(
            "n_in",
            "n_quality_rejected",
            "n_submitted",
            F.lit(n_accepted).cast("long").alias("n_accepted"),
            (F.col("n_submitted") - F.lit(n_accepted)).cast("long").alias(
                "n_dup_dropped"
            ),
        )
