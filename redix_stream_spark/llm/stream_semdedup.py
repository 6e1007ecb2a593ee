"""Incremental semantic dedup: q102's SemDeDup operator as a streaming
filter against a durable accepted-embedding index.

The embedding-space twin of ``stream_dedup.StreamingNearDupFilter``:
per micro-batch, vectors whose cosine against an *earlier accepted*
vector in the same deterministic LSH bucket clears τ are dropped;
survivors collapse intra-batch (first occurrence wins, the q102 rule);
accepted vectors land in a bucket-partitioned index.

Scale shape:

- Bucket assignment is map-only (integer hyperplane folds, the q102
  construction — deterministic, no codebook to fit or drift).
- The hit-join keys on the bucket; the index is laid out
  ``partitionBy(bucket)`` so a batch touching B buckets scans only
  those partitions (same pruned-probe layout as the IVF index, without
  its refresh problem). Fat embedding arrays: shuffle_hash pinned,
  never broadcast (CLAUDE.md).
- Writes follow the stream_dedup lineage discipline: the batch's
  accepted rows are staged to an overwrite-per-epoch directory first
  (idempotent under crash-replay), then appended to the index from the
  staged files — the index append's lineage never reads the index it
  writes. Replays may re-append; ``accepted()`` dedups by vec_id, the
  same at-least-once rule as the consumer ack log.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .semdedup import SEM_BITS, SEM_TAU, sem_planes, semantic_bucket
from .similarity import dot, norm

_SCHEMA = "vec_id long, bucket long, nrm double, embedding array<float>"


class StreamingSemanticDedup:
    def __init__(
        self,
        workdir: str,
        bits: int = SEM_BITS,
        tau: float = SEM_TAU,
    ):
        self.index_path = os.path.join(workdir, "sem_index")
        self.staging_root = os.path.join(workdir, "staging")
        os.makedirs(self.staging_root, exist_ok=True)
        self.bits = bits
        self.tau = tau
        self.planes = sem_planes(bits)

    def _index(self, spark: SparkSession) -> DataFrame:
        has_files = os.path.isdir(self.index_path) and any(
            f.endswith(".parquet")
            for _, _, fs in os.walk(self.index_path)
            for f in fs
        )
        if not has_files:
            return spark.createDataFrame([], _SCHEMA)
        return spark.read.schema(_SCHEMA).parquet(self.index_path)

    def apply_batch(self, batch: DataFrame, epoch_id: int = 0) -> None:
        spark = batch.sparkSession
        tagged = batch.select(
            "vec_id",
            semantic_bucket("embedding", self.planes).alias("bucket"),
            norm(F.col("embedding")).alias("nrm"),
            "embedding",
        )

        # Cross-batch: cosine vs earlier accepted vectors, bucket-keyed.
        idx = self._index(spark).hint("shuffle_hash")
        sim = dot(F.col("a.embedding"), F.col("b.embedding")) / (
            F.col("a.nrm") * F.col("b.nrm")
        )
        hit = (
            tagged.alias("a")
            .join(idx.alias("b"), F.col("a.bucket") == F.col("b.bucket"))
            .filter(sim >= F.lit(self.tau))
            .select(F.col("a.vec_id").alias("vec_id"))
            .distinct()
        )
        fresh = tagged.join(hit, "vec_id", "left_anti")

        # Intra-batch: first occurrence wins within the bucket.
        dup = (
            fresh.alias("a")
            .join(
                fresh.alias("b").hint("shuffle_hash"),
                (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("b.vec_id") < F.col("a.vec_id")),
            )
            .filter(sim >= F.lit(self.tau))
            .select(F.col("a.vec_id").alias("vec_id"))
            .distinct()
        )
        accepted = fresh.join(dup, "vec_id", "left_anti").select(
            "vec_id", "bucket", "nrm", "embedding"
        )

        # Stage (idempotent per epoch), then append from staged files so
        # the index append's lineage never reads the index it writes.
        staged = os.path.join(self.staging_root, f"epoch={epoch_id}")
        accepted.write.mode("overwrite").parquet(staged)
        spark.catalog.refreshByPath(staged)
        (
            spark.read.schema(_SCHEMA)
            .parquet(staged)
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(self.index_path)
        )

    def run(self, vec_stream: DataFrame, checkpoint_dir: str, **trigger):
        trigger = trigger or {"availableNow": True}
        return (
            vec_stream.writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**trigger)
            .start()
        )

    def accepted(self, spark: SparkSession) -> DataFrame:
        """Accepted vectors so far, deduped by vec_id (replay-safe)."""
        return self._index(spark).dropDuplicates(["vec_id"]).select(
            "vec_id", "bucket"
        )
