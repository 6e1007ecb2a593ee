"""Streaming HyperLogLog: q186's cross-engine sketch as an incremental
operator over micro-batches — distinct counting that never re-reads the
stream's history.

State = one bounded parquet partial per epoch (the stream_heavy matview
discipline: per-epoch directory OVERWRITE under a GenerationState
pointer, so a crash-replayed epoch rewrites its own partial instead of
corrupting the merge — idempotent exactly-once without a transaction
log). Each partial is the batch's register relation
(group, j, r) — ≤ groups × HLL_M rows regardless of batch size.

Why this is sound: HLL registers are MERGEABLE and, unlike
stream_heavy's Misra-Gries summaries, the merge is LOSSLESS — MAX per
(group, j) of two register sets is exactly the register set of the
concatenated streams (max is associative, commutative, idempotent), so:

- merge order never matters (any epoch interleaving → same registers);
- re-delivered data is absorbed (idempotent max — at-least-once inputs
  give exactly-once estimates);
- compaction costs NOTHING (no budget counter: stream_heavy's
  COMPACT_BUDGET exists because MG reduces are lossy; HLL folds are
  exact) — so ``estimate()`` after any ingest/compact/replay history is
  VALUE-IDENTICAL to the q186 batch face over the union of the data,
  which is what tests/test_streaming_llm.py pins.

Reference parity note: the reference engine (hayesgm/redix_stream) has
no aggregation surface at all (consumer.ex is delivery semantics only);
this module is engine surface from the brief's training-pipeline scope.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.stats import (
    HLL_M,
    hll_estimate_cols,
    hll_estimate_expr,
    hll_registers,
)


class StreamingHll:
    """Durable incremental distinct-count sketch (see module docstring).

    State layout: epoch register partials live under a generation
    directory committed via ``streaming.commit.GenerationState``
    (pointer-swap, object-store-safe — no directory renames)."""

    def __init__(
        self, spark: SparkSession, state_dir: str, group_col: str = "group"
    ) -> None:
        from ..streaming.commit import GenerationState

        self.spark = spark
        self.group_col = group_col
        self._state = GenerationState(state_dir)
        self._state.ensure_committed()

    #: Reserved partition for compacted history — OUTSIDE the caller's
    #: epoch-id namespace, so a checkpoint restarting at epoch 0 after a
    #: compact() can never overwrite the folded registers.
    BASE_EPOCH = -1

    def _epoch_path(self, epoch_id: int) -> str:
        return os.path.join(self._state.current_dir(), f"epoch={epoch_id}")

    def ingest_batch(self, batch: DataFrame, epoch_id: int) -> None:
        """Sketch one micro-batch of (group, key) rows into the epoch's
        register partial. One map-side-combinable aggregate whose state
        is HLL_M registers per group; the written partial is bounded by
        groups × HLL_M rows however large the batch. OVERWRITE per
        epoch ⇒ replaying a failed epoch is idempotent (and max-merge
        absorbs duplicate data anyway — see module docstring). Negative
        epoch ids are refused: ``BASE_EPOCH`` holds compacted history,
        and an ingest overwriting it would silently drop every
        pre-compact register."""
        if epoch_id < 0:
            raise ValueError(
                f"epoch_id must be >= 0 (epoch={self.BASE_EPOCH} is the "
                "reserved compacted-history partition)"
            )
        reg = hll_registers(
            batch.select(F.col(self.group_col).alias("g"), "key"),
            "key",
            ["g"],
        )
        reg.write.mode("overwrite").parquet(self._epoch_path(epoch_id))

    def _read_partials(self) -> DataFrame:
        gen_dir = self._state.current_dir()
        return self.spark.read.option("basePath", gen_dir).parquet(
            os.path.join(gen_dir, "epoch=*")
        )

    def registers(self) -> DataFrame:
        """(g, j, r): the merged register relation — MAX per (g, j)
        across epoch partials (lossless; the only merge operator)."""
        return (
            self._read_partials()
            .groupBy("g", "j")
            .agg(F.max("r").alias("r"))
        )

    def estimate(self) -> DataFrame:
        """(g, hll_estimate, n_regs): the per-group raw-HLL estimate —
        bit-identical to running q186's estimator over the union of all
        ingested data, because registers merge losslessly. The input to
        the estimator is the bounded register relation, never data."""
        s = hll_estimate_cols(self.registers(), ["g"])
        return s.select(
            "g", hll_estimate_expr().alias("hll_estimate"), "n_regs"
        )

    def compact(self) -> None:
        """Fold every epoch partial into the reserved ``BASE_EPOCH``
        partition (staged pointer swap). Lossless and budget-free — the
        fold IS the merge (max per (g, j)); estimates before and after
        are identical, pinned in tests. Keeps state at one bounded
        relation however many epochs have accumulated. The fold lives
        OUTSIDE the caller's epoch-id namespace (epoch=-1): a stream
        that restarts at epoch 0 after a compact writes a fresh epoch=0
        partial next to the base instead of overwriting folded history
        (``ingest_batch`` additionally refuses negative ids)."""
        folded = self.registers()
        gen, gen_dir = self._state.stage()
        folded.write.mode("overwrite").parquet(
            os.path.join(gen_dir, f"epoch={self.BASE_EPOCH}")
        )
        self._state.commit(gen)
        self._state.cleanup()
