"""Streaming heavy hitters: q120's Misra-Gries two-pass as an
incremental operator over micro-batches.

State = one bounded parquet partial per epoch (the matview discipline:
per-epoch directory OVERWRITE, so a crash-replayed epoch rewrites its
own partial instead of double-counting — idempotent exactly-once
without a transaction log). Each partial is the batch's merged MG
summary (≤ partitions × counters rows of (token, cnt)) plus a total-row
marker; merge-on-read sums partials per token.

Why this is sound: MG summaries are MERGEABLE (Agarwal et al.,
"Mergeable Summaries", PODS 2012) — summing per-token counts of two MG
summaries and re-reducing to k counters is itself an MG summary of the
concatenated stream. Undercount after merging E epochs is bounded by
Σ_e N_e/(k+1) = N/(k+1), so with k = 4·HH_K any token above the global
N/HH_K threshold still shows a positive merged count: the candidate set
never loses a true heavy hitter, across any number of epochs.

``candidates()`` is the cheap sketch read (bounded rows per epoch);
``verify_exact(log)`` is the exact face — recount ONLY the candidates
against the accumulated log (broadcast semi-join, the q120 second
pass); ``compact()`` folds all epoch partials into one (staged swap).
"""

from __future__ import annotations

import os


import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .text import HH_K, MG_COUNTERS

#: total-row marker: tokens cannot be empty strings in tokenized text.
_TOTAL = ""

#: hard budget of LOSSY compaction reduces before the cumulative
#: undercount — (1 + budget)·N/(MG_COUNTERS+1) — could reach the N/HH_K
#: detection threshold. For MG_COUNTERS = 4·HH_K this is 3.
COMPACT_BUDGET = (MG_COUNTERS + 1) // HH_K - 1


def _mg_partial(batches, k: int = MG_COUNTERS):
    """Per-partition MG summary WITH residual counts + a total row."""
    counters: dict[str, int] = {}
    total = 0
    for pdf in batches:
        total += len(pdf)
        for tok, c in pdf["token"].value_counts().items():
            counters[tok] = counters.get(tok, 0) + int(c)
        if len(counters) > k:
            vals = np.fromiter(counters.values(), dtype=np.int64)
            cut = int(np.partition(vals, len(vals) - k - 1)[len(vals) - k - 1])
            counters = {t: c - cut for t, c in counters.items() if c > cut}
    rows = list(counters.items()) + [(_TOTAL, total)]
    yield pd.DataFrame(rows, columns=["token", "cnt"])


class StreamingHeavyHitters:
    """Durable incremental heavy-hitter tracking (see module docstring).

    State layout: epoch partials live under a generation directory
    committed via ``streaming.commit.GenerationState`` (pointer-swap,
    object-store-safe — no directory renames). The lossy-reduce budget
    counter rides in the pointer meta, so spending budget and swapping
    in the reduced fold are ONE atomic commit.
    """

    def __init__(self, spark: SparkSession, state_dir: str) -> None:
        from ..streaming.commit import GenerationState

        self.spark = spark
        self.state_dir = state_dir
        self._state = GenerationState(state_dir)
        self._state.ensure_committed(lossy_reduces=0)

    def _gen_dir(self) -> str:
        return self._state.current_dir()

    def _epoch_path(self, epoch_id: int) -> str:
        return os.path.join(self._gen_dir(), f"epoch={epoch_id}")

    def ingest_batch(self, batch: DataFrame, epoch_id: int) -> None:
        """MG-summarize one micro-batch of (token) rows into the epoch's
        partial. Map-only sketch; the per-token sum that merges partition
        summaries shuffles ≤ partitions × counters rows. OVERWRITE per
        epoch ⇒ replaying a failed epoch is idempotent."""
        from ..session import ship_package

        ship_package(batch.sparkSession)
        partial = (
            batch.select("token")
            .mapInPandas(_mg_partial, "token string, cnt long")
            .groupBy("token")
            .agg(F.sum("cnt").alias("cnt"))
        )
        partial.write.mode("overwrite").parquet(self._epoch_path(epoch_id))

    def _read_partials(self) -> DataFrame:
        gen_dir = self._gen_dir()
        return self.spark.read.option("basePath", gen_dir).parquet(
            os.path.join(gen_dir, "epoch=*")
        )

    def totals(self) -> int:
        row = (
            self._read_partials()
            .filter(F.col("token") == _TOTAL)
            .agg(F.sum("cnt"))
            .head()
        )
        return int(row[0] or 0)

    def candidates(self) -> DataFrame:
        """(token, cnt_lower): merged sketch counts — a SUPERSET of every
        token above the global 1/HH_K threshold, with cnt_lower a lower
        bound on the true count. Undercount ≤ N/(4·HH_K+1) from the
        partition sketches plus N/(4·HH_K+1) per LOSSY compaction reduce;
        losses ACCUMULATE, so the superset guarantee holds only while
        (1 + lossy_reduces)·N/(4·HH_K+1) < N/HH_K. ``compact()`` counts
        its lossy reduces in durable state and refuses to exceed
        ``COMPACT_BUDGET`` — within budget, a true heavy hitter's merged
        count stays positive; there is no silent breach."""
        return (
            self._read_partials()
            .filter(F.col("token") != _TOTAL)
            .groupBy("token")
            .agg(F.sum("cnt").alias("cnt_lower"))
            .filter(F.col("cnt_lower") > 0)
        )

    def verify_exact(self, log: DataFrame) -> DataFrame:
        """The exact face: recount candidates only against ``log`` (all
        accumulated (token) rows) and apply the true threshold — the
        q120 second pass, with the candidate set coming from durable
        streaming state instead of a same-job sketch."""
        n_total = self.totals()
        cands = self.candidates().select("token")
        return (
            log.join(F.broadcast(cands), "token", "left_semi")
            .groupBy("token")
            .agg(F.count(F.lit(1)).cast("long").alias("n_occ"))
            .filter(F.col("n_occ") * HH_K > F.lit(n_total))
        )

    def _lossy_reduces(self) -> int:
        return int(self._state.meta().get("lossy_reduces", 0))

    def compact(self, reduce_to: int = MG_COUNTERS) -> None:
        """Fold all epoch partials into epoch=0 (staged swap) and
        MG-reduce the folded summary to ``reduce_to`` counters, so state
        stays one bounded summary regardless of epoch count. The reduce
        is the mergeable-summaries step: subtract the (size−k)-th
        smallest count from every counter, drop non-positives — survivors
        ≤ k, per-counter loss bounded exactly like the batch sketch.

        Reduce loss ACCUMULATES across compactions: each lossy reduce
        adds up to N/(k+1) undercount on top of the partition sketches'
        N/(k+1), so after (k+1)/HH_K − 1 lossy reduces the cumulative
        loss could reach the N/HH_K detection threshold and silently
        break the no-false-negative contract. A durable counter in the
        generation pointer's meta enforces a hard budget of
        ``COMPACT_BUDGET`` lossy reduces; past it, compact() raises —
        rebuild the sketch from the log (``verify_exact``'s input) to
        reset. A fold that fits within ``reduce_to`` applies no cut,
        loses nothing, and consumes no budget. The counter commits IN
        the same pointer swap that publishes the fold, so no crash can
        spend budget without the reduce (or vice versa)."""
        merged = (
            self._read_partials()
            .groupBy("token")
            .agg(F.sum("cnt").alias("cnt"))
        ).cache()
        total = merged.filter(F.col("token") == _TOTAL)
        rest = merged.filter(F.col("token") != _TOTAL)
        n = rest.count()
        if n > reduce_to:
            if self._lossy_reduces() >= COMPACT_BUDGET:
                merged.unpersist()
                raise RuntimeError(
                    f"compaction budget exhausted ({COMPACT_BUDGET} lossy "
                    "reduces): another cut could push cumulative undercount "
                    "past the N/HH_K threshold and lose a true heavy hitter; "
                    "rebuild the sketch from the accumulated log instead"
                )
            cut = (
                rest.orderBy("cnt").limit(n - reduce_to).agg(F.max("cnt")).head()[0]
            )
            rest = rest.select(
                "token", (F.col("cnt") - F.lit(int(cut))).alias("cnt")
            ).filter(F.col("cnt") > 0)
        folded = rest.unionByName(total)
        gen, gen_dir = self._state.stage()
        folded.write.mode("overwrite").parquet(
            os.path.join(gen_dir, "epoch=0")
        )
        merged.unpersist()
        # one atomic step: the fold becomes live AND its budget is spent
        self._state.commit(
            gen,
            lossy_reduces=self._lossy_reduces() + (1 if n > reduce_to else 0),
        )
        self._state.cleanup()
