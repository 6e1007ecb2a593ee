"""Streaming EXACT quantiles over a discrete value domain — the
quantile member of the incremental-view family (matview sums, latest
argmax, OHLC, HLL distincts, Misra-Gries heavy hitters).

Quantiles don't merge in general — but per-value COUNTS do, exactly.
``events.value`` is 2-decimal money: as integer cents its domain is
small (the q124/q126 lesson), so the per-epoch partial is the exact
(key, cents, cnt) histogram — bounded by the domain, not the data — and
any quantile of the merged view is EXACT: walk the cumulative counts to
rank ⌈q·n⌉. No t-digest/KLL error bars to reason about, and unlike a
sketch the partial is also the q126 histogram and the q124 median input
for free. A genuinely continuous domain degrades gracefully: bucket to
a fixed grid first (q126's integer binning) and the result is exact for
the grid, ±½ grid step for the raw value — stated, not hidden.

State: epoch-overwritten partials under a generation dir with pointer
commits (``streaming.commit`` — compaction is a LOSSLESS fold here, so
no budget tracking is needed, just the crash-safe swap).

Cross-engine discipline: ranks are pure integer arithmetic —
⌈q·n⌉ = (n·num + den − 1) DIV den for a rational q = num/den — and the
reported quantiles are integer cents; no float ranks, no interpolation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .commit import GenerationState

#: reported quantiles as exact rationals (name, numerator, denominator)
QUANTILES: tuple[tuple[str, int, int], ...] = (
    ("p50", 1, 2),
    ("p95", 19, 20),
    ("p99", 99, 100),
)


class StreamingQuantileView:
    """Durable incremental exact quantiles per key (see module doc)."""

    def __init__(self, spark: SparkSession, state_dir: str, key: str = "event_type"):
        self.spark = spark
        self.key = key
        self._state = GenerationState(state_dir)
        self._state.ensure_committed()

    def _epoch_path(self, epoch_id: int) -> str:
        return os.path.join(self._state.current_dir(), f"epoch={epoch_id}")

    def ingest_batch(self, batch: DataFrame, epoch_id: int) -> None:
        """Fold one micro-batch of (key, value) rows into its epoch
        partial: the exact integer-cents histogram. Map-side-combined
        aggregate, one shuffle of (key, cents) rows; OVERWRITE per epoch
        ⇒ replay-idempotent (the matview discipline)."""
        cents = F.round(F.col("value") * 100).cast("long")
        partial = (
            batch.select(self.key, cents.alias("c"))
            .groupBy(self.key, "c")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        partial.write.mode("overwrite").parquet(self._epoch_path(epoch_id))

    def attach(self, stream_df: DataFrame, checkpoint_dir: str):
        """Wire the view to a streaming DataFrame (caller starts/awaits)
        — the matview attach contract."""
        return (
            stream_df.writeStream.foreachBatch(self.ingest_batch)
            .option("checkpointLocation", checkpoint_dir)
        )

    def _merged(self) -> DataFrame:
        gen_dir = self._state.current_dir()
        parts: list[DataFrame] = []
        if any(d.startswith("epoch=") for d in os.listdir(gen_dir)):
            parts.append(
                self.spark.read.option("basePath", gen_dir)
                .parquet(os.path.join(gen_dir, "epoch=*"))
                .select(self.key, "c", "cnt")
            )
        base = os.path.join(gen_dir, "base")
        if os.path.isdir(base):
            parts.append(self.spark.read.parquet(base).select(self.key, "c", "cnt"))
        if not parts:
            return self.spark.createDataFrame(
                [], f"{self.key} string, c long, cnt long"
            )
        raw = parts[0] if len(parts) == 1 else parts[0].unionAll(parts[1])
        return raw.groupBy(self.key, "c").agg(F.sum("cnt").alias("cnt"))

    def quantiles(self) -> DataFrame:
        """(key, n, p50_cents, p95_cents, p99_cents) — exact: the value
        at rank ⌈q·n⌉ in the merged per-value counts. The per-key window
        sorts the DOMAIN (distinct cents), not the data."""
        w = Window.partitionBy(self.key).orderBy("c")
        wn = Window.partitionBy(self.key)
        ranked = self._merged().select(
            self.key,
            "c",
            F.sum("cnt").over(w).alias("cum"),
            F.sum("cnt").over(wn).alias("n"),
        )
        aggs = [F.max("n").cast("long").alias("n")]
        for name, num, den in QUANTILES:
            # ⌈n·num/den⌉ without float: subtract the remainder before
            # the division so it is exact (the zorder DIV discipline)
            t = F.col("n") * num + (den - 1)
            rank = ((t - t % den) / den).cast("long")
            aggs.append(
                F.min(F.when(F.col("cum") >= rank, F.col("c")))
                .cast("long")
                .alias(f"{name}_cents")
            )
        return ranked.groupBy(self.key).agg(*aggs)

    def compact(self) -> None:
        """Fold all epoch partials into one (LOSSLESS — counts sum
        exactly; nothing like the heavy-hitter budget applies) via the
        generation-pointer commit. The fold lands under the RESERVED
        ``base`` dir, outside the ``epoch=N`` namespace micro-batch ids
        use: a stream attached to existing state with a FRESH checkpoint
        restarts its epoch ids at 0, and a fold stored as ``epoch=0``
        would be silently overwritten by that first batch (ADVICE r04)."""
        folded = self._merged()
        gen, gen_dir = self._state.stage()
        folded.write.mode("overwrite").parquet(os.path.join(gen_dir, "base"))
        self._state.commit(gen)
        self._state.cleanup()


# --- driver-verified face ----------------------------------------------------

def _rank_sql(num: int, den: int) -> str:
    return f"(n * {num} + {den - 1}) // {den}"


Q136_SQL = f"""
WITH cents AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c FROM events
),
counts AS (
  SELECT event_type, c, COUNT(*) AS cnt FROM cents GROUP BY event_type, c
),
ranked AS (
  SELECT event_type, c,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY c) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM counts
)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n,
       CAST(MIN(CASE WHEN cum >= {_rank_sql(1, 2)} THEN c END) AS BIGINT)
         AS p50_cents,
       CAST(MIN(CASE WHEN cum >= {_rank_sql(19, 20)} THEN c END) AS BIGINT)
         AS p95_cents,
       CAST(MIN(CASE WHEN cum >= {_rank_sql(99, 100)} THEN c END) AS BIGINT)
         AS p99_cents
FROM ranked
GROUP BY event_type
"""


def _register_query() -> None:
    import shutil

    from ..catalog import load_table
    from ..registry import register
    from ..sources.ingest import _scratch

    @register("q136_streaming_quantiles", Q136_SQL)
    def q136_streaming_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Incremental exact quantiles ≡ the batch computation,
        driver-verified (the q105/q106 pattern): the event log replays
        as four deterministic micro-batches, the first three compact,
        the fourth stays a partial — the verified read exercises the
        fold AND merge-on-read paths, and incremental maintenance must
        be invisible vs the plain batch cumulative-rank quantiles.
        State lives in the swept per-prefix scratch dir (ADVICE r03
        item 5 discipline) — mkdtemp-per-drive leaked a dir every run."""
        e = load_table(spark, sf_dir, "events")
        root = _scratch("q136_quant_")
        shutil.rmtree(root, ignore_errors=True)
        qv = StreamingQuantileView(spark, root)
        for i in range(3):
            qv.ingest_batch(e.filter(F.col("event_id") % 4 == i), epoch_id=i)
        qv.compact()
        qv.ingest_batch(e.filter(F.col("event_id") % 4 == 3), epoch_id=3)
        return qv.quantiles()


_register_query()
