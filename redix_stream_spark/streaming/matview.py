"""Streaming materialized view: incremental aggregate maintenance.

The missing piece between the event log and the batch rollups (E9/E18):
a durable aggregate table that a stream keeps up to date, readable at any
moment, exactly equal to the batch aggregate over everything ingested.

Design — base + epoch-tagged partials (no state store, no transaction
log):

- Each micro-batch is reduced to a *partial aggregate* (mergeable
  measures only: COUNT and exact-DECIMAL SUM / MIN / MAX) and written to
  ``partials/epoch=N/`` with per-directory overwrite. Replaying an epoch
  after a crash rewrites the same directory with the same rows —
  **idempotent, hence exactly-once** without a transactional table
  format; contrast the at-least-once append path documented in
  ``pipeline.py``.
- ``read()`` merges base + partials with one re-aggregation. Partials
  are already aggregated per epoch, so merge cost is proportional to
  (groups × epochs-since-compaction), not to raw events.
- ``compact()`` folds the partials present at its start into a new base
  (staged directory, then swap), and removes exactly the folded
  directories. A crash between swap and cleanup leaves doubled partials
  *on disk* but not in results: fold marks the base with the epochs it
  contains and ``read()``/``compact()`` skip partial dirs already folded
  — the same snapshot-listing discipline as stream_dedup's band index.
- Late data needs no watermark here: a late event lands in its batch's
  partial and merges into its (old) window group like any other row. The
  view is always the full-history aggregate; retention trimming is a
  filter in ``read``.

Scale shape: per-batch work is one map-side-combined groupBy of the
batch; merge-on-read shuffles only pre-aggregated groups; compaction is
the only full-view pass and runs on whatever cadence bounds the partial
count. State lives in the durable table itself — nothing driver-side,
no growing state store.

Reference parity: the reference has no aggregate maintenance at all
(handlers are side-effecting callbacks, consumer.ex:283-299); this is
the engine-surface upgrade of "consume and fold into a table".
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Exact-decimal sum type for the ``value`` measure (see numeric.py).
SUM_DEC = "decimal(28,6)"


class StreamingMatView:
    """Hourly (or any-duration) rollup of an event stream, by key columns.

    Measures: ``n`` (BIGINT count) and ``sum_dec`` (exact DECIMAL sum of
    ``value_col``) — both associative and commutative, so partials merge
    in any order and any grouping.
    """

    def __init__(
        self,
        path: str,
        keys: tuple[str, ...] = ("event_type",),
        ts_col: str = "ts",
        value_col: str = "value",
        window_duration: str = "1 hour",
    ):
        self.path = path
        self.keys = list(keys)
        self.ts_col = ts_col
        self.value_col = value_col
        self.window_duration = window_duration
        os.makedirs(self._partials_root, exist_ok=True)

    # --- layout -----------------------------------------------------------

    @property
    def _base_state(self):
        from .commit import GenerationState

        return GenerationState(os.path.join(self.path, "base"))

    @property
    def _partials_root(self) -> str:
        return os.path.join(self.path, "partials")

    def _folded_epochs(self) -> set[int]:
        return set(self._base_state.meta().get("folded", ()))

    def _partial_dirs(self) -> dict[int, str]:
        out: dict[int, str] = {}
        if not os.path.isdir(self._partials_root):
            return out
        for name in os.listdir(self._partials_root):
            if name.startswith("epoch="):
                out[int(name.split("=", 1)[1])] = os.path.join(
                    self._partials_root, name
                )
        return out

    # --- maintenance ------------------------------------------------------

    def _partial(self, batch: DataFrame) -> DataFrame:
        win = F.window(F.col(self.ts_col), self.window_duration)
        return (
            batch.groupBy(win.alias("win"), *self.keys)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col(self.value_col).cast("decimal(18,6)"))
                .cast(SUM_DEC)
                .alias("sum_dec"),
            )
            .select(
                F.col("win.start").alias("window_start"),
                *self.keys,
                "n",
                "sum_dec",
            )
        )

    def update(self, batch: DataFrame, epoch_id: int) -> None:
        """foreachBatch hook: reduce the batch, overwrite its epoch dir.

        Overwrite (not append) makes crash-replay of an epoch a no-op —
        the idempotence the exactly-once claim rests on.
        """
        out = self._partial(batch)
        out.write.mode("overwrite").parquet(
            os.path.join(self._partials_root, f"epoch={epoch_id}")
        )

    def attach(self, stream_df: DataFrame, checkpoint_dir: str):
        """Wire the view to a streaming DataFrame (caller starts/awaits)."""
        return (
            stream_df.writeStream.foreachBatch(self.update)
            .option("checkpointLocation", checkpoint_dir)
        )

    # --- read / compact ---------------------------------------------------

    def _merge(self, frames: list[DataFrame]) -> DataFrame:
        df = frames[0]
        for f_ in frames[1:]:
            df = df.unionByName(f_)
        return df.groupBy("window_start", *self.keys).agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_dec").cast(SUM_DEC).alias("sum_dec"),
        )

    def _frames(self, spark: SparkSession) -> list[DataFrame]:
        frames: list[DataFrame] = []
        base_dir = self._base_state.current_dir()
        if base_dir is not None:
            frames.append(spark.read.parquet(base_dir))
        folded = self._folded_epochs()
        for epoch, d in sorted(self._partial_dirs().items()):
            if epoch not in folded:
                frames.append(spark.read.parquet(d))
        return frames

    def read(self, spark: SparkSession) -> DataFrame:
        """Current view contents: base + unfolded partials, merged."""
        frames = self._frames(spark)
        if not frames:
            raise FileNotFoundError(f"empty materialized view at {self.path}")
        return self._merge(frames)

    def compact(self, spark: SparkSession) -> int:
        """Fold current partials into a new base generation; returns
        epochs folded.

        Pointer commit (``commit.GenerationState`` — object-store-safe,
        unlike a directory-rename swap): write the merged view into a
        NEW generation dir, then atomically flip the ``CURRENT`` pointer
        carrying the folded-epoch set WITH it. Folding the set into the
        same commit also closes the old two-step swap's crash window
        (new base live + manifest not yet excluding its folded epochs =
        every read double-counted them). A crash before the commit
        changes nothing a reader can see; after it, stale partial dirs
        and the old generation are excluded by pointer and cleaned
        lazily — cleanup retries on the next compact.
        """
        parts = {
            e: d for e, d in self._partial_dirs().items()
            if e not in self._folded_epochs()
        }
        frames = self._frames(spark)
        if not frames:
            return 0
        state = self._base_state
        gen, gen_dir = state.stage()
        self._merge(frames).write.mode("overwrite").parquet(gen_dir)
        folded = self._folded_epochs() | set(parts)
        # Folded-and-deleted epochs stay in the pointer meta: if a
        # lagging replay of an old epoch ever re-creates its dir, it
        # stays dead.
        state.commit(gen, folded=sorted(folded))
        state.cleanup()
        for d in parts.values():
            shutil.rmtree(d, ignore_errors=True)
        return len(parts)


# --- driver-verified face ---------------------------------------------------

Q105_SQL = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY CAST(date_trunc('hour', ts) AS TIMESTAMP), event_type
"""


def _register_query() -> None:
    from ..catalog import load_table
    from ..registry import register
    from ..sources.ingest import _scratch

    @register("q105_matview_rollup", Q105_SQL)
    def q105_matview_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Incremental materialized view ≡ batch rollup, driver-verified.

        The event log is replayed as four deterministic micro-batches
        (event_id mod 4) into a fresh view; the first three epochs are
        compacted into the base, the fourth stays a partial — so the
        verified read exercises both the fold path and merge-on-read.
        The oracle is the plain batch rollup: incremental maintenance
        must be *invisible* in the result.
        """
        e = load_table(spark, sf_dir, "events")
        root = _scratch("q105_matview_")
        shutil.rmtree(root, ignore_errors=True)
        mv = StreamingMatView(root)
        for i in range(3):
            mv.update(e.filter(F.col("event_id") % 4 == i), epoch_id=i)
        mv.compact(spark)
        mv.update(e.filter(F.col("event_id") % 4 == 3), epoch_id=3)
        return mv.read(spark).select(
            "window_start",
            "event_type",
            "n",
            F.col("sum_dec").cast("double").alias("sum_value"),
        )


_register_query()


# --- keyed latest-state view (log compaction) -------------------------------

def order_key(ts_col: str = "ts", id_col: str = "event_id"):
    """Total-order key for per-key argmax, mergeable across engines.

    (ts, id) encoded as a fixed-width digit string — lexicographic order
    ≡ the composite order, and both Spark's ``max_by`` and DuckDB's
    ``arg_max`` accept a VARCHAR ordering argument (neither accepts a
    struct). The timestamp digits come from a timezone-free format
    (``unix_micros`` rejects TIMESTAMP_NTZ, and an ntz→ltz cast would
    smuggle the session timezone into the key); 20 digits hold the
    micro-precision datetime and any BIGINT id.
    """
    return F.concat(
        F.date_format(F.col(ts_col), "yyyyMMddHHmmssSSSSSS"),
        F.lpad(F.col(id_col).cast("string"), 20, "0"),
    )


SQL_ORDER_KEY = "strftime(ts, '%Y%m%d%H%M%S%f') || lpad(CAST(event_id AS VARCHAR), 20, '0')"


class StreamingLatestView(StreamingMatView):
    """Per-key latest-state table — Kafka-style log compaction as a view.

    The stream-table duality op the reference's consumers hand-build in
    side-effecting handlers: fold an event log into "current state per
    key". Same base+partials layout as StreamingMatView; the measure is
    an argmax, which is associative and commutative over the order key,
    so partials merge exactly like the sums do. Per-batch work is a
    map-side-combined ``max_by`` — the aggregate form beats the
    row_number window at scale because partial aggregation collapses
    each key to one row *before* the shuffle.
    """

    def __init__(
        self,
        path: str,
        key: str = "user_id",
        ts_col: str = "ts",
        id_col: str = "event_id",
        payload: tuple[str, ...] = ("event_type", "value"),
        tombstone: str | None = None,
    ):
        """``tombstone`` names a BOOLEAN column in the batch frame (the
        caller derives it — e.g. ``event_type == 'delete'`` — mirroring
        the reference's tombstone payload convention, R10). When set,
        a key whose *latest* event is a tombstone is dead in
        ``read_state()`` but its row stays in the durable view: dropping
        it would let a late-arriving OLDER update resurrect the key
        (the Kafka delete-retention subtlety — here retention is
        forever, which the argmax merge makes free)."""
        super().__init__(path, keys=(key,), ts_col=ts_col)
        self.key = key
        self.id_col = id_col
        self.payload = list(payload)
        self.tombstone = tombstone

    def _cols(self) -> list[str]:
        extra = ["is_tomb"] if self.tombstone else []
        return ["last_ts", *self.payload, *extra]

    def _latest_agg(self, df: DataFrame, ord_col: str, n_col: str) -> DataFrame:
        aggs = [F.max(ord_col).alias("okey"), F.sum(n_col).cast("long").alias("n_events")]
        aggs += [F.max_by(c, ord_col).alias(c) for c in self._cols()]
        return df.groupBy(self.key).agg(*aggs)

    def _partial(self, batch: DataFrame) -> DataFrame:
        cols = [
            F.col(self.ts_col).alias("last_ts"),
            *[F.col(c) for c in self.payload],
        ]
        if self.tombstone:
            cols.append(F.col(self.tombstone).alias("is_tomb"))
        tagged = batch.select(
            self.key,
            order_key(self.ts_col, self.id_col).alias("okey"),
            F.lit(1).alias("one"),
            *cols,
        )
        return self._latest_agg(tagged, "okey", "one")

    def _merge(self, frames: list[DataFrame]) -> DataFrame:
        df = frames[0]
        for f_ in frames[1:]:
            df = df.unionByName(f_)
        return self._latest_agg(df, "okey", "n_events")

    def read_state(self, spark: SparkSession) -> DataFrame:
        """Live keys only: rows whose latest event is a tombstone are
        filtered out (the view itself retains them — see __init__)."""
        out = self.read(spark)
        if self.tombstone:
            out = out.filter(~F.col("is_tomb"))
        return out


Q106_SQL = f"""
SELECT user_id,
       arg_max(ts, okey) AS last_ts,
       arg_max(event_type, okey) AS last_type,
       CAST(arg_max(CAST(value AS DECIMAL(18,6)), okey) AS DOUBLE) AS last_value,
       COUNT(*) AS n_events
FROM (SELECT *, {SQL_ORDER_KEY} AS okey FROM events)
GROUP BY user_id
"""


def _register_latest_query() -> None:
    from ..catalog import load_table
    from ..registry import register
    from ..sources.ingest import _scratch

    @register("q106_latest_state", Q106_SQL)
    def q106_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Keyed latest-state (log compaction) via the incremental view:
        three simulated epochs, compact, then one more — the verified
        result must equal the batch per-key argmax over the whole log.

        Scale shape: map-side-combined max_by per key (each key collapses
        to one row before the shuffle), merge-on-read over per-key rows —
        never a per-key row_number window over the raw log.
        """
        e = load_table(spark, sf_dir, "events")
        root = _scratch("q106_latest_")
        shutil.rmtree(root, ignore_errors=True)
        lv = StreamingLatestView(root)
        for i in range(3):
            lv.update(e.filter(F.col("event_id") % 4 == i), epoch_id=i)
        lv.compact(spark)
        lv.update(e.filter(F.col("event_id") % 4 == 3), epoch_id=3)
        return lv.read(spark).select(
            "user_id",
            "last_ts",
            F.col("event_type").alias("last_type"),
            F.col("value").cast("decimal(18,6)").cast("double").alias("last_value"),
            "n_events",
        )


_register_latest_query()


class StreamingOhlcView(StreamingMatView):
    """OHLC bars as an incremental materialized view — cashing q114's
    mergeability claim with code: open/close are argmin/argmax over the
    (ts, id) order key, and argmin/argmax MERGE when the partial carries
    its own winning key — ``min_by(open_v, open_k)`` across partials is
    associative exactly like the sums, so per-epoch bar partials fold
    into the base with no rescan. High/low/volume merge as plain
    MAX/MIN/SUM over exact decimals. Inherits the epoch-overwrite
    idempotency, merge-on-read, and staged-swap compaction unchanged.

    Verified (tests/test_matview.py): N-batch ingest + replay + compact
    ≡ the batch q114 bars, bit-for-bit on the cast doubles.
    """

    def _partial(self, batch: DataFrame) -> DataFrame:
        win = F.window(F.col(self.ts_col), self.window_duration)
        v = F.col(self.value_col).cast("decimal(18,6)")
        ok = order_key(self.ts_col, "event_id")
        return (
            batch.groupBy(win.alias("win"), *self.keys)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(v).cast(SUM_DEC).alias("sum_dec"),
                F.min_by(v, ok).cast(SUM_DEC).alias("open_v"),
                F.min(ok).alias("open_k"),
                F.max_by(v, ok).cast(SUM_DEC).alias("close_v"),
                F.max(ok).alias("close_k"),
                F.max(v).cast(SUM_DEC).alias("high"),
                F.min(v).cast(SUM_DEC).alias("low"),
            )
            .select(
                F.col("win.start").alias("window_start"),
                *self.keys,
                "n",
                "sum_dec",
                "open_v",
                "open_k",
                "close_v",
                "close_k",
                "high",
                "low",
            )
        )

    def _merge(self, frames: list[DataFrame]) -> DataFrame:
        df = frames[0]
        for f_ in frames[1:]:
            df = df.unionByName(f_)
        return df.groupBy("window_start", *self.keys).agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_dec").cast(SUM_DEC).alias("sum_dec"),
            F.min_by("open_v", "open_k").cast(SUM_DEC).alias("open_v"),
            F.min("open_k").alias("open_k"),
            F.max_by("close_v", "close_k").cast(SUM_DEC).alias("close_v"),
            F.max("close_k").alias("close_k"),
            F.max("high").cast(SUM_DEC).alias("high"),
            F.min("low").cast(SUM_DEC).alias("low"),
        )

    def read_bars(self, spark: SparkSession) -> DataFrame:
        """The q114 face of the view (same column names and casts)."""
        m = self.read(spark)
        return m.select(
            *self.keys,
            F.col("window_start").alias("hr"),
            F.col("open_v").cast("double").alias("open"),
            F.col("high").cast("double").alias("high"),
            F.col("low").cast("double").alias("low"),
            F.col("close_v").cast("double").alias("close"),
            F.col("n").alias("n_trades"),
            F.col("sum_dec").cast("double").alias("volume"),
        )
