"""Python streaming DataSource serving an event log incrementally by id —
the faithful mapping of the reference's blocking scan (R3: XREAD loop,
/root/reference/lib/redix/stream/consumer.ex:252-281).

Where the built-in file source tracks *files*, this source tracks *offsets
in the log's id space* (``event_id``), exactly like the reference's
position cursor: each micro-batch serves ids in ``(start, end]`` and the
committed offset only ever moves forward. A ``maxRowsPerTrigger`` option
provides the backpressure the reference lacks (it reads unbounded batches —
no COUNT argument, consumer.ex:146-156; SURVEY.md §4 flags this as a gap
worth fixing).

Usage::

    spark.dataSource.register(EventLogDataSource)
    df = (spark.readStream.format("eventlog")
          .option("path", "/root/testdata/sf0.001/events.parquet")
          .option("idColumn", "event_id")
          .option("maxRowsPerTrigger", "5000")
          .load())

Scale notes: ``latestOffset`` does one footer-level max-id scan per trigger
(driver-side, metadata-cheap); ``read`` runs on executors, one partition per
id sub-range, filtering with parquet predicate pushdown via pyarrow.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


class IdRangePartition(InputPartition):
    def __init__(self, path: str, id_col: str, start: int, end: int):
        self.path = path
        self.id_col = id_col
        self.start = start  # exclusive
        self.end = end      # inclusive


class EventLogDataSource(DataSource):
    """format("eventlog") — an append-only log served by id ranges."""

    @classmethod
    def name(cls) -> str:
        return "eventlog"

    def schema(self) -> str:
        # Default schema of the testdata events log; ts is surfaced as raw
        # nanosecond ticks (bigint) regardless of the file's timestamp unit,
        # exactly like catalog._load_events's nanosAsLong face.
        return (
            "event_id bigint, ts bigint, user_id bigint, "
            "event_type string, value double, props string"
        )

    def streamReader(self, schema: StructType) -> "EventLogStreamReader":
        return EventLogStreamReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool) -> "EventLogWriter":
        if overwrite:
            raise ValueError("eventlog is append-only (reference R1: XADD)")
        return EventLogWriter(self.options)


class EventLogStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("eventlog source requires option 'path'")
        self.id_col = options.get("idcolumn", options.get("idColumn", "event_id"))
        self.max_rows = int(options.get("maxrowspertrigger", options.get("maxRowsPerTrigger", "10000")))
        self.n_splits = int(options.get("numpartitions", options.get("numPartitions", "4")))
        self._start = int(options.get("startingid", options.get("startingId", "-1")))
        #: opt-in: pace the FIRST batch from startingId. Only safe when
        #: the checkpoint is known fresh — on a restart the first paced
        #: cut can land below the checkpointed position and redeliver
        #: (see latestOffset); default keeps the safe unpaced first batch.
        self._first_paced = str(
            options.get("firstbatchpaced", options.get("firstBatchPaced", "false"))
        ).lower() == "true"

    # -- offset protocol (the consumer's durable position, R3/R11) ------

    def initialOffset(self) -> dict:
        # NOTE (measured, Spark 4.1): the engine calls latestOffset
        # BEFORE initialOffset even on a fresh stream, and partitions()
        # runs in a different process than the offset calls — so this
        # cannot seed first-batch pacing; see latestOffset.
        if not hasattr(self, "_planned"):
            self._planned = self._start
        return {"last_id": self._start}

    def _max_id(self) -> int:
        """Metadata-only max over the id column, from parquet row-group
        statistics — O(row groups) footer reads per trigger, never a data
        read of the column (which would be O(rows) driver work on every
        poll). Falls back to scanning only for stats-less files."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        dataset = ds.dataset(self.path, format="parquet")
        best = -1
        need_scan = []
        for frag in dataset.get_fragments():
            frag.ensure_complete_metadata()
            frag_best, frag_ok = -1, True
            for rg in frag.row_groups:
                stats = rg.statistics or {}
                mx = stats.get(self.id_col, {}).get("max")
                if mx is None:
                    frag_ok = False
                    break
                frag_best = max(frag_best, mx)
            if frag_ok and frag_best >= 0:
                best = max(best, frag_best)
            else:
                need_scan.append(frag)
        for frag in need_scan:  # parquet writers without stats (rare)
            t = frag.to_table(columns=[self.id_col])
            if t.num_rows:
                best = max(best, pc.max(t.column(self.id_col)).as_py())
        return best

    def latestOffset(self) -> dict:
        # Advance at most max_rows per trigger — bounded micro-batches
        # (the backpressure knob the reference lacks). Pacing state is
        # planner-local: durability lives in the checkpoint.
        high = self._max_id()
        planned = getattr(self, "_planned", None)
        if planned is None:
            if self._first_paced:
                planned = self._start  # user asserts a fresh checkpoint
            else:
                # FIRST latestOffset of this run: fresh and restarted
                # runs are indistinguishable here (the engine calls this
                # before initialOffset; partitions runs in another
                # process), and a restart's checkpointed position is
                # invisible — a paced cut from self._start could land
                # BELOW it, Spark would record the regressed offset, and
                # committed ids would redeliver. One unpaced batch to
                # the true end; pacing bounds every batch after it (same
                # policy as the manifestlog source).
                self._planned = max(high, self._start)
                return {"last_id": self._planned}
        nxt = min(high, planned + self.max_rows)
        if nxt > planned:
            self._planned = nxt
        return {"last_id": max(planned, nxt)}

    def commit(self, end: dict) -> None:
        # Durable position = the query checkpoint; nothing to do here.
        # (Position only moves forward — reference consumer.ex:276-278.)
        pass

    def partitions(self, start: dict, end: dict) -> list[IdRangePartition]:
        lo, hi = start["last_id"], end["last_id"]
        # Restart re-sync: never plan below what the checkpoint replays.
        planned = getattr(self, "_planned", None)
        self._planned = hi if planned is None else max(planned, hi)
        if hi <= lo:
            return [IdRangePartition(self.path, self.id_col, lo, lo)]
        span = hi - lo
        n = max(1, min(self.n_splits, span))
        step = (span + n - 1) // n
        return [
            IdRangePartition(self.path, self.id_col, lo + i * step, min(lo + (i + 1) * step, hi))
            for i in range(n)
            if lo + i * step < hi
        ]

    # -- executor-side read --------------------------------------------

    def read(self, partition: IdRangePartition):
        import pyarrow.dataset as ds

        if partition.end <= partition.start:
            return iter([])
        dataset = ds.dataset(partition.path, format="parquet")
        expr = (ds.field(partition.id_col) > partition.start) & (
            ds.field(partition.id_col) <= partition.end
        )
        names = [f.name for f in self.schema.fields]
        table = dataset.to_table(filter=expr, columns=names)
        # Timestamp columns surface as raw NANOSECOND ticks (bigint),
        # whatever unit the file stores (the testdata generator has shipped
        # both TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across rounds) — the
        # source contract must not silently change with the file's unit.
        import pyarrow as pa

        cols = []
        for name in names:
            col = table.column(name)
            if pa.types.is_timestamp(col.type):
                col = col.cast(pa.timestamp("ns")).cast(pa.int64())
            cols.append(col)
        for batch in pa.table(dict(zip(names, cols))).to_batches():
            for r in batch.to_pylist():
                yield tuple(r[c] for c in names)


# ---------------------------------------------------------------------------
# Writer half: format("eventlog") as a sink (E3 through the connector API).
# ---------------------------------------------------------------------------


class EventLogWriteCommit(WriterCommitMessage):
    def __init__(self, files: list[str]):
        self.files = files


class EventLogWriter(DataSourceWriter):
    """Append-only writer: each task writes one parquet part file of
    message rows; commit is rename-free (parquet files are immutable and
    readers key on row content, not file names), abort removes the job's
    files. Ids must be pre-assigned by the producer — the single-writer
    id authority lives in EventLog, exactly like the reference's Redis
    server owns XADD ids (stream.ex:29).

    A part file appears under its final name only once complete: the
    task writes a dot-prefixed temp file in the same directory and
    ``os.replace``s it. Spark's file listing and pyarrow datasets both
    skip dot-prefixed names, so a concurrent reader (``_max_id``, a
    file-stream trigger) never opens a half-written part."""

    def __init__(self, options: dict):
        import uuid

        self.path = options.get("path")
        if not self.path:
            raise ValueError("eventlog sink requires option 'path'")
        # One token per write job: abort sweeps only this job's temps.
        self.job = uuid.uuid4().hex[:12]

    def write(self, iterator) -> EventLogWriteCommit:
        import os
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = list(iterator)
        if not rows:
            return EventLogWriteCommit([])
        cols = rows[0].__fields__
        table = pa.table(
            {c: [getattr(r, c) for r in rows] for c in cols}
        )
        os.makedirs(self.path, exist_ok=True)
        name = f"part-{self.job}-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path, f".{name}.tmp")
        fname = os.path.join(self.path, name)
        try:
            pq.write_table(table, tmp)
            os.replace(tmp, fname)
        finally:  # a failed write leaves no temp behind
            if os.path.exists(tmp):
                os.remove(tmp)
        return EventLogWriteCommit([fname])

    def commit(self, messages) -> None:
        pass  # files are already durable and self-contained

    def abort(self, messages) -> None:
        import glob
        import os

        leftovers = glob.glob(
            os.path.join(glob.escape(self.path), f".part-{self.job}-*.parquet.tmp")
        )
        for m in messages:
            if m is not None:
                leftovers.extend(m.files)
        for f in leftovers:
            if os.path.exists(f):
                os.remove(f)
