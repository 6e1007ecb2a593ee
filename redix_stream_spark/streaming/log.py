"""EventLog — a named append-only log of key-value messages (the
reference's only collection type, /root/reference/lib/stream.ex:10).

At rest the log is a directory of parquet files; a message is
``(id, payload)`` where ``id`` is the server-assigned ``"<millis>-<seq>"``
(stream.ex:29, id shape asserted in test/redix/stream_test.exs:17) and
``payload`` is a flat string→string map (stream.ex:16-17 — non-string
values are stringified, exactly like the reference's ``to_string``
coercion).

Ordering: ids carry (ms, seq) numeric columns so consumers order by
``(ms, seq)`` — string comparison on the dashed form would misorder
(``"100-2" < "99-1"`` lexicographically; Redis compares numerically).

Write path: a produce batch is built on the driver as one Arrow table
(``local_frame``), which Spark plans as a JVM ``LocalTableScan`` — no
Python-worker scan — and written by Spark's parquet writer as one file.

Scale notes: one parquet file per produce batch is the single-writer
append model (the reference's Redis server is a single-writer log too).
At 100 TB the log would be a date/hour-partitioned table with the same
(ms, seq) ordering contract and compaction — the consumer contract
(read ids > position, ordered) is unchanged.
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

#: The wire schema of a log message (SURVEY.md §1.1).
MESSAGE_SCHEMA = StructType(
    [
        StructField("ms", LongType(), False),
        StructField("seq", LongType(), False),
        StructField("id", StringType(), False),
        StructField("payload", MapType(StringType(), StringType()), True),
    ]
)

#: The tombstone payload the reference silently skips (consumer.ex:286,295).
TOMBSTONE = {"": ""}


def _stringify(payload: dict) -> dict[str, str]:
    """Reference semantics: every key/value is coerced to a string
    (stream.ex:16-17,30)."""
    return {str(k): str(v) for k, v in payload.items()}


def local_frame(spark: SparkSession, rows: list[tuple], schema: StructType) -> DataFrame:
    """A DataFrame over driver-built ``rows`` (tuples in ``schema`` field
    order; dict values fill map columns; zero rows allowed).

    The rows travel as one Arrow table, which Spark plans as a JVM
    ``LocalTableScan`` whatever ``spark.sql.execution.arrow.pyspark.enabled``
    says. ``createDataFrame(<list>)`` plans a Python-RDD scan instead, so
    every action on it starts Python workers — on a warm 4-core session a
    200-row produce took 1.28 s that way against 0.25 s from Arrow
    (CLAUDE.md). The Arrow schema is derived from ``schema``, never
    written twice.
    """
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


class EventLog:
    """A named append-only log backed by a parquet directory."""

    def __init__(self, path: str):
        self.path = path
        # crash recovery for a compaction interrupted between its two
        # renames (see compact()): the old log is still intact at .old —
        # restore it; the staged .compact dir is re-creatable and stale.
        old = path + ".old"
        if not os.path.isdir(path) and os.path.isdir(old):
            os.rename(old, path)
        os.makedirs(path, exist_ok=True)
        # Single-writer id cursor (ms, seq): the log owner assigns ids like
        # the reference's Redis server does. Initialized lazily from the
        # files once, then advanced in memory — produce is O(batch), not
        # O(log). A second writer process would need to re-scan (same
        # constraint as Redis: one server owns the id sequence).
        self._cursor: tuple[int, int] | None = None

    # -- produce (R1) --------------------------------------------------

    def produce(self, spark: SparkSession, payload: dict) -> str:
        """Append one message; returns the server-assigned id (R1).

        Mirrors ``Redix.Stream.produce/3``: value coercion + auto id.
        """
        return self.produce_many(spark, [payload])[0]

    def produce_many(self, spark: SparkSession, payloads: list[dict]) -> list[str]:
        """Append a batch; ids share one millis stamp with consecutive seqs.

        Id monotonicity mirrors Redis XADD: the stamp never goes backwards
        even if the clock does, and seq increments within a stamp. An
        empty batch returns ``[]`` and writes no file for a consumer to list.
        """
        if not payloads:
            return []
        if self._cursor is None:
            self._cursor = self.max_position(spark)
        last_ms, last_seq = self._cursor
        ms = max(int(time.time() * 1000), last_ms)
        base = last_seq + 1 if ms == last_ms else 0
        rows = [
            (ms, base + i, f"{ms}-{base + i}", _stringify(p))
            for i, p in enumerate(payloads)
        ]
        df = local_frame(spark, rows, MESSAGE_SCHEMA)
        # coalesce(1): a produce batch is one append, like one XADD pipeline.
        df.coalesce(1).write.mode("append").parquet(self.path)
        self._cursor = (ms, base + len(payloads) - 1)
        return [r[2] for r in rows]

    def produce_df(self, df: DataFrame) -> None:
        """Append a prepared message DataFrame (bulk ingest path).

        Ids must already be stamped; this is the high-throughput sink
        (E3) where the caller controls partitioning.
        """
        df.select(*MESSAGE_SCHEMA.fieldNames()).write.mode("append").parquet(self.path)

    def _has_data(self) -> bool:
        return any(f.endswith(".parquet") for f in os.listdir(self.path))

    # -- read (R3 batch face) ------------------------------------------

    def read(self, spark: SparkSession) -> DataFrame:
        """Batch read of the whole log, unordered (order with (ms, seq))."""
        return spark.read.schema(MESSAGE_SCHEMA).parquet(self.path)

    def read_stream(self, spark: SparkSession) -> DataFrame:
        """Unbounded read — new files appear as new micro-batch input."""
        return spark.readStream.schema(MESSAGE_SCHEMA).parquet(self.path)

    @staticmethod
    def union_read_stream(spark: SparkSession, logs: list["EventLog"]) -> DataFrame:
        """One unbounded stream over several logs, each row tagged with its
        source log path.

        The reference documents multi-stream consumption ("the given topic
        or topics", stream.ex:41-42) but implements exactly one stream per
        consumer (consumer.ex:168,269 pins the single name); Spark's
        streaming union makes the multi-log case native. Ordering holds
        per log (ids are per-log); cross-log order is arrival order, as in
        any multi-topic consumer.
        """
        streams = [
            log.read_stream(spark).withColumn("stream", F.lit(log.path))
            for log in logs
        ]
        out = streams[0]
        for s in streams[1:]:
            out = out.unionByName(s)
        return out

    def compact(self, spark: SparkSession, target_files: int = 1) -> int:
        """Rewrite the log into ``target_files`` parquet files (R12-adjacent
        housekeeping).

        Streaming appends accumulate one file per produce batch — the
        classic small-file problem. Compaction preserves every message and
        id (the consumer contract orders by (ms, seq), never by file).
        Returns the message count.

        Checkpoint interaction: Spark's file-stream checkpoint tracks
        *file names*, and compaction rewrites every file under a new name
        — so a consumer with an existing checkpoint sees the whole
        compacted log as "new" and replays it. ``Consumer`` filters that
        replay with its durable delivered watermark (``pos_file``), so
        compaction between checkpointed runs does NOT re-deliver applied
        messages (tests/test_streaming.py::
        test_compact_after_checkpointed_run_no_redelivery). Consumers
        from other runtimes tracking positions by file would need the
        same (ms, seq) watermark discipline.

        At 100 TB this runs per partition (e.g. per day) with
        ``target_files`` sized to ~1 GB outputs; here it is the whole dir.
        NOTE: not concurrency-safe with an active producer — run it from
        the log owner, like Redis's single writer.

        Commit protocol: stage → rename(path, path.old) → rename(stage,
        path) → delete path.old. Every crash window is recoverable (the
        __init__ recovery restores path.old when path is missing), and
        no window deletes the only copy. This is deliberately NOT the
        generation-pointer commit the durable operator states use
        (``streaming.commit``): the log's path must stay stable because
        ``readStream`` subscribes to it by literal directory — POSIX/HDFS
        rename-atomicity is therefore a DOCUMENTED CONSTRAINT of log
        compaction. On S3/GCS, run the log as a real table format (or
        skip compaction — the consumer contract never depends on file
        count); the operator states have no such constraint.
        ``streaming.manifest_log.ManifestEventLog`` IS that table-format
        run of the log (manifest + pointer commit, logical (ms, seq)
        stream offsets) — use it where compaction under S3/GCS or
        replay-free compaction matters; this class stays the
        zero-ceremony local/HDFS face.
        """
        df = self.read(spark)
        n = df.count()
        tmp = self.path + ".compact"
        df.repartition(target_files).write.mode("overwrite").parquet(tmp)
        import shutil

        old = self.path + ".old"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(self.path, old)
        os.rename(tmp, self.path)
        shutil.rmtree(old)
        return n

    def max_position(self, spark: SparkSession) -> tuple[int, int]:
        """Current end of stream as (ms, seq); (-1, -1) when empty.

        Plays the reference's ``:end_of_stream`` / ``"$"`` position
        (consumer.ex:81-82).
        """
        if not self._has_data():
            return (-1, -1)
        row = (
            self.read(spark)
            .orderBy(F.col("ms").desc(), F.col("seq").desc())
            .limit(1)
            .collect()
        )
        return (row[0]["ms"], row[0]["seq"]) if row else (-1, -1)


def make_checkpoint_dir(root: str, name: str) -> str:
    path = os.path.join(root, name)
    os.makedirs(path, exist_ok=True)
    return path


def temp_log_name() -> str:
    """Random log names, as the reference's tests use (consumer_test.exs:403-405)."""
    return f"stream-{uuid.uuid4().hex}"
