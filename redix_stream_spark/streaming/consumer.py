"""Consumer — supervised, position-tracking log consumption with
at-least-once acknowledgement (reference consumer.ex, all 352 lines of it,
re-expressed on Structured Streaming).

Semantics preserved:

- **Ordered apply (R6)**: within a micro-batch, messages reach the handler
  in (ms, seq) order. ``ordering="strict"`` is the reference's exact
  single-threaded semantics (README.md:124); ``ordering="by_key"``
  partitions by a key column and keeps per-key order — the documented
  scale relaxation (SURVEY.md §7 hard part 2).
- **Positions (R3/R11)**: the checkpoint directory is the consumer's
  durable position. ``start_pos`` resolves exactly like the reference's
  matrix (consumer.ex:71-91): an existing checkpoint dominates (the
  ``:last_known_message`` column), else start_of_stream replays history,
  end_of_stream takes only messages produced after attach.
- **Groups + ack (R4/R7/R8)**: a group is a (checkpoint, ack-log) pair —
  every group sees every message exactly once on success (checkpoint
  commit = XACK batch). Handler returning DEFER withholds the ack
  (consumer.ex:203-204); ``Consumer.ack(id)`` appends it later
  (consumer.ex:114-124). ``pending()`` is delivered ∖ acked — what a
  crashed consumer's successor must reprocess (consumer.ex:159-165).
- **Errors (R9)**: ``raise_errors=True`` (reference default,
  README.md:118) re-raises → the micro-batch fails → the checkpoint does
  NOT advance → redelivery on restart (at-least-once, verified by
  tests/test_streaming.py::test_crash_resume). ``raise_errors=False``
  records the failure in the dead-letter log and moves on.
- **Tombstones (R10)**: payloads equal to ``{"": ""}`` are skipped before
  the handler sees them (consumer.ex:286,295).
- **Competing consumers (R4c)**: the reference distributes a group's
  messages across consumer_names, each processing its share
  simultaneously and blocking only itself (consumer_test.exs:168-221).
  Here a group declares STATIC membership (``group_members`` — the
  Kafka static-group-membership shape): the message-id space is
  deterministically sharded by md5(id) mod len(members), each member
  runs its own streaming query (own checkpoint + watermarks) over its
  disjoint shard, and ack/DLQ stay group-scoped. Disjoint + covering
  shards give exactly-once-per-group on success with true concurrent
  processing; a member's crash/restart replays only its own shard.
  Membership is static by design — changing it re-keys the shards, so
  drain the group first (document: add/remove members only at a group
  quiesce point).
- **Supervision (R13)**: ``run_forever`` is the one-for-one restart loop;
  ``run_once`` is a drain (Trigger.AvailableNow) used by tests and batch
  catch-up.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field
from enum import Enum

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..session import ship_package
from typing import TYPE_CHECKING

from .log import MESSAGE_SCHEMA, TOMBSTONE, EventLog, local_frame

if TYPE_CHECKING:  # runtime import is lazy (in _stream) to avoid a cycle
    from .manifest_log import ManifestEventLog


#: Group ack log (XACK) and dead-letter log rows.
ACK_SCHEMA = StructType([StructField("id", StringType())])
DLQ_SCHEMA = StructType(
    [StructField("id", StringType()), StructField("error", StringType())]
)


class HandlerResult(Enum):
    OK = "ok"        # processed → ack (consumer.ex:199-201)
    DEFER = "defer"  # processed, ack later via Consumer.ack (consumer.ex:203-204)


#: handler(id, payload) -> HandlerResult (or raises) — the reference's
#: 2-arity handler (README.md:38).
Handler = Callable[[str, dict], HandlerResult]


@dataclass
class Consumer:
    log: EventLog | ManifestEventLog
    handler: Handler
    checkpoint_root: str
    group_name: str | None = None
    consumer_name: str | None = None
    start_pos: str | tuple[int, int] = "start_of_stream"
    #: R11/reference consumer.ex:80-91 (README.md:117): with a group,
    #: ``process_pending=True`` (default, XREADGROUP from "0") reprocesses
    #: the backlog this consumer claimed but never finished — here, the
    #: crash-replay of the uncommitted tail. ``False`` is the reference's
    #: jump-to-``">"``: skip everything already HANDED to handlers (the
    #: attempted watermark) and start at never-delivered messages.
    process_pending: bool = True
    #: R4c competing consumers: static group membership. When set (requires
    #: group_name, and consumer_name ∈ members), this consumer processes
    #: only its md5(id)-shard of the group's messages; the other members —
    #: each their own Consumer instance with the SAME members tuple — run
    #: concurrently over the disjoint rest. See the module docstring.
    group_members: tuple[str, ...] | None = None
    raise_errors: bool = True
    ordering: str = "strict"  # "strict" | "by_key"
    #: Backpressure: bound each micro-batch to this many log files (the
    #: reference reads unbounded batches — no COUNT argument,
    #: consumer.ex:146-156; SURVEY §4 flags that as a gap worth closing).
    max_files_per_trigger: int | None = None
    _attach_pos: tuple[int, int] | None = field(default=None, repr=False)

    # -- wiring ---------------------------------------------------------

    def __post_init__(self) -> None:
        if self.group_members is not None:
            if not self.group_name:
                raise ValueError("group_members requires a group_name")
            if self.consumer_name not in self.group_members:
                raise ValueError(
                    f"consumer_name {self.consumer_name!r} not in "
                    f"group_members {self.group_members!r}"
                )

    @property
    def _name(self) -> str:
        """Scope for per-consumer state (checkpoint, watermarks): within a
        sharded group each member owns its own query lineage."""
        base = self.group_name or self.consumer_name or "default"
        if self.group_members is not None:
            return f"{base}--{self.consumer_name}"
        return base

    @property
    def _group_scope(self) -> str:
        """Scope for group-shared state (acks, DLQ): the reference's XACK
        and error stream are per-group, whichever member processed the
        message."""
        return self.group_name or self.consumer_name or "default"

    def _shard_filter(self, df: DataFrame) -> DataFrame:
        """Restrict to this member's deterministic shard of the group's
        id space. md5 (not crc32) keeps the repo's one-hash discipline;
        the first 8 hex chars as an integer are uniform over 2^32."""
        if self.group_members is None:
            return df
        members = sorted(self.group_members)
        idx = members.index(self.consumer_name)
        bucket = F.conv(F.substring(F.md5(F.col("id")), 1, 8), 16, 10).cast(
            "long"
        ) % len(members)
        return df.filter(bucket == idx)

    @property
    def checkpoint_dir(self) -> str:
        return os.path.join(self.checkpoint_root, f"ckpt-{self._name}")

    @property
    def ack_dir(self) -> str:
        return os.path.join(self.checkpoint_root, f"ack-{self._group_scope}")

    @property
    def dlq_dir(self) -> str:
        return os.path.join(self.checkpoint_root, f"dlq-{self._group_scope}")

    def _write_subdir(self, group_dir: str) -> str:
        """Where THIS consumer appends into a group-shared log. Competing
        members write concurrently, and two parquet append jobs on one
        directory race on the shared ``_temporary`` staging dir (one job's
        commit cleanup deletes the other's in-flight files) — so each
        member appends under its own subdirectory; reads walk the tree."""
        if self.group_members is None:
            return group_dir
        return os.path.join(group_dir, f"member-{self.consumer_name}")

    @property
    def pos_file(self) -> str:
        """Durable delivered-position low-watermark (highest (ms, seq) whose
        batch fully applied). Spark's checkpoint tracks *files*, so this
        (ms, seq) watermark is what makes positions survive compaction —
        compact() rewrites every file under new names and the file-stream
        source re-lists them all, but rows at or below the watermark are
        filtered out on replay. Also the basis of ``pending()``'s
        delivered ∖ acked semantics (reference XPENDING,
        consumer.ex:159-165)."""
        return os.path.join(self.checkpoint_root, f"pos-{self._name}.json")

    @property
    def attempted_file(self) -> str:
        """Durable delivery-ATTEMPT high-watermark: advanced BEFORE a
        batch's handlers run (vs ``pos_file``, advanced after the batch
        fully applies). The gap between the two after a crash is exactly
        the consumer's claimed-but-unprocessed backlog — what the
        reference's ``process_pending`` knob decides to replay or skip."""
        return os.path.join(self.checkpoint_root, f"att-{self._name}.json")

    def _read_pos(self, path: str) -> tuple[int, int]:
        import json

        if not os.path.exists(path):
            return (-1, -1)
        with open(path) as f:
            d = json.load(f)
        return (d["ms"], d["seq"])

    def _write_pos(self, path: str, ms: int, seq: int) -> None:
        import json

        if (ms, seq) <= self._read_pos(path):
            return
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"ms": ms, "seq": seq}, f)
        os.replace(tmp, path)  # atomic on POSIX

    def delivered_position(self) -> tuple[int, int]:
        """Highest delivered (ms, seq); (-1, -1) when nothing delivered."""
        return self._read_pos(self.pos_file)

    def attempted_position(self) -> tuple[int, int]:
        """Highest (ms, seq) ever handed to handlers (≥ delivered)."""
        return max(self._read_pos(self.attempted_file), self.delivered_position())

    def _advance_delivered(self, ms: int, seq: int) -> None:
        self._write_pos(self.pos_file, ms, seq)

    def attach(self, spark: SparkSession) -> "Consumer":
        """Record the attach-time end of stream — the moment the reference
        resolves ``"$"`` (consumer.ex:81-82). Call before producing the
        messages an end_of_stream consumer is meant to see."""
        if self.start_pos == "end_of_stream" and self._attach_pos is None:
            self._attach_pos = self.log.max_position(spark)
        return self

    def _resolve_start(self, spark: SparkSession) -> tuple[int, int]:
        """R11 start-position matrix: checkpoint dominates; else the
        configured position. Returns the exclusive lower bound (ms, seq)."""
        if os.path.exists(os.path.join(self.checkpoint_dir, "offsets")):
            # Checkpoint replays the uncommitted tail — and, after a
            # compaction rewrote the files, the WHOLE log. The delivered
            # watermark filters already-applied rows out of that replay
            # (process_pending=True: the replayed tail IS the pending
            # backlog). process_pending=False jumps the bound to the
            # attempted watermark — the reference's ">": claimed-but-
            # unprocessed messages are skipped, never-delivered ones
            # still flow.
            if not self.process_pending:
                return self.attempted_position()
            return self.delivered_position()
        if self.start_pos == "start_of_stream":
            return (-1, -1)
        if self.start_pos == "end_of_stream":
            if self._attach_pos is None:
                self._attach_pos = self.log.max_position(spark)
            return self._attach_pos
        if isinstance(self.start_pos, tuple):
            return self.start_pos
        raise ValueError(f"bad start_pos {self.start_pos!r}")

    # -- the R6 ordered apply inside foreachBatch ------------------------

    def _apply_batch(self, batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        lo_ms, lo_seq = self._resolved
        filtered = self._shard_filter(
            batch.filter(
                (F.col("ms") > lo_ms)
                | ((F.col("ms") == lo_ms) & (F.col("seq") > lo_seq))
            )
        )
        if self.ordering == "strict":
            # One scan: the batch comes to the driver anyway, so sort it
            # here and take the top from the last row.
            rows = sorted(filtered.collect(), key=lambda r: (r["ms"], r["seq"]))
            top = (rows[-1]["ms"], rows[-1]["seq"]) if rows else None
        else:
            hi = filtered.agg(F.max(F.struct("ms", "seq"))).collect()[0][0]
            top = (hi["ms"], hi["seq"]) if hi is not None else None
        # Delivery attempt recorded BEFORE handlers run: after a crash
        # mid-batch, [delivered, attempted] is this consumer's pending
        # backlog — redelivered under process_pending=True, skipped
        # under False (the reference's ">").
        if top is not None:
            self._write_pos(self.attempted_file, *top)
        if self.ordering == "strict":
            self._apply_strict(spark, rows)
        else:
            self._apply_by_key(spark, filtered)
        # Batch fully applied (acks/DLQ written) → advance the delivered
        # watermark. On a crash above, this never runs and the batch
        # redelivers — at-least-once, same commit point as the ack write.
        if top is not None:
            self._advance_delivered(*top)

    def _apply_strict(self, spark: SparkSession, rows: list[Row]) -> None:
        """Parity mode: global (ms, seq) order, driver-side apply — exactly
        the reference's single-process sequential loop (README.md:124).
        Inherently single-stream; use by_key for scale. ``rows`` is the
        batch, collected and already in (ms, seq) order; acks and dead
        letters go out as Arrow-backed local frames (``local_frame``)."""
        acks: list[str] = []
        failures: list[tuple[str, str]] = []
        for r in rows:
            payload = dict(r["payload"]) if r["payload"] is not None else {}
            if payload == TOMBSTONE:  # R10
                continue
            try:
                result = self.handler(r["id"], payload)
            except Exception as e:  # R9
                if self.raise_errors:
                    raise
                failures.append((r["id"], repr(e)))
                continue
            if result is None or result == HandlerResult.OK:
                acks.append(r["id"])  # R7 auto-ack
            # DEFER: no ack now; Consumer.ack() later (R8)
        if acks:
            self._append_acks(spark, acks)
        if failures:
            local_frame(spark, failures, DLQ_SCHEMA).coalesce(1).write.mode(
                "append"
            ).parquet(self._write_subdir(self.dlq_dir))

    def _apply_by_key(self, spark: SparkSession, filtered: DataFrame) -> None:
        """Scale mode: handlers run ON THE EXECUTORS, per-key ordered.

        Messages are hash-partitioned by ``payload['key']`` and sorted by
        (ms, seq) within each partition, so every key sees its messages in
        log order while keys process in parallel (SURVEY §7 hard part 2 —
        the Kafka-style relaxation). The handler must be serializable and
        its side effects executor-safe; only (id, status) tuples flow back,
        never payloads — no driver bottleneck at any batch size.
        A handler raise fails the task → Spark retries the task → the
        micro-batch is at-least-once at task granularity.
        """
        handler = self.handler
        raise_errors = self.raise_errors

        def run_partition(rows):
            for r in rows:
                payload = dict(r["payload"]) if r["payload"] is not None else {}
                if payload == TOMBSTONE:  # R10
                    continue
                try:
                    result = handler(r["id"], payload)
                except Exception as e:  # R9
                    if raise_errors:
                        raise
                    yield (r["id"], "error", repr(e))
                    continue
                if result is None or result == HandlerResult.OK:
                    yield (r["id"], "ok", None)
                else:
                    yield (r["id"], "defer", None)

        prepared = (
            filtered.withColumn(
                "__k", F.coalesce(F.col("payload").getItem("key"), F.lit(""))
            )
            .repartition(F.col("__k"))
            .sortWithinPartitions("ms", "seq")
        )
        results = spark.createDataFrame(
            prepared.rdd.mapPartitions(run_partition),
            "id string, status string, error string",
        ).cache()
        try:
            acks = results.filter(F.col("status") == "ok").select("id")
            acks.write.mode("append").parquet(self._write_subdir(self.ack_dir))
            failures = results.filter(F.col("status") == "error").select("id", "error")
            if failures.limit(1).count():
                failures.write.mode("append").parquet(self._write_subdir(self.dlq_dir))
        finally:
            results.unpersist()

    def _append_acks(self, spark: SparkSession, ids: list[str]) -> None:
        local_frame(spark, [(i,) for i in ids], ACK_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(self._write_subdir(self.ack_dir))

    # -- public API -------------------------------------------------------

    def ack(self, spark: SparkSession, message_id: str) -> int:
        """Manual ack of a deferred message (R8, consumer.ex:114-124)."""
        self._append_acks(spark, [message_id])
        return 1

    def acked(self, spark: SparkSession) -> DataFrame:
        if not os.path.exists(self.ack_dir):
            return spark.createDataFrame([], ACK_SCHEMA)
        return (
            spark.read.schema(ACK_SCHEMA)
            .option("recursiveFileLookup", "true")  # member-* subtrees
            .parquet(self.ack_dir)
            .distinct()
        )

    def pending(self, spark: SparkSession) -> DataFrame:
        """Delivered-but-unacked messages (E22, reference XPENDING,
        consumer.ex:159-165): delivered ∖ acked. The delivered set is the
        log up to the durable delivered watermark — messages beyond it
        (e.g. produced after the last drain, or before an end_of_stream
        attach position) were never handed to a handler and are NOT
        pending."""
        ms, seq = self.delivered_position()
        delivered = self._shard_filter(
            self.log.read(spark).filter(
                (F.col("ms") < ms) | ((F.col("ms") == ms) & (F.col("seq") <= seq))
            )
        )
        return (
            delivered.join(self.acked(spark), "id", "left_anti")
            .select("id", "ms", "seq", "payload")
        )

    def dead_letters(self, spark: SparkSession) -> DataFrame:
        """The dead-letter log, deduplicated by message id (first error
        wins). foreachBatch replays after a crash can append the same
        failure twice — at-least-once applies to the DLQ write too — so
        reads dedup, exactly like ``acked()`` does for acks."""
        if not os.path.exists(self.dlq_dir):
            return spark.createDataFrame([], DLQ_SCHEMA)
        raw = (
            spark.read.schema(DLQ_SCHEMA)
            .option("recursiveFileLookup", "true")  # member-* subtrees
            .parquet(self.dlq_dir)
        )
        return raw.groupBy("id").agg(F.min("error").alias("error"))

    def _stream(self, spark: SparkSession):
        from .manifest_log import ManifestEventLog

        if isinstance(self.log, ManifestEventLog):
            # Logical (ms, seq) offsets: log compaction is invisible to
            # this consumer's checkpoint outright — the file-source path
            # below needs the delivered watermark to filter the full
            # replay a rewritten directory causes (log.py:158-167). The
            # backpressure knob carries over in the SAME units: the
            # manifestlog source paces at file granularity too.
            return self.log.read_stream(
                spark, max_files_per_trigger=self.max_files_per_trigger
            )
        reader = spark.readStream.schema(MESSAGE_SCHEMA)
        if self.max_files_per_trigger:
            reader = reader.option(
                "maxFilesPerTrigger", str(self.max_files_per_trigger)
            )
        return reader.parquet(self.log.path)

    def run_once(self, spark: SparkSession) -> None:
        """Drain everything currently in the log, then stop
        (Trigger.AvailableNow) — one supervised consumer lifetime."""
        ship_package(spark)  # executor workers must import engine modules
        self._resolved = self._resolve_start(spark)
        q = (
            self._stream(spark)
            .writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        finally:
            if q.isActive:
                q.stop()
        if q.exception() is not None:
            raise RuntimeError(f"consumer crashed: {q.exception()}")

    def run_forever(self, spark: SparkSession, poll_seconds: float = 2.0):
        """The continuous loop (R3's BLOCK-and-re-arm, default 2000 ms —
        consumer.ex:20). Returns the StreamingQuery; caller owns stop().
        """
        ship_package(spark)  # executor workers must import engine modules
        self._resolved = self._resolve_start(spark)
        return (
            self._stream(spark)
            .writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(processingTime=f"{poll_seconds} seconds")
            .start()
        )

    def run_supervised(
        self,
        spark: SparkSession,
        max_restarts: int = 3,
        restart: str = "transient",
        max_runs: int | None = None,
    ) -> int:
        """R13 one-for-one supervision: restart from checkpoint on crash.

        ``restart`` mirrors the reference supervisor's policy knob
        (consumer_sup.ex:12-40, OTP restart types) translated to the
        drain-loop model, where ``run_once`` exiting cleanly = the OTP
        "normal exit":

        - ``"transient"`` (default, = old behavior): restart on crash up
          to ``max_restarts``; a clean drain ends supervision.
        - ``"permanent"``: also restart after *clean* completion — the
          consumer keeps draining (bounded by ``max_runs`` drains so a
          batch test terminates; None = loop forever like the reference's
          always-restart supervisor).
        - ``"temporary"``: never restart — the first crash propagates and
          the first clean drain ends supervision.

        Returns the number of crash-restarts consumed. Each restart
        resumes from the last committed offset — uncommitted (pending)
        messages are redelivered, giving the reference's at-least-once
        guarantee (consumer_test.exs:222-280).
        """
        if restart not in ("permanent", "transient", "temporary"):
            raise ValueError(f"bad restart policy {restart!r}")
        restarts = 0
        runs = 0
        while True:
            try:
                self.run_once(spark)
                runs += 1
                if restart != "permanent":
                    return restarts
                if max_runs is not None and runs >= max_runs:
                    return restarts
            except Exception:
                if restart == "temporary":
                    raise
                restarts += 1
                if restarts > max_restarts:
                    raise

    @staticmethod
    def stop_gracefully(query, sup_timeout: float = 5.0) -> bool:
        """Graceful shutdown with the reference's ``sup_timeout`` window
        (consumer_sup.ex:33, default 5000 ms): give the in-flight
        micro-batch up to ``sup_timeout`` seconds to commit, then stop.
        An interrupted batch is simply uncommitted — its messages stay
        pending and redeliver to the next consumer (R13 + at-least-once).
        Returns True when the query went idle within the window (clean
        stop), False when the window expired and the stop was forced.
        """
        import time

        deadline = time.monotonic() + sup_timeout
        clean = False
        while time.monotonic() < deadline:
            status = query.status
            if not status["isDataAvailable"] and not status["isTriggerActive"]:
                clean = True
                break
            time.sleep(0.1)
        query.stop()
        return clean
