"""The two stream workloads: ``stream_live`` (open loop, fixed schedule)
and ``drain_backlog`` (closed loop over a bulk-loaded log).

Both drive the public faces only: ``EventLog.produce_many`` /
``produce_df`` to write, ``Consumer.run_forever`` / ``run_once`` to read
and ack, ``Consumer.pending`` to check, and the repo's
``MetricsListener`` for per-micro-batch phase times.
"""

from __future__ import annotations

import os
import threading
import time

from pyspark.sql import functions as F

from redix_stream_spark.streaming.consumer import Consumer, HandlerResult
from redix_stream_spark.streaming.log import EventLog
from redix_stream_spark.streaming.metrics import MetricsListener

from datagen import message_payloads
from harness import (
    IdRecorder,
    ListParam,
    check_delivery,
    group_jobs,
    median,
    percentile,
    stage_totals,
    tail_percentile,
)

#: stream_live schedule: LIVE_BATCH messages every LIVE_PERIOD_S seconds,
#: after LIVE_WARM_S seconds of back-to-back warm-up batches. The consumer
#: polls every POLL_S seconds: the reference's blocking read (BLOCK
#: 2000 ms) wakes as soon as a message lands, and a short processing-time
#: trigger is the closest Spark equivalent. Triggers fire on the
#: wall-clock grid of POLL_S; the schedule starts on that grid and its
#: period is 2.5 s plus 1/PHASES of a poll, so every PHASES consecutive
#: batches land at the same evenly spaced offsets into a poll interval,
#: whatever the start time. The 2.5 s leaves the consumer idle between
#: batches: a produce plus its micro-batch take about 2 s on a 4-vCPU host.
POLL_S = 0.25
PHASES = 6
LIVE_PERIOD_S = 2.5 + POLL_S / PHASES
LIVE_BATCH = 200
LIVE_WARM_S = 12.0
#: How long the run waits for a batch to be delivered.
LIVE_DRAIN_WAIT_S = 30.0

#: drain_backlog log shape: DRAIN_MESSAGES messages in DRAIN_FILES files.
DRAIN_MESSAGES = 50_000
DRAIN_FILES = 50
DRAIN_BASE_MS = 1_700_000_000_000
ORDERINGS = ("strict", "by_key")
#: Seconds of the run's budget one timed round (a drain per ordering)
#: stands for: a warm round takes about 5 s on a 4-vCPU host.
DRAIN_ROUND_BUDGET_S = 5.0


class RunIdListener(MetricsListener):
    """The repo's listener, also recording each query's run id: a
    streaming query runs its micro-batch jobs in the job group named by
    its run id, which is how the stage readers find them."""

    def onQueryStarted(self, event) -> None:
        self._emit(
            {"event": "started", "id": str(event.id), "runId": str(event.runId)}
        )


def _listener_metrics(run, listener: RunIdListener, delivered: int) -> None:
    """Micro-batch phase medians (ms) and the scan waste ratio."""
    time.sleep(0.5)  # listener events are posted asynchronously
    progress = [
        r for r in listener.records if r["event"] == "progress" and r["numInputRows"]
    ]
    phases = {
        "batch_p50_ms": "triggerExecution",
        "addBatch_p50_ms": "addBatch",
        "latestOffset_p50_ms": "latestOffset",
        "walCommit_p50_ms": "walCommit",
    }
    layer = run.layer
    layer["streaming.consumer.batches"] = len(progress)
    for name, phase in phases.items():
        vals = [r["durationMs"].get(phase, 0) for r in progress]
        layer[f"streaming.consumer.{name}"] = median(vals) if vals else 0.0
    sc = run.spark.sparkContext
    scanned = 0.0
    for rec in listener.records:
        if rec["event"] == "started":
            _, stages = group_jobs(sc, rec["runId"])
            scanned += stage_totals(sc, stages)["input_records"]
    layer["streaming.consumer.scan_rows_per_delivered"] = scanned / max(delivered, 1)


def _attach_listener(run) -> RunIdListener | None:
    if not run.tracer.enabled:
        return None
    listener = RunIdListener()
    run.spark.streams.addListener(listener)
    return listener


def _pending_rows(run, consumer: Consumer) -> int:
    with run.tracer.span("streaming.consumer.pending"):
        return consumer.pending(run.spark).count()


# -- stream_live ----------------------------------------------------------------


class Generator(threading.Thread):
    """Calls ``produce_many`` on a fixed schedule, whether or not the
    consumer keeps up. Each payload carries its due time."""

    def __init__(self, run, log: EventLog, batches: list[list[dict]]):
        super().__init__(name="generator", daemon=True)
        self.run_ctx, self.log, self.batches = run, log, batches
        # First slot: the poll-grid instant at least one poll from now.
        wall = time.time()
        grid = (wall // POLL_S + 2) * POLL_S
        self.t0 = time.perf_counter() + (grid - wall)
        #: per slot: (due, call start, call end, ids or None on error)
        self.calls: list[tuple[float, float, float, list[str] | None]] = []

    def due(self, slot: int) -> float:
        return self.t0 + slot * LIVE_PERIOD_S

    def run(self) -> None:
        spark, tracer = self.run_ctx.spark, self.run_ctx.tracer
        for slot, payloads in enumerate(self.batches):
            due = self.due(slot)
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            stamped = [{**p, "due": repr(due)} for p in payloads]
            start = time.perf_counter()
            try:
                with tracer.span("streaming.log.produce_many", slot=slot):
                    ids = self.log.produce_many(spark, stamped)
            except Exception as e:  # counted as failed deliveries
                self.run_ctx.problems.append(f"produce slot {slot}: {e!r}")
                ids = None
            self.calls.append((due, start, time.perf_counter(), ids))


def _await_calls(calls: list, n: int, what: str) -> None:
    deadline = time.perf_counter() + LIVE_DRAIN_WAIT_S
    while len(calls) < n:
        if time.perf_counter() > deadline:
            raise RuntimeError(f"{what}: {len(calls)} of {n} messages delivered")
        time.sleep(0.02)


def stream_live(run) -> None:
    """Open loop: LIVE_BATCH messages every LIVE_PERIOD_S seconds for
    about the run's seconds (whole cycles of PHASES batches); one group
    consumer (strict, driver-side handler) records each handler call.

    Warm-up produces batches back to back for LIVE_WARM_S seconds while
    the consumer keeps up as it can, then waits until all are delivered,
    so the schedule starts with an idle consumer.
    """
    spark, tracer = run.spark, run.tracer
    timed_slots = PHASES * max(1, round(run.seconds / (PHASES * LIVE_PERIOD_S)))
    batches = [message_payloads(run.rng, LIVE_BATCH) for _ in range(timed_slots)]
    log = EventLog(os.path.join(run.work, "live-log"))
    calls: list[tuple[str, float, float]] = []  # (id, handler time, due)

    def handler(message_id: str, payload: dict) -> HandlerResult:
        calls.append((message_id, time.perf_counter(), float(payload["due"])))
        return HandlerResult.OK

    consumer = Consumer(
        log, handler, os.path.join(run.work, "live-ckpt"), group_name="live"
    )
    listener = _attach_listener(run)
    run.warmup_starts()
    query = consumer.run_forever(spark, poll_seconds=POLL_S)
    produced: list[str] = []
    end = time.perf_counter() + LIVE_WARM_S
    while time.perf_counter() < end:
        payloads = message_payloads(run.rng, LIVE_BATCH)
        due = repr(time.perf_counter())
        produced += log.produce_many(spark, [{**p, "due": due} for p in payloads])
    _await_calls(calls, len(produced), "warm-up")
    gen = Generator(run, log, batches)
    run.timing_starts(at=gen.due(0))
    gen.start()
    gen.join()
    produced += [m for *_, ids in gen.calls if ids for m in ids]
    try:
        _await_calls(calls, len(produced), "timed batches")
    except RuntimeError as e:
        run.problems.append(str(e))
    Consumer.stop_gracefully(query)

    timed_ids = {m for *_, ids in gen.calls if ids for m in ids}
    run.attempted = timed_slots * LIVE_BATCH
    delivered = [m for m, _, _ in calls]
    problems, bad = check_delivery(produced, delivered)
    pending = _pending_rows(run, consumer)
    if pending:
        problems.append(f"{pending} pending rows after the run")
    run.problems += problems
    lat = {m: t - due for m, t, due in calls if m in timed_ids}
    run.failed = run.attempted - len(lat) + len(bad & lat.keys())
    if pending:
        run.failed = max(run.failed, 1)
    if not lat:
        raise RuntimeError("no timed message was delivered")
    lats = list(lat.values())
    within = sum(1 for x in lats if x <= run.latency_limit_s)
    first_due = gen.calls[0][0]
    last_call = max(t for m, t, _ in calls if m in timed_ids)
    run.e2e["op_p50_s"] = median(lats)
    run.e2e["work_per_s"] = within / (last_call - first_due)

    returned = {}
    handled = {m: t for m, t, _ in calls}
    for slot, (due, _, end, ids) in enumerate(gen.calls):
        for m in ids or ():
            returned[m] = end
        done = [handled[m] for m in ids or () if m in handled]
        if done:
            tracer.record(
                "stream.slot", due, max(done), slot=slot, first_s=min(done) - due
            )
    times = [end - start for _, start, end, ids in gen.calls if ids]
    late = [start - due for due, start, _, _ in gen.calls]
    layer = run.layer
    layer["streaming.consumer.deliver_p99_s"] = tail_percentile(lats, 99)
    layer["streaming.log.produce_many_p50_s"] = median(times)
    layer["streaming.log.produce_many_p90_s"] = percentile(times, 90)
    layer["streaming.log.produce_calls"] = len(gen.calls)
    layer["streaming.log.files"] = sum(
        f.endswith(".parquet") for f in os.listdir(log.path)
    )
    layer["streaming.consumer.consume_share_p50_s"] = median(
        [t - returned[m] for m, t, _ in calls if m in returned]
    )
    layer["streaming.consumer.handler_calls"] = len(calls)
    layer["streaming.consumer.redelivered"] = len(calls) - len(set(delivered))
    layer["streaming.consumer.pending_rows"] = pending
    layer["gen.late_p50_s"] = median(late)
    layer["gen.late_max_s"] = max(late)
    if listener is not None:
        _listener_metrics(run, listener, len(calls))


# -- drain_backlog ----------------------------------------------------------------


def load_backlog(run, log: EventLog) -> dict[str, str]:
    """Bulk-load DRAIN_MESSAGES messages as DRAIN_FILES files (one
    millisecond stamp per file) through ``produce_df``; returns id -> key.

    The rows are generated JVM-side from the seed (``xxhash64``), so the
    load does not wait on Python workers.
    """
    seed = int(run.rng.integers(0, 2**31))
    per_file = DRAIN_MESSAGES // DRAIN_FILES
    ms = F.lit(DRAIN_BASE_MS) + F.floor(F.col("id") / per_file)
    seq = F.col("id") % per_file
    df = run.spark.range(0, DRAIN_MESSAGES, numPartitions=DRAIN_FILES).select(
        ms.alias("ms"),
        seq.alias("seq"),
        F.concat_ws("-", ms, seq).alias("id"),
        F.create_map(
            F.lit("key"),
            F.concat(F.lit("k"), F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(64))),
            F.lit("v"),
            F.pmod(F.xxhash64("id", F.lit(seed + 1)), F.lit(1_000_000)).cast("string"),
        ).alias("payload"),
    )
    with run.tracer.span("streaming.log.produce_df"):
        t = time.perf_counter()
        log.produce_df(df)
        run.layer["streaming.log.produce_df_s"] = time.perf_counter() - t
    rows = log.read(run.spark).select("id", F.col("payload")["key"]).collect()
    if len(rows) != DRAIN_MESSAGES:
        raise RuntimeError(f"backlog holds {len(rows)} rows, not {DRAIN_MESSAGES}")
    return dict(rows)


def _drain(run, log: EventLog, keys: dict[str, str], n: int, ordering: str):
    """One fresh consumer group drains the whole log with ``run_once``.
    Returns (wall seconds, problems, pending rows, handler calls)."""
    spark = run.spark
    if ordering == "strict":
        seen: list[str] = []

        def handler(message_id: str, payload: dict) -> HandlerResult:
            seen.append(message_id)
            return HandlerResult.OK

        acc = None
    else:
        acc = spark.sparkContext.accumulator([], ListParam())
        handler = IdRecorder(acc)
    consumer = Consumer(
        log,
        handler,
        os.path.join(run.work, f"drain-{n}"),
        group_name=f"g{n}",
        ordering=ordering,
    )
    with run.tracer.span("streaming.consumer.run_once", ordering=ordering):
        t = time.perf_counter()
        consumer.run_once(spark)
        wall = time.perf_counter() - t
    delivered = seen if acc is None else acc.value
    key_of = (lambda _: None) if acc is None else keys.__getitem__
    problems, _ = check_delivery(keys, delivered, key_of)
    pending = _pending_rows(run, consumer)
    if pending:
        problems.append(f"{pending} pending rows after the drain")
    return wall, problems, pending, len(delivered)


def drain_backlog(run) -> None:
    """Closed loop: each operation is a fresh group draining the whole
    log; a round drains once per ordering. One round warms up, then one
    round runs per DRAIN_ROUND_BUDGET_S of the run's seconds, at least two.
    """
    log = EventLog(os.path.join(run.work, "backlog"))
    keys = load_backlog(run, log)
    listener = _attach_listener(run)
    run.warmup_starts()
    calls = 0  # every handler call, warm-up included, for the scan ratio
    for n, ordering in enumerate(ORDERINGS):
        _, problems, _, handled = _drain(run, log, keys, n, ordering)
        run.problems += [f"warm-up {ordering}: {p}" for p in problems]
        calls += handled
    walls: dict[str, list[float]] = {o: [] for o in ORDERINGS}
    timed_calls = pending_total = 0
    run.timing_starts()
    rounds = max(2, round(run.seconds / DRAIN_ROUND_BUDGET_S))
    for n in range(len(ORDERINGS), len(ORDERINGS) * (rounds + 1)):
        ordering = ORDERINGS[n % len(ORDERINGS)]
        run.attempted += 1
        try:
            wall, problems, pending, handled = _drain(run, log, keys, n, ordering)
        except Exception as e:
            run.failed += 1
            run.problems.append(f"drain {n} ({ordering}): {e!r}")
            continue
        walls[ordering].append(wall)
        timed_calls += handled
        pending_total += pending
        if problems:
            run.failed += 1
            run.problems += [f"drain {n} ({ordering}): {p}" for p in problems]
    drains = sum(map(len, walls.values()))
    run.e2e["op_p50_s"] = median([sum(r) for r in zip(*walls.values())])
    run.e2e["work_per_s"] = DRAIN_MESSAGES * drains / sum(map(sum, walls.values()))
    layer = run.layer
    for ordering, ws in walls.items():
        layer[f"streaming.consumer.{ordering}_msgs_per_s"] = DRAIN_MESSAGES / median(ws)
    layer["streaming.consumer.run_once_s"] = median(
        [w for ws in walls.values() for w in ws]
    )
    layer["streaming.consumer.handler_calls"] = timed_calls
    layer["streaming.consumer.redelivered"] = timed_calls - DRAIN_MESSAGES * drains
    layer["streaming.consumer.pending_rows"] = pending_total
    layer["streaming.log.files"] = sum(
        f.endswith(".parquet") for f in os.listdir(log.path)
    )
    if listener is not None:
        _listener_metrics(run, listener, calls + timed_calls)
