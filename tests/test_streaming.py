"""Stream-semantics tests — the reference's behavioral scenarios
(SURVEY.md §5, /root/reference/test/redix/stream/consumer_test.exs)
re-expressed against the Structured-Streaming runtime."""

from __future__ import annotations

import os
import re

import pytest

from redix_stream_spark.streaming import Consumer, EventLog, HandlerResult
from redix_stream_spark.streaming.log import TOMBSTONE


@pytest.fixture()
def log(tmp_path):
    return EventLog(str(tmp_path / "log"))


@pytest.fixture()
def ckpt(tmp_path):
    return str(tmp_path / "ckpt")


class Recorder:
    """Handler that records (id, payload) like the reference's test pid."""

    def __init__(self, result=HandlerResult.OK, fail_on: dict | None = None):
        self.seen: list[tuple[str, dict]] = []
        self.result = result
        self.fail_on = fail_on or {}

    def __call__(self, msg_id: str, payload: dict) -> HandlerResult:
        key = payload.get("key")
        if key in self.fail_on and self.fail_on[key] > 0:
            self.fail_on[key] -= 1
            raise RuntimeError(f"handler crash on {key}")
        self.seen.append((msg_id, payload))
        return self.result


def test_produce_returns_wellformed_id(spark, log):
    # reference stream_test.exs:12-19 — id shape "<millis>-<seq>"
    mid = log.produce(spark, {"key": "value", "n": 42})
    assert re.fullmatch(r"\d+-\d+", mid)
    rows = log.read(spark).collect()
    assert rows[0]["payload"] == {"key": "value", "n": "42"}  # to_string coercion


def test_single_message_delivery(spark, log, ckpt):
    # consumer_test.exs:29-52
    rec = Recorder()
    mid = log.produce(spark, {"key": "special_value"})
    Consumer(log, rec, ckpt).run_once(spark)
    assert rec.seen == [(mid, {"key": "special_value"})]


def test_ordered_multi_message_delivery(spark, log, ckpt):
    # consumer_test.exs:102-133 — backlog before and after first drain
    rec = Recorder()
    ids1 = log.produce_many(spark, [{"key": f"v{i}"} for i in range(5)])
    c = Consumer(log, rec, ckpt)
    c.run_once(spark)
    ids2 = log.produce_many(spark, [{"key": f"w{i}"} for i in range(5)])
    c.run_once(spark)
    assert [i for i, _ in rec.seen] == ids1 + ids2
    assert [p["key"] for _, p in rec.seen] == [f"v{i}" for i in range(5)] + [
        f"w{i}" for i in range(5)
    ]


def test_tombstone_skipped(spark, log, ckpt):
    # consumer.ex:286,295 — payload {""=>""} never reaches the handler
    rec = Recorder()
    log.produce(spark, {"key": "a"})
    log.produce(spark, TOMBSTONE)
    log.produce(spark, {"key": "b"})
    Consumer(log, rec, ckpt).run_once(spark)
    assert [p.get("key") for _, p in rec.seen] == ["a", "b"]


def test_crash_resume_at_least_once_no_dup_after_success(spark, log, ckpt):
    # consumer_test.exs:222-280 — crash on one message, supervisor restarts,
    # everything is eventually processed exactly once *after* success.
    rec = Recorder(fail_on={"v2": 1})  # hard-fail the first delivery of v2
    log.produce_many(spark, [{"key": f"v{i}"} for i in range(5)])
    c = Consumer(log, rec, ckpt, group_name="grp", raise_errors=True)
    restarts = c.run_supervised(spark, max_restarts=2)
    assert restarts == 1
    keys = [p["key"] for _, p in rec.seen]
    # v0/v1 delivered twice (redelivery of the failed batch = at-least-once),
    # but after the successful pass each message was processed.
    assert set(keys) == {f"v{i}" for i in range(5)}
    assert keys.count("v2") == 1  # crashed before recording, then succeeded
    # nothing redelivered after success:
    c.run_once(spark)
    assert [p["key"] for _, p in rec.seen] == keys


def test_start_at_end_of_stream_skips_history(spark, log, ckpt):
    # consumer_test.exs:282-322
    rec = Recorder()
    log.produce_many(spark, [{"key": "old"}])
    c = Consumer(log, rec, ckpt, start_pos="end_of_stream").attach(spark)
    log.produce_many(spark, [{"key": "new"}])
    c.run_once(spark)
    assert [p["key"] for _, p in rec.seen] == ["new"]


def test_deferred_ack_and_pending(spark, log, ckpt):
    # consumer_test.exs:54-100 — :defer withholds ack; manual ack/2 clears it
    rec = Recorder(result=HandlerResult.DEFER)
    mid = log.produce(spark, {"key": "needs_manual_ack"})
    c = Consumer(log, rec, ckpt, group_name="g1")
    c.run_once(spark)
    pending = [r["id"] for r in c.pending(spark).collect()]
    assert pending == [mid]
    assert c.ack(spark, mid) == 1
    assert c.pending(spark).count() == 0


def test_two_groups_each_see_everything(spark, log, ckpt):
    # README.md:100 — multiple groups each get every message once
    ra, rb = Recorder(), Recorder()
    ids = log.produce_many(spark, [{"key": f"v{i}"} for i in range(3)])
    Consumer(log, ra, ckpt, group_name="ga").run_once(spark)
    Consumer(log, rb, ckpt, group_name="gb").run_once(spark)
    assert [i for i, _ in ra.seen] == ids
    assert [i for i, _ in rb.seen] == ids


def test_error_routing_to_dlq_when_not_raising(spark, log, ckpt):
    # R9 with raise_errors=false (README.md:118): continue, leave unacked
    rec = Recorder(fail_on={"bad": 10})
    log.produce_many(spark, [{"key": "good"}, {"key": "bad"}])
    c = Consumer(log, rec, ckpt, group_name="g2", raise_errors=False)
    c.run_once(spark)
    assert [p["key"] for _, p in rec.seen] == ["good"]
    # the failed message is pending (unacked), good one is acked
    pend = [r["payload"]["key"] for r in c.pending(spark).collect()]
    assert pend == ["bad"]


def test_by_key_ordering_preserves_per_key_order(spark, log, ckpt):
    # SURVEY §7 hard part 2: the documented scale relaxation — per-key
    # order (like per-partition Kafka ordering) instead of global order.
    # by_key handlers run ON THE EXECUTORS, so the test observes through
    # accumulators (order violations counted where the handler runs) and
    # the ack log (completion), never driver-side state.
    processed = spark.sparkContext.accumulator(0)
    violations = spark.sparkContext.accumulator(0)

    def handler(mid, payload, _last={}):  # noqa: B006 — worker-local memory
        k, n = payload["key"], int(payload["n"])
        if k in _last and _last[k] >= n:
            violations.add(1)
        _last[k] = n
        processed.add(1)
        return HandlerResult.OK

    msgs = [{"key": f"k{i % 3}", "n": i} for i in range(12)]
    log.produce_many(spark, msgs)
    c = Consumer(log, handler, ckpt, consumer_name="bk", ordering="by_key")
    c.run_once(spark)
    assert processed.value == 12
    assert violations.value == 0
    assert c.pending(spark).count() == 0  # every message acked


def test_eventlog_datasource_incremental(spark):
    # R3 as a custom source: bounded micro-batches by id range
    from redix_stream_spark.sources import register_eventlog_source

    register_eventlog_source(spark)
    seen_batches: list[int] = []

    def sink(df, epoch):
        n = df.count()
        if n:
            seen_batches.append(n)

    # Python sources don't support Trigger.AvailableNow (Spark falls back
    # to one unbounded batch) — drive the R3 poll loop explicitly instead.
    q = (
        spark.readStream.format("eventlog")
        .option("path", "/root/testdata/sf0.001/events.parquet")
        .option("maxRowsPerTrigger", "400")
        # no checkpoint -> known-fresh, so first-batch pacing is safe to
        # opt into (the default serves an unpaced first batch because a
        # restart's checkpointed position is invisible to latestOffset)
        .option("firstBatchPaced", "true")
        .load()
        .writeStream.foreachBatch(sink)
        .trigger(processingTime="1 seconds")
        .start()
    )
    import time

    deadline = time.time() + 120
    while sum(seen_batches) < 1000 and time.time() < deadline:
        time.sleep(0.5)
    q.stop()
    assert sum(seen_batches) == 1000          # full log served exactly once
    assert len(seen_batches) >= 3             # backpressure bounded batches
    assert max(seen_batches) <= 400


def test_pipeline_log_to_log_transform(spark, tmp_path):
    # Pure-handler path (SURVEY §1.1): consume log A, transform, produce log B.
    from pyspark.sql import functions as F

    from redix_stream_spark.streaming.pipeline import Pipeline

    src = EventLog(str(tmp_path / "src"))
    dst = EventLog(str(tmp_path / "dst"))
    src.produce_many(spark, [{"key": f"v{i}", "n": i} for i in range(5)])

    def double_n(df):
        return df.select(
            "ms", "seq", "id",
            F.map_from_arrays(
                F.array(F.lit("key"), F.lit("n2"), F.lit("src_id")),
                F.array(
                    F.element_at("payload", "key"),
                    (F.element_at("payload", "n").cast("long") * 2).cast("string"),
                    F.col("id"),
                ),
            ).alias("payload"),
        )

    p = Pipeline(src, dst, double_n, str(tmp_path / "ck"))
    p.run_once(spark)
    rows = sorted(dst.read(spark).collect(), key=lambda r: (r["ms"], r["seq"]))
    assert [r["payload"]["n2"] for r in rows] == ["0", "2", "4", "6", "8"]
    # lineage: sink messages carry their source ids
    assert all(r["payload"]["src_id"] == r["id"] for r in rows)
    # incremental: a second drain after more produces only appends the delta
    src.produce_many(spark, [{"key": "late", "n": 10}])
    p.run_once(spark)
    assert dst.read(spark).count() == 6


def test_run_forever_processes_live_appends(spark, tmp_path):
    # R3's blocking re-arm loop: messages produced while the consumer is
    # running are picked up by subsequent micro-batches.
    import time as _t

    log2 = EventLog(str(tmp_path / "live"))
    rec = Recorder()
    log2.produce(spark, {"key": "first"})
    c = Consumer(log2, rec, str(tmp_path / "ck-live"))
    q = c.run_forever(spark, poll_seconds=1.0)
    try:
        deadline = _t.time() + 60
        while len(rec.seen) < 1 and _t.time() < deadline:
            _t.sleep(0.5)
        log2.produce(spark, {"key": "second"})
        while len(rec.seen) < 2 and _t.time() < deadline:
            _t.sleep(0.5)
    finally:
        q.stop()
    assert [p["key"] for _, p in rec.seen] == ["first", "second"]


def test_log_compaction_preserves_messages_and_positions(spark, log, ckpt):
    import os as _os

    ids = []
    for i in range(6):  # 6 produce calls -> >= 6 files
        ids += log.produce_many(spark, [{"key": f"v{i}"}])
    files_before = sum(1 for f in _os.listdir(log.path) if f.endswith(".parquet"))
    assert files_before >= 6
    n = log.compact(spark, target_files=1)
    files_after = sum(1 for f in _os.listdir(log.path) if f.endswith(".parquet"))
    assert n == 6 and files_after == 1
    # consumer semantics unchanged: full ordered replay
    rec = Recorder()
    Consumer(log, rec, ckpt).run_once(spark)
    assert [i for i, _ in rec.seen] == ids


def test_compact_after_checkpointed_run_no_redelivery(spark, log, ckpt):
    # Compaction rewrites every file under a new name, so the file-stream
    # checkpoint sees the whole log as new input and replays it. The
    # consumer's delivered watermark must filter that replay: no message
    # applied before the compaction is handed to the handler again.
    rec = Recorder()
    ids = log.produce_many(spark, [{"key": f"v{i}"} for i in range(4)])
    c = Consumer(log, rec, ckpt)
    c.run_once(spark)
    assert len(rec.seen) == 4
    log.compact(spark, target_files=1)
    late = log.produce_many(spark, [{"key": "late"}])
    c.run_once(spark)  # same checkpoint — replay of compacted files
    assert [i for i, _ in rec.seen] == ids + late  # no duplicates
    assert c.pending(spark).count() == 0


def test_pending_excludes_never_delivered(spark, log, ckpt):
    # reference XPENDING semantics: pending = delivered ∖ acked. Messages
    # produced but never handed to a handler are not pending.
    rec = Recorder(result=HandlerResult.DEFER)
    first = log.produce_many(spark, [{"key": "seen"}])
    c = Consumer(log, rec, ckpt)
    c.run_once(spark)
    log.produce_many(spark, [{"key": "not-yet-delivered"}])
    pend = [r["id"] for r in c.pending(spark).collect()]
    assert pend == first  # deferred → pending; undelivered → absent


def test_dead_letters_dedup_by_id(spark, log, ckpt):
    # DLQ writes are at-least-once (foreachBatch replays append again);
    # dead_letters() must dedup by message id like acked() does.
    rec = Recorder(fail_on={"bad": 99})
    log.produce_many(spark, [{"key": "bad"}, {"key": "good"}])
    c = Consumer(log, rec, ckpt, raise_errors=False)
    c.run_once(spark)
    # simulate a replayed DLQ append for the same failure
    first = spark.read.parquet(c.dlq_dir).collect()
    assert len(first) == 1
    spark.createDataFrame(first).write.mode("append").parquet(c.dlq_dir)
    assert spark.read.parquet(c.dlq_dir).count() == 2  # raw is duplicated
    dl = c.dead_letters(spark).collect()
    assert len(dl) == 1 and "bad" not in dl[0]["id"]  # one row per id


def test_group_exclusive_delivery_across_consumers(spark, log, ckpt):
    # consumer_test.exs:167-220 — within one group, each message is
    # processed by exactly one consumer. Group position is the shared
    # checkpoint; consumers attach to it in turn (Spark's unit of
    # intra-group parallelism is the task, not the process — SURVEY §1.1).
    ra, rb = Recorder(), Recorder()
    ids1 = log.produce_many(spark, [{"key": f"a{i}"} for i in range(3)])
    Consumer(log, ra, ckpt, group_name="g", consumer_name="c1").run_once(spark)
    ids2 = log.produce_many(spark, [{"key": f"b{i}"} for i in range(2)])
    Consumer(log, rb, ckpt, group_name="g", consumer_name="c2").run_once(spark)
    got_a = {i for i, _ in ra.seen}
    got_b = {i for i, _ in rb.seen}
    assert got_a | got_b == set(ids1 + ids2)  # group saw everything
    assert not (got_a & got_b)                # each message exactly one consumer


def test_start_pos_matrix(spark, log, tmp_path):
    # SURVEY §7 hard part 4 — the R11 resolution matrix (consumer.ex:71-91):
    # explicit position skips everything at or before it; an existing
    # checkpoint DOMINATES any configured start_pos.
    ids = log.produce_many(spark, [{"key": f"v{i}"} for i in range(4)])
    ms, seq = map(int, ids[1].split("-"))

    # explicit position: start strictly after the 2nd message
    r1 = Recorder()
    Consumer(log, r1, str(tmp_path / "ck-exp"), start_pos=(ms, seq)).run_once(spark)
    assert [i for i, _ in r1.seen] == ids[2:]

    # checkpoint dominates: same checkpoint, now configured end_of_stream —
    # must resume from the committed position, not skip to the end
    log.produce_many(spark, [{"key": "tail"}])
    r2 = Recorder()
    c2 = Consumer(
        log, r2, str(tmp_path / "ck-exp"), start_pos="end_of_stream"
    ).attach(spark)
    c2.run_once(spark)
    assert [p["key"] for _, p in r2.seen] == ["tail"]

    # bad start_pos rejected
    import pytest as _pytest

    with _pytest.raises(ValueError):
        Consumer(log, r2, str(tmp_path / "ck-bad"), start_pos="nonsense").run_once(spark)


def test_start_pos_matrix_process_pending(spark, log, tmp_path):
    # The reference's process_pending knob (consumer.ex:80-91,
    # README.md:117): after a crash, the claimed-but-unprocessed backlog
    # redelivers under the default (XREADGROUP from "0") and is SKIPPED
    # under process_pending=False (jump to ">") — while messages never
    # handed to a handler still flow in both modes.
    import pytest as _pytest

    ids = log.produce_many(spark, [{"key": f"v{i}"} for i in range(3)])

    # default: crash mid-batch -> restart REPROCESSES the pending tail
    rec = Recorder(fail_on={"v2": 1})
    c = Consumer(
        log, rec, str(tmp_path / "ck-pp1"), group_name="g", consumer_name="c1"
    )
    with _pytest.raises(Exception):
        c.run_once(spark)
    assert {p["key"] for _, p in rec.seen} == {"v0", "v1"}  # claimed, unacked
    c.run_once(spark)  # process_pending=True (default): backlog redelivers
    keys = [p["key"] for _, p in rec.seen]
    assert keys.count("v0") == 2 and "v2" in keys

    # process_pending=False: same crash, restart jumps the backlog...
    ids2 = log.produce_many(spark, [{"key": f"w{i}"} for i in range(3)])
    rec2 = Recorder(fail_on={"w2": 1})
    c2 = Consumer(
        log,
        rec2,
        str(tmp_path / "ck-pp2"),
        group_name="g2",
        consumer_name="c1",
        start_pos=(int(ids[2].split("-")[0]), int(ids[2].split("-")[1])),
    )
    with _pytest.raises(Exception):
        c2.run_once(spark)
    assert {p["key"] for _, p in rec2.seen} == {"w0", "w1"}
    c2.process_pending = False
    c2.run_once(spark)  # the crashed tail (w0..w2) is skipped, not replayed
    assert [p["key"] for _, p in rec2.seen] == ["w0", "w1"]
    # ...but never-delivered messages still flow (the ">" semantics)
    log.produce_many(spark, [{"key": "new"}])
    c2.run_once(spark)
    assert [p["key"] for _, p in rec2.seen] == ["w0", "w1", "new"]
    # bookkeeping invariant: the attempt watermark never trails delivery
    assert c2.attempted_position() >= c2.delivered_position()


def test_restart_policy_matrix(spark, log, tmp_path):
    # R13 restart-type knob (consumer_sup.ex:12-40) translated to the
    # drain-loop model: clean drain = OTP normal exit.
    log.produce_many(spark, [{"key": f"v{i}"} for i in range(3)])

    # transient (default): crash → restart from checkpoint, clean → done.
    rec = Recorder(fail_on={"v1": 1})
    n = Consumer(log, rec, str(tmp_path / "ck-tr")).run_supervised(
        spark, restart="transient"
    )
    assert n == 1  # one crash consumed
    # at-least-once: v0 was applied in the crashed (uncommitted) batch and
    # legitimately redelivers on restart — require full coverage, allow dups
    assert {p["key"] for _, p in rec.seen} == {"v0", "v1", "v2"}

    # temporary: the first crash propagates, nothing is retried.
    rec2 = Recorder(fail_on={"v1": 1})
    import pytest as _pytest

    with _pytest.raises(Exception):
        Consumer(log, rec2, str(tmp_path / "ck-te")).run_supervised(
            spark, restart="temporary"
        )
    # ...but a crash-free temporary run completes the single drain.
    rec3 = Recorder()
    assert (
        Consumer(log, rec3, str(tmp_path / "ck-te2")).run_supervised(
            spark, restart="temporary"
        )
        == 0
    )
    assert len(rec3.seen) == 3

    # permanent: clean drains keep the consumer alive — a message produced
    # after the first drain is picked up by the next one (max_runs bounds
    # the loop for the test).
    rec4 = Recorder()
    c4 = Consumer(log, rec4, str(tmp_path / "ck-pe"))
    assert c4.run_supervised(spark, restart="permanent", max_runs=1) == 0
    log.produce_many(spark, [{"key": "late"}])
    assert c4.run_supervised(spark, restart="permanent", max_runs=1) == 0
    assert [p["key"] for _, p in rec4.seen][-1] == "late"
    assert len(rec4.seen) == 4

    # invalid policy rejected
    with _pytest.raises(ValueError):
        Consumer(log, rec4, str(tmp_path / "ck-x")).run_supervised(
            spark, restart="sometimes"
        )


def test_graceful_stop_window_reports_clean(spark, log, tmp_path):
    # sup_timeout grace (consumer_sup.ex:33): an idle query stops cleanly
    # inside the window.
    rec = Recorder()
    log.produce_many(spark, [{"key": "a"}])
    c = Consumer(log, rec, str(tmp_path / "ck-gr"))
    q = c.run_forever(spark, poll_seconds=0.5)
    try:
        import time

        deadline = time.monotonic() + 20
        while len(rec.seen) < 1 and time.monotonic() < deadline:
            time.sleep(0.2)
        assert len(rec.seen) == 1
        assert Consumer.stop_gracefully(q, sup_timeout=10.0) is True
    finally:
        if q.isActive:
            q.stop()


def test_backpressure_bounds_batches(spark, log, tmp_path):
    # max_files_per_trigger bounds each micro-batch (R3 + COUNT, the knob
    # the reference lacks): 4 produce batches -> 4 files -> 4 micro-batches.
    batches: list[int] = []

    class Counting(Recorder):
        def __call__(self, i, p):
            return super().__call__(i, p)

    rec = Counting()
    for i in range(4):
        log.produce_many(spark, [{"key": f"v{i}a"}, {"key": f"v{i}b"}])
    seen_per_batch = []
    c = Consumer(log, rec, str(tmp_path / "ck-bp"), max_files_per_trigger=1)
    orig = c._apply_batch

    def counting_apply(batch, epoch):
        n0 = len(rec.seen)
        orig(batch, epoch)
        seen_per_batch.append(len(rec.seen) - n0)

    c._apply_batch = counting_apply
    c.run_once(spark)
    assert len(rec.seen) == 8
    assert len([b for b in seen_per_batch if b]) == 4
    assert max(seen_per_batch) <= 2


def test_idempotent_sink_replay_is_noop(spark, log, tmp_path):
    # at-least-once + idempotent epoch writes = effective exactly-once
    from redix_stream_spark.streaming.sinks import idempotent_parquet_sink, read_sink

    sink_path = str(tmp_path / "sink")
    write = idempotent_parquet_sink(sink_path)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    write(df, 7)
    write(df, 7)  # replayed epoch (simulated crash-redelivery)
    out = read_sink(spark, sink_path)
    assert out.count() == 2  # no duplication
    write(spark.createDataFrame([(3, "c")], "id long, v string"), 8)
    assert read_sink(spark, sink_path).count() == 3


def test_by_key_dlq_and_pending(spark, log, ckpt):
    # executor-side error routing: failures land in the DLQ distributedly
    # and stay unacked (pending), successes ack — no driver involvement.
    def handler(mid, payload):
        if payload["key"] == "bad":
            raise RuntimeError("handler failure")
        return HandlerResult.OK

    log.produce_many(spark, [{"key": "good"}, {"key": "bad"}, {"key": "also_good"}])
    c = Consumer(
        log, handler, ckpt, consumer_name="bkd", ordering="by_key", raise_errors=False
    )
    c.run_once(spark)
    pend = sorted(r["payload"]["key"] for r in c.pending(spark).collect())
    assert pend == ["bad"]
    dlq = spark.read.parquet(c.dlq_dir)
    assert dlq.count() == 1 and "handler failure" in dlq.collect()[0]["error"]


def test_slow_handler_backlog_delivers_all_in_order(spark, log, ckpt):
    # consumer_test.exs:135-165 — a slow handler (sleep) still delivers the
    # whole backlog in order, just late.
    import time as _t

    class Slow(Recorder):
        def __call__(self, i, p):
            _t.sleep(0.05)
            return super().__call__(i, p)

    rec = Slow()
    ids = log.produce_many(spark, [{"key": f"v{i}"} for i in range(10)])
    Consumer(log, rec, ckpt).run_once(spark)
    assert [i for i, _ in rec.seen] == ids


def test_graceful_stop_leaves_unprocessed_pending(spark, log, ckpt):
    # consumer_test.exs:324-401 — stopping a consumer leaves unacked
    # messages pending; a successor picks them up, already-acked ones are
    # not redelivered *after* an epoch committed.
    import time as _t

    rec = Recorder()
    log.produce_many(spark, [{"key": "m1"}])
    c = Consumer(log, rec, ckpt, group_name="gs")
    c.run_once(spark)  # epoch committed: m1 processed + acked
    q = c.run_forever(spark, poll_seconds=0.5)
    try:
        log.produce_many(spark, [{"key": "m2"}, {"key": "m3"}])
        deadline = _t.time() + 60
        while len(rec.seen) < 3 and _t.time() < deadline:
            _t.sleep(0.2)
    finally:
        q.stop()  # graceful: in-flight batch completes or is uncommitted
    # whatever was not acked at stop time is pending for the successor
    successor = Recorder()
    c2 = Consumer(log, successor, ckpt, group_name="gs")
    c2.run_once(spark)
    all_keys = {p["key"] for _, p in rec.seen} | {p["key"] for _, p in successor.seen}
    assert all_keys == {"m1", "m2", "m3"}
    assert c2.pending(spark).count() == 0
    # m1's epoch was committed before the second consumer ran — never redelivered
    assert "m1" not in {p["key"] for _, p in successor.seen}


def test_union_read_stream_consumes_multiple_logs(spark, tmp_path):
    # Beyond the reference (stream.ex:41-42 hints multi-topic, implements
    # one): a single query drains several logs, rows tagged by source.
    la, lb = EventLog(str(tmp_path / "la")), EventLog(str(tmp_path / "lb"))
    la.produce_many(spark, [{"k": "a1"}, {"k": "a2"}])
    lb.produce_many(spark, [{"k": "b1"}])
    seen: list[tuple[str, str]] = []

    def sink(df, epoch):
        seen.extend(
            (r["stream"], r["payload"]["k"])
            for r in df.orderBy("ms", "seq").collect()
        )

    q = (
        EventLog.union_read_stream(spark, [la, lb])
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    by_log = {}
    for stream, k in seen:
        by_log.setdefault(stream, []).append(k)
    assert by_log[la.path] == ["a1", "a2"]   # per-log order preserved
    assert by_log[lb.path] == ["b1"]


def test_metrics_listener_captures_progress(spark, log, ckpt, tmp_path):
    import json as _json

    from redix_stream_spark.streaming.metrics import MetricsListener

    jsonl = str(tmp_path / "metrics.jsonl")
    listener = MetricsListener(jsonl_path=jsonl)
    spark.streams.addListener(listener)
    try:
        log.produce_many(spark, [{"key": f"v{i}"} for i in range(4)])
        Consumer(log, Recorder(), ckpt).run_once(spark)
        import time as _t

        deadline = _t.time() + 30
        while listener.total_input_rows() < 4 and _t.time() < deadline:
            _t.sleep(0.3)
    finally:
        spark.streams.removeListener(listener)
    assert listener.total_input_rows() >= 4
    events = {r["event"] for r in listener.records}
    assert "started" in events and "progress" in events
    with open(jsonl) as f:
        lines = [_json.loads(l) for l in f]
    assert any(r["event"] == "progress" and r["numInputRows"] for r in lines)


def test_observed_metrics_ride_the_query_and_reach_the_listener(
    spark, tmp_path
):
    """E151: df.observe() quality counters are computed INSIDE the
    query's own job (CollectMetrics — no second source pass) and must
    surface per micro-batch in observedMetrics, captured by
    MetricsListener. Two files → two batches; the observed per-batch
    row counts must sum to the input and the null-counter must see the
    one planted null."""
    import os
    import time as _t

    from pyspark.sql import functions as F

    from redix_stream_spark.streaming.metrics import MetricsListener, observe

    src = str(tmp_path / "obs-src")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, "a"), (2, None)], "id long, payload string"
    ).coalesce(1).write.mode("append").parquet(src)
    _t.sleep(1.1)
    spark.createDataFrame(
        [(3, "c")], "id long, payload string"
    ).coalesce(1).write.mode("append").parquet(src)

    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        stream = (
            spark.readStream.schema("id long, payload string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        observed = observe(
            stream,
            "quality",
            rows=F.count(F.lit(1)),
            null_payloads=F.sum(F.col("payload").isNull().cast("long")),
        )
        q = (
            observed.writeStream.format("memory")
            .queryName("obs_out")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        deadline = _t.time() + 30
        def quality_recs():
            return [
                r["observed"]["quality"]
                for r in listener.records
                if r["event"] == "progress" and r.get("observed", {}).get("quality")
            ]
        while sum(m["rows"] for m in quality_recs()) < 3 and _t.time() < deadline:
            _t.sleep(0.3)
    finally:
        spark.streams.removeListener(listener)
    metrics = quality_recs()
    assert len(metrics) >= 2  # one per micro-batch
    assert sum(m["rows"] for m in metrics) == 3
    assert sum(m["null_payloads"] for m in metrics) == 1
    assert spark.sql("SELECT count(*) c FROM obs_out").collect()[0]["c"] == 3


def test_eventlog_datasource_writer_roundtrip(spark, tmp_path):
    # The connector's sink half: write through format("eventlog"), read
    # back with the batch reader — append-only, overwrite rejected.
    from redix_stream_spark.sources import register_eventlog_source

    register_eventlog_source(spark)
    out = str(tmp_path / "sink-log")
    df = spark.createDataFrame(
        [(1, 100, "a"), (2, 200, "b")], "event_id long, user_id long, event_type string"
    )
    df.write.format("eventlog").option("path", out).mode("append").save()
    df.write.format("eventlog").option("path", out).mode("append").save()
    back = spark.read.parquet(out)
    assert back.count() == 4
    assert {r["event_type"] for r in back.collect()} == {"a", "b"}
    import pytest as _pytest

    with _pytest.raises(Exception):
        df.write.format("eventlog").option("path", out).mode("overwrite").save()


def test_eventlog_sink_publishes_only_complete_part_files(monkeypatch, tmp_path):
    # Each part is written under a dot-prefixed temp name (skipped by
    # Spark's and pyarrow's listings) and renamed into place, so a
    # concurrent reader never lists a half-written file; abort removes
    # the job's parts and any temp a failed task left behind.
    import pyarrow.parquet as pq
    from pyspark.sql import Row

    from redix_stream_spark.sources.eventlog_source import EventLogWriter

    written = []
    real = pq.write_table

    def recording(table, where, *a, **kw):
        written.append(where)
        return real(table, where, *a, **kw)

    monkeypatch.setattr(pq, "write_table", recording)
    out = tmp_path / "sink"
    w = EventLogWriter({"path": str(out)})
    rows = [Row(event_id=i, event_type="t") for i in range(3)]
    msgs = [w.write(iter(rows)), w.write(iter(rows[:1])), w.write(iter([]))]
    assert len(written) == 2
    assert all(os.path.basename(p).startswith(".") for p in written), written
    names = sorted(os.listdir(out))
    assert len(names) == 2
    assert all(n.startswith("part-") and n.endswith(".parquet") for n in names)
    assert pq.read_table(str(out)).num_rows == 4

    def failing(table, where, *a, **kw):
        real(table, where, *a, **kw)
        raise OSError("disk gone")

    monkeypatch.setattr(pq, "write_table", failing)
    with pytest.raises(OSError):
        w.write(iter(rows))
    assert sorted(os.listdir(out)) == names
    # a temp file left by a task killed mid-write is swept by abort
    (out / f".part-{w.job}-dead.parquet.tmp").write_bytes(b"PAR1")
    w.abort(msgs + [None])
    assert os.listdir(out) == []


def test_pipeline_crash_resume(spark, tmp_path):
    # A transform that fails once mid-stream: the checkpoint replays the
    # failed epoch on restart; the sink ends up complete.
    from pyspark.sql import functions as F

    from redix_stream_spark.streaming.pipeline import Pipeline

    src = EventLog(str(tmp_path / "psrc"))
    dst = EventLog(str(tmp_path / "pdst"))
    src.produce_many(spark, [{"k": str(i)} for i in range(3)])
    state = {"fail": True}

    def flaky(df):
        if state["fail"]:
            state["fail"] = False
            raise RuntimeError("transform crash")
        return df

    p = Pipeline(src, dst, flaky, str(tmp_path / "pck"))
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        p.run_once(spark)
    assert dst.read(spark).count() == 0  # nothing committed
    p.run_once(spark)  # restart: uncommitted epoch replayed
    assert dst.read(spark).count() == 3


def test_eventlog_source_max_id_from_rowgroup_stats(spark, tmp_path):
    # _max_id must come from parquet footer statistics (O(row groups) per
    # poll), across multiple files and row groups, without reading data.
    import pyarrow as pa
    import pyarrow.parquet as pq

    from redix_stream_spark.sources.eventlog_source import EventLogStreamReader

    path = str(tmp_path / "ids")
    import os as _os

    _os.makedirs(path)
    # two files; the second has two row groups (row_group_size=2)
    pq.write_table(pa.table({"event_id": [3, 1, 2]}), f"{path}/a.parquet")
    pq.write_table(
        pa.table({"event_id": [10, 4, 7, 9]}), f"{path}/b.parquet", row_group_size=2
    )
    r = EventLogStreamReader(None, {"path": path, "idcolumn": "event_id"})
    assert r._max_id() == 10
    # stats really are present in the footers (the fast path, not the scan)
    meta = pq.ParquetFile(f"{path}/b.parquet").metadata
    assert meta.row_group(0).column(0).statistics.has_min_max


# -- MultiConsumer: multi-topic consumption (stream.ex:41-42 doc hint) -----


class MultiRecorder:
    """3-arity handler — the reference's full handler form (README.md:38):
    (stream name, message id, payload)."""

    def __init__(self, result=HandlerResult.OK):
        self.seen: list[tuple[str, str, dict]] = []
        self.result = result

    def __call__(self, stream: str, msg_id: str, payload: dict) -> HandlerResult:
        self.seen.append((stream, msg_id, payload))
        return self.result


def test_multi_consumer_per_stream_order(spark, tmp_path):
    from redix_stream_spark.streaming import MultiConsumer

    la, lb = EventLog(str(tmp_path / "la")), EventLog(str(tmp_path / "lb"))
    ida = la.produce_many(spark, [{"k": "a1"}, {"k": "a2"}])
    idb = lb.produce_many(spark, [{"k": "b1"}])
    rec = MultiRecorder()
    mc = MultiConsumer({"alpha": la, "beta": lb}, rec, str(tmp_path / "ck"))
    mc.run_once(spark)
    per_stream: dict[str, list[str]] = {}
    for stream, mid, _ in rec.seen:
        per_stream.setdefault(stream, []).append(mid)
    assert per_stream == {"alpha": ida, "beta": idb}


def test_multi_consumer_independent_positions(spark, tmp_path):
    # Redis XREAD keeps one cursor per stream: draining both then producing
    # to one must redeliver nothing and deliver only the new message.
    from redix_stream_spark.streaming import MultiConsumer

    la, lb = EventLog(str(tmp_path / "la")), EventLog(str(tmp_path / "lb"))
    la.produce(spark, {"k": "a1"})
    lb.produce(spark, {"k": "b1"})
    rec = MultiRecorder()
    mc = MultiConsumer({"alpha": la, "beta": lb}, rec, str(tmp_path / "ck"))
    mc.run_once(spark)
    assert len(rec.seen) == 2
    pos = mc.delivered_positions()
    new_id = la.produce(spark, {"k": "a2"})
    mc.run_once(spark)
    assert [s for s, _, _ in rec.seen].count("alpha") == 2
    assert rec.seen[-1] == ("alpha", new_id, {"k": "a2"})
    # beta's cursor did not move; alpha's advanced
    pos2 = mc.delivered_positions()
    assert pos2["beta"] == pos["beta"] and pos2["alpha"] > pos["alpha"]


def test_multi_consumer_defer_ack_pending_per_stream(spark, tmp_path):
    from redix_stream_spark.streaming import MultiConsumer

    la, lb = EventLog(str(tmp_path / "la")), EventLog(str(tmp_path / "lb"))
    ida = la.produce(spark, {"k": "a1"})
    idb = lb.produce(spark, {"k": "b1"})
    rec = MultiRecorder(result=HandlerResult.DEFER)
    mc = MultiConsumer({"alpha": la, "beta": lb}, rec, str(tmp_path / "ck"))
    mc.run_once(spark)
    pend = {
        (r["stream"], r["id"]) for r in mc.pending(spark).collect()
    }
    assert pend == {("alpha", ida), ("beta", idb)}
    mc.ack(spark, "alpha", ida)
    assert {(r["stream"], r["id"]) for r in mc.pending(spark).collect()} == {
        ("beta", idb)
    }
    assert mc.pending(spark, "beta").count() == 1


def test_multi_consumer_supervised_isolated_restarts(spark, tmp_path):
    # One stream's crashing handler is restarted and recovers; the healthy
    # sibling stream drains untouched (supervisor-per-consumer, R13).
    from redix_stream_spark.streaming import MultiConsumer

    la, lb = EventLog(str(tmp_path / "la")), EventLog(str(tmp_path / "lb"))
    la.produce(spark, {"k": "boom"})
    lb.produce(spark, {"k": "fine"})
    crashes = {"left": 1}
    seen: list[tuple[str, str]] = []

    def handler(stream: str, mid: str, payload: dict) -> HandlerResult:
        if stream == "alpha" and crashes["left"] > 0:
            crashes["left"] -= 1
            raise RuntimeError("alpha crash")
        seen.append((stream, payload["k"]))
        return HandlerResult.OK

    mc = MultiConsumer({"alpha": la, "beta": lb}, handler, str(tmp_path / "ck"))
    restarts = mc.run_supervised(spark, max_restarts=2)
    assert restarts == {"alpha": 1, "beta": 0}
    assert sorted(seen) == [("alpha", "boom"), ("beta", "fine")]
