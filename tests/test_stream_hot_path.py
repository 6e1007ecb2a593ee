"""The streaming hot path: driver-built batches plan as a JVM
``LocalTableScan`` (no Python workers), and a strict micro-batch reads
its input once."""

from __future__ import annotations

import os

import pytest

from redix_stream_spark.streaming import Consumer, EventLog
from redix_stream_spark.streaming.log import (
    MESSAGE_SCHEMA,
    TOMBSTONE,
    _stringify,
    local_frame,
)
from redix_stream_spark.streaming.manifest_log import ManifestEventLog

ARROW_CONF = "spark.sql.execution.arrow.pyspark.enabled"


def _files(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, names in os.walk(root)
        for f in names
    )


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_local_frame_plans_a_local_table_scan(spark, arrow):
    rows = [(1, i, f"1-{i}", {"k": str(i)}) for i in range(50)]
    before = spark.conf.get(ARROW_CONF)
    spark.conf.set(ARROW_CONF, arrow)
    try:
        plan = _physical_plan(local_frame(spark, rows, MESSAGE_SCHEMA))
        # the check below must be able to fail: a list-built frame scans
        # a Python RDD under either conf
        list_plan = _physical_plan(spark.createDataFrame(rows, MESSAGE_SCHEMA))
    finally:
        spark.conf.set(ARROW_CONF, before)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan
    assert "ExistingRDD" in list_plan, list_plan


def test_local_frame_accepts_zero_rows(spark):
    df = local_frame(spark, [], MESSAGE_SCHEMA)
    assert df.schema == MESSAGE_SCHEMA
    assert df.count() == 0


@pytest.mark.parametrize("log_cls", [EventLog, ManifestEventLog])
def test_produce_many_round_trips_edge_payloads(spark, tmp_path, log_cls):
    log_dir = str(tmp_path / "log")
    log = log_cls(log_dir)
    payloads = [
        {},
        TOMBSTONE,
        {"n": 42, 7: 1.5, "flag": True, "none": None},  # _stringify coerces
        {"ключ": "значение", "日本": "語", "emoji": "\U0001f600"},
    ]
    ids = log.produce_many(spark, payloads)
    # an empty batch is a no-op: no Spark job, no data file, no manifest
    # commit for a file-stream consumer to list
    sc = spark.sparkContext
    group = f"empty-produce-{log_cls.__name__}"
    files = _files(log_dir)
    manifest = log.manifest() if isinstance(log, ManifestEventLog) else None
    sc.setJobGroup(group, "empty produce_many")
    try:
        assert log.produce_many(spark, []) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert _files(log_dir) == files
    if manifest is not None:
        assert log.manifest() == manifest
    later = log.produce(spark, {"k": "after-empty"})
    rows = log.read(spark).orderBy("ms", "seq").collect()
    assert [r["id"] for r in rows] == ids + [later]
    assert [r["payload"] for r in rows] == [
        _stringify(p) for p in payloads + [{"k": "after-empty"}]
    ]
    assert rows[2]["payload"] == {"n": "42", "7": "1.5", "flag": "True", "none": "None"}


def test_strict_batch_scans_input_once(spark, tmp_path):
    log = EventLog(str(tmp_path / "log"))
    for b in range(3):
        log.produce_many(spark, [{"key": f"{b}-{i}"} for i in range(20)])
    consumer: Consumer
    seen: list[str] = []
    late: list[str] = []

    def handler(msg_id: str, payload: dict):
        # crash safety: the attempted watermark covers a message before
        # its handler runs
        ms, seq = (int(x) for x in msg_id.split("-"))
        if consumer.attempted_position() < (ms, seq):
            late.append(msg_id)
        seen.append(msg_id)

    consumer = Consumer(log, handler, str(tmp_path / "ckpt"), group_name="g")
    q = consumer.run_forever(spark, poll_seconds=0.5)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(seen) == 60 and not late, late

    # a streaming query runs its micro-batch jobs in the job group named
    # by its run id
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stages = {
        sid
        for jid in tracker.getJobIdsForGroup(str(q.runId))
        for sid in tracker.getJobInfo(jid).stageIds
    }
    scanned = sum(store.lastStageAttempt(sid).inputRecords() for sid in stages)
    assert scanned == len(seen)
