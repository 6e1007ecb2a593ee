"""Streaming materialized view: incremental maintenance must be
invisible in results (≡ the batch aggregate), idempotent under epoch
replay, and stable across compaction — including the crash window where
folded partial dirs survive on disk."""

from __future__ import annotations

import datetime
import os
import time

from pyspark.sql import functions as F

from redix_stream_spark.streaming.matview import StreamingMatView


def _rows(day: int, n: int, typ: str = "view"):
    base = datetime.datetime(2024, 1, day)
    return [
        (day * 1000 + i, base + datetime.timedelta(minutes=17 * i), 7, typ, 1.5 + i)
        for i in range(n)
    ]


SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _expected(spark, all_rows):
    return {
        (str(r["window_start"]), r["event_type"]): (r["n"], float(r["sum_dec"]))
        for r in spark.createDataFrame(all_rows, SCHEMA)
        .groupBy(
            F.window("ts", "1 hour").start.alias("window_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_dec"),
        )
        .collect()
    }


def _view_dict(spark, mv):
    return {
        (str(r["window_start"]), r["event_type"]): (r["n"], float(r["sum_dec"]))
        for r in mv.read(spark).collect()
    }


def test_matview_equals_batch_and_survives_replay_and_compaction(spark, tmp_path):
    mv = StreamingMatView(str(tmp_path / "mv"))
    b1, b2, b3 = _rows(1, 5), _rows(2, 4, "click") + _rows(1, 2), _rows(3, 3)
    mv.update(spark.createDataFrame(b1, SCHEMA), 0)
    mv.update(spark.createDataFrame(b2, SCHEMA), 1)
    expect12 = _expected(spark, b1 + b2)
    assert _view_dict(spark, mv) == expect12

    # Crash-replay of epoch 1: same directory rewritten, result unchanged.
    mv.update(spark.createDataFrame(b2, SCHEMA), 1)
    assert _view_dict(spark, mv) == expect12

    # Compact, then keep streaming into a fresh partial.
    assert mv.compact(spark) == 2
    assert _view_dict(spark, mv) == expect12
    mv.update(spark.createDataFrame(b3, SCHEMA), 2)
    expect123 = _expected(spark, b1 + b2 + b3)
    assert _view_dict(spark, mv) == expect123

    # Crash window: a folded epoch's dir reappears (lagging replay after
    # compaction) — the manifest keeps it dead.
    mv.update(spark.createDataFrame(b1, SCHEMA), 0)
    assert _view_dict(spark, mv) == expect123
    assert mv.compact(spark) == 1  # folds only epoch 2
    assert _view_dict(spark, mv) == expect123


def test_matview_under_real_stream(spark, tmp_path):
    """The foreachBatch wiring under an actual availableNow stream."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    b1, b2 = _rows(1, 6), _rows(2, 5, "click")
    for b in (b1, b2):
        spark.createDataFrame(b, SCHEMA).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.1)

    mv = StreamingMatView(str(tmp_path / "mv"))
    q = (
        mv.attach(
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            str(tmp_path / "ck"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert _view_dict(spark, mv) == _expected(spark, b1 + b2)


def test_latest_view_equals_batch_argmax_and_replay(spark, tmp_path):
    from redix_stream_spark.streaming.matview import StreamingLatestView

    lv = StreamingLatestView(str(tmp_path / "lv"))
    # Out-of-order delivery across epochs: day-2 events arrive first.
    b1, b2 = _rows(2, 4, "click"), _rows(1, 5)
    lv.update(spark.createDataFrame(b1, SCHEMA), 0)
    lv.update(spark.createDataFrame(b2, SCHEMA), 1)
    # Replay epoch 1 (idempotence), then compact and read.
    lv.update(spark.createDataFrame(b2, SCHEMA), 1)
    lv.compact(spark)

    got = {
        r["user_id"]: (str(r["last_ts"]), r["event_type"], r["n_events"])
        for r in lv.read(spark).collect()
    }
    allr = sorted(b1 + b2, key=lambda t: (t[1], t[0]))
    last = allr[-1]
    assert got == {7: (str(last[1]), last[3], len(allr))}


def test_sliding_hll_tracks_exact_within_5pct(spark, sf_dir):
    """q109b's sketch estimates must track the exact sliding distinct."""
    from redix_stream_spark import registry

    Q = registry.all_queries()
    exact = {
        str(r["hr"]): r["users_24h"]
        for r in Q["q109_sliding_distinct"](spark, sf_dir).collect()
    }
    est = {
        str(r["hr"]): r["users_24h_est"]
        for r in Q["q109b_sliding_distinct_hll"](spark, sf_dir).collect()
    }
    assert set(exact) == set(est)
    for hr, n in exact.items():
        assert abs(est[hr] - n) <= max(2, 0.05 * n), (hr, n, est[hr])


def test_latest_view_tombstones_delete_without_resurrection(spark, tmp_path):
    """Reference R10 (tombstone filter) lifted to the latest-state view:
    a key whose latest event is a tombstone is dead in read_state();
    a LATE-arriving older update must not resurrect it; a genuinely
    newer update must."""
    from pyspark.sql import functions as F

    from redix_stream_spark.streaming.matview import StreamingLatestView

    def batch(rows):
        return spark.createDataFrame(rows, SCHEMA).withColumn(
            "is_del", F.col("event_type") == "delete"
        )

    ts = lambda m: datetime.datetime(2024, 1, 1, 0, m)  # noqa: E731
    lv = StreamingLatestView(str(tmp_path / "lv"), tombstone="is_del")
    # epoch 0: two keys live       epoch 1: delete key 7 at minute 30
    lv.update(batch([(1, ts(10), 7, "view", 1.0), (2, ts(10), 8, "view", 2.0)]), 0)
    lv.update(batch([(3, ts(30), 7, "delete", 0.0)]), 1)
    live = {r["user_id"] for r in lv.read_state(spark).collect()}
    assert live == {8}
    # late OLDER update for 7 (minute 20 < the delete) — stays dead,
    # even after compaction folds everything into the base.
    lv.update(batch([(4, ts(20), 7, "view", 9.9)]), 2)
    lv.compact(spark)
    assert {r["user_id"] for r in lv.read_state(spark).collect()} == {8}
    # genuinely newer update resurrects.
    lv.update(batch([(5, ts(40), 7, "view", 3.3)]), 3)
    rows = {r["user_id"]: r for r in lv.read_state(spark).collect()}
    assert set(rows) == {7, 8}
    assert rows[7]["value"] == 3.3 and rows[7]["n_events"] == 4


def test_quality_report_flags_planted_defects(spark):
    """q112's constraint suite on a deliberately dirty frame: every
    check must fire on exactly its planted defect."""
    from redix_stream_spark.operators.analytics import quality_report

    rows = [
        (1, datetime.datetime(2024, 1, 1), 7, "view", 1.0, "{}"),
        (1, datetime.datetime(2024, 1, 2), 8, "click", 2.0, "{}"),   # dup id
        (2, datetime.datetime(1999, 1, 1), 9, "view", 3.0, "{}"),    # ts low
        (3, datetime.datetime(2024, 1, 3), None, "weird", -1.0, None),
        # ^ null user, unknown type, negative value, null props
    ]
    rep = quality_report(
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )
    ).collect()[0]
    assert rep["n_rows"] == 4
    assert rep["dup_event_ids"] == 1
    assert rep["null_user_id"] == 1
    assert rep["null_props"] == 1
    assert rep["negative_values"] == 1
    assert rep["ts_out_of_range"] == 1
    assert rep["unknown_event_types"] == 1
    assert rep["distinct_event_types"] == 3


def test_anomaly_composes_over_streaming_view(spark, sf_dir):
    """q110's detector over a streaming-maintained hourly view must equal
    q110 over raw events — incremental maintenance composes with
    downstream analytics without touching raw data again."""
    import tempfile

    from pyspark.sql import functions as F

    from redix_stream_spark.catalog import load_table
    from redix_stream_spark.operators.analytics import (
        q110_rate_anomaly,
        rate_anomaly_from_hourly,
    )
    from redix_stream_spark.streaming.matview import StreamingMatView

    e = load_table(spark, sf_dir, "events")
    mv = StreamingMatView(
        tempfile.mkdtemp(prefix="anomaly_mv_"), keys=("event_type",)
    )
    for i in range(3):
        mv.update(e.filter(F.col("event_id") % 3 == i), epoch_id=i)
    hourly = mv.read(spark).select(
        "event_type", F.col("window_start").alias("hr"), F.col("n").alias("x")
    )
    via_view = {
        (r["event_type"], str(r["hr"])): (r["x"], r["is_anomaly"])
        for r in rate_anomaly_from_hourly(hourly).collect()
    }
    direct = {
        (r["event_type"], str(r["hr"])): (r["x"], r["is_anomaly"])
        for r in q110_rate_anomaly(spark, sf_dir).collect()
    }
    assert via_view == direct and len(direct) > 0


def test_streaming_scd2_view_equals_batch_rebuild(spark, tmp_path):
    # Ingesting the event log in 3 ts-ordered micro-batches must produce
    # exactly the batch q122 reconstruction — including state runs that
    # SPAN batch boundaries (the open interval keeps its original
    # effective_from). Plus: epoch replay is idempotent.
    import pyspark.sql.functions as F

    from redix_stream_spark.catalog import load_table
    from redix_stream_spark.operators.analytics import scd2_intervals
    from redix_stream_spark.streaming.scd2 import StreamingScd2View

    sf_dir = "/root/testdata/sf0.001"
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    bounds = e.select(
        F.expr("percentile_approx(unix_micros(cast(ts as timestamp)), 0.33)"),
        F.expr("percentile_approx(unix_micros(cast(ts as timestamp)), 0.66)"),
    ).head()
    t1, t2 = bounds[0], bounds[1]
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    batches = [
        e.filter(us <= t1),
        e.filter((us > t1) & (us <= t2)),
        e.filter(us > t2),
    ]

    view = StreamingScd2View(spark, str(tmp_path / "scd2"))
    for i, b in enumerate(batches):
        view.ingest_batch(b, i)

    def canon(df):
        return {
            (r["user_id"], r["event_type"], r["effective_from"], r["effective_to"])
            for r in df.collect()
        }

    expected = canon(scd2_intervals(e))
    got = canon(view.read_history())
    assert got == expected and got
    # runs spanning batch boundaries stayed single intervals: interval
    # count matches the batch rebuild exactly (no splits at t1/t2)
    assert view.read_history().count() == scd2_intervals(e).count()

    # crash-replay: re-ingest the LAST epoch — state must be unchanged
    view.ingest_batch(batches[2], 2)
    assert canon(view.read_history()) == expected

    # mid-stream replay: epoch 1 replays, then 2 follows (the streaming
    # recovery path) — same fixed point
    view.ingest_batch(batches[1], 1)
    view.ingest_batch(batches[2], 2)
    assert canon(view.read_history()) == expected


def test_streaming_ohlc_view_equals_batch_bars(spark, tmp_path):
    # The mergeable-argmin/argmax claim, tested: three ts-split batches +
    # a replayed epoch + compaction must reproduce q114's batch bars
    # exactly (incl. open/close crossing batch boundaries within a bar).
    import pyspark.sql.functions as F

    from redix_stream_spark.catalog import load_table
    from redix_stream_spark.registry import all_queries
    from redix_stream_spark.streaming.matview import StreamingOhlcView

    sf_dir = "/root/testdata/sf0.001"
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    bounds = e.select(
        F.expr("percentile_approx(unix_micros(cast(ts as timestamp)), 0.33)"),
        F.expr("percentile_approx(unix_micros(cast(ts as timestamp)), 0.66)"),
    ).head()
    t1, t2 = bounds[0], bounds[1]
    batches = [
        e.filter(us <= t1),
        e.filter((us > t1) & (us <= t2)),
        e.filter(us > t2),
    ]
    view = StreamingOhlcView(str(tmp_path / "ohlc"))
    for i, b in enumerate(batches):
        view.update(b, i)
    view.update(batches[1], 1)  # crash-replay of a middle epoch: no-op
    assert view.compact(spark) == 3

    def canon(df):
        return {
            (
                r["event_type"], r["hr"], r["open"], r["high"], r["low"],
                r["close"], r["n_trades"], r["volume"],
            )
            for r in df.collect()
        }

    got = canon(view.read_bars(spark))
    expected = canon(all_queries()["q114_ohlc_bars"](spark, sf_dir))
    assert got == expected and got


def test_streaming_quantile_view_equals_batch_and_survives_replay(spark, tmp_path):
    # Exact-quantile view: 3-batch ingest + replay + compact must equal
    # the one-shot batch answer bit-for-bit (counts merge exactly; no
    # sketch error to tolerate).
    import pyspark.sql.functions as F

    from redix_stream_spark.catalog import load_table
    from redix_stream_spark.streaming.quantile import StreamingQuantileView

    e = load_table(spark, "/root/testdata/sf0.001", "events")
    qv = StreamingQuantileView(spark, str(tmp_path / "q"))
    for i in range(3):
        qv.ingest_batch(e.filter(F.col("event_id") % 3 == i), epoch_id=i)

    def snap(view):
        return {tuple(r) for r in view.quantiles().collect()}

    expected_view = StreamingQuantileView(spark, str(tmp_path / "one"))
    expected_view.ingest_batch(e, epoch_id=0)
    expected = snap(expected_view)
    assert snap(qv) == expected and expected

    qv.ingest_batch(e.filter(F.col("event_id") % 3 == 1), epoch_id=1)  # replay
    assert snap(qv) == expected
    qv.compact()  # lossless fold
    assert snap(qv) == expected
    # post-compaction ingest still folds in
    qv.ingest_batch(e.limit(0), epoch_id=9)
    assert snap(qv) == expected


def test_quantile_fold_survives_fresh_checkpoint_epoch_zero(spark, tmp_path):
    """ADVICE r04: a stream re-attached to existing state with a FRESH
    checkpoint restarts micro-batch epoch ids at 0. The compacted fold
    must live outside the epoch namespace, or that first batch silently
    overwrites the entire folded history."""
    import pyspark.sql.functions as F

    from redix_stream_spark.catalog import load_table
    from redix_stream_spark.streaming.quantile import StreamingQuantileView

    e = load_table(spark, "/root/testdata/sf0.001", "events")
    qv = StreamingQuantileView(spark, str(tmp_path / "q"))
    qv.ingest_batch(e.filter(F.col("event_id") % 2 == 0), epoch_id=0)
    qv.compact()  # folded base now holds the even half
    # fresh checkpoint: epoch ids restart at 0 with NEW data
    qv.ingest_batch(e.filter(F.col("event_id") % 2 == 1), epoch_id=0)

    one = StreamingQuantileView(spark, str(tmp_path / "one"))
    one.ingest_batch(e, epoch_id=0)
    got = {tuple(r) for r in qv.quantiles().collect()}
    assert got == {tuple(r) for r in one.quantiles().collect()} and got


def test_quantile_view_under_real_stream(spark, tmp_path):
    """The quantile view's attach() wiring under an actual availableNow
    stream: two file-batches in, quantiles equal the one-shot batch."""
    import time as _time

    from redix_stream_spark.streaming.quantile import StreamingQuantileView

    src = str(tmp_path / "qsrc")
    os.makedirs(src)
    b1, b2 = _rows(1, 6), _rows(2, 5, "click")
    for b in (b1, b2):
        spark.createDataFrame(b, SCHEMA).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)

    qv = StreamingQuantileView(spark, str(tmp_path / "qv"))
    q = (
        qv.attach(
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src),
            str(tmp_path / "qck"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    one = StreamingQuantileView(spark, str(tmp_path / "qv_one"))
    one.ingest_batch(spark.createDataFrame(b1 + b2, SCHEMA), epoch_id=0)
    got = {tuple(r) for r in qv.quantiles().collect()}
    assert got == {tuple(r) for r in one.quantiles().collect()} and got


def test_q105_reuses_one_scratch_dir(spark, sf_dir):
    """Each q105 call rebuilds its view in the one swept per-prefix
    scratch dir: repeated drives must not leave a directory per call."""
    import tempfile

    from redix_stream_spark.registry import all_queries

    def n_dirs():
        base = tempfile.gettempdir()
        return sum(1 for n in os.listdir(base) if n.startswith("q105_matview_"))

    q105 = all_queries()["q105_matview_rollup"]
    first = q105(spark, sf_dir).collect()
    n = n_dirs()
    assert sorted(q105(spark, sf_dir).collect()) == sorted(first)
    assert n_dirs() <= n
