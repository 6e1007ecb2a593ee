"""Crash-replay tests for the generation-pointer commit protocol
(redix_stream_spark/streaming/commit.py) across every durable-state site
that adopted it — VERDICT r03 item 3.

The simulated crash is the worst window of the old rename-swap: the
writer dies AFTER staging the complete new state but BEFORE making it
visible. Under the pointer protocol that window must be a no-op for
readers (old state fully intact), and a simple retry must converge with
no loss and no double count. We inject the crash by making
``GenerationState.commit`` raise — everything before the pointer flip
has then happened (staged files durable), nothing after.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from redix_stream_spark.streaming.commit import GenerationState


class _Boom(RuntimeError):
    pass


@pytest.fixture()
def crash_commit(monkeypatch):
    """Arm a one-shot crash inside GenerationState.commit."""
    real = GenerationState.commit
    state = {"armed": False}

    def maybe_boom(self, gen, **meta):
        if state["armed"]:
            state["armed"] = False
            raise _Boom("simulated crash between stage and pointer flip")
        return real(self, gen, **meta)

    monkeypatch.setattr(GenerationState, "commit", maybe_boom)

    def arm():
        state["armed"] = True

    return arm


def test_generation_state_basics(tmp_path):
    gs = GenerationState(str(tmp_path / "s"))
    assert gs.current_gen() is None and gs.current_dir() is None
    g0, d0 = gs.stage()
    open(os.path.join(d0, "x"), "w").write("0")
    gs.commit(g0, tag="a")
    assert gs.current_gen() == g0 and gs.meta() == {"tag": "a"}
    # an uncommitted stage never becomes visible and is GC'd
    g1, d1 = gs.stage()
    open(os.path.join(d1, "x"), "w").write("1")
    assert gs.current_gen() == g0
    assert gs.cleanup() == 1 and not os.path.isdir(d1)
    # numbering never reuses a seen generation, even after GC
    g2, _ = gs.stage()
    assert g2 > g0


def test_ensure_committed_bootstraps_gen0_once(tmp_path):
    gs = GenerationState(str(tmp_path / "s"))
    d0 = gs.ensure_committed(lossy_reduces=0)
    assert d0 == gs.gen_dir(0) and os.path.isdir(d0)
    assert gs.meta() == {"lossy_reduces": 0}
    # already committed: nothing is staged, the pointer is untouched
    g1, _ = gs.stage()
    gs.commit(g1, lossy_reduces=1)
    assert gs.ensure_committed(lossy_reduces=0) == gs.gen_dir(g1)
    assert gs.meta() == {"lossy_reduces": 1}
    assert gs._existing_gens() == [0, g1]


def test_matview_crash_between_stage_and_commit(spark, tmp_path, crash_commit):
    # The old swap's worst bug: base swapped in, folded-epoch manifest
    # not yet written -> folded epochs read twice. With the pointer the
    # fold is invisible until the single commit, so the pre-crash read
    # and the post-crash read are identical — and the retry folds once.
    from redix_stream_spark.catalog import load_table
    from redix_stream_spark.streaming.matview import StreamingMatView

    e = load_table(spark, "/root/testdata/sf0.001", "events")
    mv = StreamingMatView(str(tmp_path / "mv"))
    for i in range(3):
        mv.update(e.filter(F.col("event_id") % 3 == i), epoch_id=i)

    def snapshot():
        return {
            (r["window_start"], r["event_type"]): (r["n"], str(r["sum_dec"]))
            for r in mv.read(spark).collect()
        }

    before = snapshot()
    crash_commit()
    with pytest.raises(_Boom):
        mv.compact(spark)
    assert snapshot() == before  # reader sees fully-intact old state
    assert mv.compact(spark) == 3  # retry folds all three epochs once
    assert snapshot() == before
    # replay of a folded epoch stays dead (manifest committed with base)
    mv.update(e.filter(F.col("event_id") % 3 == 0), epoch_id=0)
    assert snapshot() == before


def test_heavy_hitters_crash_spends_no_budget(spark, tmp_path, crash_commit):
    from redix_stream_spark.llm.stream_heavy import (
        MG_COUNTERS,
        StreamingHeavyHitters,
    )

    hh = StreamingHeavyHitters(spark, str(tmp_path / "hh"))
    for epoch in range(2):
        toks = [(f"tok{epoch}_{i}",) for i in range(MG_COUNTERS * 3)]
        hh.ingest_batch(spark.createDataFrame(toks, "token string"), epoch)
    total_before = hh.totals()
    budget_before = hh._lossy_reduces()
    crash_commit()
    with pytest.raises(_Boom):
        hh.compact()
    # atomicity: neither the fold nor the budget spend became visible
    assert hh.totals() == total_before
    assert hh._lossy_reduces() == budget_before
    hh.compact()  # retry
    assert hh.totals() == total_before
    assert hh._lossy_reduces() == budget_before + 1


def test_dedup_index_compaction_crash_then_retry(spark, tmp_path, crash_commit):
    from redix_stream_spark.llm.stream_dedup import StreamingNearDupFilter

    f = StreamingNearDupFilter(
        index_path=str(tmp_path / "idx"),
        accepted_path=str(tmp_path / "acc"),
    )
    base = " ".join(f"w{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, base), (2, base + " tail"), (3, "completely different " * 12)],
        "doc_id long, text string",
    )
    f.apply_batch(docs, 0)
    claimed_before = {
        (r["band_key"], r["owner"]) for r in f._claimed(spark).collect()
    }
    crash_commit()
    with pytest.raises(_Boom):
        f.compact_index(spark)
    assert {
        (r["band_key"], r["owner"]) for r in f._claimed(spark).collect()
    } == claimed_before
    n = f.compact_index(spark)  # retry
    assert n == len({k for k, _ in claimed_before})
    # post-compaction the filter still recognizes history
    f.apply_batch(
        spark.createDataFrame([(9, base)], "doc_id long, text string"), 1
    )
    accepted = sorted(r["doc_id"] for r in f.accepted(spark).collect())
    assert 9 not in accepted


def test_ivf_refresh_crash_preserves_index_then_retry(
    spark, tmp_path, crash_commit
):
    import numpy as np

    from redix_stream_spark.llm.stream_ann import StreamingIvfIndex

    rng = np.random.default_rng(3)
    dim = 8
    axes = np.eye(dim)
    rows = []
    for j in range(4):
        pts = axes[j] + rng.normal(0, 0.05, size=(40, dim))
        rows += [
            (1000 * j + i, j, [float(x) for x in p])
            for i, p in enumerate(pts)
        ]
    ivf = StreamingIvfIndex(
        codebook_path=str(tmp_path / "cb"), index_path=str(tmp_path / "ivf")
    )
    ivf._write_codebook(
        spark, [(j, [float(x) for x in axes[j]]) for j in range(4)]
    )
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    ivf.ingest_batch(df, 0)
    n_before = ivf._index(spark).count()
    qv = [float(x) for x in axes[0]]
    top_before = [r["vec_id"] for r in ivf.query(spark, qv, k=5).collect()]

    crash_commit()
    with pytest.raises(_Boom):
        ivf.refresh(spark, sample_fraction=1.0, k=4, seed=11)
    # old index fully intact: same rows, same answers
    assert ivf._index(spark).count() == n_before
    assert [
        r["vec_id"] for r in ivf.query(spark, qv, k=5).collect()
    ] == top_before

    stats = ivf.refresh(spark, sample_fraction=1.0, k=4, seed=11)  # retry
    assert ivf._index(spark).count() == n_before
    assert stats["cells_rewritten"] + stats["cells_kept"] >= 1
    # delta fully folded: the manifest covers every cell, no delta left
    assert ivf._delta(spark).count() == 0


def test_ivf_stable_cells_keep_their_files(spark, tmp_path):
    # The zero-rewrite claim, verified at the file level: a refresh that
    # moves nothing leaves stable cells' parquet files untouched (same
    # inodes/paths), only the pointer and codebook change.
    import numpy as np

    from redix_stream_spark.llm.stream_ann import StreamingIvfIndex

    rng = np.random.default_rng(5)
    dim = 8
    axes = np.eye(dim)
    rows = []
    for j in range(3):
        pts = axes[j] + rng.normal(0, 0.02, size=(30, dim))
        rows += [
            (1000 * j + i, j, [float(x) for x in p])
            for i, p in enumerate(pts)
        ]
    ivf = StreamingIvfIndex(
        codebook_path=str(tmp_path / "cb"), index_path=str(tmp_path / "ivf")
    )
    ivf._write_codebook(
        spark, [(j, [float(x) for x in axes[j]]) for j in range(3)]
    )
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    ivf.ingest_batch(df, 0)
    # first refresh folds the delta into base generations
    ivf.refresh(spark, sample_fraction=1.0, k=3, seed=13)
    manifest1 = ivf._cell_manifest()

    def files_of(cell):
        gen_dir = ivf._state.gen_dir(ivf._cell_manifest()[cell])
        cdir = os.path.join(gen_dir, f"cell={cell}")
        return {
            os.path.join(cdir, f)
            for f in os.listdir(cdir)
            if f.endswith(".parquet")
        }

    before = {c: files_of(c) for c in manifest1}
    # second refresh with the same codebook geometry: nothing moves
    stats = ivf.refresh(spark, sample_fraction=1.0, k=3, seed=13)
    if stats["n_moved"] == 0:
        kept = set(manifest1) & set(ivf._cell_manifest())
        assert kept
        for c in kept:
            if ivf._cell_manifest()[c] == manifest1[c]:
                assert files_of(c) == before[c]
        assert stats["cells_kept"] >= 1


def test_eventlog_compact_crash_recovery(spark, tmp_path):
    # Kill the compaction between its two renames (log at .old, no live
    # dir): reopening the log must restore it with every message.
    from redix_stream_spark.streaming.log import EventLog

    log = EventLog(str(tmp_path / "log"))
    ids = log.produce_many(spark, [{"k": str(i)} for i in range(5)])
    assert len(ids) == 5
    # simulate the crash window
    os.rename(log.path, log.path + ".old")
    recovered = EventLog(str(tmp_path / "log"))
    assert recovered.read(spark).count() == 5
    assert not os.path.isdir(log.path + ".old")


def test_quantile_view_compaction_crash_then_retry(spark, tmp_path, crash_commit):
    from redix_stream_spark.catalog import load_table
    from redix_stream_spark.streaming.quantile import StreamingQuantileView

    e = load_table(spark, "/root/testdata/sf0.001", "events")
    qv = StreamingQuantileView(spark, str(tmp_path / "q"))
    for i in range(2):
        qv.ingest_batch(e.filter(F.col("event_id") % 2 == i), epoch_id=i)
    before = {tuple(r) for r in qv.quantiles().collect()}
    crash_commit()
    with pytest.raises(_Boom):
        qv.compact()
    assert {tuple(r) for r in qv.quantiles().collect()} == before
    qv.compact()
    assert {tuple(r) for r in qv.quantiles().collect()} == before
