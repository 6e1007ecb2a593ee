"""Shared cluster-labels artifact: hash-invisible reuse of q80's output."""

from __future__ import annotations

import os
import shutil
import tempfile

from redix_stream_spark.llm import artifacts
from redix_stream_spark.llm.artifacts import (
    ARTIFACT_PREFIX,
    cluster_labels,
    corpus_fingerprint,
)
from redix_stream_spark.llm.dedup import neardup_clusters


def _clear_artifacts():
    base = tempfile.gettempdir()
    for name in os.listdir(base):
        if name.startswith(ARTIFACT_PREFIX):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def test_artifact_matches_inline_computation(spark, sf_dir):
    """The materialized labels are value-identical to neardup_clusters —
    the artifact must be hash-invisible to every consumer."""
    _clear_artifacts()
    direct = {
        (r["doc_id"], r["cluster_id"], r["is_canonical"])
        for r in neardup_clusters(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        ).collect()
    }
    via_artifact = {
        (r["doc_id"], r["cluster_id"], r["is_canonical"])
        for r in cluster_labels(spark, sf_dir).collect()
    }
    assert via_artifact == direct


def test_artifact_built_once_then_reused(spark, sf_dir, monkeypatch):
    """The second consumer call must NOT re-run the clustering pipeline
    (signature computation is the pipeline's entry stage — zero calls on
    a warm artifact)."""
    from redix_stream_spark.llm.dedup import minhash_signatures

    _clear_artifacts()
    calls = []

    def counting(docs, *a, **kw):
        calls.append(1)
        return minhash_signatures(docs, *a, **kw)

    monkeypatch.setattr(
        "redix_stream_spark.llm.dedup.minhash_signatures", counting
    )
    cluster_labels(spark, sf_dir).count()
    cluster_labels(spark, sf_dir).count()
    assert len(calls) == 1


def test_fingerprint_tracks_corpus_changes(sf_dir, tmp_path):
    """A rewritten corpus (same name, different bytes/mtime) gets a new
    fingerprint — stale labels can never be served."""
    src = os.path.join(sf_dir, "documents.parquet")
    d1 = tmp_path / "a"
    d1.mkdir()
    shutil.copy(src, d1 / "documents.parquet")
    fp1 = corpus_fingerprint(str(d1))
    os.utime(d1 / "documents.parquet", ns=(1, 1))
    assert corpus_fingerprint(str(d1)) != fp1


def test_incremental_equals_from_scratch(spark, sf_dir):
    """The incremental refresh must be value-identical to re-clustering
    the union corpus from scratch — including new docs bridging old
    clusters (every 7th doc re-arrives as an exact copy)."""
    from pyspark.sql import functions as F

    from redix_stream_spark.llm.artifacts import incremental_cluster_labels
    from redix_stream_spark.llm.dedup import (
        INC_BATCH_MOD,
        INC_BATCH_OFFSET,
    )

    _clear_artifacts()
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    batch = d.filter(F.col("doc_id") % INC_BATCH_MOD == 3).select(
        (F.col("doc_id") + INC_BATCH_OFFSET).alias("doc_id"), "text"
    )
    incremental = {
        tuple(r)
        for r in incremental_cluster_labels(spark, sf_dir, batch).collect()
    }
    scratch = {
        tuple(r)
        for r in neardup_clusters(d.unionByName(batch)).collect()
    }
    assert incremental == scratch
    # the batch actually connected to the base corpus
    assert any(doc_id >= INC_BATCH_OFFSET for doc_id, _, _ in incremental)


def test_incremental_never_recomputes_base_signatures(spark, sf_dir, monkeypatch):
    """With a warm artifact, the refresh computes signatures for the
    BATCH only — old docs ride the persisted band index."""
    from pyspark.sql import functions as F

    from redix_stream_spark.llm.artifacts import (
        cluster_labels,
        incremental_cluster_labels,
    )
    from redix_stream_spark.llm.dedup import (
        INC_BATCH_MOD,
        INC_BATCH_OFFSET,
        minhash_signatures,
    )

    _clear_artifacts()
    cluster_labels(spark, sf_dir).count()  # warm the artifact
    sizes = []

    def counting(docs, *a, **kw):
        sizes.append(docs.count())
        return minhash_signatures(docs, *a, **kw)

    # artifacts.py imports dedup names inside the function body, so the
    # patched module attribute IS what the refresh binds.
    monkeypatch.setattr(
        "redix_stream_spark.llm.dedup.minhash_signatures", counting
    )
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    batch = d.filter(F.col("doc_id") % INC_BATCH_MOD == 3).select(
        (F.col("doc_id") + INC_BATCH_OFFSET).alias("doc_id"), "text"
    )
    n_batch = batch.count()
    incremental_cluster_labels(spark, sf_dir, batch).count()
    assert sizes == [n_batch]  # exactly one signature pass, batch-sized


def test_artifact_dirs_are_lru_bounded(sf_dir):
    """At most ARTIFACT_KEEP corpora keep artifact dirs; entering a new
    fingerprint sweeps the least-recently-used past the cap."""
    from redix_stream_spark.llm.artifacts import ARTIFACT_KEEP

    _clear_artifacts()
    base = tempfile.gettempdir()
    stale = []
    for i in range(ARTIFACT_KEEP):
        p = os.path.join(base, f"{ARTIFACT_PREFIX}stale{i:011x}")
        os.makedirs(p, exist_ok=True)
        os.utime(p, ns=(i + 1, i + 1))  # distinct, ancient mtimes
        stale.append(p)
    artifacts._artifact_root(corpus_fingerprint(sf_dir))
    assert not os.path.exists(stale[0])  # oldest swept
    for p in stale[1:]:  # newer ones survive up to the cap
        assert os.path.exists(p)
    live = [
        n for n in os.listdir(base) if n.startswith(ARTIFACT_PREFIX)
    ]
    assert len(live) == ARTIFACT_KEEP


def test_fingerprint_tracks_pipeline_parameters(sf_dir, monkeypatch):
    """Changing a clustering parameter invalidates the artifact exactly
    like a corpus rewrite does — a warm /tmp artifact built with the old
    N_BANDS/threshold must never be served for the new pipeline
    (ADVICE r6: silently stale bench timings in unchecked paths)."""
    from redix_stream_spark.llm import dedup

    fp1 = corpus_fingerprint(sf_dir)
    monkeypatch.setattr(dedup, "N_BANDS", dedup.N_BANDS + 1)
    fp2 = corpus_fingerprint(sf_dir)
    assert fp2 != fp1
    monkeypatch.setattr(
        dedup, "JACCARD_THRESHOLD", dedup.JACCARD_THRESHOLD + 0.01
    )
    assert corpus_fingerprint(sf_dir) not in (fp1, fp2)


def test_lru_sweep_survives_vanishing_sibling(sf_dir, monkeypatch):
    """A sibling removed between listdir and the mtime stat (concurrent
    session / tmp cleanup) must sort harmlessly, not kill the consumer
    query with FileNotFoundError (ADVICE r6)."""
    _clear_artifacts()
    real_listdir = os.listdir

    def ghost_listdir(path):
        return real_listdir(path) + [f"{ARTIFACT_PREFIX}ghost_gone"]

    monkeypatch.setattr(os, "listdir", ghost_listdir)
    root = artifacts._artifact_root(corpus_fingerprint(sf_dir))
    assert os.path.isdir(root)


def test_build_commits_gate_table_last(spark, sf_dir, monkeypatch):
    """The rebuild gate is labels_t.generations(), so labels must commit
    LAST: a crash between the two artifact writes then leaves a
    retryable miss — never a gate-passing artifact with empty bands
    (ADVICE r6). Simulates the crash and checks self-repair."""
    import pytest

    from redix_stream_spark.sources.manifest_table import ManifestTable

    _clear_artifacts()
    real_write = ManifestTable.write

    class Boom(RuntimeError):
        pass

    order = []

    def crashing_write(self, df, **kw):
        order.append(os.path.basename(self.root))
        if self.root.endswith("labels"):
            raise Boom("crash between artifact writes")
        return real_write(self, df, **kw)

    monkeypatch.setattr(ManifestTable, "write", crashing_write)
    with pytest.raises(Boom):
        artifacts._tables(spark, sf_dir)
    assert order == ["bands", "labels"]  # bands landed first
    monkeypatch.setattr(ManifestTable, "write", real_write)
    labels_t, bands_t = artifacts._tables(spark, sf_dir)  # self-repairs
    assert labels_t.generations() and bands_t.generations()
    assert labels_t.read(spark).count() > 0
    assert bands_t.read(spark).count() > 0


def test_production_pairs_match_inline_pipeline(spark, sf_dir):
    """The materialized production-width pair relation is value-identical
    to the inline q36b pipeline — jaccard doubles included (parquet
    round-trips IEEE754 bit-for-bit), so q207's oracle is untouched."""
    from redix_stream_spark.llm.artifacts import production_pairs
    from redix_stream_spark.llm.dedup import (
        PROD_BANDS,
        PROD_PERM_PARAMS,
        _minhash_neardup_pipeline,
    )

    _clear_artifacts()
    direct = {
        (r["doc_id_a"], r["doc_id_b"], r["jaccard"])
        for r in _minhash_neardup_pipeline(
            spark, sf_dir, params=PROD_PERM_PARAMS, n_bands=PROD_BANDS
        ).collect()
    }
    via_artifact = {
        (r["doc_id_a"], r["doc_id_b"], r["jaccard"])
        for r in production_pairs(spark, sf_dir).collect()
    }
    assert via_artifact == direct
    assert len(direct) > 0


def test_production_pairs_built_once_then_reused(spark, sf_dir, monkeypatch):
    """A warm pairs artifact serves q207 without re-entering the MinHash
    pipeline (signature computation is its entry stage)."""
    from redix_stream_spark.llm import dedup
    from redix_stream_spark.llm.artifacts import production_pairs
    from redix_stream_spark.llm.dedup import minhash_signatures
    from redix_stream_spark.registry import all_queries

    _clear_artifacts()
    calls = []
    real = minhash_signatures

    def counting(d, params=None):
        calls.append(1)
        return real(d, params=params)

    monkeypatch.setattr(dedup, "minhash_signatures", counting)
    production_pairs(spark, sf_dir).count()
    assert len(calls) == 1
    all_queries()["q207_dup_source_matrix"](spark, sf_dir).count()
    assert len(calls) == 1  # q207 consumed the artifact, not the pipeline


def test_artifact_build_bands_once(spark, sf_dir, tmp_path, monkeypatch):
    """An artifact miss bands the signatures once: the persisted bands
    are the relation the pair join consumes. The labels still equal
    the inline clustering."""
    from redix_stream_spark.llm import dedup

    shutil.copy(
        os.path.join(sf_dir, "documents.parquet"), tmp_path / "documents.parquet"
    )
    calls = []
    real = dedup.banded_keys

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(dedup, "banded_keys", counting)
    root = os.path.join(
        tempfile.gettempdir(), ARTIFACT_PREFIX + corpus_fingerprint(str(tmp_path))
    )
    try:
        got = {tuple(r) for r in cluster_labels(spark, str(tmp_path)).collect()}
        assert len(calls) == 1
        d = spark.read.parquet(str(tmp_path / "documents.parquet"))
        assert got == {tuple(r) for r in neardup_clusters(d).collect()}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_sset_sweep_spares_live_foreign_pids():
    """The shingle-set scratch sweep is per process: a live sibling
    session's dir survives, and this process keeps at most _SSET_KEEP."""
    from redix_stream_spark.llm.dedup import _SSET_KEEP, _SSET_PREFIX, _sset_scratch

    base = tempfile.gettempdir()
    foreign = os.path.join(base, f"{_SSET_PREFIX}{os.getppid()}_foreigntest")
    os.makedirs(foreign, exist_ok=True)
    try:
        for _ in range(5):
            _sset_scratch()
        assert os.path.isdir(foreign)
        own = [
            n for n in os.listdir(base) if n.startswith(f"{_SSET_PREFIX}{os.getpid()}_")
        ]
        assert 0 < len(own) <= _SSET_KEEP
    finally:
        shutil.rmtree(foreign, ignore_errors=True)
