"""Semantic-dedup (SemDeDup-style) semantics on planted fixtures.

The driver's oracle row (q102) verifies the construction stage-for-stage
at sf0.01, but at that scale no random pair clears τ — these fixtures pin
the drop semantics: planted near-identical embeddings collapse to the
first occurrence, orthogonal vectors survive, and the verdict is
first-wins (not transitive clustering)."""

from __future__ import annotations

from redix_stream_spark.llm.semdedup import (
    SEM_BITS,
    sem_planes,
    semantic_bucket,
    semantic_dedup,
)

DIM = 64


def _vec(base: list[float], eps: float = 0.0, at: int = 0) -> list[float]:
    v = list(base)
    v[at] += eps
    return v


def _axis(i: int, scale: float = 1.0) -> list[float]:
    v = [0.0] * DIM
    v[i] = scale
    return v


def _frame(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def test_planted_duplicates_drop_to_first_occurrence(spark):
    # Three copies of the same direction (scaled — cosine 1.0), plus an
    # orthogonal survivor. Same direction ⇒ same projection signs ⇒ same
    # bucket, so bucketing can never separate exact semantic dups.
    base = [float((i * 37) % 19 - 9) for i in range(DIM)]
    vecs = [
        base,
        _axis(1, 5.0),
        [x * 2.0 for x in base],
        [x * 0.5 for x in base],
    ]
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(_frame(spark, vecs), tau=0.95).collect()
    }
    assert out[0]["kept"] is True
    assert out[2]["kept"] is False and out[2]["dup_of"] == 0
    assert out[3]["kept"] is False and out[3]["dup_of"] == 0
    assert out[1]["kept"] is True  # orthogonal direction survives
    assert out[2]["nn_sim"] > 0.999


def test_first_wins_below_tau_survives_same_bucket(spark):
    # Construct vectors guaranteed to share the single bucket: a IS the
    # (integer) hyperplane direction, so proj(a)=|p|²>0; b≈a keeps the
    # sign; c = 0.5·â + 0.866·û with û ⊥ a keeps proj = 0.5|p| > 0.
    # cos(a,b)≈1 ≥ τ → b drops to a; cos(a,c)=0.5 < τ and
    # cos(b,c)≈0.5 < τ → c survives even though it shares the bucket.
    import math

    p = [float(x) for x in sem_planes(1)[0]]
    nrm = math.sqrt(sum(x * x for x in p))
    a_hat = [x / nrm for x in p]
    # û: unit vector orthogonal to a (Gram-Schmidt of e0 against â).
    e0 = _axis(0)
    u = [x - a_hat[0] * y for x, y in zip(e0, a_hat)]
    un = math.sqrt(sum(x * x for x in u))
    u_hat = [x / un for x in u]
    b = [x * 1.5 for x in p]
    c = [0.5 * x + 0.8660254 * y for x, y in zip(a_hat, u_hat)]
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(_frame(spark, [p, b, c]), bits=1, tau=0.85).collect()
    }
    assert out[0]["bucket"] == out[1]["bucket"] == out[2]["bucket"]
    assert out[1]["kept"] is False and out[1]["dup_of"] == 0
    assert out[2]["kept"] is True
    assert abs(out[2]["nn_sim"] - 0.5) < 1e-3


def test_bucket_is_scale_invariant_and_deterministic(spark):
    planes = sem_planes(SEM_BITS)
    vecs = [[float((i * j) % 13 - 6) for i in range(DIM)] for j in range(1, 9)]
    doubled = [[x * 3.0 for x in v] for v in vecs]
    b1 = [
        r[0]
        for r in _frame(spark, vecs)
        .select(semantic_bucket("embedding", planes))
        .collect()
    ]
    b2 = [
        r[0]
        for r in _frame(spark, doubled)
        .select(semantic_bucket("embedding", planes))
        .collect()
    ]
    assert b1 == b2
    assert all(0 <= b < (1 << SEM_BITS) for b in b1)


def test_streaming_semantic_dedup_cross_and_intra_batch(spark, tmp_path):
    """The q102 rule as a streaming filter: intra-batch first-wins,
    cross-batch drops via the durable bucket-partitioned index,
    orthogonal vectors always accepted, replay keeps accepted() stable."""
    from redix_stream_spark.llm.stream_semdedup import StreamingSemanticDedup

    base = [float((i * 37) % 19 - 9) for i in range(DIM)]
    orth = _axis(1, 5.0)
    sd = StreamingSemanticDedup(str(tmp_path / "sem"), tau=0.95)

    # Batch 0: base + its scaled copy (cos 1.0) + an orthogonal vector.
    sd.apply_batch(_frame(spark, [base, [x * 2 for x in base], orth]), 0)
    acc0 = {r["vec_id"] for r in sd.accepted(spark).collect()}
    assert acc0 == {0, 2}

    # Batch 1 (ids offset): another copy of base (cross-batch dup → drop)
    # and a fresh orthogonal direction (accept).
    b1 = spark.createDataFrame(
        [(10, [float(x) * 0.5 for x in base]), (11, [float(x) for x in _axis(2, 3.0)])],
        "vec_id long, embedding array<float>",
    )
    sd.apply_batch(b1, 1)
    acc1 = {r["vec_id"] for r in sd.accepted(spark).collect()}
    assert acc1 == {0, 2, 11}

    # Crash-replay of epoch 1: accepted set unchanged (staging is
    # overwrite-idempotent; index dedups by vec_id).
    sd.apply_batch(b1, 1)
    assert {r["vec_id"] for r in sd.accepted(spark).collect()} == {0, 2, 11}


def test_semantic_decontamination_flags_planted_leak(spark):
    """q134 semantics on planted fixtures: a train vector that is a
    scaled copy of an eval vector (cos 1.0) is contaminated; one sharing
    the bucket below tau survives with its eval_sim reported; one in a
    bucket with no eval member has NULL eval_sim. The benchmark side
    must broadcast (the corpus never shuffles)."""
    from redix_stream_spark.llm.semdedup import semantic_decontaminate

    base = [float((i * 37) % 19 - 9) for i in range(DIM)]
    near = _vec(base, eps=0.05)          # same bucket, cos > tau
    skew = [x + 6.0 for x in base]       # correlated but below tau
    eval_set = spark.createDataFrame(
        [(100, [float(x) for x in base])], "vec_id long, embedding array<float>"
    )
    train = _frame(spark, [[x * 2 for x in base], near, skew, _axis(3, 4.0)])

    out = semantic_decontaminate(train, eval_set, tau=0.95)
    rows = {r["vec_id"]: r for r in out.collect()}
    assert not rows[0]["kept"] and rows[0]["contaminated_by"] == 100
    assert not rows[1]["kept"] and rows[1]["contaminated_by"] == 100
    # same-bucket-but-distant case: eval_sim reported, still kept —
    # unless the skewed vector landed in another bucket (then NULL)
    if rows[2]["eval_sim"] is not None:
        assert rows[2]["kept"] and rows[2]["eval_sim"] < 0.95
    assert rows[3]["kept"]

    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan
