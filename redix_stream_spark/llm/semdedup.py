"""Semantic deduplication over embeddings (SemDeDup-style).

The modern LLM-corpus pattern (Abbas et al., "SemDeDup", 2023): cluster
the embedding space cheaply, then drop documents whose embedding is a
near-duplicate (cosine ≥ τ) of an *earlier* document in the same cluster —
first occurrence wins, exactly the C4/passage-dedup keep policy
(q99) lifted to semantic space.

Spark-first design:

- The "cluster" is a deterministic random-hyperplane LSH bucket: the
  packed sign bits of ``bits`` integer-coefficient hyperplane projections.
  Integer coefficients (md5-derived, seedless) make the bucket id a pure
  function of the embedding that DuckDB can recompute literally — the
  whole operator is oracle-verifiable end-to-end, unlike a k-means
  assignment whose training is engine-internal. Sign of a projection is
  invariant under positive scaling, so integer planes ARE unit Gaussian
  planes for bucketing purposes.
- Bucket assignment is map-only (``bits`` codegen'd left-fold dot
  products per row); the only shuffle is the bucket-key self-join, and
  within-bucket work is O(bucket²) — the identical blocked shape as q41,
  with the LSH bucket playing the block key the SemDeDup paper plays with
  k-means cells.
- Per CLAUDE.md, the fat-array self-join is pinned ``shuffle_hash``
  (Spark's size estimator undercounts array columns; auto-broadcast OOMs
  at scale — measured, SCALING.md) and plan-asserted in tests/test_plans.py.
- At 100 TB: raise ``bits`` so buckets stay bounded (each +1 bit halves
  expected bucket size); recall lost to bucket boundaries is the same
  approximation the paper makes at cluster boundaries. Multi-probe (union
  of Hamming-1 buckets) buys recall back for one extra join per probe.

Verification: per-vector verdict row carries ``nn_sim`` — the max cosine
to any earlier bucket-mate — so the driver hash exercises the full pair
join even when no pair clears τ at test scale; planted-duplicate semantics
are pinned in tests/test_llm_semdedup.py.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import register
from .similarity import _spark_proj, dot, norm

#: Demo-scale defaults: 4 bits → 16 buckets over the 500-vector sf0.01
#: table (~31 vectors/bucket). A real corpus raises bits to keep buckets
#: at a few thousand vectors.
SEM_BITS = 4
SEM_TAU = 0.8
EMB_DIM = 64


def _plane_coef(bit: int, i: int) -> int:
    """Deterministic integer hyperplane coefficient in [-1000, 1000].

    md5-derived (no RNG, no seed state): both engines — and any future
    re-implementation — can reproduce the planes from the spec alone.
    """
    h = hashlib.md5(f"semdedup:{bit}:{i}".encode()).hexdigest()
    return int(h[:8], 16) % 2001 - 1000


def sem_planes(bits: int = SEM_BITS, dim: int = EMB_DIM) -> list[list[int]]:
    return [[_plane_coef(b, i) for i in range(dim)] for b in range(bits)]


def semantic_bucket(vec: str, planes: list[list[int]]) -> Column:
    """Packed sign bits of the hyperplane projections of column ``vec``,
    as BIGINT — one ``F.expr`` (see ``similarity._spark_proj``)."""
    bits = " + ".join(
        f"CASE WHEN {_spark_proj(vec, [float(c) for c in plane])} > 0 "
        f"THEN {1 << i} ELSE 0 END"
        for i, plane in enumerate(planes)
    )
    return F.expr(f"CAST({bits} AS BIGINT)")


def semantic_dedup(
    emb: DataFrame, bits: int = SEM_BITS, tau: float = SEM_TAU
) -> DataFrame:
    """Per-vector semantic-dedup verdicts.

    Returns one row per vector: ``vec_id, bucket, nn_sim`` (max cosine to
    any earlier same-bucket vector; NULL for the bucket's first vector),
    ``dup_of`` (smallest earlier bucket-mate with cosine ≥ tau; NULL if
    none) and ``kept`` (dup_of IS NULL — first occurrence wins).
    """
    planes = sem_planes(bits)
    tagged = emb.select(
        "vec_id",
        "embedding",
        semantic_bucket("embedding", planes).alias("bucket"),
        norm(F.col("embedding")).alias("nrm"),
    )
    a = tagged.alias("a")
    # Fat array column on both sides: pin shuffle-hash, never broadcast.
    b = tagged.alias("b").hint("shuffle_hash")
    sim = dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    verdict = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
        .groupBy(F.col("a.vec_id").alias("vec_id"))
        .agg(
            F.max(sim).alias("nn_sim"),
            F.min(F.when(sim >= F.lit(tau), F.col("b.vec_id"))).alias("dup_of"),
        )
    )
    return (
        tagged.select("vec_id", "bucket")
        .join(verdict, "vec_id", "left")
        .select(
            "vec_id",
            "bucket",
            "nn_sim",
            "dup_of",
            F.col("dup_of").isNull().alias("kept"),
        )
    )


def _sql_dot_lit(a: str, plane: list[int]) -> str:
    lits = ", ".join(str(c) for c in plane)
    return (
        f"list_reduce(list_transform(list_zip({a}, [{lits}]), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)"
    )


def _gen_semdedup_oracle_sql(bits: int = SEM_BITS, tau: float = SEM_TAU) -> str:
    """DuckDB oracle: the identical construction, planes inlined as
    integer literals (stage-for-stage with semantic_dedup)."""
    planes = sem_planes(bits)
    bucket_terms = " + ".join(
        f"(CASE WHEN {_sql_dot_lit('embedding', plane)} > 0 THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(planes)
    )
    pair_sim = (
        "list_reduce(list_transform(list_zip(a.embedding, b.embedding), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)"
        " / (a.nrm * b.nrm)"
    )
    return f"""
WITH t AS (
  SELECT vec_id, embedding,
         CAST({bucket_terms} AS BIGINT) AS bucket,
         SQRT(list_reduce(list_transform(list_zip(embedding, embedding),
                p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
                (acc, x) -> acc + x)) AS nrm
  FROM embeddings
),
p AS (
  SELECT a.vec_id AS vec_id,
         MAX({pair_sim}) AS nn_sim,
         MIN(CASE WHEN {pair_sim} >= {tau} THEN b.vec_id END) AS dup_of
  FROM t a
  JOIN t b ON a.bucket = b.bucket AND b.vec_id < a.vec_id
  GROUP BY a.vec_id
)
SELECT t.vec_id AS vec_id, t.bucket AS bucket,
       p.nn_sim AS nn_sim, p.dup_of AS dup_of,
       (p.dup_of IS NULL) AS kept
FROM t
LEFT JOIN p ON t.vec_id = p.vec_id
"""


@register("q102_semantic_dedup", _gen_semdedup_oracle_sql())
def q102_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup verdicts over ``embeddings``.

    Scale shape: map-only bucket assignment (codegen fold per plane), one
    bucket-key shuffle for the pair join (shuffle-hash pinned — fat array
    columns never broadcast), O(bucket²) within-bucket cosine, thin
    verdict join back. No driver collect; no global sort.
    """
    return semantic_dedup(load_table(spark, sf_dir, "embeddings"))


# --- q134: semantic decontamination (train vs benchmark, two-table) ---------

#: deterministic holdout proxy: every 17th vector plays the benchmark set
DECON_EVAL_MOD = 17
DECON_TAU = SEM_TAU


def semantic_decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    bits: int = SEM_BITS,
    tau: float = DECON_TAU,
) -> DataFrame:
    """Per-TRAIN-vector contamination verdicts against a benchmark set.

    q84 drops training documents that contain a benchmark STRING; this is
    the same gate at the semantic level (the paraphrased-leak case string
    matching misses): a train vector is contaminated when some eval
    vector shares its LSH bucket with cosine ≥ tau. Unlike q102 there is
    no earlier-wins ordering — ANY eval neighbor contaminates.

    Returns (vec_id, bucket, eval_sim, contaminated_by, kept): max cosine
    to any same-bucket eval vector (NULL when the bucket holds none), the
    smallest contaminating eval vec_id, kept = no contaminator.

    Scale: the benchmark side is SMALL and bounded (a benchmark suite is
    10⁴–10⁶ rows, megabytes of embeddings) — broadcast it EXPLICITLY.
    This is the one place a fat-array relation should broadcast: the
    CLAUDE.md rule bans *relying on the auto-estimator* for array
    columns, not a deliberate bounded broadcast (q84's gram-inventory
    shape, lifted to vectors). The train side streams map-only through
    the broadcast join — zero shuffles of the corpus at any size.
    """
    planes = sem_planes(bits)

    def tag(df: DataFrame) -> DataFrame:
        return df.select(
            "vec_id",
            "embedding",
            semantic_bucket("embedding", planes).alias("bucket"),
            norm(F.col("embedding")).alias("nrm"),
        )

    t = tag(train).alias("t")
    e = F.broadcast(tag(eval_set).alias("e"))
    sim = dot(F.col("t.embedding"), F.col("e.embedding")) / (
        F.col("t.nrm") * F.col("e.nrm")
    )
    # LEFT outer on the broadcast side, then one aggregate: an unmatched
    # train row contributes a single all-NULL eval row, so max(sim) /
    # min(when(...)) are NULL exactly as the old inner-join + re-scan +
    # left-join shape produced — but tag(train) (scan + the bucket fold)
    # now runs ONCE instead of twice (Spark never reuses self-join
    # subtrees), and the vec_id shuffle join is gone: one exchange total.
    return (
        t.join(e, F.col("t.bucket") == F.col("e.bucket"), "left")
        .groupBy(
            F.col("t.vec_id").alias("vec_id"), F.col("t.bucket").alias("bucket")
        )
        .agg(
            F.max(sim).alias("eval_sim"),
            F.min(F.when(sim >= F.lit(tau), F.col("e.vec_id"))).alias(
                "contaminated_by"
            ),
        )
        .select(
            "vec_id",
            "bucket",
            "eval_sim",
            "contaminated_by",
            F.col("contaminated_by").isNull().alias("kept"),
        )
    )


def _gen_decontaminate_oracle_sql(
    bits: int = SEM_BITS, tau: float = DECON_TAU, mod: int = DECON_EVAL_MOD
) -> str:
    """DuckDB oracle: identical construction, planes inlined (the q102
    generator, with the self-join swapped for the train⋈eval join)."""
    planes = sem_planes(bits)
    bucket_terms = " + ".join(
        f"(CASE WHEN {_sql_dot_lit('embedding', plane)} > 0 THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(planes)
    )
    pair_sim = (
        "list_reduce(list_transform(list_zip(t.embedding, e.embedding), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)"
        " / (t.nrm * e.nrm)"
    )
    return f"""
WITH tagged AS (
  SELECT vec_id, embedding,
         CAST({bucket_terms} AS BIGINT) AS bucket,
         SQRT(list_reduce(list_transform(list_zip(embedding, embedding),
                p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)),
                (acc, x) -> acc + x)) AS nrm
  FROM embeddings
),
t AS (SELECT * FROM tagged WHERE vec_id % {mod} <> 0),
e AS (SELECT * FROM tagged WHERE vec_id % {mod} = 0),
hits AS (
  SELECT t.vec_id AS vec_id,
         MAX({pair_sim}) AS eval_sim,
         MIN(CASE WHEN {pair_sim} >= {tau} THEN e.vec_id END)
           AS contaminated_by
  FROM t JOIN e ON t.bucket = e.bucket
  GROUP BY t.vec_id
)
SELECT t.vec_id AS vec_id, t.bucket AS bucket,
       hits.eval_sim AS eval_sim, hits.contaminated_by AS contaminated_by,
       (hits.contaminated_by IS NULL) AS kept
FROM t
LEFT JOIN hits ON t.vec_id = hits.vec_id
"""


@register("q134_semantic_decontaminate", _gen_decontaminate_oracle_sql())
def q134_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination verdicts: the embeddings table splits
    into train (vec_id % 17 ≠ 0) and a benchmark proxy (vec_id % 17 = 0);
    every train vector is scored against the broadcast benchmark set.
    In production the eval side is the benchmark's own embedding table —
    the two-table join shape is exactly this one."""
    emb = load_table(spark, sf_dir, "embeddings")
    train = emb.filter(F.col("vec_id") % DECON_EVAL_MOD != 0)
    eval_set = emb.filter(F.col("vec_id") % DECON_EVAL_MOD == 0)
    return semantic_decontaminate(train, eval_set)
