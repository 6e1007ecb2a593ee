"""Similarity search over ``embeddings`` (SURVEY.md E24): brute-force
cosine top-k as the exact baseline, plus an LSH-bucketed approximate path
for scale.

Bit-parity design: the dot product is a *left fold* over the vector —
``F.aggregate(zip_with(a,b,*), 0.0, +)`` in Spark and
``list_reduce(list_transform(list_zip(a,b), ...), +)`` in DuckDB perform the
identical sequence of IEEE additions (0.0 + p1 ≡ p1), so both engines
produce bit-identical similarities and identical rankings.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..registry import register

#: The fixed probe vector for the top-k demo queries: embedding of vec_id 0.
QUERY_VEC_ID = 0


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product in double precision (deterministic order)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)"
    )


def _sql_cosine(a: str, b: str) -> str:
    return f"({_sql_dot(a, b)} / (SQRT({_sql_dot(a, a)}) * SQRT({_sql_dot(b, b)})))"


def _sql_proj(vec: str, plane: list[float]) -> str:
    """DuckDB twin of one ``lsh_table_buckets`` projection: the plane
    inlines as repr'd double literals (exact IEEE round-trip) under the
    same left fold as the Spark expression."""
    arr = "[" + ", ".join(repr(v) for v in plane) + "]"
    return (
        f"list_reduce(list_transform(list_zip({vec}, {arr}::DOUBLE[]), "
        f"p -> CAST(p[1] AS DOUBLE) * p[2]), (acc, x) -> acc + x)"
    )


def _spark_array(vals: list[float]) -> str:
    """A Spark SQL ``array<double>`` literal: a ``D``-suffixed ``repr``
    parses back bit-exactly (subnormals and -0.0 included)."""
    return "array(" + ", ".join(f"{v!r}D" for v in vals) + ")"


def _spark_proj(vec: str, plane: list[float]) -> str:
    """Spark SQL twin of ``_sql_proj``: the same left fold over the same
    ``repr`` literals. Built as text so a projection costs one ``F.expr``
    — the JVM parses it once — instead of one py4j call per coefficient
    and per lambda node."""
    return (
        f"aggregate(zip_with(`{vec}`, {_spark_array(plane)}, "
        f"(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, x) -> acc + x)"
    )


Q40_SQL = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
SELECT vec_id, label, sim, rank FROM (
  SELECT e.vec_id AS vec_id, e.label AS label,
         {_sql_cosine('e.embedding', 'q.qv')} AS sim,
         CAST(ROW_NUMBER() OVER (
           ORDER BY {_sql_cosine('e.embedding', 'q.qv')} DESC, e.vec_id
         ) AS BIGINT) AS rank
  FROM embeddings e, q
  WHERE e.vec_id <> {QUERY_VEC_ID}
)
WHERE rank <= 10
"""


@register("q40_cosine_topk", Q40_SQL)
def q40_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 against a fixed probe vector.

    Scale shape: the probe is a broadcast (1-row cross join); similarity is
    a codegen'd higher-order-function expression per row; top-k is a
    per-partition top-k then 10-row merge (TakeOrdered) — no global sort,
    no driver collect of the corpus. This is the exact-recall baseline the
    LSH path (q41) trades against.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qv")
    )
    sim = cosine(F.col("embedding"), F.col("qv"))
    scored = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", sim.alias("sim"))
    )
    top = scored.orderBy(F.col("sim").desc(), F.col("vec_id")).limit(10)
    w = Window.orderBy(F.col("sim").desc(), F.col("vec_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


Q41_SQL = f"""
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b, a.label AS label,
       {_sql_cosine('a.embedding', 'b.embedding')} AS sim
FROM embeddings a
JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_sql_cosine('a.embedding', 'b.embedding')} >= 0.5
"""


@register("q41_embedding_neardup", Q41_SQL)
def q41_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking key (label).

    The blocking key bounds the pair blowup (the 100 TB pattern: block by a
    cheap partition key — cluster id, LSH bucket, shard — then run exact
    cosine only within blocks). Here label plays the block id.

    Norms are precomputed per vector *before* the join — O(n) instead of
    O(pairs) norm folds; ``sqrt(dot(v,v))`` is a pure function of the
    vector, so the value is bit-identical to the oracle's per-pair form.
    """
    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "nrm", norm(F.col("embedding"))
    )
    a = e.alias("a")
    b = e.alias("b")
    sim = dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_id_a"),
            F.col("b.vec_id").alias("vec_id_b"),
            F.col("a.label").alias("label"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= 0.5)
    )


def embedding_neardup_fast(d: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Throughput face of q41: within-block all-pairs cosine as ONE numpy
    matmul per block inside a grouped-map ``applyInPandas``.

    q41's per-pair left-fold dot is the oracle-exact face — a
    deterministic IEEE addition order that DuckDB replays bit-for-bit —
    but it evaluates interpreted higher-order expressions per pair
    (~1.3 s per million pairs). A block's similarity matrix is one BLAS
    ``n @ n.T`` — measured 9× faster end-to-end on the 25M-pair sf1
    replica (31.6 s → 3.5 s, SCALING.md). SIMD/pairwise summation makes
    last-bit sums differ from the fold, so this face is rows-only; the
    pytest pins pair-set equality with q41 away from the threshold
    boundary.

    Scale contract: a BLOCK (not the corpus) must fit one Arrow frame —
    exactly the contract q41's blocked join already implies; at 100 TB
    the block key is an LSH bucket or IVF cell, both bounded. The matmul
    is O(block²·dim) FLOPs either way — this face just runs them at BLAS
    speed instead of expression-interpreter speed.
    """
    from ..session import ship_package

    ship_package(d.sparkSession)

    def block(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        v = v / np.linalg.norm(v, axis=1, keepdims=True)
        s = v @ v.T
        ia, ib = np.triu_indices(len(pdf), k=1)
        keep = s[ia, ib] >= threshold
        ids = pdf["vec_id"].to_numpy()
        return pd.DataFrame(
            {
                "vec_id_a": ids[ia[keep]],
                "vec_id_b": ids[ib[keep]],
                "label": pdf["label"].iloc[0],
                "sim": s[ia[keep], ib[keep]],
            }
        )

    return (
        d.select("vec_id", "label", "embedding")
        .groupBy("label")
        .applyInPandas(block, "vec_id_a long, vec_id_b long, label int, sim double")
    )


@register("q41b_embedding_neardup_fast")  # rows-only: BLAS sum order ≠ fold
def q41b_embedding_neardup_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q41's pair set at BLAS speed (see embedding_neardup_fast) — the
    face a 100 TB corpus actually runs; q41 stays the oracle-exact
    regression face. Pair-set parity with q41 is pytest-pinned."""
    return embedding_neardup_fast(load_table(spark, sf_dir, "embeddings"))


#: Multi-table LSH parameters: L independent tables of k hyperplane bits.
#: Recall for a neighbour at angle θ is 1 − (1 − (1 − θ/π)^k)^L — k trades
#: bucket selectivity, L buys recall back. (k=5, L=6 → ≥95 % recall for
#: cosine ≥ 0.85 neighbours while scanning a few % of the corpus.)
LSH_TABLES = 6
LSH_BITS = 5


def _hyperplanes(
    dim: int = 64, seed: int = 42, n_planes: int | None = None
) -> list[list[float]]:
    import random

    rnd = random.Random(seed)
    if n_planes is None:
        n_planes = LSH_TABLES * LSH_BITS
    return [
        [rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def lsh_table_buckets(
    vec: str,
    planes: list[list[float]],
    tables: int = LSH_TABLES,
    bits: int = LSH_BITS,
    stride: int | None = None,
) -> list[Column]:
    """One bucket id per table over column ``vec``: sign bits of the k
    projections, packed — one ``F.expr`` per table.

    ``stride`` is the plane-index stride — plane(t, i) = planes[t*stride+i].
    The demo faces use stride == bits (a dense plane list); the production
    faces use a FIXED stride so the plane assigned to (table, bit) never
    depends on the corpus-chosen width (the oracle inlines plane literals
    per (t, i), so the mapping must be width-independent)."""
    if stride is None:
        stride = bits
    return [
        F.expr(
            " + ".join(
                f"CASE WHEN {_spark_proj(vec, planes[t * stride + i])} > 0 "
                f"THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
                for i in range(bits)
            )
            + f" AS bucket{t}"
        )
        for t in range(tables)
    ]


def _demo_lsh_sql_ctes(carry: str = "") -> str:
    """The tagged/entries CTE prefix of the demo-width oracles (q42,
    q169, q174) — the demo twin of ``_prod_lsh_sql_ctes``. ``carry`` is
    a column list (``"label, "``) that rides from the corpus into both
    CTEs after ``vec_id``."""
    planes = _hyperplanes()

    def bucket_sql(vec: str, t: int) -> str:
        bits = [
            f"(CASE WHEN {_sql_proj(vec, planes[t * LSH_BITS + i])} > 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i in range(LSH_BITS)
        ]
        return " + ".join(bits)

    tagged_buckets = ",\n         ".join(
        f"{bucket_sql('embedding', t)} AS bucket{t}" for t in range(LSH_TABLES)
    )
    entry_selects = "\n  UNION ALL ".join(
        f"SELECT vec_id, {carry}{t} AS tbl, bucket{t} AS bucket FROM tagged"
        for t in range(LSH_TABLES)
    )
    return f"""tagged AS (
  SELECT vec_id, {carry}embedding,
         {tagged_buckets}
  FROM embeddings
),
entries AS (
  {entry_selects}
)"""


def _gen_lsh_oracle_sql() -> str:
    """Generated DuckDB oracle for q42 — the q38/q102 upgrade applied to
    float LSH: the hyperplanes inline as repr'd double literals (exact
    IEEE round-trip) and every projection is the SAME left fold as the
    Spark expression, so bucket sign decisions, candidate sets, and the
    final ranking are bit-identical cross-engine. Bucket boundaries are
    NOT engine-internal after all — determinism was already total."""
    return f"""
WITH {_demo_lsh_sql_ctes("label, ")},
probe AS (SELECT tbl, bucket FROM entries WHERE vec_id = {QUERY_VEC_ID}),
qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
cand AS (
  SELECT DISTINCT en.vec_id, en.label
  FROM entries en JOIN probe p ON en.tbl = p.tbl AND en.bucket = p.bucket
  WHERE en.vec_id <> {QUERY_VEC_ID}
),
scored AS (
  SELECT c.vec_id, c.label, {_sql_cosine('e.embedding', 'qv.qe')} AS sim
  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id CROSS JOIN qv
)
SELECT vec_id, label, sim FROM (
  SELECT vec_id, label, sim,
         ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS rk
  FROM scored
) WHERE rk <= 10
"""


@register("q42_ann_lsh_topk", _gen_lsh_oracle_sql())
def q42_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbours via multi-table random-hyperplane LSH.

    Upgraded rows-only → generated DuckDB oracle (late round 3): the
    whole pipeline — float projections (left folds), sign buckets,
    candidate union, exact-cosine ranking — is deterministic in both
    engines, so the oracle verifies the ALGORITHM, buckets and all.

    Each vector lands in one bucket per table; the probe unions its L
    buckets and runs exact cosine only on those candidates. Recall vs. the
    exact baseline (q40) is asserted in tests/test_llm.py. At 100 TB
    (table, bucket) is the partition key — probe cost is L partitions, not
    the corpus — and the hyperplane matrix (L·k·dim floats, seeded on the
    driver) broadcasts into the expression with no fit step.
    """
    planes = _hyperplanes()
    e = load_table(spark, sf_dir, "embeddings")
    tagged = e.select("vec_id", "label", "embedding", *lsh_table_buckets("embedding", planes))
    # (vec, table, bucket) — explode the L bucket ids.
    entries = tagged.select(
        "vec_id",
        "label",
        "embedding",
        F.posexplode(F.array(*[F.col(f"bucket{t}") for t in range(LSH_TABLES)])).alias(
            "table", "bucket"
        ),
    )
    probe = (
        entries.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(
            F.col("table").alias("qtable"),
            F.col("bucket").alias("qbucket"),
            F.col("embedding").alias("qv"),
        )
    )
    cand = (
        entries.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(
            F.broadcast(probe),
            (F.col("table") == F.col("qtable")) & (F.col("bucket") == F.col("qbucket")),
        )
        .select("vec_id", "label", "embedding", "qv")
        .dropDuplicates(["vec_id"])
    )
    sim = cosine(F.col("embedding"), F.col("qv"))
    return (
        cand.select("vec_id", "label", sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(10)
    )


@register("q43b_ann_ivf_topk")  # rows-only: quantizer cells are engine-internal
def q43b_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize with seeded k-means, probe the
    nearest cells only.

    The inverted-file pattern: fit a small k-means codebook (k=8, fixed
    seed — deterministic across runs), assign every vector to its cell,
    and search only the ``nprobe`` cells whose centroids are most similar
    to the probe. At 100 TB the cell id is the partition key (the probe
    reads nprobe/k of the corpus) and the codebook is a broadcast; the
    fit runs on a sample, not the corpus. Recall vs the exact baseline is
    asserted in tests/test_llm.py; the fit-free alternative is q42 (LSH).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    k, nprobe = 8, 3
    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.withColumn("features", array_to_vector("embedding"))
    model = KMeans(k=k, seed=42, maxIter=10).fit(vecs.select("features"))
    assigned = model.transform(vecs).withColumnRenamed("prediction", "cell")
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, centroid array<double>",
    )
    probe = assigned.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qv")
    )
    cells = (
        centroids.crossJoin(F.broadcast(probe))
        .select("cell", cosine(F.col("centroid"), F.col("qv")).alias("csim"))
        .orderBy(F.col("csim").desc())
        .limit(nprobe)
        .select("cell")
    )
    cand = (
        assigned.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(cells), "cell")
        .crossJoin(F.broadcast(probe))
    )
    sim = cosine(F.col("embedding"), F.col("qv"))
    return (
        cand.select("vec_id", "label", sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(10)
    )


# --- q169: kNN graph (every vector's top-k neighbours) ----------------------

KNN_K = 3

# --- production-width LSH (q169b / q174b) -----------------------------------
#
# The demo faces run LSH_TABLES×LSH_BITS = 6×5 — an oracle-cheap fixed
# instantiation whose candidate volume is ~n²·L/2^bits and therefore
# QUADRATIC in corpus size (measured: 190 s / 24× per decade for q169 at
# the 10× replica, SCALING.md). The production rule is the standard LSH
# tuning law: bits must track the corpus, bits ≈ log2(n / target_bucket),
# so the expected bucket size — and with it per-table candidate pairs
# ≈ n·bucket/2 — stays CONSTANT per vector and total work stays linear.
# Narrower buckets cost per-table recall ((1-θ/π)^bits), bought back with
# more tables (1-(1-p)^L); PROD_LSH_TABLES=12 doubles the demo's L.
#
# Cross-engine determinism (the whole point of the oracle): both engines
# derive the width from the SAME integer rule — the smallest b ≥ MIN_BITS
# with n ≤ BUCKET·2^b — Spark from a driver-side count (bounded scalar),
# DuckDB from a COUNT(*) CASE ladder, so the chosen width is part of what
# the hash check verifies. Plane indexing uses a FIXED stride
# (plane(t, i) = planes[t·STRIDE + i]) so the plane behind (table, bit)
# never depends on the chosen width and the oracle's inlined literals
# match at every corpus size. The oracle enumerates bit expressions up to
# PROD_LSH_SQL_BITS (n ≤ BUCKET·2^12 = 131 072 vectors — every
# oracle-checked SF is ≤ 2 000); the Spark side keeps widening to
# STRIDE=32 bits (n ≤ 1.4e11 at bucket 32) with no structural change.

PROD_LSH_TABLES = 12
PROD_LSH_BUCKET = 32  # target expected bucket size
PROD_LSH_MIN_BITS = 4
PROD_LSH_SQL_BITS = 12  # oracle-enumerated width cap (see note above)
PROD_LSH_STRIDE = 32  # fixed plane-index stride = max Spark-side bits
PROD_LSH_SEED = 77  # independent plane family from the demo faces
#: Hot-bucket budget (the q107b md5-min pattern): sign-LSH guarantees the
#: EXPECTED bucket ≤ PROD_LSH_BUCKET, but a duplicate-heavy region (near-
#: identical embeddings collide in EVERY table) still packs one bucket
#: with c members = c² candidate pairs. Buckets keep only the CAP members
#: with the smallest md5(vec_id) — deterministic, corpus-order-free, and
#: mirrored in the oracle — so per-bucket work is bounded at CAP²
#: regardless of the data (truncation, not dropping: hot-region vectors
#: still contribute bounded candidates in all 12 tables). The measured
#: replicas never trip it (max bucket 330 at 200k vectors); the guard is
#: pinned by a constructed hot-bucket pytest instead.
PROD_LSH_BUCKET_CAP = 16 * PROD_LSH_BUCKET

_PROD_PLANES: list[list[float]] | None = None


def _prod_planes() -> list[list[float]]:
    global _PROD_PLANES
    if _PROD_PLANES is None:
        _PROD_PLANES = _hyperplanes(
            seed=PROD_LSH_SEED, n_planes=PROD_LSH_TABLES * PROD_LSH_STRIDE
        )
    return _PROD_PLANES


def prod_lsh_bits(n: int) -> int:
    """Smallest b in [MIN_BITS, STRIDE] with n <= BUCKET << b — integer
    arithmetic only, mirrored exactly by the oracle's CASE ladder."""
    b = PROD_LSH_MIN_BITS
    while b < PROD_LSH_STRIDE and n > (PROD_LSH_BUCKET << b):
        b += 1
    return b


def _prod_lsh_entries(e: DataFrame) -> DataFrame:
    """(vec_id, table, bucket) at the corpus-chosen production width.

    The count is a bounded driver-side scalar (one long), the bucket
    projection is map-only, and the exploded slim relation is
    localCheckpointed (lazily) because BOTH sides of the candidate
    self-join read it — Spark never reuses self-join subtrees (the q107
    lesson), so without the checkpoint the 12·bits fold projections would
    run twice."""
    bits = prod_lsh_bits(e.count())
    planes = _prod_planes()
    tagged = e.select(
        "vec_id",
        *lsh_table_buckets(
            "embedding",
            planes,
            tables=PROD_LSH_TABLES,
            bits=bits,
            stride=PROD_LSH_STRIDE,
        ),
    )
    exploded = tagged.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.col(f"bucket{t}") for t in range(PROD_LSH_TABLES)])
        ).alias("table", "bucket"),
    )
    w = Window.partitionBy("table", "bucket").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    return (
        exploded.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= PROD_LSH_BUCKET_CAP)
        .drop("_rk")
        .localCheckpoint(eager=False)
    )


def _demo_lsh_entries(e: DataFrame) -> DataFrame:
    """(vec_id, table, bucket) at the fixed demo width (LSH_TABLES ×
    LSH_BITS) — q169/q174's bucket relation; lazily localCheckpointed
    for the same reason as ``_prod_lsh_entries``."""
    tagged = e.select(
        "vec_id", *lsh_table_buckets("embedding", _hyperplanes())
    )
    return tagged.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.col(f"bucket{t}") for t in range(LSH_TABLES)])
        ).alias("table", "bucket"),
    ).localCheckpoint(eager=False)


def _lsh_pair_sims(
    e: DataFrame, entries: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """UNORDERED bucket-candidate pairs with their exact cosine —
    (src, dst, src_<c>…, dst_<c>…, sim) with src < dst, ``carry``
    naming corpus columns that ride along from each end. The one pair
    kernel behind the kNN (q169/q169b) and density (q174/q174b) faces.

    - Candidates self-join the SLIM (vec_id, table, bucket) relation — no
      array column rides through the bucket join or the pair dedupe, so
      the shuffle is id-sized (the q36 lesson).
    - src < dst: sim is bitwise-symmetric (IEEE multiply commutes, the
      left fold adds the same addends in the same order, n_src·n_dst
      commutes), so scoring both directions would pay the dominant
      per-pair fold twice for identical bits; callers that need the
      directed relation mirror it hash-invisibly.
    - Norms are computed ONCE per vector (n-sized, map-only), not per
      pair: dot/(n_src·n_dst) is bit-identical to cosine() — same fold,
      same operands, same order — with one interpreted fold per pair
      instead of three.
    - Embeddings join back BY KEY, pinned ``shuffle_hash`` on the fat
      side — Spark's size estimator undercounts array columns and
      auto-broadcast OOMs at scale (plan-asserted in tests/test_plans.py)."""
    a = entries.select(F.col("vec_id").alias("src"), "table", "bucket")
    b = entries.select(F.col("vec_id").alias("dst"), "table", "bucket")
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )

    def side(end: str) -> DataFrame:
        return e.select(
            F.col("vec_id").alias(end),
            *[F.col(c).alias(f"{end}_{c}") for c in carry],
            F.col("embedding").alias(f"e_{end}"),
            norm(F.col("embedding")).alias(f"n_{end}"),
        ).hint("shuffle_hash")

    return (
        cand.join(side("src"), "src")
        .join(side("dst"), "dst")
        .select(
            "src",
            "dst",
            *[f"{end}_{c}" for end in ("src", "dst") for c in carry],
            (
                dot(F.col("e_src"), F.col("e_dst"))
                / (F.col("n_src") * F.col("n_dst"))
            ).alias("sim"),
        )
    )


def _prod_lsh_sql_ctes(table: str = "embeddings") -> str:
    """The lim/tagged/entries CTE prefix shared by the q169b and q174b
    oracles: the same integer width ladder, the same stride-indexed plane
    literals (exact IEEE reprs), the same left-fold projections as the
    Spark expressions — bucket decisions are bit-identical cross-engine,
    width choice included."""
    planes = _prod_planes()

    def bucket_sql(vec: str, t: int) -> str:
        terms = [
            f"(CASE WHEN {i} < lim.bits AND "
            f"{_sql_proj(vec, planes[t * PROD_LSH_STRIDE + i])} > 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i in range(PROD_LSH_SQL_BITS)
        ]
        return " + ".join(terms)

    ladder = " ".join(
        f"WHEN n <= {PROD_LSH_BUCKET << b} THEN {b}"
        for b in range(PROD_LSH_MIN_BITS, PROD_LSH_SQL_BITS)
    )
    tagged_buckets = ",\n         ".join(
        f"{bucket_sql('embedding', t)} AS bucket{t}"
        for t in range(PROD_LSH_TABLES)
    )
    entry_selects = "\n  UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, bucket{t} AS bucket FROM tagged"
        for t in range(PROD_LSH_TABLES)
    )
    return f"""lim AS (
  SELECT CASE {ladder} ELSE {PROD_LSH_SQL_BITS} END AS bits
  FROM (SELECT COUNT(*) AS n FROM {table})
),
tagged AS (
  SELECT vec_id, embedding,
         {tagged_buckets}
  FROM {table} CROSS JOIN lim
),
entries_raw AS (
  {entry_selects}
),
entries AS (
  SELECT vec_id, tbl, bucket FROM (
    SELECT vec_id, tbl, bucket,
           ROW_NUMBER() OVER (
             PARTITION BY tbl, bucket
             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
           ) AS rk
    FROM entries_raw
  ) WHERE rk <= {PROD_LSH_BUCKET_CAP}
)"""


def _knn_sql(ctes: str) -> str:
    """Generated oracle for q169/q169b: the bucket CTE prefix (demo or
    production width) feeds an all-within-bucket candidate self-join;
    the exact-cosine left fold and the per-source rank mirror the Spark
    plan term for term."""
    return f"""
WITH {ctes},
cand AS (
  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
  FROM entries a JOIN entries b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
scored AS (
  SELECT c.src, c.dst, ea.label AS src_label, eb.label AS nbr_label,
         {_sql_cosine('ea.embedding', 'eb.embedding')} AS sim
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.src
  JOIN embeddings eb ON eb.vec_id = c.dst
)
SELECT src AS vec_id, dst AS nbr_id, src_label, nbr_label, sim, rank FROM (
  SELECT src, dst, src_label, nbr_label, sim,
         CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY sim DESC, dst)
              AS BIGINT) AS rank
  FROM scored
) WHERE rank <= {KNN_K}
"""


@register("q169_knn_graph", _knn_sql(_demo_lsh_sql_ctes()))
def q169_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN GRAPH construction: every vector's top-KNN_K neighbours by
    exact cosine among its LSH-bucket candidates — the batch companion
    to q42's single-probe ANN, and the primitive behind semantic-dedup
    graphs, diversity sampling, and embedding-space cluster seeding.

    Scale shape: candidates and scores come from ``_lsh_pair_sims``
    (slim bucket self-join, key-only shuffle_hash join-backs); the top-k
    is a PER-SOURCE rank window (state bounded by bucket candidate count
    per vector), not a global sort.
    Candidate volume is ~n²·L/2^bits per table — with FIXED bucket
    width it grows quadratically in corpus size, so at scale LSH_BITS
    must track the corpus (bits ≈ log2(n / target_bucket_size), e.g.
    ~20 bits for 10^9 vectors at ~1k-vector buckets); recall per table
    drops as buckets narrow and is bought back with more tables — the
    standard LSH tuning surface. The test-SF config (6 tables × 5 bits)
    is the oracle-checkable instantiation of that family, not a
    universal constant.
    Every step is engine-deterministic (left-fold projections and
    cosine), so the whole approximate index is hash-checked; recall vs
    exact brute force is additionally pinned in tests/test_llm.py —
    CALIBRATED to the corpus geometry (sign-LSH recall is a function of
    the neighbour angle; this near-uniform corpus caps top-1 recall at
    ~0.5 by math, while >0.8-cosine near-dup pairs recall >0.97)."""
    e = load_table(spark, sf_dir, "embeddings")
    return _knn_graph_from_entries(e, _demo_lsh_entries(e))


def _knn_graph_from_entries(e: DataFrame, entries: DataFrame) -> DataFrame:
    """The unordered scored pairs of ``_lsh_pair_sims`` mirrored to both
    directions, then a per-source rank window — shared verbatim by the
    demo (q169) and production-width (q169b) faces; only the bucket
    relation differs."""
    scored_u = _lsh_pair_sims(e, entries, carry=("label",))
    # Mirror via ONE explode — a union of two projections would make the
    # scored subtree a self-join Spark recomputes per branch (the r10
    # rule), paying both join-backs and every fold twice again.
    scored = scored_u.select(
        F.explode(
            F.array(
                F.struct("src", "dst", "src_label", "dst_label"),
                F.struct(
                    F.col("dst").alias("src"),
                    F.col("src").alias("dst"),
                    F.col("dst_label").alias("src_label"),
                    F.col("src_label").alias("dst_label"),
                ),
            )
        ).alias("p"),
        "sim",
    ).select("p.*", "sim")
    win = Window.partitionBy("src").orderBy(F.desc("sim"), F.asc("dst"))
    return (
        scored.withColumn("rank", F.row_number().over(win).cast("long"))
        .filter(F.col("rank") <= KNN_K)
        .select(
            F.col("src").alias("vec_id"),
            F.col("dst").alias("nbr_id"),
            "src_label",
            F.col("dst_label").alias("nbr_label"),
            "sim",
            "rank",
        )
    )


@register("q169b_knn_graph_production", _knn_sql(_prod_lsh_sql_ctes()))
def q169b_knn_graph_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN graph at PRODUCTION LSH width: bits ≈ log2(n / target_bucket)
    chosen from the corpus size by the shared integer ladder (see the
    production-width block above), recall bought back with twice the
    demo's tables (12 vs 6).

    This is the scale face the q169 docstring's prose promised (VERDICT
    r11 item 1 — the E141 rule: a scale mitigation must be a FACE, not
    prose): expected bucket size is pinned at PROD_LSH_BUCKET, so
    per-table candidate pairs ≈ n·bucket/2 grow LINEARLY in corpus size
    where the fixed demo width grew them quadratically (measured 190 s /
    24× per decade at the 10× replica; the sf10 block carries this
    face's exponents). Width choice, bucket decisions, candidate set,
    and ranking are all hash-verified by the generated oracle — the
    production configuration is exactly as checkable as the demo."""
    e = load_table(spark, sf_dir, "embeddings")
    return _knn_graph_from_entries(e, _prod_lsh_entries(e))


# --- q174: density clustering over the LSH candidate graph ------------------

DBS_EPS = 0.35
DBS_MINPTS = 3


def _density_sql(ctes: str) -> str:
    """Generated oracle for q174/q174b: the bucket CTE prefix (demo or
    production width) feeds the candidate/cosine stages, DBSCAN's
    core/border classification and a recursive CC over core-core edges —
    stage-for-stage with the Spark plan, including the deterministic
    border tie-break (MIN adjacent core cluster)."""
    return f"""
WITH RECURSIVE {ctes},
cand AS (
  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
  FROM entries a JOIN entries b
    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
edges AS (
  SELECT c.src, c.dst
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.src
  JOIN embeddings eb ON eb.vec_id = c.dst
  WHERE {_sql_cosine('ea.embedding', 'eb.embedding')} >= {DBS_EPS}
),
sym AS (
  SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges
),
deg AS (SELECT src AS node, COUNT(*) AS d FROM sym GROUP BY src),
core AS (SELECT node FROM deg WHERE d >= {DBS_MINPTS}),
core_edges AS (
  SELECT s.src, s.dst FROM sym s
  JOIN core c1 ON c1.node = s.src JOIN core c2 ON c2.node = s.dst
),
conn(src, dst) AS (
  SELECT node, node FROM core
  UNION
  SELECT conn.src, e.dst FROM conn JOIN core_edges e ON conn.dst = e.src
),
core_labels AS (SELECT src AS vec_id, MIN(dst) AS cluster_id FROM conn GROUP BY src),
border AS (
  SELECT s.src AS vec_id, MIN(cl.cluster_id) AS cluster_id
  FROM sym s
  JOIN core_labels cl ON cl.vec_id = s.dst
  WHERE s.src NOT IN (SELECT node FROM core)
  GROUP BY s.src
)
SELECT vec_id, cluster_id, CAST(1 AS BIGINT) AS is_core FROM core_labels
UNION ALL
SELECT vec_id, cluster_id, CAST(0 AS BIGINT) AS is_core FROM border
"""


@register("q174_density_clusters", _density_sql(_demo_lsh_sql_ctes()))
def q174_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN-style density clustering over the LSH candidate graph:
    eps-neighbor edges (cosine >= DBS_EPS among bucket candidates), core
    points = degree >= DBS_MINPTS, clusters = connected components of
    the core-core subgraph, border points attach to the MIN adjacent
    core cluster (classic DBSCAN's border assignment is scan-order-
    dependent; the MIN rule makes it deterministic and engine-
    mirrorable). Noise — neither core nor core-adjacent — is excluded.

    This is the density companion to q80's transitive near-dup CC: CC
    merges through every chance pair, density clustering requires
    DBS_MINPTS-fold corroboration before a point can glue clusters —
    the standard embedding-space cluster-seeding primitive. Scale shape
    inherits q169 (slim bucket self-join, shuffle_hash array join-back);
    the core-subgraph CC uses STAR CONTRACTION, not min-label
    propagation — eps-graphs at moderate thresholds form long chains
    (diameter ≫ near-dup components; measured: >20 propagation rounds
    already at sf0.1), and star contraction is O(log² n) rounds
    regardless of diameter. Degrees are LSH-candidate degrees (the
    approximation is in candidate generation only, mirrored exactly by
    the oracle)."""
    e = load_table(spark, sf_dir, "embeddings")
    return _density_from_entries(e, _demo_lsh_entries(e))


def _eps_edges(e: DataFrame, entries: DataFrame) -> DataFrame:
    """The eps-neighbor edge stage shared by q174/q174b: the unordered
    scored candidate pairs with cosine >= DBS_EPS. The eager checkpoint
    in _density_from_entries hides this stage from the final plan, so
    its shuffle_hash join-backs are plan-asserted on this function."""
    return (
        _lsh_pair_sims(e, entries)
        .filter(F.col("sim") >= DBS_EPS)
        .select("src", "dst")
    )


def _density_from_entries(e: DataFrame, entries: DataFrame) -> DataFrame:
    """eps-edge generation + DBSCAN core/border/CC, shared verbatim by the
    demo (q174) and production-width (q174b) faces; only the bucket
    relation differs. Star contraction keeps the CC half O(log² n) at any
    width — candidate generation was the quadratic part."""
    from .dedup import connected_components_star

    edges = _eps_edges(e, entries)
    # ONE explode, not a two-branch union: each union branch re-derived
    # the whole eps-edge pipeline (candidate join + per-pair cosine
    # fold) inside the checkpoint job — the r10 no-subtree-reuse rule;
    # the kNN faces' mirror-with-explode lesson applied to the edge
    # build. Eager, deliberately: the DBSCAN consumers plan joins
    # against this relation, and a lazy LogicalRDD's unknown stats
    # forfeit their broadcast decisions (measured round 12: q174b +56%
    # with the lazy form; construction already runs the star loop
    # eagerly, so plan-only capture pays nothing extra).
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct("src", "dst"),
                    F.struct(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    ),
                )
            ).alias("p")
        )
        .select("p.*")
        .localCheckpoint()
    )
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    core = deg.filter(F.col("d") >= DBS_MINPTS).select("node")
    core_edges = (
        sym.join(core.withColumnRenamed("node", "src"), "src", "left_semi")
        .join(core.withColumnRenamed("node", "dst"), "dst", "left_semi")
        .select(
            F.col("src").alias("doc_id_a"), F.col("dst").alias("doc_id_b")
        )
    )
    propagated = connected_components_star(core_edges).select(
        F.col("doc_id").alias("vec_id"), "cluster_id"
    )
    # isolated cores (no core neighbor) are their own clusters
    isolated = core.join(
        propagated.withColumnRenamed("vec_id", "node"), "node", "left_anti"
    ).select(F.col("node").alias("vec_id"), F.col("node").alias("cluster_id"))
    core_labels = propagated.unionByName(isolated)
    border = (
        sym.join(core.withColumnRenamed("node", "src"), "src", "left_anti")
        .join(
            core_labels.select(
                F.col("vec_id").alias("dst"), "cluster_id"
            ),
            "dst",
        )
        .groupBy(F.col("src").alias("vec_id"))
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    return core_labels.select(
        "vec_id", "cluster_id", F.lit(1).cast("long").alias("is_core")
    ).unionByName(
        border.select(
            "vec_id", "cluster_id", F.lit(0).cast("long").alias("is_core")
        )
    )


@register(
    "q174b_density_clusters_production", _density_sql(_prod_lsh_sql_ctes())
)
def q174b_density_clusters_production(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Density clustering at PRODUCTION LSH width — q174's eps-graph with
    the corpus-adaptive bucket relation (see the production-width block
    above and q169b): candidate volume linear in corpus size at constant
    expected bucket size, where the fixed demo width measured 117 s /
    10×+ per decade at the 10× replica (VERDICT r11 item 1). The DBSCAN
    half (core degrees, star-contraction CC, MIN-rule borders) is shared
    verbatim with q174 and was never the quadratic part. Width choice,
    buckets, eps-edges, and cluster labels are all hash-verified by the
    generated oracle."""
    e = load_table(spark, sf_dir, "embeddings")
    return _density_from_entries(e, _prod_lsh_entries(e))


# --- q43c / q210: oracle-backed IVF — the repo quantizer instead of MLlib ---

IVF_NPROBE = 3

#: q210's metadata predicate: label = FANN_LABEL (~10% of the corpus). In
#: production this is the caller's filter (tenant, language, license).
FANN_LABEL = 3
#: Probe expansion under filtering: with ~10% selectivity the top
#: IVF_NPROBE cells may hold too few MATCHING vectors to fill k, so the
#: filtered probe widens the cell list — the standard vector-database
#: response to filtered queries (expand nprobe, keep pre-filter
#: semantics) rather than post-filtering a fixed shortlist.
FANN_NPROBE = 2 * IVF_NPROBE


def _gen_ivf_probe_sql(nprobe: int, label: int | None = None) -> str:
    """Shared generated-oracle builder for the IVF probe chain (q43c and
    q210): q141's unrolled k-means CTE chain is the quantizer; the probe
    ranks cells by centroid cosine, unions the top-``nprobe`` cells'
    members, optionally applies the ``label`` predicate to the
    candidates BEFORE the ranking (q210's pre-filter semantics), and
    exact-cosine re-ranks — every stage the same deterministic fold
    arithmetic as the Spark plan."""
    from .kmeans import _gen_kmeans_oracle_sql

    km = _gen_kmeans_oracle_sql().strip()
    # reuse the full kmeans WITH-chain, swap the final SELECT for probes
    km_body = km[: km.rindex("SELECT")].rstrip().rstrip(",")
    cos_cent = _sql_cosine("c.cvec", "q.qv")
    cos_vec = _sql_cosine("e.embedding", "q.qv")
    where = f"\n  WHERE e.label = {label}" if label is not None else ""
    return f"""{km_body},
qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
cells AS (
  SELECT cid FROM (
    SELECT c.cid,
           ROW_NUMBER() OVER (ORDER BY {cos_cent} DESC, c.cid) AS rk
    FROM c1 c CROSS JOIN qv q
  ) WHERE rk <= {nprobe}
),
cand AS (
  SELECT a.vec_id FROM a2 a JOIN cells ON cells.cid = a.cluster
  WHERE a.vec_id <> {QUERY_VEC_ID}
)
SELECT vec_id, label, sim, rank FROM (
  SELECT e.vec_id, e.label, {cos_vec} AS sim,
         CAST(ROW_NUMBER() OVER (ORDER BY {cos_vec} DESC, e.vec_id) AS BIGINT)
           AS rank
  FROM cand JOIN embeddings e ON e.vec_id = cand.vec_id CROSS JOIN qv q{where}
) WHERE rank <= 10
"""


def _ivf_probe_topk(
    spark: SparkSession, sf_dir: str, nprobe: int, label: int | None = None
) -> DataFrame:
    """Shared Spark body for the IVF probe chain (q43c and q210): fit
    the deterministic quantizer, rank cells by centroid cosine, union
    the top-``nprobe`` cells' members, optionally pre-filter candidates
    by ``label`` (the predicate rides the embeddings SCAN — pushed
    down), exact-cosine re-rank the shortlist."""
    from .kmeans import KM_ITERS, KM_K, kmeans_fit

    e = load_table(spark, sf_dir, "embeddings")
    assign, cents = kmeans_fit(
        e.select("vec_id", "embedding"), KM_K, KM_ITERS
    )
    probe = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qv")
    )
    cells = (
        cents.crossJoin(F.broadcast(probe))
        .select("cid", cosine(F.col("cvec"), F.col("qv")).alias("csim"))
        .orderBy(F.col("csim").desc(), F.col("cid"))
        .limit(nprobe)
        .select(F.col("cid").alias("cluster"))
    )
    cand = (
        assign.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(cells), "cluster")
        .select("vec_id")
    )
    matching = e.select("vec_id", "label", "embedding")
    if label is not None:
        matching = matching.filter(F.col("label") == label)
    scored = (
        cand.join(matching.hint("shuffle_hash"), "vec_id")
        .crossJoin(F.broadcast(probe))
        .select(
            "vec_id",
            "label",
            cosine(F.col("embedding"), F.col("qv")).alias("sim"),
        )
    )
    rank_w = Window.orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(10)
        .withColumn("rank", F.row_number().over(rank_w).cast("long"))
    )


@register("q43c_ann_ivf_exact", _gen_ivf_probe_sql(IVF_NPROBE))
def q43c_ann_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the REPO's deterministic k-means as the coarse
    quantizer — the oracle-backed sibling of q43b (which deliberately
    exercises the MLlib KMeans integration; its cells are
    engine-internal). Here the codebook is q141's seedless md5-ordered
    Lloyd fit, so cell boundaries, probe choice (top-IVF_NPROBE cells by
    centroid cosine, cid tie-break) and the exact re-rank are ALL
    hash-checked cross-engine — with q42 (LSH) and q147 (binary) this
    makes every ANN index family oracle-verifiable end to end.

    Scale shape: at 100 TB the cell id is the partition key (a probe
    reads nprobe/k of the corpus — partition-pruned, q43b's note), the
    codebook broadcasts, and the fit runs on a bounded sample
    (seed_centroids + two Lloyd rounds here keep the fit itself
    corpus-exact for the oracle)."""
    return _ivf_probe_topk(spark, sf_dir, IVF_NPROBE)


@register(
    "q210_filtered_ann_search", _gen_ivf_probe_sql(FANN_NPROBE, FANN_LABEL)
)
def q210_filtered_ann_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search: top-k by cosine among vectors matching a
    metadata predicate, with the predicate pushed INTO the ANN probe —
    the feature every production retriever needs (tenant/language/
    license filters) and the one where semantics silently diverge:

    - PRE-FILTER (this face): rank only matching vectors → always k
      results, recall governed by how many matching vectors the probed
      cells hold. The filter is applied to the candidate scan BEFORE
      scoring (PushedFilters on the parquet scan — plan-asserted), and
      the probe widens to FANN_NPROBE cells to compensate for the
      predicate's ~10% selectivity.
    - POST-FILTER (the naive composition q43c∘filter): rank everything,
      filter the top-k shortlist → returns ~selectivity·k rows (measured
      ≤2 of 10 here; pinned in tests/test_llm.py) and loses the rest.

    Scale shape inherits q43c (the probe chain is _ivf_probe_topk,
    shared verbatim — only nprobe and the predicate differ): cells are
    the partition key (a probe reads nprobe/k of the corpus,
    partition-pruned), the label predicate prunes FURTHER at the scan
    (at rest: cell/label composite layout or a label zone map — the
    plan shows the filter reaching the scan), the codebook broadcasts,
    and the shortlist is TakeOrdered. Every stage — quantizer, widened
    probe, filtered candidates, ranking — is hash-verified by the
    shared generated oracle (_gen_ivf_probe_sql)."""
    return _ivf_probe_topk(spark, sf_dir, FANN_NPROBE, FANN_LABEL)
