"""Product quantization (PQ) for embedding similarity at memory scale
(SURVEY.md E24 family — the compression face of ANN).

IVF (llm/stream_ann.py) prunes WHICH vectors a probe scans; PQ shrinks
WHAT each vector costs. A 768-dim float32 embedding is 3 KB — 10⁹
vectors are ~3 TB, unscannable per probe even partition-pruned. PQ
splits each (L2-normalized) vector into ``m`` subvectors and replaces
each with the id of its nearest centroid from a per-subspace codebook:
m bytes (or nibbles) per vector — 48× smaller at m=64/768-dim — while
inner products remain computable from codes alone:

  cos(q, v) = Σ_j <q_j, v_j>  ≈  Σ_j LUT[j, code_j(v)]

where LUT[j, c] = <q_j, centroid_{j,c}> is an (m × k) table computed
ONCE per query (asymmetric distance computation, ADC — Jégou et al.,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011; the
IVF-ADC pattern every vector database ships).

Spark shape: the codebook fits from a BOUNDED driver sample (like the
IVF codebook — kilobytes: m×k×dsub floats); encode is map-only
``mapInPandas`` (vectorized argmin per subspace, zero shuffles); a query
broadcasts the LUT in the UDF closure, scores codes vectorized
(numpy take + sum), takes a TakeOrdered shortlist, and exact-reranks
only the shortlist against the full vectors. Nothing ever collects
beyond the sample and the top-k.

Approximate by construction (quantization error) → the registered face
is rows-only; recall against the exact q40 ranking is pytest-pinned
(tests/test_llm.py), with the exact re-rank making the top-k ORDER
exact even when the shortlist is approximate.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..registry import register

PQ_M = 8  # subvectors (demo width)
PQ_K = 16  # centroids per subspace (4-bit codes) — demo width
#: production width: byte codes (k=256) over m=16 subspaces — the Jégou
#: IVFADC operating point. Verified: q121b runs this width end-to-end,
#: recall vs exact q40 is pytest-pinned at BOTH widths (test_llm.py), and
#: the bench headline carries a recorded baseline for it.
PQ_M_PROD = 16
PQ_K_PROD = 256
PQ_SAMPLE = 4096  # codebook training sample floor (bounded driver transfer)
#: training points per centroid the sample must afford at minimum —
#: FAISS's documented floor is ~39×/centroid; 64× keeps k=256 codebooks
#: (16384 vectors ≈ 8 MB at dim 64) well above it while staying a
#: trivially bounded driver transfer.
PQ_SAMPLE_PER_CENTROID = 64


def _normalize(v: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(v, axis=-1, keepdims=True)
    return v / np.where(n == 0, 1.0, n)


_BLAS_CTL: tuple | None | bool = None  # probed lazily; False = unavailable


def _blas_threads(n: int) -> int:
    """Set the numpy-bundled OpenBLAS pool width, returning the previous
    width (0 when no control symbol exists — then a no-op).

    Why this is safe: every GEMM this module issues has a tiny reduction
    dimension (dsub ≤ 48), which OpenBLAS keeps inside a single k-block —
    threads partition the OUTPUT tile space only, so the float64 add
    order per output element is fixed and the thread count cannot change
    a single bit (verified: 1-thread vs 32-thread products array_equal).

    Why it matters: the driver's Lloyd loop issues 192 ~2 MFLOP GEMMs;
    with the default pool, 32 busy-waiting BLAS threads contend with the
    32 JVM executor threads and the measured per-call wall degrades
    1.4 ms → 8–75 ms (fit_pq anywhere between 0.4 s and 14.5 s on
    identical inputs, session-dependent). Capped to one thread the call
    is flat 1.4 ms regardless of JVM load. Arrow workers encode with the
    same tiny GEMMs under up-to-32-way task parallelism — same cap, with
    the previous width restored so reused workers keep full-width BLAS
    for the big-matmul faces (q41b)."""
    global _BLAS_CTL
    if _BLAS_CTL is None:
        import ctypes
        import glob as _glob
        import os as _os

        try:
            libdir = _os.path.join(
                _os.path.dirname(_os.path.dirname(np.__file__)), "numpy.libs"
            )
            path = sorted(_glob.glob(_os.path.join(libdir, "*openblas*")))[0]
            lib = ctypes.CDLL(path)
            _BLAS_CTL = (
                getattr(lib, "openblas_set_num_threads64_", None)
                or lib.openblas_set_num_threads,
                getattr(lib, "openblas_get_num_threads64_", None)
                or lib.openblas_get_num_threads,
            )
        except (OSError, IndexError, AttributeError):
            _BLAS_CTL = False
    if not _BLAS_CTL:
        return 0
    setf, getf = _BLAS_CTL
    prev = getf()
    setf(int(n))
    return int(prev)


def _assign_codes(sub: np.ndarray, cent: np.ndarray) -> np.ndarray:
    """argmin_c ||sub − cent_c||² via the expanded form — an (n, k)
    matmul instead of an (n, k, dsub) broadcast cube, which at the
    production width (k=256) is the difference between a 33 MB temp per
    subspace-iteration and a few-hundred-KB one. ||sub||² is constant
    per row, so the argmin only needs −2·sub@centᵀ + ||cent||²."""
    d2 = -2.0 * (sub @ cent.T) + (cent * cent).sum(axis=1)[None, :]
    return d2.argmin(axis=1)


def fit_pq(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = PQ_M,
    k: int = PQ_K,
    sample_n: int | None = None,
    iters: int = 12,
) -> np.ndarray:
    """Train per-subspace codebooks → (m, k, dim/m) float64 array.

    The sample budget scales with the codebook: ``max(PQ_SAMPLE,
    PQ_SAMPLE_PER_CENTROID * k)`` — a fixed 4096 would leave k=256
    codebooks 16 points per centroid, thinner than FAISS's ~39×
    training floor. Selection is md5-ordered, not an id prefix: at
    corpus scale ids follow ingest order, so a prefix trains the
    codebook on the oldest slice of the data; the md5 order is a
    uniform pseudo-sample that stays deterministic across runs and
    engines (the repo's md5 discipline). Initial centroids are the
    first k sample subvectors and Lloyd iterations are fixed-count —
    no RNG anywhere. Spherical: vectors are L2-normalized before
    training so codes live in the cosine space queries use (the
    stream_ann refresh discipline). The collect is bounded
    (sample_n × dim floats) and planned as TakeOrdered — no full sort.
    """
    if sample_n is None:
        sample_n = max(PQ_SAMPLE, PQ_SAMPLE_PER_CENTROID * k)
    rows = (
        df.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), id_col)
        .limit(sample_n)
        .collect()
    )  # bounded: sample_n × dim floats, the codebook-fit transfer
    x = _normalize(np.array([r[vec_col] for r in rows], dtype=np.float64))
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    # tiny-frame guard: k centroids need k distinct seed rows; a sample
    # smaller than k clamps the codebook (codes stay dense in [0, k))
    k = min(k, x.shape[0])
    books = np.empty((m, k, dsub))
    prev = _blas_threads(1)  # contention cap, bit-identical (see helper)
    try:
        for j in range(m):
            sub = x[:, j * dsub : (j + 1) * dsub]
            cent = sub[:k].copy()
            for _ in range(iters):
                assign = _assign_codes(sub, cent)
                # vectorized Lloyd update: scatter-add instead of a k-loop of
                # masked means (k=256 × 12 iters × 16 subspaces would be 49k
                # mask scans at production width)
                sums = np.zeros_like(cent)
                np.add.at(sums, assign, sub)
                counts = np.bincount(assign, minlength=k).astype(np.float64)
                occupied = counts > 0
                cent[occupied] = sums[occupied] / counts[occupied, None]
            books[j] = cent
    finally:
        if prev:
            _blas_threads(prev)
    return books


def encode_pq(
    df: DataFrame,
    books: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes: array<int>) — map-only vectorized encoding."""
    from ..session import ship_package

    m, _k, dsub = books.shape

    def run(batches):
        prev = _blas_threads(1)  # contention cap, bit-identical (see helper)
        try:
            for pdf in batches:
                v = _normalize(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
                codes = np.empty((len(pdf), m), dtype=np.int64)
                for j in range(m):
                    sub = v[:, j * dsub : (j + 1) * dsub]
                    codes[:, j] = _assign_codes(sub, books[j])
                yield pd.DataFrame(
                    {id_col: pdf[id_col].values, "codes": list(codes)}
                )
        finally:
            if prev:
                _blas_threads(prev)

    ship_package(df.sparkSession)
    return df.select(id_col, vec_col).mapInPandas(
        run, f"{id_col} long, codes array<long>"
    )


def pq_topk(
    emb: DataFrame,
    books: np.ndarray,
    query_vec: np.ndarray,
    k: int = 10,
    shortlist: int = 50,
    exclude_id: int | None = None,
) -> DataFrame:
    """ADC top-k: encode + LUT-score in one Arrow pass, shortlist, then
    exact-rerank the shortlist against full vectors.

    Encoding and scoring are FUSED into a single ``mapInPandas`` (one
    JVM↔Python crossing instead of the chained encode→score pair); the
    per-probe cost still scales with code bytes — at rest the codes
    relation is what a production index stores (see ``IvfPqIndex``,
    whose probe scan is codes-only and plan-asserted). Both ranking
    stages are TakeOrdered — never a global sort.
    """
    from .similarity import _spark_array, cosine
    from ..session import ship_package

    m, _kc, dsub = books.shape
    q = _normalize(np.asarray(query_vec, dtype=np.float64))
    lut = np.stack(
        [books[j] @ q[j * dsub : (j + 1) * dsub] for j in range(m)]
    )  # (m, k) partial inner products

    src = emb.select("vec_id", "embedding")
    if exclude_id is not None:
        # filter BEFORE encoding: pushes to the scan and skips one row's
        # codes; the row is dropped either way, so values are identical
        src = src.filter(F.col("vec_id") != exclude_id)

    def score(batches):
        # encode + LUT-score fused in ONE Arrow crossing (guide §4): the
        # chained encode→score mapInPandas pair paid two JVM↔Python
        # round-trips and an intermediate codes relation for per-row
        # work; the numpy ops per row are unchanged, so approx_sim is
        # bit-identical to encode_pq-then-score
        prev = _blas_threads(1)  # contention cap, bit-identical
        try:
            for pdf in batches:
                v = _normalize(
                    np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                )
                s = np.zeros(len(pdf))
                for j in range(m):
                    sub = v[:, j * dsub : (j + 1) * dsub]
                    s += lut[j][_assign_codes(sub, books[j])]
                yield pd.DataFrame(
                    {"vec_id": pdf["vec_id"].values, "approx_sim": s}
                )
        finally:
            if prev:
                _blas_threads(prev)

    ship_package(emb.sparkSession)
    scored = src.mapInPandas(score, "vec_id long, approx_sim double")
    short = scored.orderBy(F.desc("approx_sim"), "vec_id").limit(shortlist)
    qlit = F.expr(_spark_array([float(x) for x in q]))
    reranked = (
        short.join(emb.select("vec_id", "label", "embedding"), "vec_id")
        .select(
            "vec_id", "label", cosine(F.col("embedding"), qlit).alias("sim")
        )
        .orderBy(F.desc("sim"), "vec_id")
        .limit(k)
    )
    w = F.row_number().over(Window.orderBy(F.desc("sim"), "vec_id"))
    return reranked.select("vec_id", "label", "sim", w.cast("long").alias("rank"))


@register("q121_pq_ann_topk")  # rows-only: quantization is engine-approximate
def q121_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-10 under the q40 probe protocol (probe = vec_id 0,
    self excluded): codebook from a bounded sample, map-only encode, LUT
    scoring over codes, exact cosine re-rank of a 50-row shortlist.
    Recall vs the exact ranking is pytest-pinned; memory math and the
    100 TB shape are in the module docstring."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = fit_pq(emb)
    qv = np.array(
        emb.filter(F.col("vec_id") == 0).select("embedding").head()[0],
        dtype=np.float64,
    )
    return pq_topk(emb, books, qv, k=10, shortlist=50, exclude_id=0)


@register("q121b_pq_ann_production")  # rows-only: quantization is approximate
def q121b_pq_ann_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q121 at the PRODUCTION codebook width — m=16 subspaces × k=256
    byte codes (the Jégou IVFADC operating point) instead of the m=8/k=16
    demo width. Same probe protocol (vec_id 0, self excluded, 50-row
    shortlist, exact cosine re-rank), so the two faces are directly
    comparable: recall vs the exact q40 ranking is pytest-pinned at both
    widths, and this face carries its own bench baseline — the same
    evidence standard q36b set for production-width MinHash.

    Scale note: 16 byte-codes/vector is 192× smaller than the 3 KB
    float32 768-dim production embedding; the ADC scan stays codes-only
    (the q121 plan), so probe cost scales with code bytes, not vector
    bytes."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = fit_pq(emb, m=PQ_M_PROD, k=PQ_K_PROD)
    qv = np.array(
        emb.filter(F.col("vec_id") == 0).select("embedding").head()[0],
        dtype=np.float64,
    )
    return pq_topk(emb, books, qv, k=10, shortlist=50, exclude_id=0)


# --- IVF-PQ: cell pruning × code compression (the full vector-DB stack) -----


class IvfPqIndex:
    """IVF-ADC composition: StreamingIvfIndex's partition-pruned cells
    with PQ codes stored IN the inverted file, so a probe's scan reads
    (vec_id, codes) only — column pruning keeps the fat embedding array
    out of the probe's ReadSchema entirely (plan-asserted). The two
    compressions multiply: nprobe/k of the corpus × m bytes per vector.

    Exact re-rank joins the shortlist back to the raw embeddings, so the
    final top-k ORDER is exact cosine — quantization only shapes the
    shortlist (the q121 contract, applied per-cell).

    Delegates cell machinery (codebook fit, centroids, occupancy/skew)
    to an inner StreamingIvfIndex; PQ codebooks persist beside the cell
    codebook (numpy archive) so ingest epochs stay comparable.
    """

    def __init__(self, codebook_path: str, index_path: str) -> None:
        from .stream_ann import StreamingIvfIndex

        self.ivf = StreamingIvfIndex(codebook_path, index_path)
        self.index_path = index_path
        # sibling of the parquet codebook dir (INSIDE it, Spark would try
        # to read the npy as a parquet footer)
        self.books_path = codebook_path.rstrip("/") + "_pq.npy"

    def fit(self, sample: DataFrame, cells: int = 8, m: int = PQ_M, k: int = PQ_K) -> None:
        self.ivf.fit(sample.select("vec_id", "embedding"), k=cells)
        books = fit_pq(sample, m=m, k=k)
        np.save(self.books_path, books)

    def books(self) -> np.ndarray:
        return np.load(self.books_path)

    def ingest_batch(self, batch: DataFrame, epoch_id: int = 0) -> None:
        """Cell assignment + PQ encoding, one map-only pass; append
        partitioned by cell (the parent layout, plus the codes column)."""
        from ..session import ship_package
        from .stream_ann import _make_assign

        spark = batch.sparkSession
        ship_package(spark)
        cents = sorted(
            (r["cell"], r["centroid"])
            for r in self.ivf.centroids(spark).collect()
        )
        assign = _make_assign(cents)
        codes = encode_pq(batch, self.books())
        (
            batch.select(
                "vec_id", "label", "embedding", assign("embedding").alias("cell")
            )
            .join(codes, "vec_id")
            .write.mode("append")
            .partitionBy("cell")
            .parquet(self.index_path)
        )

    def _index(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(
            "vec_id long, label int, embedding array<float>,"
            " codes array<long>, cell int"
        ).option("basePath", self.index_path).parquet(self.index_path)

    def probe_cells(self, spark: SparkSession, qv: np.ndarray, nprobe: int) -> list[int]:
        from .similarity import cosine

        qcol = F.lit([float(x) for x in qv]).cast("array<double>")
        return [
            r["cell"]
            for r in self.ivf.centroids(spark)
            .select("cell", cosine(F.col("centroid"), qcol).alias("csim"))
            .orderBy(F.col("csim").desc(), "cell")
            .limit(nprobe)
            .collect()
        ]

    def adc_scored(
        self, spark: SparkSession, qv: np.ndarray, nprobe: int = 3
    ) -> DataFrame:
        """The codes-only probe scan: cell partition filter + ADC LUT
        scoring. Reads (vec_id, codes) — never the embedding column."""
        from ..session import ship_package

        books = self.books()
        m, _k, dsub = books.shape
        q = _normalize(np.asarray(qv, dtype=np.float64))
        lut = np.stack([books[j] @ q[j * dsub : (j + 1) * dsub] for j in range(m)])
        cells = self.probe_cells(spark, qv, nprobe)

        def score(batches):
            for pdf in batches:
                c = np.stack(pdf["codes"].to_numpy())
                s = np.zeros(len(pdf))
                for j in range(m):
                    s += lut[j][c[:, j]]
                yield pd.DataFrame(
                    {"vec_id": pdf["vec_id"].values, "approx_sim": s}
                )

        ship_package(spark)
        return (
            self._index(spark)
            .filter(F.col("cell").isin(cells))
            .select("vec_id", "codes")
            .mapInPandas(score, "vec_id long, approx_sim double")
        )

    def query(
        self,
        spark: SparkSession,
        qv: np.ndarray,
        k: int = 10,
        nprobe: int = 3,
        shortlist: int = 50,
        exclude_id: int | None = None,
    ) -> DataFrame:
        from .similarity import _spark_array, cosine

        scored = self.adc_scored(spark, qv, nprobe)
        if exclude_id is not None:
            scored = scored.filter(F.col("vec_id") != exclude_id)
        short = scored.orderBy(F.desc("approx_sim"), "vec_id").limit(shortlist)
        q = _normalize(np.asarray(qv, dtype=np.float64))
        qlit = F.expr(_spark_array([float(x) for x in q]))
        return (
            short.join(
                self._index(spark).select("vec_id", "label", "embedding"),
                "vec_id",
            )
            .select("vec_id", "label", cosine(F.col("embedding"), qlit).alias("sim"))
            .orderBy(F.desc("sim"), "vec_id")
            .limit(k)
        )


# --- scalar quantization (SQ8): the middle rung of the compression ladder ----

def fit_sq8(
    df: DataFrame, vec_col: str = "embedding"
) -> tuple[np.ndarray, np.ndarray]:
    """Per-dimension (min, max) ranges for 8-bit scalar quantization.

    One bounded aggregate: 2×dim doubles to the driver regardless of
    corpus size (the codebook-fit discipline). Ranges come from the
    L2-NORMALIZED vectors so codes live in the cosine space, matching
    the PQ/IVF convention.
    """
    from ..session import ship_package

    ship_package(df.sparkSession)

    def ranges(batches):
        lo = hi = None
        for pdf in batches:
            v = _normalize(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
            blo, bhi = v.min(axis=0), v.max(axis=0)
            lo = blo if lo is None else np.minimum(lo, blo)
            hi = bhi if hi is None else np.maximum(hi, bhi)
        if lo is not None:
            yield pd.DataFrame({"lo": [list(lo)], "hi": [list(hi)]})

    parts = df.select(vec_col).mapInPandas(
        ranges, "lo array<double>, hi array<double>"
    ).collect()  # bounded: one row per input partition
    lo = np.min(np.array([r["lo"] for r in parts]), axis=0)
    hi = np.max(np.array([r["hi"] for r in parts]), axis=0)
    # degenerate dims (constant value) keep a unit span so decode is exact
    span = np.where(hi - lo <= 0, 1.0, hi - lo)
    return lo, lo + span


def sq8_topk(
    emb: DataFrame,
    lo: np.ndarray,
    hi: np.ndarray,
    query_vec: np.ndarray,
    k: int = 10,
    shortlist: int = 50,
    exclude_id: int | None = None,
) -> DataFrame:
    """SQ8 top-k: quantize each vector to dim uint8 codes (4× smaller
    than float32; 255 levels per dimension — near-lossless for ranking,
    vs PQ's 16-bytes-per-VECTOR extreme), score approximately via the
    dequantized dot product, then exact-rerank the shortlist. Same
    two-stage contract as q121: quantization only shapes the shortlist,
    the final order is exact cosine.
    """
    from ..session import ship_package
    from .similarity import _spark_array, cosine

    span = (hi - lo) / 255.0
    q = _normalize(np.asarray(query_vec, dtype=np.float64))
    # fold the dequantization into the query side: dot(q, lo + c*span)
    # = dot(q, lo) + Σ c_i · (q_i·span_i) — one constant + one weighted
    # integer sum per row
    const = float(q @ lo)
    weights = q * span

    def score(batches):
        for pdf in batches:
            v = _normalize(np.stack(pdf["embedding"].to_numpy()).astype(np.float64))
            codes = np.clip(
                np.round((v - lo) / np.where(span == 0, 1.0, span)), 0, 255
            )
            s = const + codes @ weights
            yield pd.DataFrame({"vec_id": pdf["vec_id"].values, "approx_sim": s})

    ship_package(emb.sparkSession)
    scored = emb.select("vec_id", "embedding").mapInPandas(
        score, "vec_id long, approx_sim double"
    )
    if exclude_id is not None:
        scored = scored.filter(F.col("vec_id") != exclude_id)
    short = scored.orderBy(F.desc("approx_sim"), "vec_id").limit(shortlist)
    qlit = F.expr(_spark_array([float(x) for x in q]))
    reranked = (
        short.join(emb.select("vec_id", "label", "embedding"), "vec_id")
        .select("vec_id", "label", cosine(F.col("embedding"), qlit).alias("sim"))
        .orderBy(F.desc("sim"), "vec_id")
        .limit(k)
    )
    w = F.row_number().over(Window.orderBy(F.desc("sim"), "vec_id"))
    return reranked.select("vec_id", "label", "sim", w.cast("long").alias("rank"))


@register("q138_sq8_ann_topk")  # rows-only: quantization is engine-approximate
def q138_sq8_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bit scalar-quantization top-10 under the q40 probe protocol —
    the middle rung of the vector-compression ladder this engine now
    covers end to end: float32 exact (q40) → SQ8 4× (this face, 255
    levels/dim, near-lossless ranking) → PQ 16-bytes/vector (q121/q121b,
    lossy, re-ranked). Recall vs exact q40 is pytest-pinned at 10/10.

    Scale: range fit is one bounded per-partition aggregate (2×dim
    doubles per partition to the driver); encode+score is map-only with
    the dequantization folded into the query side (one constant + one
    weighted integer dot per row); shortlist + exact re-rank are
    TakeOrdered."""
    emb = load_table(spark, sf_dir, "embeddings")
    lo, hi = fit_sq8(emb)
    qv = np.array(
        emb.filter(F.col("vec_id") == 0).select("embedding").head()[0],
        dtype=np.float64,
    )
    return sq8_topk(emb, lo, hi, qv, k=10, shortlist=50, exclude_id=0)


# ---------------------------------------------------------------------------
# Binary (sign-bit) quantization — the bottom rung of the compression
# ladder: 1 bit/dim (32× vs float32), Hamming-distance candidate scan,
# exact re-rank. Unlike PQ/SQ8 (data-fit codebooks → engine-approximate,
# rows-only faces), the sign quantizer is a PURE function of each vector
# and the Hamming scan is integer arithmetic end to end — so this face is
# fully ORACLE-BACKED: bit packing, XOR/popcount, candidate cutoff and
# re-rank all hash-compare against DuckDB.
#
# Scale shape: packing is a per-row fold (codegen, no shuffle); the scan
# touches 2 BIGINTs per vector (16 bytes vs 256 for the raw dim-64
# floats); candidates and the final top-k are TakeOrdered; the only join
# is the 1-row probe broadcast. At 10⁹ vectors the packed relation is
# ~16 GB — scannable per probe, or IVF-partitioned like q43b.
# ---------------------------------------------------------------------------

BQ_DIM = 64  # embeddings table width (TESTDATA.md)
BQ_WORD_BITS = 32  # bits packed per BIGINT word — 32 keeps every word
#                    positive, so XOR/bit_count semantics can't diverge on
#                    sign handling between engines
BQ_WORDS = BQ_DIM // BQ_WORD_BITS
BQ_CAND = 50  # Hamming shortlist re-ranked exactly


def _bq_word(vec, w: int):
    """Word ``w`` of the sign bitmap: MSB-first left fold acc*2+bit over
    one 32-dim slice (0*2+b1 == b1, so Spark's 0-init fold and DuckDB's
    first-element-init list_reduce compute identical sequences)."""
    bits = F.transform(
        F.slice(vec, w * BQ_WORD_BITS + 1, BQ_WORD_BITS),
        lambda x: F.when(x > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
    )
    return F.aggregate(
        bits, F.lit(0).cast("long"), lambda acc, x: acc * F.lit(2) + x
    )


def _bq_word_sql(vec: str, w: int) -> str:
    lo, hi = w * BQ_WORD_BITS + 1, (w + 1) * BQ_WORD_BITS
    return (
        f"list_reduce(list_transform({vec}[{lo}:{hi}], "
        f"x -> CASE WHEN x > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END), "
        f"(acc, x) -> acc * 2 + x)"
    )


def _q147_sql() -> str:
    from .similarity import QUERY_VEC_ID, _sql_cosine

    words = ", ".join(
        f"{_bq_word_sql('embedding', w)} AS w{w}" for w in range(BQ_WORDS)
    )
    ham = " + ".join(
        f"bit_count(xor(b.w{w}, q.w{w}))" for w in range(BQ_WORDS)
    )
    # Generated from BQ_WORDS like `words`/`ham` — a hardcoded list here
    # silently broke the oracle whenever BQ_DIM/BQ_WORD_BITS changed.
    probe_cols = ", ".join(f"w{w}" for w in range(BQ_WORDS))
    cos = _sql_cosine("embedding", "qv")
    return f"""
WITH b AS (SELECT vec_id, label, embedding, {words} FROM embeddings),
q AS (SELECT {probe_cols}, embedding AS qv FROM b WHERE vec_id = {QUERY_VEC_ID}),
h AS (
  SELECT b.vec_id, b.label, b.embedding, q.qv,
         CAST({ham} AS BIGINT) AS hamming
  FROM b, q WHERE b.vec_id <> {QUERY_VEC_ID}
),
cand AS (
  SELECT * FROM (
    SELECT h.*, ROW_NUMBER() OVER (ORDER BY hamming, vec_id) AS rn FROM h
  ) WHERE rn <= {BQ_CAND}
)
SELECT vec_id, label, hamming, sim, rank FROM (
  SELECT vec_id, label, hamming, {cos} AS sim,
         CAST(ROW_NUMBER() OVER (ORDER BY {cos} DESC, vec_id) AS BIGINT) AS rank
  FROM cand
)
WHERE rank <= 10
"""


def _register_q147() -> None:
    from .similarity import QUERY_VEC_ID, cosine

    @register("q147_binary_ann_topk", _q147_sql())
    def q147_binary_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Sign-bit ANN top-10 under the q40 probe protocol: pack each
        embedding into 2 positive 32-bit words (fold — deterministic),
        scan by Hamming distance (XOR + popcount, integer-exact), take
        the 50 nearest candidates (TakeOrdered, vec_id tie-break), exact
        left-fold cosine re-rank of just those 50. Every step is
        engine-identical, so the whole approximate index is hash-checked
        against DuckDB — recall vs exact q40 is additionally pinned in
        tests/test_llm.py."""
        emb = load_table(spark, sf_dir, "embeddings")
        words = emb.select(
            "vec_id",
            "label",
            "embedding",
            *[
                _bq_word(F.col("embedding"), w).alias(f"w{w}")
                for w in range(BQ_WORDS)
            ],
        )
        probe = words.filter(F.col("vec_id") == QUERY_VEC_ID).select(
            F.col("embedding").alias("qv"),
            *[F.col(f"w{w}").alias(f"qw{w}") for w in range(BQ_WORDS)],
        )
        ham = sum(
            F.bit_count(F.col(f"w{w}").bitwiseXOR(F.col(f"qw{w}")))
            for w in range(BQ_WORDS)
        ).cast("long")
        cand = (
            words.filter(F.col("vec_id") != QUERY_VEC_ID)
            .crossJoin(F.broadcast(probe))
            .select("vec_id", "label", "embedding", "qv", ham.alias("hamming"))
            .orderBy("hamming", "vec_id")
            .limit(BQ_CAND)
        )
        sim = cosine(F.col("embedding"), F.col("qv"))
        top = (
            cand.select("vec_id", "label", "hamming", sim.alias("sim"))
            .orderBy(F.desc("sim"), "vec_id")
            .limit(10)
        )
        w = Window.orderBy(F.desc("sim"), "vec_id")
        return top.withColumn("rank", F.row_number().over(w).cast("long"))


_register_q147()
