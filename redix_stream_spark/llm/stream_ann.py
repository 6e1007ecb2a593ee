"""Incremental ANN: a durable IVF index with streaming ingest.

q43b (llm/similarity.py) demonstrates the IVF pattern end-to-end but
refits its codebook per run — fine for a one-shot query, wrong for a
corpus that grows continuously. This module makes the inverted file a
*stateful component*:

- ``fit``: train the k-means codebook ONCE on a sample and persist it
  (parquet). A codebook is a model artifact — it must stay frozen so
  cell assignments remain comparable across ingest batches.
- ``ingest_batch`` / ``run``: assign each new embedding to its nearest
  centroid (Arrow-batched numpy argmax — map-only, no shuffle; the
  codebook travels in the closure, kilobytes) and append to the index
  **partitioned by cell**, so the directory layout IS the inverted file.
- ``query``: rank cells by centroid similarity, scan only the top
  ``nprobe`` cell partitions (partition-pruned — the scan reads
  nprobe/k of the corpus), exact cosine within, global top-k via
  orderBy+limit (TakeOrdered).

Scale (100 TB): ingest is embarrassingly parallel; the only data the
driver ever holds is the k×dim codebook. Queries touch nprobe partitions
regardless of corpus size. Under distribution drift, ``cell_skew``
monitors occupancy balance and ``refresh`` re-fits the codebook from a
sample of the current index, rewriting only the cell partitions whose
membership changed (stable cells keep their files — zero I/O, not even
a rename).

Durable layout (object-store-safe — ``streaming.commit``):

    index_path/
      CURRENT                 pointer: {"cells": {cell: gen}, "folded": [...]}
      delta/epoch=E/cell=C/   ingest appends (overwrite-per-epoch ⇒
                              replay-idempotent; appends are new files
                              only — safe on any store)
      gen=G/cell=C/           refresh output; immutable once committed

A cell's base rows live entirely in ONE generation dir, named by the
pointer's per-cell manifest — the Iceberg-style trick that lets refresh
leave stable cells IN PLACE (their manifest entry keeps the old gen)
while changed cells land in a new gen, all made visible in one atomic
pointer swap. ``folded`` lists delta epochs already absorbed into a
base generation, so a crash between the commit and the lazy delta
cleanup can never double-count.

Cosine convention matches ``similarity.cosine`` (left-fold dot products)
so exact re-ranking agrees bit-for-bit with the batch operators.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from ..session import ship_package
from ..streaming.commit import GenerationState
from ..streaming.log import local_frame
from .similarity import cosine

#: Matches the testdata embeddings table (label is an int cluster id;
#: vectors are float32 at rest — ``dot`` upcasts per element, so scoring
#: runs in double regardless).
INDEX_SCHEMA = "vec_id long, label int, embedding array<float>, cell int"
#: One row per cell: the persisted k-means codebook.
CODEBOOK_SCHEMA = StructType(
    [
        StructField("cell", IntegerType()),
        StructField("centroid", ArrayType(DoubleType())),
    ]
)


def _train_centroids(
    sample: DataFrame, k: int, seed: int
) -> list[tuple[int, list[float]]]:
    """Spherical k-means centroids from an (…, embedding) sample.

    L2-normalizes before training: ingest assignment and query ranking
    are both cosine, so the codebook must be trained in the same
    spherical space — Euclidean k-means on unnormalized vectors would
    split by magnitude, degrading cell quality.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    nrm = F.sqrt(
        F.aggregate(
            F.transform(
                "embedding", lambda x: x.cast("double") * x.cast("double")
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    unit = F.transform("embedding", lambda x: x.cast("double") / nrm)
    vecs = sample.withColumn("features", array_to_vector(unit))
    model = KMeans(k=k, seed=seed, maxIter=10).fit(vecs.select("features"))
    return [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]


def _make_assign(cents: list[tuple[int, list[float]]]):
    """Vectorized nearest-centroid assignment UDF for a driver-side
    codebook (k × dim, kilobytes — travels in the closure)."""
    import numpy as np

    mat = np.array([c for _, c in sorted(cents)])
    mat_norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cell_ids = np.array([i for i, _ in sorted(cents)])

    @pandas_udf("int")
    def assign(emb: pd.Series) -> pd.Series:
        v = np.stack(emb.to_numpy())
        v = v / np.linalg.norm(v, axis=1, keepdims=True)
        return pd.Series(cell_ids[np.argmax(v @ mat_norm.T, axis=1)])

    return assign


class StreamingIvfIndex:
    """A persistent inverted-file ANN index with incremental ingest."""

    def __init__(self, codebook_path: str, index_path: str):
        self.codebook_path = codebook_path
        self.index_path = index_path
        self._state = GenerationState(index_path)

    # -- durable layout (see module docstring) --------------------------

    @property
    def _delta_root(self) -> str:
        return os.path.join(self.index_path, "delta")

    def _cell_manifest(self) -> dict[int, int]:
        """cell → generation dir holding that cell's base rows."""
        return {
            int(c): int(g)
            for c, g in self._state.meta().get("cells", {}).items()
        }

    def _folded_epochs(self) -> set[int]:
        return set(self._state.meta().get("folded", ()))

    def _delta_epoch_dirs(self) -> dict[int, str]:
        out: dict[int, str] = {}
        if os.path.isdir(self._delta_root):
            for name in os.listdir(self._delta_root):
                if name.startswith("epoch="):
                    out[int(name.split("=", 1)[1])] = os.path.join(
                        self._delta_root, name
                    )
        return out

    # -- one-time codebook fit -----------------------------------------

    def fit(self, sample: DataFrame, k: int = 8, seed: int = 42) -> None:
        """Train and persist the codebook from a (vec_id, embedding)
        sample. At 100 TB the sample is a tiny fraction of the corpus —
        k-means quality needs thousands of points per cell, not the
        corpus (same rationale as q43b's sample-fit note)."""
        cents = _train_centroids(sample, k, seed)
        self._write_codebook(sample.sparkSession, cents)

    def _write_codebook(
        self, spark: SparkSession, cents: list[tuple[int, list[float]]]
    ) -> None:
        local_frame(spark, cents, CODEBOOK_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(self.codebook_path)

    def centroids(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(CODEBOOK_SCHEMA).parquet(
            self.codebook_path
        )

    # -- ingest ---------------------------------------------------------

    def ingest_batch(self, batch: DataFrame, epoch_id: int = 0) -> None:
        """Assign cells and land the batch in its delta epoch dir,
        partitioned by cell (map-only). OVERWRITE per epoch: replaying a
        failed epoch rewrites its own delta instead of double-appending
        (the matview idempotence discipline)."""
        spark = batch.sparkSession
        # Executor-closure rule (CLAUDE.md): the pandas_udf below runs
        # worker-side; ship the package so workers resolve imports even
        # when the driver found it via a cwd-only sys.path entry.
        ship_package(spark)
        cents = sorted(
            (r["cell"], r["centroid"]) for r in self.centroids(spark).collect()
        )
        assign = _make_assign(cents)
        (
            batch.select(
                "vec_id", "label", "embedding", assign("embedding").alias("cell")
            )
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(os.path.join(self._delta_root, f"epoch={epoch_id}"))
        )

    def run(self, vec_stream: DataFrame, checkpoint_dir: str, **trigger):
        """Attach ingest to a streaming (vec_id, label, embedding) frame."""
        trigger = trigger or {"availableNow": True}
        return (
            vec_stream.writeStream.foreachBatch(self.ingest_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(**trigger)
            .start()
        )

    def _empty(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame([], INDEX_SCHEMA)

    def _base_frames(self, spark: SparkSession) -> list[DataFrame]:
        """One frame per generation dir referenced by the cell manifest,
        each filtered to the cells the manifest assigns it (an orphan
        cell dir from a crashed refresh stays invisible). The cell
        filter is a partition filter — pruning by construction."""
        manifest = self._cell_manifest()
        by_gen: dict[int, list[int]] = {}
        for cell, gen in manifest.items():
            by_gen.setdefault(gen, []).append(cell)
        frames = []
        for gen, cells in sorted(by_gen.items()):
            d = self._state.gen_dir(gen)
            frames.append(
                spark.read.schema(INDEX_SCHEMA)
                .option("basePath", d)
                .parquet(d)
                .filter(F.col("cell").isin(cells))
            )
        return frames

    def _delta(self, spark: SparkSession) -> DataFrame:
        """Unfolded delta epochs (folded ones are already in a base
        generation and excluded by the pointer's folded set)."""
        live = {
            e: d
            for e, d in self._delta_epoch_dirs().items()
            if e not in self._folded_epochs()
        }
        if not live:
            return self._empty(spark)
        return (
            spark.read.schema("vec_id long, label int, embedding array<float>, epoch int, cell int")
            .option("basePath", self._delta_root)
            .parquet(*sorted(live.values()))
            .select("vec_id", "label", "embedding", "cell")
        )

    def _index(self, spark: SparkSession) -> DataFrame:
        out = self._empty(spark)
        for f in self._base_frames(spark):
            out = out.unionByName(f)
        return out.unionByName(self._delta(spark))

    # -- maintenance: occupancy monitoring + codebook refresh ------------

    def cell_occupancy(self, spark: SparkSession) -> DataFrame:
        """(cell, n) row counts per inverted-file cell — the health
        metric to watch under distribution drift. One map-side-combined
        aggregation over the index's cell column (partition metadata
        scale, no payload shuffle)."""
        return self._index(spark).groupBy("cell").agg(
            F.count(F.lit(1)).alias("n")
        )

    def cell_skew(self, spark: SparkSession) -> float:
        """max/mean cell occupancy (1.0 = perfectly balanced). A probe
        reads nprobe/k of the corpus only when cells are balanced; skew
        S means the worst probe reads ~S× its share — the signal that
        the codebook no longer matches the distribution and
        ``refresh`` is due."""
        row = self.cell_occupancy(spark).agg(
            (F.max("n") / F.avg("n")).alias("skew")
        ).collect()[0]
        return float(row["skew"])

    def refresh(
        self,
        spark: SparkSession,
        sample_fraction: float = 0.1,
        k: int | None = None,
        seed: int = 43,
    ) -> dict:
        """Re-fit the codebook from a sample of the indexed vectors and
        remap ONLY the cells whose membership changed.

        Drift response: the frozen codebook keeps assignments comparable
        across batches, but when the stream's distribution moves, new
        vectors crowd into few cells (``cell_skew`` rises) and probes of
        the drifted region lose recall. Refresh = re-fit on a uniform
        sample of the CURRENT index (old + drifted data), then:

        1. assign every indexed row its new cell (one map-only pass —
           the same Arrow argmax as ingest);
        2. collect the set of cells that lost or gained members (driver
           sees ≤ 2k cell ids, never rows);
        3. write those cells — plus every cell with unfolded delta rows
           — into a NEW generation dir; stable base cells are not
           touched at all (their files stay where they are);
        4. pointer-commit the new per-cell manifest + folded delta
           epochs in ONE atomic swap (``streaming.commit`` — no
           directory renames, object-store-safe).

        Queries between batches resolve the pointer and see either the
        old or the new complete index; a crash anywhere leaves orphan
        files that the committed manifest never references (cleaned
        lazily here). Run between drains, like compaction. Returns
        {"n_moved", "cells_rewritten", "cells_kept"}.
        """
        ship_package(spark)
        if k is None:
            k = self.centroids(spark).count()
        idx = self._index(spark)
        sample = idx.select("embedding").sample(
            fraction=min(1.0, sample_fraction), seed=seed
        )
        cents = _train_centroids(sample, k, seed)
        assign = _make_assign(cents)
        remapped = idx.select(
            "vec_id",
            "label",
            "embedding",
            F.col("cell").alias("old_cell"),
            assign("embedding").alias("cell"),
        )
        moved = (
            remapped.filter(F.col("cell") != F.col("old_cell"))
            .select("old_cell", "cell")
            .distinct()
            .collect()
        )
        changed = {r["old_cell"] for r in moved} | {r["cell"] for r in moved}
        delta_live = {
            e: d
            for e, d in self._delta_epoch_dirs().items()
            if e not in self._folded_epochs()
        }
        delta_cells = (
            {
                r["cell"]
                for r in self._delta(spark).select("cell").distinct().collect()
            }
            if delta_live
            else set()
        )
        # a cell must be rewritten if membership changed OR it holds
        # delta rows being folded; everything else keeps its files
        rewrite = changed | delta_cells
        manifest = self._cell_manifest()
        kept = set(manifest) - rewrite
        n_moved = 0
        gen, gen_dir = self._state.stage()
        if rewrite:
            to_write = remapped.filter(F.col("cell").isin(rewrite)).select(
                "vec_id", "label", "embedding", "cell"
            )
            to_write.write.mode("overwrite").partitionBy("cell").parquet(
                gen_dir
            )
            n_moved = remapped.filter(
                F.col("cell") != F.col("old_cell")
            ).count()
        new_manifest = {c: manifest[c] for c in kept}
        new_manifest.update({c: gen for c in rewrite})
        folded = self._folded_epochs() | set(delta_live)
        self._state.commit(
            gen,
            cells={str(c): g for c, g in new_manifest.items()},
            folded=sorted(folded),
        )
        # lazy GC: generations no cell references, and folded delta
        # epochs (both excluded by the committed pointer already)
        self._state.cleanup(keep=set(new_manifest.values()))
        for d in delta_live.values():
            shutil.rmtree(d, ignore_errors=True)
        self._write_codebook(spark, cents)
        spark.catalog.refreshByPath(self.index_path)
        spark.catalog.refreshByPath(self.codebook_path)
        return {
            "n_moved": n_moved,
            "cells_rewritten": len(rewrite),
            "cells_kept": len(kept),
        }

    # -- query ----------------------------------------------------------

    def query(
        self,
        spark: SparkSession,
        qv: list[float],
        k: int = 10,
        nprobe: int = 3,
    ) -> DataFrame:
        """Top-k by exact cosine within the nprobe nearest cells.

        The cell filter is a partition filter (the index is laid out by
        cell), so the scan reads only the probed directories; the final
        top-k is orderBy+limit (TakeOrdered), never a full rank window.
        """
        qcol = F.lit(qv).cast("array<double>")
        cells = [
            r["cell"]
            for r in self.centroids(spark)
            .select("cell", cosine(F.col("centroid"), qcol).alias("csim"))
            .orderBy(F.col("csim").desc(), "cell")
            .limit(nprobe)
            .collect()
        ]
        return (
            self._index(spark)
            .filter(F.col("cell").isin(cells))
            .select("vec_id", "label", cosine(F.col("embedding"), qcol).alias("sim"))
            .orderBy(F.col("sim").desc(), "vec_id")
            .limit(k)
        )

    def exists(self) -> bool:
        return os.path.isdir(self.codebook_path) and os.path.isdir(self.index_path)
