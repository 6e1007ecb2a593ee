"""Table catalog: load the scale-factor parquet tables and register views.

The reference's only collection type is a named append-only log
(/root/reference/lib/stream.ex:10); our at-rest representation of a log is
an append-only parquet table ordered by its id column (``events.event_id``
plays the Redis stream id, SURVEY.md §1.1). The TPC-H-ish star schema plus
``documents``/``embeddings`` host the relational and LLM-pipeline surface.

Scale notes (100 TB): ``spark.read.parquet`` on a directory of files is the
same call at any scale — partition parallelism comes from file splits
(``spark.sql.files.maxPartitionBytes``). Small dimensions (region, nation,
supplier) stay broadcast-joinable at every SF because they scale sub-linearly
in TPC-H-like generators.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to broadcast at any realistic scale factor.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


#: The parquet-inference conf this module sets (``_load_events``); it
#: changes the schema Spark infers for a TIMESTAMP(NANOS) column.
_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

#: Absolute table path -> (``_version`` of the inference, its schema).
#: Process-wide like Spark's own relation cache: an entry is only used
#: while its file version and conf match, so sessions and tests that
#: rewrite a table never see another version's schema. One entry per
#: path: a rewrite replaces it.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _version(spark: SparkSession, path: str) -> tuple:
    """What the inferred schema of ``path`` depends on: the size and
    mtime of the file (or of every file under a directory table) and the
    nanosAsLong conf. A rewrite changes size or mtime, so it is inferred
    afresh."""
    files = [path]
    if os.path.isdir(path):
        files = sorted(
            os.path.join(root, f) for root, _, names in os.walk(path) for f in names
        )
    stats = tuple(
        (f, st.st_size, st.st_mtime_ns) for f in files for st in [os.stat(f)]
    )
    return stats, spark.conf.get(_NANOS_AS_LONG, None)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per file
    version. A schema-less parquet read runs a footer-inference job (about
    100 ms on a 60 KB file, against 15 ms with a schema); Spark's catalog
    skips it the same way for registered tables."""
    key = os.path.abspath(path)
    try:
        version = _version(spark, key)
    except OSError:  # gone or unreadable: let Spark report it
        return spark.read.parquet(path)
    cached = _SCHEMAS.get(key)
    if cached is not None and cached[0] == version:
        return spark.read.schema(cached[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (version, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return _read_parquet(spark, table_path(sf_dir, name))


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load ``events``, normalizing ``ts`` across generator vintages.

    The testdata generator has shipped ``ts`` as both INT64
    TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across rounds. Spark's parquet
    reader rejects TIMESTAMP(NANOS) outright (PARQUET_TYPE_ILLEGAL); the
    supported escape hatch is ``spark.sql.legacy.parquet.nanosAsLong``,
    which surfaces the raw nanosecond ticks as BIGINT. When that fires we
    floor-divide to microseconds with *integer* arithmetic (a double
    division would round 2^62-scale ticks) and expose a TIMESTAMP_NTZ,
    matching DuckDB's naive reading of the same file. A MICROS file (or an
    engine-materialized log) already reads as a true timestamp column and
    passes through untouched.
    """
    spark.conf.set(_NANOS_AS_LONG, "true")
    df = _read_parquet(spark, table_path(sf_dir, "events"))
    # Convert only when the file really carries INT64 nano ticks. A log
    # materialized by this engine (compaction, scale replicas) stores a
    # true timestamp column — converting that would either fail or shear
    # the values.
    if not isinstance(df.schema["ts"].dataType, LongType):
        return df
    return df.withColumn(
        "ts", F.expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)")
    )


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | list[str] | None = None
) -> dict[str, DataFrame]:
    """Load the requested tables (all by default) as DataFrames."""
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str, names=None) -> None:
    """Register temp views so ``spark.sql`` queries can name the tables."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)
