"""Constant-heavy columns are built as one ``F.expr`` over generated Spark
SQL text: the literals must parse back bit-exactly, and building the
bucket and signature columns must stay a handful of py4j calls."""

from __future__ import annotations

import random
import struct
import sys
import threading

from pyspark.sql import functions as F

from redix_stream_spark.catalog import load_table
from redix_stream_spark.llm.dedup import minhash_signatures
from redix_stream_spark.llm.similarity import (
    PROD_LSH_STRIDE,
    PROD_LSH_TABLES,
    _hyperplanes,
    _prod_planes,
    _spark_array,
    _spark_proj,
    lsh_table_buckets,
)

#: py4j calls allowed for building the three selects below (the
#: Column-API builders took ~15.6k for the demo buckets alone)
CONSTRUCTION_BUDGET = 300


def _bits(x: float) -> bytes:
    return struct.pack(">d", x)


def test_spark_proj_literals_round_trip_bit_exactly(spark):
    rnd = random.Random(7)
    edge = [
        5e-324,  # smallest subnormal
        -5e-324,
        2.2250738585072014e-308,  # smallest normal
        -0.0,
        0.0,
        sys.float_info.max,
        -sys.float_info.max,
        1e-05,
        0.1,
        1 / 3,
    ]
    vals = edge + [rnd.gauss(0.0, 1.0) for _ in range(1000)]
    got = spark.range(1).select(F.expr(_spark_array(vals))).first()[0]
    assert [_bits(v) for v in got] == [_bits(v) for v in vals]

    # the projection is the same left fold, literal for literal
    dim = 64
    planes = [vals[i : i + dim] for i in range(len(edge), len(vals) - dim, dim)]
    vec = [rnd.gauss(0.0, 1.0) for _ in range(dim)]
    row = (
        spark.createDataFrame([(vec,)], "v array<double>")
        .select(*[F.expr(_spark_proj("v", p)) for p in planes])
        .first()
    )
    for p, got_proj in zip(planes, row):
        acc = 0.0
        for x, y in zip(vec, p):
            acc = acc + x * y
        assert _bits(got_proj) == _bits(acc)


def test_bucket_and_signature_construction_is_a_few_py4j_calls(
    spark, sf_dir, monkeypatch
):
    e = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    builder = threading.get_ident()
    calls = [0]

    def counting(*a, **kw):
        # py4j's finalizer thread sends object deletes asynchronously;
        # only the building thread's round-trips are construction cost
        if threading.get_ident() == builder:
            calls[0] += 1
        return real(*a, **kw)

    monkeypatch.setattr(client, "send_command", counting)
    e.select("vec_id", *lsh_table_buckets("embedding", _hyperplanes()))
    e.select(
        "vec_id",
        *lsh_table_buckets(
            "embedding",
            _prod_planes(),
            tables=PROD_LSH_TABLES,
            bits=12,
            stride=PROD_LSH_STRIDE,
        ),
    )
    minhash_signatures(docs)
    monkeypatch.undo()
    assert 0 < calls[0] <= CONSTRUCTION_BUDGET, calls[0]
