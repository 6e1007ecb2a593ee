"""Seeded benchmark inputs.

``write_sf_tables`` writes the three tables the ``batch_faces`` workload
reads (``lineitem``, ``documents``, ``embeddings``) as one parquet file
each, shaped like the repo's sf0.01 test data: uniform TPC-H-style
lineitem keys and values, a 30-word-vocabulary document corpus in which
about 5% of the documents are near-duplicates (an earlier document with
one word appended), and unit-norm 64-dim embeddings with ten labels.

``message_payloads`` builds the stream workloads' payloads. Every
function takes a ``numpy.random.Generator``, so one seed gives the same
inputs on every host.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LINEITEM_ROWS = 60_000
ORDERS = 15_000
PARTS = 2_000
SUPPLIERS = 100
DOCUMENTS = 500
NEAR_DUPS = 25
EMBEDDINGS = 500
EMBED_DIM = 64
LABELS = 10

VOCAB = (
    "a the join hash row batch scan customer column filter small slow merge "
    "order vector line table data agg value key stream window spark group "
    "part big sort query fast"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_WEIGHTS = (0.44, 0.15, 0.14, 0.13, 0.14)
SHIP_START = datetime.date(1995, 1, 2)
SHIP_DAYS = 2498  # through 2001-11-04


def lineitem(rng: np.random.Generator, rows: int = LINEITEM_ROWS) -> pa.Table:
    days = rng.integers(0, SHIP_DAYS + 1, rows)
    ship = np.datetime64(SHIP_START, "us") + days.astype("timedelta64[D]")
    return pa.table(
        {
            "l_orderkey": rng.integers(0, ORDERS, rows),
            "l_partkey": rng.integers(0, PARTS, rows),
            "l_suppkey": rng.integers(0, SUPPLIERS, rows),
            "l_linenumber": rng.integers(1, 8, rows).astype(np.int32),
            "l_quantity": rng.integers(1, 51, rows).astype(np.float64),
            "l_extendedprice": rng.integers(90_000, 10_500_000, rows) / 100.0,
            "l_discount": rng.integers(0, 11, rows) / 100.0,
            "l_tax": rng.integers(0, 9, rows) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], rows),
            "l_linestatus": rng.choice(["F", "O"], rows),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )


def documents(rng: np.random.Generator, n: int = DOCUMENTS) -> pa.Table:
    texts = [
        " ".join(rng.choice(VOCAB, int(rng.integers(10, 91))))
        for _ in range(n)
    ]
    # Near-duplicates: a later document repeats an earlier one plus "dup",
    # so the MinHash faces always have pairs above their Jaccard floor.
    dups = rng.choice(np.arange(1, n), NEAR_DUPS, replace=False)
    for j in dups:
        texts[j] = texts[int(rng.integers(0, j))] + " dup"
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_WEIGHTS),
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator, n: int = EMBEDDINGS) -> pa.Table:
    vec = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": rng.integers(0, LABELS, n).astype(np.int32),
        }
    )


TABLES = {"lineitem": lineitem, "documents": documents, "embeddings": embeddings}


def write_sf_tables(rng: np.random.Generator, sf_dir: str) -> None:
    """Write every table in ``TABLES`` as ``<sf_dir>/<name>.parquet``."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, make in TABLES.items():
        pq.write_table(make(rng), os.path.join(sf_dir, f"{name}.parquet"))


def message_payloads(
    rng: np.random.Generator, n: int, keys: int = 64
) -> list[dict[str, str]]:
    """``n`` stream payloads: a routing key (``by_key`` partitions on it)
    and a small value, both strings as the log stores them."""
    ks = rng.integers(0, keys, n)
    vs = rng.integers(0, 1_000_000, n)
    return [{"key": f"k{k}", "v": str(v)} for k, v in zip(ks, vs)]
