"""The catalog infers each table's schema once per file version."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from redix_stream_spark.catalog import load_table, table_path

from .conftest import SF_DIR, jobs_in_group


def test_load_table_infers_each_schema_once_per_file_version(spark, tmp_path):
    sf = str(tmp_path)
    path = table_path(sf, "documents")
    shutil.copy(table_path(SF_DIR, "documents"), path)
    first = load_table(spark, sf, "documents")
    # a schema-less parquet read is a footer-inference job; the second
    # load of the same file version reads with the cached schema
    again, jobs = jobs_in_group(
        spark, "catalog-second-load", lambda: load_table(spark, sf, "documents")
    )
    assert jobs == []
    assert again.schema == first.schema
    assert again.count() == first.count()
    # a rewrite with one more column is a new version: inferred afresh
    t = pq.read_table(path)
    pq.write_table(t.append_column("extra", pa.array(range(t.num_rows))), path)
    wider = load_table(spark, sf, "documents")
    assert wider.columns == first.columns + ["extra"]
    assert [r["extra"] for r in wider.orderBy("doc_id").collect()] == list(
        range(t.num_rows)
    )


def test_events_nano_ticks_read_the_same_with_the_cached_schema(spark, tmp_path):
    # INT64 TIMESTAMP(NANOS) events read as raw ticks under nanosAsLong;
    # a read with the cached (BIGINT) schema must give the same rows.
    sf = str(tmp_path)
    t = pq.read_table(table_path(SF_DIR, "events"))
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(t, table_path(sf, "events"), version="2.6")
    assert pq.read_schema(table_path(sf, "events")).field("ts").type == pa.timestamp("ns")
    first = load_table(spark, sf, "events")
    second, jobs = jobs_in_group(
        spark, "catalog-events-second-load", lambda: load_table(spark, sf, "events")
    )
    assert jobs == []
    assert second.schema == first.schema
    rows = sorted(second.collect())
    assert rows == sorted(first.collect())
    assert rows == sorted(load_table(spark, SF_DIR, "events").collect())
