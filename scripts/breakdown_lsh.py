"""Stage breakdown for the LSH candidate pipelines (r12 optimization).

Times each stage of q174b/q169b (and the demo widths) through the noop
sink in one session: bucket tagging, entries, candidate self-join,
eps-edge scoring, full face. Attribution only — not the bench.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"


def t(label, df):
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    spark.sparkContext.setJobDescription(label)
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    print(f"{label}: {dt:.2f}s", flush=True)
    return dt


def main() -> None:
    import pyspark.sql.functions as F

    from redix_stream_spark.catalog import load_table
    from redix_stream_spark.llm import similarity as S
    from redix_stream_spark.session import get_spark

    spark = get_spark("breakdown-lsh")
    spark.sparkContext.setLogLevel("ERROR")

    e = load_table(spark, SF, "embeddings")
    n = e.count()
    print(f"n embeddings = {n}, prod bits = {S.prod_lsh_bits(n)}")

    # --- production width (q169b/q174b) ---
    planes = S._prod_planes()
    bits = S.prod_lsh_bits(n)
    tagged = e.select(
        "vec_id",
        *S.lsh_table_buckets(
            "embedding",
            planes,
            tables=S.PROD_LSH_TABLES,
            bits=bits,
            stride=S.PROD_LSH_STRIDE,
        ),
    )
    t("prod tagged (12xbits folds)", tagged)
    entries = S._prod_lsh_entries(e)
    t("prod entries (tag+explode+cap+ckpt)", entries)
    a = entries.select(F.col("vec_id").alias("src"), "table", "bucket")
    b = entries.select(F.col("vec_id").alias("dst"), "table", "bucket")
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    t("prod cand (self-join+distinct)", cand)
    print("prod cand count:", cand.count(), flush=True)
    edges = S._eps_edges(e, entries)
    t("prod eps edges (join-back + pair dot)", edges)
    print("prod edge count:", edges.count(), flush=True)

    # --- demo width (q174) ---
    dplanes = S._hyperplanes()
    dtagged = e.select(
        "vec_id", "embedding", *S.lsh_table_buckets("embedding", dplanes)
    )
    t("demo tagged (6x5 folds)", dtagged)
    dentries = S._demo_lsh_entries(e)
    da = dentries.select(F.col("vec_id").alias("src"), "table", "bucket")
    db = dentries.select(F.col("vec_id").alias("dst"), "table", "bucket")
    dcand = (
        da.join(db, ["table", "bucket"])
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    t("demo cand", dcand)
    print("demo cand count:", dcand.count(), flush=True)
    dedges = S._eps_edges(e, dentries)
    t("demo eps edges", dedges)

    spark.stop()


if __name__ == "__main__":
    main()
