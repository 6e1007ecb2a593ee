"""Physical-plan quality gates — the 100 TB design assertions.

Correctness tests say the operators compute the right answer; these say
Catalyst produced the plan we designed for: filters pushed to the parquet
scan, bounded dimensions broadcast, range joins staying equi-keyed (no
cartesian), global top-k compiling to TakeOrdered, codegen in the hot
aggregates. A regression here is a scale bug even when results stay right.
"""

from __future__ import annotations

import re

import pytest

from redix_stream_spark import registry

QUERIES = registry.all_queries()


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_q01_filter_pushed_to_scan(spark, sf_dir):
    plan = plan_of(QUERIES["q01_pricing_summary"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # Column pruning: only the 7 needed columns reach the scan.
    assert "l_comment" not in plan


def test_q01_scan_prunes_columns(spark, sf_dir):
    plan = plan_of(QUERIES["q01_pricing_summary"](spark, sf_dir))
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema, "no ReadSchema in plan"
    # partkey/suppkey/orderkey are not referenced by Q1 → must not be read.
    assert "l_partkey" not in read_schema[0]
    assert "l_orderkey" not in read_schema[0]


def test_q03_broadcasts_dimensions(spark, sf_dir):
    plan = plan_of(QUERIES["q03_star_join_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # The orders date filter must be pushed to the orders scan.
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan


def test_q06_range_join_not_cartesian(spark, sf_dir):
    plan = plan_of(QUERIES["q06_range_join"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q15_top_global_is_take_ordered(spark, sf_dir):
    plan = plan_of(QUERIES["q15_top_global"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_q77_bracket_disjunction_pushed_to_both_scans(spark, sf_dir):
    """TPC-H Q19 shape: Catalyst must derive per-side residuals of the
    OR-of-ANDs predicate and push them into BOTH parquet scans — the
    brand/size disjunction to part, the quantity ranges to lineitem."""
    plan = plan_of(QUERIES["q77_bracket_revenue"](spark, sf_dir))
    assert "Or(Or(And(EqualTo(p_brand,Brand#12)" in plan  # part scan
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)" in plan  # lineitem scan


@pytest.mark.parametrize("name", ["q70_shipping_priority", "q76_large_orders"])
def test_tpch_fact_joins_never_broadcast(spark, sf_dir, name):
    """Growing fact relations (orders/lineitem, even filtered) must join
    sort-merge, never broadcast: the size estimate passes the threshold at
    test SF and OOMs at 10× (SCALING.md round-2 sweep). The merge hint on
    every _fact() relation pins this."""
    plan = plan_of(QUERIES[name](spark, sf_dir))
    assert "SortMergeJoin" in plan
    for line in plan.splitlines():
        if "BroadcastHashJoin" in line and (
            "o_orderkey" in line or "l_orderkey" in line
        ):
            raise AssertionError(f"fact side broadcast: {line}")


def test_q70_shipping_priority_is_take_ordered(spark, sf_dir):
    plan = plan_of(QUERIES["q70_shipping_priority"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # segment + date filters pushed to their scans
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "LessThan(o_orderdate,1995-03-15" in plan


@pytest.mark.parametrize("name", ["q64_returned_items", "q31_top_tokens"])
def test_global_topk_is_take_ordered_not_full_rank(spark, sf_dir, name):
    """Top-k over an unbounded relation must be TakeOrderedAndProject
    (per-partition top-k + k-merge), never a single-partition rank window
    over the full aggregate — that plan dies at 100× cardinality."""
    plan = plan_of(QUERIES[name](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_q23b_replay_scaled_no_global_sort_of_log(spark, sf_dir):
    """The scale-safe replay sequence must not single-partition the log:
    the only SinglePartition exchange allowed is the cumulative-offset
    window over the bucket-count aggregate (n_buckets rows), and the log
    itself may shuffle only by bucket hash."""
    df = QUERIES["q23b_replay_scaled"](spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            below = "\n".join(lines[i + 1 : i + 3])
            assert "HashAggregate" in below, (
                "SinglePartition exchange not over the bucket-count "
                f"aggregate:\n{plan}"
            )
    assert "rangepartitioning" not in plan  # no global sort of the log


def test_q36_jaccard_sets_never_broadcast(spark, sf_dir):
    """The shingle-set relation (one fat string array per doc) must join
    via shuffle hash, never broadcast: Spark's size estimator undercounts
    array columns, and at 10× docs the auto-broadcast OOM'd the driver
    (SCALING.md round-2 measurement)."""
    plan = plan_of(QUERIES["q36_minhash_lsh_neardup"](spark, sf_dir))
    assert "ShuffledHashJoin" in plan
    # The only remaining broadcast candidates would be the sets side;
    # banded candidate pairs may broadcast (thin rows) — but the fat
    # array join must not.
    for line in plan.splitlines():
        if "BroadcastHashJoin" in line and "sset" in line:
            raise AssertionError(f"sets relation broadcast: {line}")


def test_q37_jaccard_join_is_equi_on_source(spark, sf_dir):
    plan = plan_of(QUERIES["q37_ngram_jaccard_dup"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_q41_neardup_join_is_equi_on_label(spark, sf_dir):
    plan = plan_of(QUERIES["q41_embedding_neardup"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_q04_semi_join_stays_semi(spark, sf_dir):
    plan = plan_of(QUERIES["q04_semi_join"](spark, sf_dir))
    assert "LeftSemi" in plan


@pytest.mark.parametrize(
    "name", ["q09_distinct_users", "q13_window_topk_per_group", "q24_dedup_first"]
)
def test_no_driver_collect_shapes(spark, sf_dir, name):
    """No plan may route the relation through the driver (collect/local)."""
    plan = plan_of(QUERIES[name](spark, sf_dir))
    assert "LocalTableScan" not in plan


def test_q86_per_doc_topk_uses_window_group_limit(spark, sf_dir):
    """The per-document rank<=3 filter must push into the window as a
    group-limit (partial top-3 per partition before the doc_id shuffle,
    final top-3 after) — without it every (doc, token) score row survives
    to the window sort, which at 100 TB is the whole tf relation."""
    plan = plan_of(QUERIES["q86_tfidf_keywords"](spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "rangepartitioning" not in plan  # window is doc-keyed, not global


def test_q83_no_cartesian_and_no_global_exchange(spark, sf_dir):
    """Repetition-quality joins two doc-keyed relations: the join must be
    keyed (never cartesian) and nothing may single-partition the corpus."""
    plan = plan_of(QUERIES["q83_repetition_quality"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_q88_quota_sample_uses_window_group_limit(spark, sf_dir):
    """Language is a low-cardinality skewed partition key; the rank<=25
    filter must push into the window as a group-limit so each input
    partition forwards at most 25 rows per language to the shuffle."""
    plan = plan_of(QUERIES["q88_quota_sample"](spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_q101_mixture_sample_uses_window_group_limit(spark, sf_dir):
    """The varying per-language quota is a CASE bound that alone defeats
    InferWindowGroupLimit; the conjoined constant max-quota bound must
    restore the pushed group limit (same scale argument as q88)."""
    plan = plan_of(QUERIES["q101_mixture_sample"](spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_q99_passage_dedup_keyed_joins_only(spark, sf_dir):
    """Passage dedup joins on the passage key and aggregates per doc —
    never doc×doc, and nothing single-partitions the corpus."""
    plan = plan_of(QUERIES["q99_passage_dedup"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange SinglePartition" not in plan


def test_q91_exists_pair_is_keyed_semi_anti(spark, sf_dir):
    """Q21's EXISTS/NOT EXISTS must compile to orderkey-keyed LEFT SEMI +
    LEFT ANTI joins (supplier inequality as residual) — never a cartesian
    — and the top-10 must be TakeOrdered, not a full rank window."""
    plan = plan_of(QUERIES["q91_waiting_suppliers"](spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "TakeOrderedAndProject" in plan


def test_q102_semdedup_pair_join_is_shuffle_hash_never_broadcast(spark, sf_dir):
    """The bucket-key self-join carries a fat embedding array on both
    sides — per CLAUDE.md it must compile to ShuffledHashJoin (the size
    estimator undercounts arrays; auto-broadcast OOMs at scale), with no
    cartesian fallback and no single-partition exchange."""
    plan = plan_of(QUERIES["q102_semantic_dedup"](spark, sf_dir))
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for line in plan.splitlines():
        if "BroadcastHashJoin" in line and "embedding" in line:
            raise AssertionError(f"embedding relation broadcast: {line}")


def test_q103_gapfill_single_user_shuffle_no_global_window(spark, sf_dir):
    """Gap-fill windows partition by user — a global (unpartitioned)
    window or a single-partition exchange would serialize the spine."""
    plan = plan_of(QUERIES["q103_gapfill"](spark, sf_dir))
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_q104_decayed_avg_reuses_user_partitioning(spark, sf_dir):
    """The recency-rank window and the final aggregate both key on
    user_id: the aggregate must reuse the window's hash partitioning —
    exactly one user_id exchange in the whole plan."""
    plan = plan_of(QUERIES["q104_decayed_avg"](spark, sf_dir))
    exchanges = [
        l for l in plan.splitlines() if "Exchange hashpartitioning" in l
    ]
    assert len(exchanges) <= 1, exchanges
    assert "Exchange SinglePartition" not in plan


def test_q107_containment_verify_join_is_shuffle_hash(spark, sf_dir):
    """Candidate generation keys on the shingle; the full-set verify join
    carries fat shingle arrays on both sides and must stay shuffle-hash
    (never broadcast), with no cartesian anywhere."""
    plan = plan_of(QUERIES["q107_containment_dup"](spark, sf_dir))
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the whole pipeline must be sort-free and broadcast-free: the dfs
    # join-back and the candidate join are SHJ-pinned (the SMJ sorts of
    # exploded shingle rows were the measured 2x, SCALING.md), and every
    # joined relation (dfs, candidates, the ssa/ssb shingle sets) is
    # corpus-sized — broadcastable only by size accident at test SF
    assert "BroadcastHashJoin" not in plan, "corpus-sized relation broadcast"
    assert "SortMergeJoin" not in plan, "shingle join fell back to SMJ"


def test_q107b_base_pipeline_materializes_once(spark, sf_dir):
    """q107b exists because q107's plan computes the tokenize→shingle
    base SIX times (6 documents scans, zero ReusedExchange). The
    production face checkpoints the narrow hashed postings ONCE: the
    returned plan must contain ZERO parquet scans of documents (every
    stage derives from the checkpoint), stay sort-free/broadcast-free
    on the corpus-sized joins, and have no cartesian anywhere."""
    plan = plan_of(QUERIES["q107b_containment_budgeted"](spark, sf_dir))
    doc_scans = [
        l for l in plan.splitlines() if "Location" in l and "documents" in l
    ]
    assert doc_scans == [], doc_scans
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" not in plan, "corpus-sized relation broadcast"
    assert "SortMergeJoin" not in plan, "postings join fell back to SMJ"


def test_q108_source_drift_totals_broadcast_vocab_join_keyed(spark, sf_dir):
    """Per-source totals are a sources-cardinality relation and must
    broadcast; the vocabulary pair join must stay keyed on token."""
    plan = plan_of(QUERIES["q108_source_drift"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q109_sliding_distinct_is_fanout_not_range_join(spark, sf_dir):
    """Sliding distinct must compile to the bounded ×24 fanout + keyed
    aggregate — a BETWEEN range join would be a nested-loop over the
    user-hour relation."""
    plan = plan_of(QUERIES["q109_sliding_distinct"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate" in plan


def test_q110_rate_anomaly_keyed_join_no_nested_loop(spark, sf_dir):
    plan = plan_of(QUERIES["q110_rate_anomaly"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q113_fuzzy_join_is_gram_keyed_no_cartesian(spark, sf_dir):
    """The edit-distance join must come from the q-gram equi-join (length
    filter as residual), never a cartesian or nested-loop product."""
    plan = plan_of(QUERIES["q113_fuzzy_join"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zorder_key_clusters_both_dimensions(spark, tmp_path):
    # The data-skipping claim behind plans.zorder: laid out in z-key
    # order, parquet row-group min/max stats become tight in BOTH
    # dimensions, so a 2-D box predicate prunes far more row groups than
    # a single-column sort does. Measured on real footer stats (pyarrow),
    # not timings — deterministic.
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from redix_stream_spark.catalog import load_table
    from redix_stream_spark.plans.zorder import zvalue

    sf_mid = "/root/testdata/sf0.01"
    li = load_table(spark, sf_mid, "lineitem")
    stats = li.agg(
        F.min("l_partkey").alias("mn1"), F.max("l_partkey").alias("mx1"),
        F.min("l_suppkey").alias("mn2"), F.max("l_suppkey").alias("mx2"),
    )
    z = zvalue([
        (F.col("l_partkey"), F.col("mn1"), F.col("mx1")),
        (F.col("l_suppkey"), F.col("mn2"), F.col("mx2")),
    ])
    from redix_stream_spark.plans.zorder import ZBITS, hilbert_frame

    def scale(col, mn, mx):
        span = F.greatest(F.col(mx) - F.col(mn), F.lit(1)).cast("long")
        v = (F.col(col).cast("long") - F.col(mn).cast("long")) * ((1 << ZBITS) - 1)
        return ((v - v % span) / span).cast("long")

    li = li.withColumn("_rid", F.monotonically_increasing_id())
    j = li.crossJoin(F.broadcast(stats))
    h = hilbert_frame(
        j,
        scale("l_partkey", "mn1", "mx1"),
        scale("l_suppkey", "mn2", "mx2"),
        keep=["_rid"],
        out="hval",
    )
    keys = (
        j.select("_rid", "l_partkey", "l_suppkey", z.alias("zval"))
        .join(h, "_rid")
        .select("l_partkey", "l_suppkey", "zval", "hval")
        .toPandas()
    )
    # 10%-per-dim box (1% joint selectivity). Measured at 256-row groups:
    # 12-vs-25 survivors of 235 off-center, 10-vs-25 when the box
    # straddles the curve center. The gap vs the ~2.4-group ideal is the
    # Morton curve's fragmentation cost (Hilbert halves it; Morton is
    # what lakehouse ZORDER implementations ship).
    lo_p, hi_p = keys.l_partkey.quantile([0.05, 0.15])
    lo_s, hi_s = keys.l_suppkey.quantile([0.05, 0.15])

    def surviving_row_groups(pdf, path):
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            path,
            row_group_size=256,
        )
        md = pq.ParquetFile(path).metadata
        cols = {md.row_group(0).column(i).path_in_schema: i for i in range(md.num_columns)}
        hit = 0
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            sp = rg.column(cols["l_partkey"]).statistics
            ss = rg.column(cols["l_suppkey"]).statistics
            if sp.min <= hi_p and sp.max >= lo_p and ss.min <= hi_s and ss.max >= lo_s:
                hit += 1
        return hit, md.num_row_groups

    linear_hit, n_groups = surviving_row_groups(
        keys.sort_values("l_partkey"), str(tmp_path / "linear.parquet")
    )
    z_hit, n_groups_z = surviving_row_groups(
        keys.sort_values("zval"), str(tmp_path / "zorder.parquet")
    )
    h_hit, _ = surviving_row_groups(
        keys.sort_values("hval"), str(tmp_path / "hilbert.parquet")
    )
    assert n_groups == n_groups_z and n_groups >= 100
    # single-column sort: partkey prunes to ~10% but suppkey stats are
    # useless, so every surviving group passes the suppkey test too.
    # z-order: both dims tight → close to the 1% joint selectivity.
    assert z_hit < linear_hit / 2, (z_hit, linear_hit, n_groups)
    # Hilbert never fragments worse than Morton (measured 10-vs-12 here;
    # 6-vs-10 when the box center-crosses — the curve has no quadrant-
    # diagonal jumps).
    assert h_hit <= z_hit, (h_hit, z_hit)


def test_write_zordered_files_carry_disjoint_key_ranges(spark, sf_dir, tmp_path):
    from redix_stream_spark.catalog import load_table
    from redix_stream_spark.plans.zorder import write_zordered, zvalue

    import pyspark.sql.functions as F

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    path = str(tmp_path / "zli")
    write_zordered(li, ["l_partkey", "l_suppkey"], path, n_files=4)
    back = spark.read.parquet(path)
    assert back.count() == li.count()
    assert set(back.columns) == set(li.columns)  # key column dropped
    # range partitioning: per-file z ranges are disjoint (file skipping)
    stats = li.agg(
        F.min("l_partkey").alias("mn1"), F.max("l_partkey").alias("mx1"),
        F.min("l_suppkey").alias("mn2"), F.max("l_suppkey").alias("mx2"),
    ).collect()[0]
    z = zvalue([
        (F.col("l_partkey"), F.lit(stats["mn1"]), F.lit(stats["mx1"])),
        (F.col("l_suppkey"), F.lit(stats["mn2"]), F.lit(stats["mx2"])),
    ])
    per_file = (
        back.withColumn("_f", F.input_file_name())
        .withColumn("_z", z)
        .groupBy("_f")
        .agg(F.min("_z").alias("lo"), F.max("_z").alias("hi"))
        .collect()
    )
    spans = sorted((r["lo"], r["hi"]) for r in per_file)
    assert len(spans) >= 2
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi <= lo

    # hilbert layout: same disjoint-range contract via the curve option
    hpath = str(tmp_path / "hli")
    write_zordered(li, ["l_partkey", "l_suppkey"], hpath, n_files=4, curve="hilbert")
    hback = spark.read.parquet(hpath)
    assert hback.count() == li.count()
    assert set(hback.columns) == set(li.columns)


def test_runtime_bloom_filter_fires_in_scale_regime(spark, sf_dir):
    # Spark's runtime semi-join reduction (InjectRuntimeFilter) is ON by
    # default but gated on the application-side scan being >= 10 GB — the
    # 100 TB regime, unreachable at test SF. Simulate the regime by
    # zeroing the scan threshold and assert the bloom filter lands on the
    # fact scan: a selective dim predicate prunes fact rows BEFORE the
    # shuffle, for free, with no code in this repo. The restore path
    # keeps the suite's other plans untouched.
    import pyspark.sql.functions as F

    from redix_stream_spark.catalog import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # sf0.01: the injection rule also requires the application side to
        # dwarf the creation side by stats, which the 6k-row sf0.001
        # tables don't exhibit.
        sf_mid = "/root/testdata/sf0.01"
        li = load_table(spark, sf_mid, "lineitem")
        o = load_table(spark, sf_mid, "orders").filter(
            (F.col("o_orderdate") >= "1997-06-01") & (F.col("o_totalprice") > 400000)
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .count()
        )
        plan = plan_of(j)
        assert "might_contain" in plan, "runtime bloom filter did not inject"
        # the filter must sit on the FACT (lineitem) side, keyed on its key
        assert any(
            "might_contain" in l and "l_orderkey" in l for l in plan.splitlines()
        ), plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q127_interval_overlap_is_binned_equi_join(spark, sf_dir):
    """The interval-overlap theta join must go through the day-cell
    equi-join (grid binning), never a nested loop — the naive plan is
    quadratic in intervals."""
    plan = plan_of(QUERIES["q127_interval_overlap"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q06b_aggregate_face_no_join_single_exchange(spark, sf_dir):
    # q06b replaces q06's self-join with range-frame windows: the plan
    # must contain NO join of any kind and exactly one Exchange (all
    # three windows and the final aggregate share hashpartitioning on
    # user_id — a second exchange means a window spec regressed to a
    # (user_id, ts) partitioning).
    plan = plan_of(QUERIES["q06b_range_join_agg"](spark, sf_dir))
    assert "Join" not in plan, plan
    exchanges = [
        l for l in plan.splitlines()
        if l.strip().startswith("Arguments: hashpartitioning")
    ]
    assert len(exchanges) == 1, exchanges


def test_q140_bm25_prefilter_pushed_and_takeordered(spark, sf_dir):
    plan = plan_of(QUERIES["q140_bm25_search"](spark, sf_dir))
    # the any-term pre-filter must reach the parquet scan (keeps the
    # token fan-out off documents that cannot match)...
    assert "StringContains(text,dup)" in plan
    # ...and the global top-k must be TakeOrdered, never a full sort.
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q143_weighted_median_two_phase_shape(spark, sf_dir):
    plan = plan_of(QUERIES["q143_weighted_median"](spark, sf_dir))
    # collapse-first: a partial_count under HashAggregate BEFORE any
    # window sort — the cumulative window must run over the distinct
    # (group, value) relation, not the raw fact table.
    assert "partial_count" in plan
    # formatted plans print parents first: the Window appearing BEFORE the
    # HashAggregate in the text means the aggregate is BELOW it in the tree.
    assert plan.index("Window") < plan.index("HashAggregate")
    assert plan.count("Location: InMemoryFileIndex") == 1  # one scan total


def test_q145_skipping_scan_prunes_files_and_pushes_filter(spark, sf_dir):
    """Zone-map pruning happens ABOVE Spark (manifest metadata selects
    the file list), then the residual range predicate must still reach
    the surviving parquet row groups; and the aggregate must prune the
    unused lineitem columns from the scan."""
    df = QUERIES["q145_skipping_scan"](spark, sf_dir)
    files = df.inputFiles()
    assert 0 < len(files) < 8  # fewer files than the table holds
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_orderkey), GreaterThanOrEqual(l_orderkey" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema and "l_partkey" not in read_schema[0]
    assert "l_shipdate" not in read_schema[0]


def test_q147_binary_ann_is_take_ordered_with_broadcast_probe(spark, sf_dir):
    """Both the Hamming shortlist and the re-ranked top-10 must be
    TakeOrdered (never a full-relation rank window); the only broadcast
    is the deliberate 1-row probe (q40's pattern)."""
    plan = plan_of(QUERIES["q147_binary_ann_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q148_triangle_joins_are_keyed(spark, sf_dir):
    """Edge build, orientation, wedge closure: every join must be an
    equi-join on integer keys — a cartesian or nested-loop fallback
    would be quadratic in edges at scale."""
    plan = plan_of(QUERIES["q148_triangle_count"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q148_cooccur_build_materializes_once(spark, sf_dir):
    """The co-occurrence edge build feeds deg AND the orientation join —
    before round 12 the returned plan re-derived it from the fact table
    THREE times (15 parquet scans; the r10 no-subtree-reuse rule: the
    deg union's two branches plus the orientation read). It must now be
    one checkpoint: zero lineitem scans in the returned plan, deg's
    endpoint multiset from ONE explode over the materialized relation."""
    plan = plan_of(QUERIES["q148_triangle_count"](spark, sf_dir))
    scans = [
        l for l in plan.splitlines() if "Location" in l and "lineitem" in l
    ]
    assert scans == [], scans
    assert "ExistingRDD" in plan


def test_q176_cooccur_build_materializes_once(spark, sf_dir):
    """q176's edge list feeds the adjacency aggregate AND the non-edge
    anti-join, and its symmetrization is ONE explode (a union of two
    projections re-derived the whole co-occurrence build per branch —
    the r10 rule; 3 lineitem scans before round 12). Zero fact scans in
    the returned plan: every consumer reads the one checkpoint."""
    plan = plan_of(QUERIES["q176_link_prediction"](spark, sf_dir))
    scans = [
        l for l in plan.splitlines() if "Location" in l and "lineitem" in l
    ]
    assert scans == [], scans
    assert "ExistingRDD" in plan


def test_q149_zorder_box_prunes_files_on_both_dims(spark, sf_dir):
    """The Morton layout must give BOTH box dimensions file-level
    locality: a ~1/16-area box over 16 files has to skip most of them,
    and both residual predicates must still reach the parquet scan."""
    df = QUERIES["q149_zorder_table_scan"](spark, sf_dir)
    files = df.inputFiles()
    assert 0 < len(files) <= 8, f"box scan read {len(files)} of 16 files"
    plan = plan_of(df)
    assert "GreaterThanOrEqual(l_partkey" in plan
    assert "GreaterThanOrEqual(l_suppkey" in plan


def test_q156_kcore_peels_are_semi_joins_no_cartesian(spark, sf_dir):
    """Every peel round is survivor-set semi-joins + one keyed count —
    a cartesian or nested-loop fallback would be edges×nodes per round."""
    plan = plan_of(QUERIES["q156_kcore_decomposition"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q157_bfs_frontier_joins_are_keyed(spark, sf_dir):
    plan = plan_of(QUERIES["q157_bfs_levels"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q158_salted_join_spreads_key_and_never_broadcasts(spark, sf_dir):
    """The salt column must be part of the join key (that IS the skew
    spread), and the dim side must not be broadcast — with a broadcast
    there is no shuffle to salt, so a BroadcastHashJoin here means the
    face stopped demonstrating anything."""
    plan = plan_of(QUERIES["q158_salted_join_revenue"](spark, sf_dir))
    assert "__salt" in plan
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_q160_funnel_pushes_event_type_to_scan(spark, sf_dir):
    """Each funnel step must read only its event type: the equality
    filter reaches the parquet scan instead of filtering post-read."""
    plan = plan_of(QUERIES["q160_funnel"](spark, sf_dir))
    assert "EqualTo(event_type,view)" in plan
    assert "EqualTo(event_type,click)" in plan
    assert "EqualTo(event_type,purchase)" in plan
    assert "CartesianProduct" not in plan


def test_q161_attribution_interval_rides_user_equi_join(spark, sf_dir):
    """The touch<->purchase pairing must be an equi join on user_id with
    the time window as residual — a pure-theta fallback would be a
    BroadcastNestedLoopJoin over purchases x touches."""
    plan = plan_of(QUERIES["q161_attribution"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q162_image_candidates_join_on_chunk_keys(spark, sf_dir):
    plan = plan_of(QUERIES["q162_image_neardup"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q164_ols_dim_join_broadcasts(spark, sf_dir):
    """The part dim is bounded — the OLS scan must broadcast it, and the
    regression is all aggregate math: no cartesian anywhere."""
    plan = plan_of(QUERIES["q164_trend_ols"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q165_sessionize_rides_one_user_shuffle(spark, sf_dir):
    """lag, the session-id running sum, AND both groupBys must all ride
    ONE user-keyed exchange — the window specs share (user_id) and
    hash-partitioning by user_id satisfies the (user_id, sid) grouping,
    so a second shuffle would be a regression."""
    plan = plan_of(QUERIES["q165_sessionize"](spark, sf_dir))
    assert plan.count("hashpartitioning(user_id") == 1
    assert "CartesianProduct" not in plan


def test_q169_knn_graph_fat_joins_are_shuffle_hash(spark, sf_dir):
    """q169's embedding joins carry one fat float array per row on the
    build side — pinned shuffle_hash (the q36/q102 estimator-undercount
    discipline); the bucket self-join itself is id-only and free to pick
    any strategy, but nothing carrying 'embedding' may broadcast."""
    plan = plan_of(QUERIES["q169_knn_graph"](spark, sf_dir))
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "BroadcastHashJoin" in line and "embedding" in line:
            raise AssertionError(f"embedding relation broadcast: {line}")


def test_q169b_production_fat_joins_are_shuffle_hash(spark, sf_dir):
    """q169b shares q169's join discipline (nothing carrying 'embedding'
    may broadcast — estimator undercounts arrays) at the corpus-chosen
    production width; the hot-bucket budget window must ride the same
    (table, bucket) partitioning the self-join needs."""
    plan = plan_of(QUERIES["q169b_knn_graph_production"](spark, sf_dir))
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "BroadcastHashJoin" in line and "embedding" in line:
            raise AssertionError(f"embedding relation broadcast: {line}")


def test_q174b_production_fat_joins_are_shuffle_hash(spark, sf_dir):
    """q174b's eps-edge join-backs carry the fat embedding arrays — same
    pin as q169b (CLAUDE.md scale bar: fat-array relations never rely on
    auto-broadcast). The eager checkpoint in _density_from_entries hides
    this stage from the FINAL plan, so the pin targets the edge stage
    itself — for both the production and demo bucket relations."""
    from redix_stream_spark.catalog import load_table
    from redix_stream_spark.llm.similarity import (
        _demo_lsh_entries,
        _eps_edges,
        _prod_lsh_entries,
    )

    e = load_table(spark, sf_dir, "embeddings")
    for entries in (_prod_lsh_entries(e), _demo_lsh_entries(e)):
        plan = plan_of(_eps_edges(e, entries))
        assert "ShuffledHashJoin" in plan
        assert "CartesianProduct" not in plan
        for line in plan.splitlines():
            if "BroadcastHashJoin" in line and "embedding" in line:
                raise AssertionError(f"embedding relation broadcast: {line}")


def test_q172_top_paths_caps_state_before_collect(spark, sf_dir):
    """q172's sessionize + in-session numbering + path collect all ride
    ONE user-keyed exchange (the in-session row number is a running max
    of the start sequence, NOT a (user_id, sid)-partitioned window —
    that would re-shuffle), and the PATH_MAX cap is a Filter BEFORE the
    aggregate so per-group state is bounded (ADVICE r6: the previous
    slice-after-collect buffered whole bot sessions)."""
    plan = plan_of(QUERIES["q172_top_paths"](spark, sf_dir))
    assert plan.count("hashpartitioning(user_id") == 1
    assert "CartesianProduct" not in plan


def test_q176_link_prediction_topk_and_no_cartesian(spark, sf_dir):
    """q176's wedges explode map-side from per-node adjacency arrays (no
    sym-self-join), the non-edge filter is a left_anti, and the global
    top-k must be TakeOrdered — a full-relation rank window over the
    candidate set would sort every wedge pair."""
    plan = plan_of(QUERIES["q176_link_prediction"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q176b_capped_face_same_shape_no_cartesian(spark, sf_dir):
    """The capped face must keep q176's plan shape — map-side wedge
    explode from per-node adjacency arrays (no sym self-join), left_anti
    non-edge filter, TakeOrdered global top-k — with the cap applied
    INSIDE the adjacency aggregate (slice of the collected array), not
    as an extra exchange: same number of shuffles as the exact face."""
    plan = plan_of(QUERIES["q176b_link_prediction_capped"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q180_lpa_rounds_are_keyed_joins(spark, sf_dir):
    """Every LPA round is a keyed join + keyed agg + node-partitioned
    argmax — nothing cartesian, nothing single-partition (the rank
    window is PARTITION BY node, never global)."""
    plan = plan_of(QUERIES["q180_lpa_communities"](spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_q181_winsorize_single_type_exchange_and_broadcast_cuts(spark, sf_dir):
    """q181's rank + group-count windows and the final aggregate all key
    on event_type — one exchange family — and the bounded cut-point
    relation must broadcast back (it is per-type-sized)."""
    plan = plan_of(QUERIES["q181_winsorized_stats"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q177_rolling_window_runs_on_the_daily_aggregate(spark, sf_dir):
    """q177's rolling-moment window must consume the (prio, day) rollup,
    never the orders scan: exactly one HashAggregate pair below the
    Window (the daily rollup), with the window's sort keyed by prio —
    a window over the fact table would put Exchange(prio) directly
    above the scan."""
    plan = plan_of(QUERIES["q177_rolling_corr"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    tree = plan.split("\n\n")[0]  # operator tree, parent-first
    assert "Window" in tree
    below_window = tree[tree.index("Window"):]
    assert "HashAggregate" in below_window  # rollup feeds the window


def test_q197_expand_and_window_run_on_the_daily_rollup(spark, sf_dir):
    """q197's grouping-sets levels come from ONE Expand over the daily
    (prio, day) rollup — not a union of re-aggregations (exactly one
    Expand node) — and the trailing window consumes that bounded
    relation, with the fact-table aggregate below it all."""
    plan = plan_of(QUERIES["q197_rollup_trend"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    tree = plan.split("\n\n")[0]
    assert tree.count("Expand") == 1
    assert "Window" in tree
    # parent-first: the Expand (grouping sets) sits below the Window,
    # the daily rollup aggregate below the Expand.
    assert tree.index("Window") < tree.index("Expand")
    assert "HashAggregate" in tree[tree.index("Expand"):]


def test_q175_epoch_shuffle_has_no_global_sort_window(spark, sf_dir):
    """q175's rank must ride a SHARD-partitioned exchange — a global
    row_number (empty partition spec) would serialize the corpus through
    one partition, the exact failure mode the face exists to avoid."""
    plan = plan_of(QUERIES["q175_epoch_shuffle"](spark, sf_dir))
    assert "hashpartitioning(shard" in plan
    assert "SinglePartition" not in plan.split("TakeOrdered")[0].split(
        "Window"
    )[0]  # nothing upstream of the window collapses to one partition


def test_q183_pps_corpus_cumsum_is_bucket_partitioned(spark, sf_dir):
    """q183's corpus-sized running sum must be computed under a
    hashpartitioning(bucket) window (two-phase prefix sum); only the
    PPS_BUCKETS-row offsets relation may see a single-partition window."""
    plan = plan_of(QUERIES["q183_pps_sample"](spark, sf_dir))
    assert "hashpartitioning(bucket" in plan
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan


def test_q184_pmi_topk_is_takeordered_and_marginals_not_broadcast(spark, sf_dir):
    """q184's global top-k must compile to TakeOrderedAndProject (the
    rank stamp runs AFTER the limit, over PMI_TOP rows only), and the
    vocabulary-sized marginal joins must stay keyed shuffles — only the
    1-row N relation may broadcast (vocab size is unbounded at 100 TB;
    the auto-broadcast OOM regime)."""
    plan = plan_of(QUERIES["q184_pmi_collocations"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # both marginal joins pinned to keyed shuffles...
    assert plan.count("ShuffledHashJoin") >= 2
    # ...and no keyed broadcast join exists: the only broadcast is the
    # 1-row bigram total (IdentityBroadcastMode nested-loop, the zorder
    # 1-row-stats precedent).
    assert "BroadcastHashJoin" not in plan


def test_q187_skew_rank_is_bucket_partitioned_topk_takeordered(spark, sf_dir):
    """q187's rank over the key relation must ride the bucket-partitioned
    window (two-phase prefix rank); the top-5 must be TakeOrdered; no
    cartesian beyond the broadcast 1-row combiners."""
    plan = plan_of(QUERIES["q187_key_skew_report"](spark, sf_dir))
    assert "hashpartitioning(bucket" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q190_advisor_ranks_are_bucket_partitioned(spark, sf_dir):
    """q190 simulates four layouts; each rank must ride a
    bucket-partitioned window (two-phase prefix rank) — the fact table
    never sorts through one partition; probes/offsets relations are the
    only broadcast/nested-loop participants."""
    plan = plan_of(QUERIES["q190_layout_advisor"](spark, sf_dir))
    assert "hashpartitioning(bucket" in plan
    assert "CartesianProduct" not in plan


def test_q190b_sampled_advisor_agrees_on_the_policy_signal(spark, sf_dir):
    """The sampled face exists to make the SAME recommendation cheaper:
    for every probe column, argmax-layout(sampled) must equal
    argmax-layout(exact), the diagonal must stay the clear winner
    (skip_ppm > 500000), and off-diagonal skip must stay weak — the
    policy signal survives 4× less data. Also pins the pushed sample
    filter (md5 predicate sits at the scan, sample runs 4× fewer rows
    through every rank)."""
    QQ = QUERIES
    def matrix(name):
        return {
            (r["layout"], r["probe"]): r["skip_ppm"]
            for r in QQ[name](spark, sf_dir).collect()
        }
    exact = matrix("q190_layout_advisor")
    samp = matrix("q190b_layout_advisor_sampled")
    assert set(exact) == set(samp)
    probes = {p for (_l, p) in exact}
    for p in probes:
        best_e = max((l for (l, pp) in exact if pp == p),
                     key=lambda l: exact[(l, p)])
        best_s = max((l for (l, pp) in samp if pp == p),
                     key=lambda l: samp[(l, p)])
        assert best_e == best_s == p  # diagonal wins in both
        assert samp[(p, p)] > 500_000
    plan = plan_of(QQ["q190b_layout_advisor_sampled"](spark, sf_dir))
    assert "hashpartitioning(bucket" in plan
    assert "CartesianProduct" not in plan


def test_q185_cusum_windows_run_on_the_daily_rollup(spark, sf_dir):
    """q185's prefix/argmax windows must consume the (prio, day) rollup,
    never the orders scan (q177's shape: a HashAggregate below every
    Window), and the argmax must stay a prio-partitioned rank — no
    single-partition window may exist anywhere in the plan."""
    plan = plan_of(QUERIES["q185_cusum_changepoint"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    tree = plan.split("\n\n")[0]
    assert "Window" in tree
    below_window = tree[tree.index("Window"):]
    assert "HashAggregate" in below_window  # rollup feeds the windows
    assert "SinglePartition" not in plan


def test_q201_audit_sets_never_broadcast_and_prefilter_broadcasts(spark, sf_dir):
    """q201's shingle-set relation (fat string arrays) must join the
    capped pair relation via shuffle hash, never broadcast (the q36
    array-undercount trap); q195b's surviving-pair relation — thin
    (a, b) rows — must BROADCAST into the exact path's left-semi so the
    prefilter never adds an exchange to the user-keyed expansion."""
    plan = plan_of(QUERIES["q201_cluster_audit"](spark, sf_dir))
    assert "ShuffledHashJoin" in plan
    for line in plan.splitlines():
        if "BroadcastHashJoin" in line and "sset" in line:
            raise AssertionError(f"sets relation broadcast: {line}")
    plan_b = plan_of(
        QUERIES["q195b_audience_overlap_prefiltered"](spark, sf_dir)
    )
    assert "LeftSemi, BuildRight" in plan_b or (
        "LeftSemi" in plan_b and "BroadcastHashJoin" in plan_b
    )
    assert "CartesianProduct" not in plan_b


def test_q204_edges_materialize_once(spark, sf_dir):
    """The PPR power iteration must derive deg AND every round's
    contribution join from the ONE edge checkpoint (VERDICT r11 item 3):
    zero lineitem/orders scans in the returned plan — the edge
    derivation (join + distinct + union) ran exactly once, at checkpoint
    time. The consumers' exchanges over the materialized relation remain
    (AQE does not carry checkpointed partitioning) but move two-BIGINT
    rows — the iteration carries arithmetic long node ids, no strings."""
    plan = plan_of(QUERIES["q204_personalized_pagerank"](spark, sf_dir))
    scans = [
        l
        for l in plan.splitlines()
        if "Location" in l and ("lineitem" in l or "orders" in l)
    ]
    assert scans == [], scans
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_q210_filtered_ann_predicate_reaches_scan(spark, sf_dir):
    """The metadata predicate must ride the embeddings SCAN (pre-filter
    semantics, pushed down) — not a post-shortlist Filter — and the fat
    embedding join stays shuffle_hash with the bounded cells/probe
    relations broadcast."""
    plan = plan_of(QUERIES["q210_filtered_ann_search"](spark, sf_dir))
    assert "PushedFilters" in plan
    import re

    pushed = [
        l for l in plan.splitlines() if "PushedFilters" in l and "label" in l
    ]
    assert any(re.search(r"EqualTo\(label,3\)", l) for l in pushed), pushed
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q200_daily_rollup_materializes_once(spark, sf_dir):
    """q200's (prio, day) rollup is calendar-fixed (~12k rows) but fed
    TEN plan references (anchor, both pair-join sides, n_days, each
    under the agg + median consumers) — before round 12 the orders fact
    scan ran per reference. The rollup is now eagerly checkpointed, so
    the returned plan must contain ZERO parquet scans (the single
    orders derivation lives in the checkpoint job) and only
    checkpoint reads."""
    plan = plan_of(QUERIES["q200_robust_trend"](spark, sf_dir))
    locs = [l for l in plan.splitlines() if "Location" in l]
    assert locs == [], locs
    assert "Scan ExistingRDD" in plan
    assert "CartesianProduct" not in plan


def test_q203_exactly_two_scans_per_table(spark, sf_dir):
    """q203's 8 rule rows come from a stack-unpivoted single wide
    aggregate row (VERDICT r9 item 6): each base table's rule aggregate
    appears ONCE in the physical plan by construction — no ReuseExchange
    reliance — so the only scans are (rule aggregate, referential
    anti-join) = exactly 2 per table, at 8 rules or 80."""
    plan = plan_of(QUERIES["q203_expectations"](spark, sf_dir))
    locs = [l for l in plan.splitlines() if "Location" in l]
    assert len([l for l in locs if "lineitem" in l]) == 2, plan
    assert len([l for l in locs if "orders" in l]) == 2, plan


def test_q206_pii_scrub_is_map_only(spark, sf_dir):
    """PII scrubbing is three extract_alls + three chained replaces per
    row: the plan must contain NO Exchange at all — pure map-side
    whole-stage-codegen'd regex over the scan."""
    plan = plan_of(QUERIES["q206_pii_scrub"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    # formatted mode tags codegen'd nodes with "[codegen id : N]"
    assert "codegen id" in plan


def test_q207_source_counts_broadcast_pairs_stay_keyed(spark, sf_dir):
    """The per-source count relation is sources-cardinality and must
    broadcast (the q108 pattern); every other join stays keyed — no
    cartesian, no nested loop."""
    plan = plan_of(QUERIES["q207_dup_source_matrix"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q162b_hash_stage_materializes_once_join_keyed(spark, sf_dir):
    """The dHash banding self-join must derive BOTH branches from the
    checkpointed (doc_id, dhash) relation — zero documents scans and
    zero Python-eval nodes in the returned plan (synth + decode ran
    exactly once, at checkpoint time) — and the combination-key join
    must stay keyed: no cartesian, no nested loop, no broadcast of the
    corpus-sized chunk relation."""
    plan = plan_of(QUERIES["q162b_image_neardup_fast"](spark, sf_dir))
    doc_scans = [
        l for l in plan.splitlines() if "Location" in l and "documents" in l
    ]
    assert doc_scans == [], doc_scans
    assert "InPandas" not in plan, "Python decode re-runs inside the join"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" not in plan, "corpus-sized relation broadcast"
    assert "ShuffledHashJoin" in plan  # pinned: no test-SF broadcast accident


def test_q211_exact_substring_is_two_scan_jvm_only(spark, sf_dir):
    """The designed shape: the fat branch (windows → count-over-md5 →
    span merge) reads documents ONCE; the n_tokens branch re-reads text
    once more (split+size only — checkpointing the exploded window
    relation would write ~9× the corpus, docstring). Everything stays
    JVM-side built-ins: a Python node in this per-token pipeline would
    be the 100 TB bug."""
    plan = plan_of(QUERIES["q211_exact_substring_dedup"](spark, sf_dir))
    doc_scans = [
        l for l in plan.splitlines() if "Location" in l and "documents" in l
    ]
    assert len(doc_scans) == 2, doc_scans
    assert "Window" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q211b_winnow_pipeline_materializes_once(spark, sf_dir):
    """Both consumers of the winnowed fingerprint relation
    (n_fingerprints and the matched positions) must read the lazy
    checkpoint, not re-run the scan+explode+winnow-sort pipeline —
    exactly one documents scan (the n_tokens branch) may remain in the
    returned plan."""
    plan = plan_of(QUERIES["q211b_exact_substring_winnowed"](spark, sf_dir))
    doc_scans = [
        l for l in plan.splitlines() if "Location" in l and "documents" in l
    ]
    assert len(doc_scans) == 1, doc_scans
    assert "ExistingRDD" in plan
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _assert_jvm_pair_scoring(name, plan):
    """The LSH pair stages score through ONE kernel, ``_lsh_pair_sims``:
    the interpreted left fold over key-only shuffle_hash join-backs. A
    per-pair Arrow crossing lost to that fold on kNN (q169 +45% at sf0.1)
    and was removed, so no Python node may appear."""
    for node in ("MapInArrow", "EvalPython", "InPandas"):
        assert node not in plan, (name, node)
    # one "(N) ShuffledHashJoin" detail line per join node
    join_backs = re.findall(r"^\(\d+\) ShuffledHashJoin$", plan, re.M)
    assert len(join_backs) >= 2, (name, join_backs)


def test_q174b_eps_scoring_is_one_arrow_crossing(spark, sf_dir):
    """The eps-edge pair stage (q174/q174b) once crossed to Arrow once;
    it now crosses zero times and scores in the JVM fold. The eager
    checkpoint in _density_from_entries hides the stage from the final
    plan, so the edge stage is planned directly."""
    from redix_stream_spark.catalog import load_table
    from redix_stream_spark.llm.similarity import _demo_lsh_entries, _eps_edges

    e = load_table(spark, sf_dir, "embeddings")
    plan = plan_of(_eps_edges(e, _demo_lsh_entries(e)))
    _assert_jvm_pair_scoring("eps_edges", plan)
    # the threshold compare stays a Spark Filter
    assert "Filter" in plan


def test_q169_knn_scoring_is_one_arrow_crossing(spark, sf_dir):
    """The kNN plans (q169/q169b) once crossed to Arrow once; they now
    cross zero times, share the JVM fold with the eps stage, and the rank
    window still runs in Spark."""
    for name in ("q169_knn_graph", "q169b_knn_graph_production"):
        plan = plan_of(QUERIES[name](spark, sf_dir))
        _assert_jvm_pair_scoring(name, plan)
        assert "Window" in plan, name


def test_q176_wedges_aggregate_on_packed_long_key(spark, sf_dir):
    """Round 13: the Σ C(deg,2) wedge relation — q176's scale cost —
    explodes PRIMITIVE packed longs (shiftleft(u,32)+v; part keys are
    < 2^31, pinned in test_graph_guards.py) and the candidate aggregate
    + non-edge anti-join key on that one BIGINT instead of two columns."""
    for name in ("q176_link_prediction", "q176b_link_prediction_capped"):
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert "shiftleft" in plan, name
        assert "CartesianProduct" not in plan, name


def test_q36_shingle_sets_scan_parquet_not_cache(spark, sf_dir):
    """Round 13 (VERDICT r12 item 3): exact_jaccard's shingle-set
    relation is a within-run parquet artifact, not a deserialized
    fat-array cache() — the 100 TB memory cliff. Both pair-join sides
    must scan the scratch parquet; no InMemoryRelation in the plan."""
    plan = plan_of(QUERIES["q36_minhash_lsh_neardup"](spark, sf_dir))
    assert "InMemoryTableScan" not in plan
    sset_scans = [
        l
        for l in plan.splitlines()
        if "Location" in l and "redix_ssets_" in l
    ]
    # Exactly one scratch scan per pair-join side.
    assert len(sset_scans) == 2, sset_scans
