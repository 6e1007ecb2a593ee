"""Hub-degree guards for the wedge-explode graph faces (r7 verdict #1).

q176's wedge explode is Σ C(deg, 2): a planted hub must take the CAPPED
path (md5-min ``deg_cap`` neighbors) instead of exploding C(deg, 2)
structs inside one task, and unbounded explodes must be refused unless
explicitly opted into (the E23i narrow-chunk guard discipline). The
md5 selection is pinned against an independent hashlib reimplementation
so a silent hash/order drift cannot pass, and LPA's ``deg_cap`` is
pinned against a pure-Python simulation of the capped rounds. The
packed (u, v) pair-key width is pinned against the testdata part keys.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from redix_stream_spark.catalog import table_path
from redix_stream_spark.operators.graph import (
    LP_DEG_CAP,
    RA_SCALE,
    link_prediction_topk,
    lpa_communities,
)

from .conftest import SF_DIR


def _star_edges(spark, n_leaves: int):
    # hub 0 -- leaves 1..n (pa < pb holds: pa=0).
    return spark.createDataFrame(
        [(0, i) for i in range(1, n_leaves + 1)], "pa long, pb long"
    )


def _md5_kept(src: int, neighbors, cap: int):
    return sorted(
        sorted(
            neighbors,
            key=lambda d: (hashlib.md5(f"{src}:{d}".encode()).hexdigest(), d),
        )[:cap]
    )


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_part_keys_fit_the_packed_pair_width(sf):
    """The co-occurrence and wedge explodes pack two part keys into one
    BIGINT as shiftleft(u, 32) + v and unpack with shiftright/mod. The
    pack is bijective only for 0 <= key < 2^31: shiftright on a signed
    long is arithmetic, so a key >= 2^31 would unpack negative. Read
    from the parquet footer statistics (no JVM) at every testdata SF."""
    path = table_path(os.path.join(os.path.dirname(SF_DIR), sf), "lineitem")
    md = pq.ParquetFile(path).metadata
    col = md.schema.to_arrow_schema().get_field_index("l_partkey")
    stats = [
        md.row_group(r).column(col).statistics
        for r in range(md.num_row_groups)
    ]
    assert stats and all(s is not None and s.has_min_max for s in stats)
    assert 0 <= min(s.min for s in stats)
    assert max(s.max for s in stats) < 2**31


def test_unbounded_wedge_explode_is_refused_without_opt_in(spark):
    e = _star_edges(spark, 5)
    with pytest.raises(ValueError, match="deg_cap"):
        link_prediction_topk(e, deg_cap=None)


def test_planted_hub_takes_the_capped_path(spark):
    """Hub with 100 leaves, cap 8: the wedge explode must produce
    C(8,2)=28 candidate pairs (vs C(100,2)=4950 uncapped), over exactly
    the md5-min neighbor subset, while RA still divides by the TRUE
    degree (100) — approximate wedge sample, exact discounting."""
    e = _star_edges(spark, 100)
    capped = link_prediction_topk(e, deg_cap=8, top=10_000)
    rows = capped.collect()
    assert len(rows) == 28
    kept = _md5_kept(0, range(1, 101), 8)
    expect = {(u, v) for u in kept for v in kept if u < v}
    assert {(r["u"], r["v"]) for r in rows} == expect
    assert all(r["cn"] == 1 for r in rows)
    assert all(r["ra_scaled"] == RA_SCALE // 100 for r in rows)

    # uncapped opt-in on the same graph: the full C(100,2) explode.
    full = link_prediction_topk(
        e, deg_cap=None, allow_unbounded=True, top=10_000
    )
    assert full.count() == 4950


def test_default_cap_binds_without_changing_bounded_graphs(spark):
    """On a graph whose max degree is under LP_DEG_CAP the capped path
    must be a PASS-THROUGH: identical scores to the unbounded face."""
    # path graph 1-2-3-4-5 (max degree 2 < LP_DEG_CAP).
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "pa long, pb long"
    )
    assert LP_DEG_CAP > 2
    capped = {
        (r["u"], r["v"], r["cn"], r["ra_scaled"], r["rank"])
        for r in link_prediction_topk(e, deg_cap=LP_DEG_CAP).collect()
    }
    full = {
        (r["u"], r["v"], r["cn"], r["ra_scaled"], r["rank"])
        for r in link_prediction_topk(
            e, deg_cap=None, allow_unbounded=True
        ).collect()
    }
    assert capped == full and len(capped) == 3  # (1,3),(2,4),(3,5)


def _simulate_capped_lpa(edges, cap: int, rounds: int):
    """Pure-Python twin of lpa_communities(deg_cap=cap): md5-min cap
    per node, re-symmetrized distinct, then synchronous majority votes
    with (count desc, label asc) tie-break."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    kept = set()
    for src, ns in adj.items():
        for dst in _md5_kept(src, ns, cap):
            kept.add((src, dst))
            kept.add((dst, src))
    labels = {n: n for n in adj}
    for _ in range(rounds):
        votes: dict[int, dict[int, int]] = {}
        for src, dst in kept:
            lab = labels.get(src)
            if lab is not None:
                votes.setdefault(dst, {})[lab] = (
                    votes.setdefault(dst, {}).get(lab, 0) + 1
                )
        labels = {
            n: min(v, key=lambda lb: (-v[lb], lb)) for n, v in votes.items()
        }
    return dict(sorted(labels.items()))


def test_lpa_unbounded_vote_volume_is_edge_linear_on_planted_hub(spark):
    """WHY lpa_communities may default deg_cap=None while the wedge
    explode refuses (r8 verdict item 6): the per-round vote join emits
    exactly one row per directed edge — Σ deg(v) = 2·|E|, linear in
    edges however skewed. A 500-leaf planted hub's vote relation is
    1000 rows (the wedge explode of the same star would be C(500,2) =
    124,750 pairs), and the (node,label) count that follows is
    map-side combinable, so nothing downstream amplifies it."""
    n_leaves = 500
    e = _star_edges(spark, n_leaves)
    sym = e.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).union(e.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    votes = sym.join(labels, sym["src"] == labels["node"])
    assert votes.count() == 2 * n_leaves  # == 2·|E|, not C(deg,2)
    # and the unbounded API itself runs the star without any guard:
    communities = lpa_communities(e, rounds=2).collect()
    assert len(communities) == n_leaves + 1


def test_lpa_deg_cap_matches_python_simulation_and_stays_total(spark):
    """K12 with cap 4: the capped vote join must follow exactly the
    md5-capped re-symmetrized edge relation (pure-Python twin), and the
    re-symmetrization must keep the assignment TOTAL — every node still
    receives votes even when all its out-edges were trimmed away."""
    n = 12
    pairs = [(a, b) for a in range(n) for b in range(a + 1, n)]
    e = spark.createDataFrame(pairs, "pa long, pb long")
    got = {
        r["node"]: r["community"]
        for r in lpa_communities(e, rounds=3, deg_cap=4).collect()
    }
    assert len(got) == n  # total
    assert got == _simulate_capped_lpa(pairs, cap=4, rounds=3)
    # deterministic across plans/runs
    again = {
        r["node"]: r["community"]
        for r in lpa_communities(e, rounds=3, deg_cap=4).collect()
    }
    assert again == got
