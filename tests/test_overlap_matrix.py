"""hll_overlap_matrix: exact in the EXPLICIT tier, bounded beyond it."""

import itertools

import numpy as np
import pytest

from hll_spark.operators.agg import hll_overlap_matrix
from hll_spark.sketchlib.hll import HllConfig


def exact_overlaps(sets):
    out = {}
    for (ga, sa), (gb, sb) in itertools.combinations(sorted(sets.items()), 2):
        out[(ga, gb)] = (
            len(sa),
            len(sb),
            len(sa | sb),
            len(sa & sb),
        )
    return out


def test_explicit_tier_matrix_is_exact(spark):
    # four groups with engineered overlaps, all under the EXPLICIT cap:
    # every distinct / union / intersect estimate must be EXACT
    sets = {
        "a": set(range(0, 100)),
        "b": set(range(50, 150)),        # |a&b| = 50
        "c": set(range(90, 260)),        # |a&c| = 10, |b&c| = 60
        "d": set(range(1000, 1010)),     # disjoint from all
    }
    rows = [(g, v) for g, s in sets.items() for v in s]
    df = spark.createDataFrame(rows, "grp string, user_id long").repartition(7)
    got = {
        (r.g_a, r.g_b): r
        for r in hll_overlap_matrix(df, "user_id", "grp").collect()
    }
    want = exact_overlaps(sets)
    assert set(got) == set(want)
    for pair, (na, nb, nu, ni) in want.items():
        r = got[pair]
        assert (r.distinct_a, r.distinct_b) == (na, nb)
        assert r.union_est == nu
        assert r.intersect_est == ni
        assert r.jaccard_est == pytest.approx(ni / nu)


def test_overlap_duplicates_and_layout_invariance(spark):
    # duplicated rows and different partitioning change nothing
    sets = {"x": set(range(40)), "y": set(range(20, 70))}
    rows = [(g, v) for g, s in sets.items() for v in s]
    df1 = spark.createDataFrame(
        rows * 3, "grp string, user_id long"
    ).repartition(2)
    df2 = spark.createDataFrame(
        rows, "grp string, user_id long"
    ).repartition(13)
    r1 = hll_overlap_matrix(df1, "user_id", "grp").collect()[0]
    r2 = hll_overlap_matrix(df2, "user_id", "grp").collect()[0]
    assert (
        (r1.distinct_a, r1.distinct_b, r1.union_est, r1.intersect_est)
        == (r2.distinct_a, r2.distinct_b, r2.union_est, r2.intersect_est)
        == (40, 50, 70, 20)
    )


def test_theta_overlap_matrix_exact_tier(spark):
    # same engineered corpus, theta edition: DIRECT intersection, so
    # the matrix is exact whenever groups and pairwise unions fit k
    from hll_spark.operators.sketches import theta_overlap_matrix

    sets = {
        "a": set(range(0, 100)),
        "b": set(range(50, 150)),
        "c": set(range(90, 260)),
        "d": set(range(1000, 1010)),
    }
    rows = [(g, v) for g, s in sets.items() for v in s]
    df = spark.createDataFrame(rows, "grp string, user_id long").repartition(7)
    got = {
        (r.g_a, r.g_b): r
        for r in theta_overlap_matrix(df, "user_id", "grp", k=1024).collect()
    }
    want = exact_overlaps(sets)
    assert set(got) == set(want)
    for pair, (na, nb, nu, ni) in want.items():
        r = got[pair]
        assert (r.distinct_a, r.distinct_b) == (na, nb)
        assert r.union_est == nu
        assert r.intersect_est == ni
        assert r.jaccard_est == pytest.approx(ni / nu if nu else 0.0)


def test_theta_overlap_matrix_estimation_tier_direct_error(spark):
    # k << union: the DIRECT intersection error scales with the
    # intersection's own KMV bound, not the compounded union terms
    from hll_spark.operators.sketches import theta_overlap_matrix

    n, ov, k = 30_000, 10_000, 1024
    rows = [("p", v) for v in range(n)] + [
        ("q", v) for v in range(n - ov, 2 * n - ov)
    ]
    df = spark.createDataFrame(rows, "grp string, user_id long").repartition(9)
    r = theta_overlap_matrix(df, "user_id", "grp", k=k).collect()[0]
    rse = 1.0 / np.sqrt(k - 1)
    assert abs(r.union_est - (2 * n - ov)) < 4 * rse * (2 * n - ov)
    # common-theta estimate: ~Binomial(k', ov/union) — allow 4x its rse
    assert abs(r.intersect_est - ov) < 4 * rse * (2 * n - ov)
    assert abs(r.jaccard_est - ov / (2 * n - ov)) < 4 * rse


def test_probabilistic_tier_within_compounded_bound(spark):
    # two 30k-element groups with 10k overlap at p=12: union within the
    # published bound, intersection within the compounded 3-sketch bound
    cfg = HllConfig(log2m=12, expthresh=0, sparse_on=False)
    n, ov = 30_000, 10_000
    rows = [("p", v) for v in range(n)] + [
        ("q", v) for v in range(n - ov, 2 * n - ov)
    ]
    df = spark.createDataFrame(rows, "grp string, user_id long").repartition(9)
    r = hll_overlap_matrix(df, "user_id", "grp", cfg=cfg).collect()[0]
    rel = 1.04 / np.sqrt(2**12)  # 1.625% at p=12 (1 sigma)
    for est, truth in ((r.distinct_a, n), (r.distinct_b, n), (r.union_est, 2 * n - ov)):
        assert abs(est - truth) / truth < 4 * rel
    # inclusion-exclusion compounds three estimates; scale by the
    # union size (the largest term), not the overlap
    assert abs(r.intersect_est - ov) < 4 * rel * (2 * n - ov) * 3


def test_overlap_matrix_plans_scan_base_once(spark):
    # a self-join on the grouped agg would rescan the base table (Spark
    # does not reuse the exchange across the two sides — measured); the
    # matrix must instead come from ONE build + a single pair-emit task
    from pyspark.sql import functions as F

    from hll_spark.operators.sketches import theta_overlap_matrix

    base = spark.range(1000).select(
        (F.col("id") % 4).alias("g"), (F.col("id") % 300).alias("v")
    )
    for out in (
        hll_overlap_matrix(base, "v", "g", cfg=HllConfig(expthresh=16)),
        theta_overlap_matrix(base, "v", "g", k=1024),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan, plan
        assert plan.count("Range (") == 1, plan
        assert len(out.collect()) == 6  # C(4,2) pairs


def _overlap_schema(gtype, est):
    return (
        f"g_a {gtype}, g_b {gtype}, distinct_a {est}, distinct_b {est}, "
        f"union_est {est}, intersect_est double, jaccard_est double"
    )


@pytest.mark.parametrize("theta", [False, True], ids=["hll", "theta"])
def test_overlap_matrix_degenerate_groups_emit_no_rows(spark, theta):
    """One group has no pair and an all-NULL group column has no group:
    both return zero rows, typed exactly as a populated matrix."""
    from pyspark.sql.types import _parse_datatype_string

    from hll_spark.operators.sketches import theta_overlap_matrix

    build = theta_overlap_matrix if theta else hll_overlap_matrix
    want = _parse_datatype_string(
        _overlap_schema("string", "double" if theta else "bigint")
    )
    single = spark.createDataFrame(
        [("a", v) for v in range(30)], "grp string, user_id long"
    ).repartition(3)
    all_null = spark.createDataFrame(
        [(None, v) for v in range(30)], "grp string, user_id long"
    ).repartition(3)
    for df in (single, all_null):
        out = build(df, "user_id", "grp")
        assert out.schema == want
        assert out.collect() == []
