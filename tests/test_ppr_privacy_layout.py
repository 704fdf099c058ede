"""Unit tests for round-7 session-6 batch 6: personalized PageRank,
t-closeness EMD, min-max clustering depth."""

import pytest

from redshift_to_pendo_api_data_pipeline_spark.operators.basket import (
    personalized_pagerank,
)
from redshift_to_pendo_api_data_pipeline_spark.operators.layout import (
    minmax_overlap_depth,
)
from redshift_to_pendo_api_data_pipeline_spark.operators.privacy import (
    t_closeness_emd,
)


def test_ppr_mass_concentrates_near_seed(spark):
    # path graph 1-2-3-4-5 seeded at node 1. Synchronous fixed-k
    # propagation ping-pongs on a path (parity), so don't assert
    # monotone decay — assert reachability and seed locality instead.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], ["item_a", "item_b"]
    )
    out = {r["node"]: r["rank"] for r in
           personalized_pagerank(edges, [1], n_iter=3).collect()}
    # node 5 is 4 hops from the seed: unreachable in 3 iterations
    assert out[5] == 0
    # 1-hop neighbor dominates the 3-hop node; both reachable
    assert out[2] > out[4] > 0
    # the seed keeps its teleport share every iteration
    assert out[1] > 0
    # total mass stays bounded by the initial mass (truncation only loses)
    assert sum(out.values()) <= 1_000_000_000_000
    # an empty seed list has no teleport target
    with pytest.raises(ValueError):
        personalized_pagerank(edges, [], n_iter=3)


def test_t_closeness_skewed_group_scores_higher(spark):
    # group A mirrors the global mix; group B is all-'hi' -> B's EMD >> A's
    rows = (
        [("A", "hi")] * 5 + [("A", "lo")] * 5
        + [("B", "hi")] * 10
        + [("C", "hi")] * 5 + [("C", "lo")] * 5
    )
    df = spark.createDataFrame(rows, ["g", "s"])
    out = {r["g"]: r for r in t_closeness_emd(df, ["g"], "s").collect()}
    assert out["B"]["emd_ppm"] > out["A"]["emd_ppm"]
    assert out["A"]["emd_ppm"] == out["C"]["emd_ppm"]  # identical mixes
    assert out["B"]["n_group"] == 10
    # hand value: global p(hi) = 2/3; B's cum diff at 'hi' = |1 - 2/3|;
    # m=2 so emd = 1/3 -> 333333 ppm with truncation
    assert out["B"]["emd_ppm"] == 333333


def test_minmax_depth_clustered_vs_scattered(spark):
    # clustered: disjoint envelopes -> depth 1
    clustered = spark.createDataFrame(
        [(b, b * 100 + off) for b in range(4) for off in (0, 50)],
        ["bucket", "key"],
    )
    out = minmax_overlap_depth(clustered, "bucket", "key").collect()[0]
    assert out["peak_concurrency"] == 1 and out["n_intervals"] == 4
    # scattered: every bucket spans the whole range -> depth = n_buckets
    scattered = spark.createDataFrame(
        [(b, k) for b in range(4) for k in (0, 1000)], ["bucket", "key"]
    )
    out2 = minmax_overlap_depth(scattered, "bucket", "key").collect()[0]
    assert out2["peak_concurrency"] == 4
