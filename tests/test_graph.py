"""Graph analytics tests (pagerank — SURVEY §2.7 iterative surface)."""

import warnings
from collections import Counter

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F


def test_pagerank_star_graph(spark):
    """Star graph: the hub must outrank every leaf; total mass ≈ 1."""
    from sensordatapipelines_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "id_a long, id_b long"
    )
    ranks = {r["node"]: r["rank"] for r in pagerank(edges, iters=5).collect()}
    assert set(ranks) == set(range(6))
    hub = ranks[0]
    leaves = [ranks[i] for i in range(1, 6)]
    assert all(hub > leaf for leaf in leaves)
    assert max(leaves) - min(leaves) < 1e-12   # symmetric leaves rank equally
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_deterministic(spark):
    from sensordatapipelines_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)], "id_a long, id_b long"
    )
    a = sorted(map(tuple, pagerank(edges, iters=3).collect()))
    b = sorted(map(tuple, pagerank(edges, iters=3).collect()))
    assert a == b


def test_cooccurrence_edges_counts(spark):
    from sensordatapipelines_spark.operators.graph import cooccurrence_edges

    # users 1,2 share buckets (a,1),(a,2),(b,1); users 1,3 share only (a,1)
    rows = [
        (1, "a", 1), (2, "a", 1), (3, "a", 1),
        (1, "a", 2), (2, "a", 2),
        (1, "b", 1), (2, "b", 1),
        (1, "b", 1),  # duplicate occurrence must not inflate counts
    ]
    df = spark.createDataFrame(rows, "u long, t string, h long")
    out = {(r.u, r.w): r.n_cooccur
           for r in cooccurrence_edges(df, "u", ["t", "h"], min_cooccur=1).collect()}
    assert out[(1, 2)] == 3
    assert out[(1, 3)] == 1
    assert out[(2, 3)] == 1
    # threshold prunes
    from sensordatapipelines_spark.operators.graph import cooccurrence_edges as ce
    out2 = {(r.u, r.w) for r in ce(df, "u", ["t", "h"], min_cooccur=2).collect()}
    assert out2 == {(1, 2)}


def test_adamic_adar_square_plus_hub(spark):
    import math

    from sensordatapipelines_spark.operators.graph import adamic_adar

    # path graph 1-2-3: the only common-neighbor pair is (1,3) through 2,
    # but min_common=2 needs two shared neighbors → add 1-4-3.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 4), (4, 3)], "u long, w long"
    )
    out = adamic_adar(edges, min_common=2, top_k=5).collect()
    # both square diagonals are predicted: (1,3) through {2,4} and
    # (2,4) through {1,3}
    got = {(r.u, r.w): r for r in out}
    assert set(got) == {(1, 3), (2, 4)}
    expected = 2 * round(1e6 / math.log(2.0)) / 1e6
    for r in got.values():
        assert (r.n_common, r.rank) == (2, 1)
        assert abs(r.aa_score - expected) < 1e-9
    # existing edges are never predicted
    assert all((o.u, o.w) not in {(1, 2), (2, 3), (1, 4), (3, 4)} for o in out)


def test_kcore_peels_tail(spark):
    from sensordatapipelines_spark.operators.graph import kcore

    # triangle 1-2-3 plus a pendant chain 3-4-5: 2-core keeps the triangle
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "u long, w long"
    )
    out = {r.node: r.degree for r in kcore(edges, k=2, rounds=4).collect()}
    assert out == {1: 2, 2: 2, 3: 2}


def test_bfs_depths_chain_and_saturation(spark):
    """Min-hop depths on a chain with a branch; nodes beyond max_depth
    absent; seeds not in the graph still report depth 0; two seeds take
    the MIN distance."""
    from sensordatapipelines_spark.operators.graph import bfs_depths

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (3, 7), (8, 9)],
        "u long, w long",
    )
    seeds = spark.createDataFrame([(1,), (99,)], "node long")
    got = {r.node: r.depth for r in bfs_depths(edges, seeds, max_depth=3).collect()}
    assert got == {1: 0, 99: 0, 2: 1, 3: 2, 4: 3, 7: 3}
    # two seeds: depth is min over seeds; direction is undirected
    seeds2 = spark.createDataFrame([(1,), (5,)], "node long")
    got2 = {r.node: r.depth for r in bfs_depths(edges, seeds2, max_depth=2).collect()}
    assert got2 == {1: 0, 5: 0, 2: 1, 4: 1, 6: 1, 3: 2}


def _star_clique(spark):
    """Star around node 0 (deg 29) plus a small clique: one hub node
    over a cap of 10, 30 nodes in all."""
    return spark.createDataFrame(
        [(0, i) for i in range(1, 30)] + [(1, 2), (3, 4), (2, 3)],
        "u long, w long",
    )


def test_hub_cap_excludes_celebrity_mediators(spark, filled_without_action):
    """max_degree (VERDICT r7 #8): a hub whose degree exceeds the cap
    stops MEDIATING candidate pairs; the observed counters report it; a
    generous cap reproduces the uncapped result exactly."""
    from sensordatapipelines_spark.operators.graph import (
        adamic_adar,
        cooccurrence_edges,
        jaccard_link_pred,
    )

    edges = _star_clique(spark)
    # each observed call fills its observation before it returns
    obs = Observation()
    capped_df = adamic_adar(edges, max_degree=10, observation=obs)
    assert filled_without_action(obs)
    assert obs.get == {"n_nodes": 30, "n_hub_nodes": 1}
    capped = capped_df.count()
    wide = adamic_adar(edges, max_degree=10**6).count()
    assert capped < wide  # hub-mediated pairs gone, cap really bites

    obs2 = Observation()
    jaccard_link_pred(edges, max_degree=10, observation=obs2)
    assert filled_without_action(obs2)
    assert obs2.get["n_hub_nodes"] == 1

    df = spark.createDataFrame(
        [(i, 1) for i in range(50)] + [(1, 2), (2, 2), (3, 2)],
        "a long, b long",
    )
    obs3 = Observation()
    out = cooccurrence_edges(
        df, "a", ["b"], min_cooccur=1, max_bucket_width=10, observation=obs3
    )
    assert filled_without_action(obs3)
    assert obs3.get == {"n_buckets": 2, "n_hot_buckets": 1}
    # only the narrow bucket's 3 pairs survive
    assert out.count() == 3


def test_graph_cap_counters_read_zero_on_empty_input(spark):
    """An empty input reads 0 on every counter, never None and never a
    missing row (an observed node inside a plan that AQE finds empty
    would be dropped with it)."""
    from sensordatapipelines_spark.operators.graph import (
        adamic_adar,
        cooccurrence_edges,
        jaccard_link_pred,
    )

    edges = spark.createDataFrame([], "u long, w long")
    for op in (adamic_adar, jaccard_link_pred):
        obs = Observation()
        assert op(edges, max_degree=10, observation=obs).count() == 0
        assert obs.get == {"n_nodes": 0, "n_hub_nodes": 0}
    obs = Observation()
    occ = spark.createDataFrame([], "a long, b long")
    assert cooccurrence_edges(occ, "a", ["b"], observation=obs).count() == 0
    assert obs.get == {"n_buckets": 0, "n_hot_buckets": 0}


def test_graph_caps_warn_nothing_by_default(spark):
    """The default calls emit no warning: the cap counters come back
    through ``observation=`` on request, not as an advisory per call."""
    from sensordatapipelines_spark.operators.graph import (
        adamic_adar,
        cooccurrence_edges,
        jaccard_link_pred,
    )

    edges = _star_clique(spark)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        cooccurrence_edges(edges, "u", ["w"], min_cooccur=1)
        adamic_adar(edges)
        jaccard_link_pred(edges)


def test_symmetric_edges_is_the_two_orientation_union(spark):
    """Both orientations of every edge: the same multiset as the union of
    the edge list with its column swap (self-loops and NULL keys
    included), and one row per ordered pair with ``distinct``."""
    from sensordatapipelines_spark.operators.graph import symmetric_edges

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (3, 3), (None, 4), (5, None)], "u long, w long"
    )
    union = edges.select(F.col("u").alias("s"), F.col("w").alias("d")).unionAll(
        edges.select(F.col("w").alias("s"), F.col("u").alias("d"))
    )
    sym = symmetric_edges(edges, "u", "w")
    assert sym.columns == ["s", "d"]
    assert Counter(map(tuple, sym.collect())) == Counter(map(tuple, union.collect()))
    dist = symmetric_edges(edges, "u", "w", "src", "dst", distinct=True)
    assert dist.columns == ["src", "dst"]
    rows = [tuple(r) for r in dist.collect()]
    assert sorted(rows, key=repr) == sorted(set(map(tuple, union.collect())), key=repr)


def _jobs(spark, group, run):
    """Spark jobs that ``run()`` and a ``count()`` of its result start."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "job count")
    try:
        run().count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "op, expected", [("connected_components", 22), ("pagerank", 6), ("kcore", 24)]
)
def test_symmetrizing_operator_job_count(spark, op, expected):
    """Spark jobs for a call plus ``count()`` on the star+clique graph on
    the test session (local[4], 4 shuffle partitions). Each reads its
    edges once into one symmetric-list checkpoint."""
    from sensordatapipelines_spark.operators import dedup, graph

    edges = _star_clique(spark)
    run = {
        "connected_components": lambda: dedup.connected_components(edges, "u", "w"),
        "pagerank": lambda: graph.pagerank(edges, "u", "w"),
        "kcore": lambda: graph.kcore(edges),
    }[op]
    assert _jobs(spark, f"{op}_jobs", run) == expected


def test_adamic_adar_observation_costs_fewer_jobs_than_a_side_aggregate(spark):
    """Spark jobs for an ``adamic_adar`` call plus ``count()`` on the
    star+clique graph, on the test session (local[4], 4 shuffle
    partitions).

    Without an observation: 14. With one: 17. The former ``metrics``
    dict cost 18: its degree aggregate was a separate ``collect()`` that
    re-ran the neighbor-list shuffles and then a final aggregate.

    The observed call checkpoints the degree table (one row per node)
    with the observation at the root of that job; the neighbor-list
    checkpoint then reads it, but runs the (s, d) distinct a second time:
    3 more jobs than the default. Observing ``deg`` in place, under the
    neighbor-list join, costs 1 job (15), but AQE then drops the observed
    node on an empty graph (the empty distinct stage collapses the join
    above it) and ``Observation.get`` finds no row."""
    from sensordatapipelines_spark.operators.graph import adamic_adar

    edges = _star_clique(spark)
    obs = Observation()
    assert _jobs(spark, "aa_jobs_plain", lambda: adamic_adar(edges, max_degree=10)) == 14
    assert _jobs(
        spark, "aa_jobs_observed", lambda: adamic_adar(edges, max_degree=10, observation=obs)
    ) == 17
    assert obs.get == {"n_nodes": 30, "n_hub_nodes": 1}
