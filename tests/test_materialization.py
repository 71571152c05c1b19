"""Materialization lifetime: the engine materializes only through
``localCheckpoint()``, so an operator leaves no CacheManager entry behind
(those are pinned for the session's life) and its checkpoint blocks are
only the ones the returned frame still reads."""

import warnings

import pytest

from sensordatapipelines_spark.operators.dedup import (
    connected_components,
    containment_pairs,
    incremental_neardedup,
    jaccard_pairs,
    neardedup_corpus,
    neardedup_keep_longest,
    substring_dedup,
)
from sensordatapipelines_spark.operators.graph import (
    adamic_adar,
    bfs_depths,
    jaccard_link_pred,
    kcore,
    pagerank,
)
from sensordatapipelines_spark.operators.text import naive_bayes_classify


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "A"),
            (2, "the quick brown fox jumps over the lazy cat", "A"),
            (3, "completely different words entirely here now", "B"),
            (4, "the quick brown fox jumps over the lazy dog", "B"),
            (5, "", "A"),
        ],
        "doc_id long, text string, lang string",
    )


def persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def checkpoint_rdd_ids(df) -> set[int]:
    """RDD ids of the LogicalRDD leaves ``df``'s analyzed plan reads."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    out = set()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            out.add(leaf.rdd().id())
    return out


OPS = {
    "jaccard_pairs": lambda d: jaccard_pairs(d, threshold=0.5),
    "containment_pairs": lambda d: containment_pairs(d, threshold=0.5),
    "neardedup_corpus": lambda d: neardedup_corpus(d, threshold=0.5),
    "incremental_neardedup": lambda d: incremental_neardedup(d, None)[0],
    "substring_dedup": lambda d: substring_dedup(d, span_tokens=4),
    "naive_bayes_classify": naive_bayes_classify,
}


@pytest.mark.parametrize("op", sorted(OPS))
def test_operator_leaves_cache_manager_empty(spark, op):
    OPS[op](_docs(spark)).collect()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    assert cache_manager.isEmpty(), f"{op} left a CacheManager entry"


def test_unpersist_checkpoint_releases_the_checkpoint(spark):
    """The release path reaches Spark internals; a PySpark upgrade that
    breaks it must fail here, not degrade silently in production."""
    from sensordatapipelines_spark.operators.utility import unpersist_checkpoint

    ck = spark.range(100).localCheckpoint()
    (rid,) = checkpoint_rdd_ids(ck)
    before = persistent_rdd_ids(spark)
    assert rid in before
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        unpersist_checkpoint(ck)
    assert persistent_rdd_ids(spark) == before - {rid}


def test_unpersist_checkpoint_failure_warns_once(spark, monkeypatch):
    from sensordatapipelines_spark.operators import utility

    monkeypatch.setattr(utility, "_unpersist_warned", False)
    plain = spark.range(3)  # no LogicalRDD: the release path cannot resolve
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        utility.unpersist_checkpoint(plain)
        utility.unpersist_checkpoint(plain)
    assert [w.category for w in caught] == [RuntimeWarning]


def _edges(spark):
    """A triangle with a tail: degrees 3, 2, 2, 1."""
    return spark.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 4)], "u long, w long")


RELEASING_OPS = {
    "neardedup_corpus": (_docs, lambda d: neardedup_corpus(d, threshold=0.5)),
    "neardedup_keep_longest": (_docs, lambda d: neardedup_keep_longest(d, threshold=0.5)),
    "connected_components": (_edges, lambda e: connected_components(e, "u", "w")),
    "pagerank": (_edges, lambda e: pagerank(e, "u", "w")),
    "kcore": (_edges, kcore),
    "adamic_adar": (_edges, lambda e: adamic_adar(e, min_common=1)),
    "jaccard_link_pred": (_edges, lambda e: jaccard_link_pred(e, min_common=1)),
}


@pytest.mark.parametrize("op", sorted(RELEASING_OPS))
def test_operator_keeps_only_the_checkpoints_its_result_reads(spark, op):
    """The checkpoints an operator leaves persisted are exactly the ones
    its returned frame reads: the near-dup signature, the symmetric edge
    list of components and the degree tables are released."""
    make_input, run = RELEASING_OPS[op]
    data = make_input(spark)
    before = persistent_rdd_ids(spark)
    out = run(data)
    assert persistent_rdd_ids(spark) - before == checkpoint_rdd_ids(out) - checkpoint_rdd_ids(data)
    assert out.count() > 0


def test_bfs_depths_long_chain_releases_dead_checkpoints(spark):
    """A 20-node chain at max_depth=18 runs both visited compactions
    (d=8, d=16) and the release of their folded-in rounds. Exact depths,
    and the checkpoints left persisted are exactly the ones the returned
    frame reads: sym, superseded rounds and stale frontiers are gone."""
    edges = spark.createDataFrame([(i, i + 1) for i in range(19)], "u long, w long")
    seeds = spark.createDataFrame([(0,)], "node long")
    before = persistent_rdd_ids(spark)
    out = bfs_depths(edges, seeds, max_depth=18)
    assert persistent_rdd_ids(spark) - before == checkpoint_rdd_ids(out)
    assert {r.node: r.depth for r in out.collect()} == {i: i for i in range(19)}
