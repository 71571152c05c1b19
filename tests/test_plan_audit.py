"""The committed plan audit is complete and clean.

Like the oracle ledger, PLAN_AUDIT.json is standing evidence — here that
no query's physical plan contains an undocumented scale hazard. A new
query without an audit row fails CI until tools/plan_audit.py is re-run.
"""

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

AUDIT = ROOT / "PLAN_AUDIT.json"

# BNLJ is legitimate ONLY as a documented broadcast-dim / scalar-literal
# pattern; every query allowed to carry one is listed here explicitly so a
# new nested-loop shape must be consciously admitted.
BNLJ_ALLOWED = {
    "docs_unigram_logprob", "docs_boilerplate", "docs_bm25_topk",
    "docs_mix_temperature", "docs_top_p_sources", "events_psi_drift",
    "pipeline_curation", "zones_wkb_polygon_agg", "zones_wkb_holes_agg",
    "emb_ann_recall", "q22_global_sales", "emb_cosine_topk",
    "emb_hamming_ann",  # 8-row broadcast query side, inequality self-pair filter
    "emb_hamming_rerank",  # same hamming prefilter nested as stage 1
    "emb_hard_negatives",  # broadcast query side, inequality-only condition
    "emb_pq_topk",  # broadcast query side (ADC LUTs), inequality-only condition
    "emb_matryoshka_recall",  # broadcast query side, inequality-only condition
    "docs_bigram_logprob",  # broadcast 1-row corpus-total cross join
    "docs_stratified_sample",  # broadcast 1-row population-total cross join
    "events_kmv_overlap",  # group-list pair generation: tiny × tiny, a<b filter
    "events_salted_join", "events_runtime_filter_join", "sensors_buffer_agg",
    "sensors_knn_agg", "sensors_zonal_stats", "sensors_idw",
    "events_key_skew", "zones_polygon_agg", "docs_length_filter",
    "events_winsorized_stats", "sensors_buffer_sweep", "docs_tfidf_topk",
    "sensors_kriging", "sensors_kriging_tiled", "sensors_kriging_spherical",
    # broadcast target side, inequality-only 3-NN candidate generation —
    # the same stencil shape as sensors_knn_agg
    "sensors_kriging_exact3",
    "customer_rfm",  # broadcast 1-row reference-date cross join
    "events_km_survival",  # broadcast 1-row observation-end cross join
    "events_value_trend",  # broadcast 1-row min-timestamp cross join
    # round-4 file-ingestion twins of already-allowed zonal shapes: the
    # distance/ray-cast join broadcasts the small vector/sensor dim side
    "zones_geojson_ingest", "zones_geojson_holes_agg",
    "zones_shapefile_ingest", "zones_gpkg_ingest",
    "sensors_zonal_from_grid",
    "sensors_zonal_from_geotiff",
    "sensors_zonal_from_geotiff_deflate",  # same plan as the uncompressed twin
    "sensors_zonal_from_geotiff_fpred",  # same plan (float predictor profile)
    "docs_heaps_curve",  # 1-row bounds broadcast (scalar-subquery pattern)
    "docs_paragraph_dedup",  # broadcast 1-row seed-paragraph cross join
    "docs_dsir_weights",  # broadcast 1-row profile-totals cross join
    "docs_dsir_select",  # same shape (top-k over the weights)
    "docs_nb_confusion",  # broadcast n_classes-row model cross join (dense scores)
}


def test_committed_plan_audit_complete_and_clean():
    import __spark_entry__ as e

    with open(AUDIT) as f:
        audit = json.load(f)
    qnames = {
        n for n in e.queries() if not n.startswith("events_stream_")
    }
    audited = {n for n in audit if not n.startswith("_")}
    missing = qnames - audited
    assert not missing, (
        f"queries without an audit row (re-run tools/plan_audit.py): {missing}"
    )
    errors = {n for n in audited if "error" in audit[n]}
    assert not errors, f"audit errors: {errors}"
    for n in audited:
        rec = audit[n]
        assert rec.get("cartesian", 0) == 0, f"{n} has a CartesianProduct"
        if rec.get("bnlj", 0) > 0:
            assert n in BNLJ_ALLOWED, (
                f"{n} introduced a BroadcastNestedLoopJoin not on the "
                "documented allow-list"
            )
        # Engine contract: Python compute crosses the boundary as Arrow
        # (guide §4.3). Zero pickled-row BatchEvalPython nodes anywhere —
        # the last one (docs_word_udtf) went Arrow in r10 (VERDICT r9 #7).
        assert rec.get("batch_eval_python", 0) == 0, (
            f"{n} has a pickled-row BatchEvalPython node — use Arrow "
            "(useArrow=True / pandas_udf / mapInArrow)"
        )
    # A small Shapefile or GeoPackage input decodes once on the driver
    # into a local relation; a MapInPandas node here means every plan
    # reference to it pays a decode task again.
    for n in ("sensors_shapefile_export", "zones_shapefile_ingest"):
        assert audit[n]["python_eval"] == 0, (
            f"{n} decodes its Shapefile in a Python task"
        )
    # The GeoPackage gates keep their Arrow WKB-decode UDFs, so only
    # Python nodes beyond those (MapInPandas) count.
    for n in ("sensors_gpkg_points", "zones_gpkg_ingest"):
        assert audit[n]["python_eval"] == audit[n]["arrow_eval_python"], (
            f"{n} decodes its GeoPackage in a MapInPandas task"
        )
