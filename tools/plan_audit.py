"""Physical-plan audit over every ``queries()`` entry.

For each query, builds the DataFrame (no execution beyond what plan
construction itself requires — driver-side fits like k-means run their
control-plane jobs) and records counters of the plan features the 100 TB
design cares about:

- ``exchanges``: shuffle boundaries (lower is better, given correctness)
- ``broadcast_joins`` / ``smj`` / ``shj``: join strategy mix
- ``bnlj`` / ``cartesian``: nested-loop shapes — each occurrence must be a
  documented broadcast-dim pattern (spatial theta-joins, scalar
  subqueries), never a fact×fact product
- ``python_eval``: Arrow/Python evaluation nodes (the documented kernel
  escape hatches)
- ``scans`` and ``partition_filtered_scans``: pruning reaching the reader

Writes PLAN_AUDIT.json: ``{query: {counter: n, ...}, ...}`` plus a
``_summary`` with totals. Streaming queries execute a micro-batch when
built; they are skipped here (their plans are asserted in
tests/test_streaming.py) — listed under ``_skipped``.

Usage: python tools/plan_audit.py [sf_dir] [out_json]
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SKIP_PREFIXES = ("events_stream_",)  # streaming: executes on build


def audit_plan(plan: str) -> dict:
    # A finalized AdaptiveSparkPlan stringifies BOTH the final plan and the
    # "== Initial Plan ==" it replaced — count only the plan that ran.
    plan = plan.split("== Initial Plan ==")[0]
    return {
        "exchanges": plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning")
        + plan.count("Exchange SinglePartition"),
        # AQE rewrites physical reuse into query-stage nodes, so count both
        # spellings: a non-AQE ReusedExchange AND the AQE stage-level forms
        # (ReusedQueryStage / TableCacheQueryStage — the cache-backed reuse
        # the round-4 postings cache introduces).
        "reused_exchanges": plan.count("ReusedExchange")
        + plan.count("ReusedQueryStage")
        + plan.count("TableCacheQueryStage"),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "shj": plan.count("ShuffledHashJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "python_eval": plan.count("ArrowEvalPython")
        + plan.count("BatchEvalPython")
        + plan.count("FlatMapGroupsInPandas")
        + plan.count("FlatMapCoGroupsInPandas")
        + plan.count("MapInPandas"),
        # Split the Python boundary by serialization (VERDICT r9 #7):
        # ArrowEvalPython/MapInArrow move columnar batches; BatchEvalPython
        # is the pickled-row path (guide §4.3) and must stay at zero
        # outside allow-listed codec shims — tests/test_plan_audit.py
        # asserts the engine-wide budget.
        "arrow_eval_python": plan.count("ArrowEvalPython")
        + plan.count("MapInArrow"),
        "batch_eval_python": plan.count("BatchEvalPython"),
        "scans": plan.count("FileScan parquet"),
        "partition_filtered_scans": sum(
            1
            for ln in plan.splitlines()
            if "FileScan parquet" in ln
            and "PartitionFilters: [" in ln
            and "PartitionFilters: []" not in ln
        ),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_path = sys.argv[2] if len(sys.argv) > 2 else str(REPO / "PLAN_AUDIT.json")

    import __spark_entry__ as entrymod
    from sensordatapipelines_spark import get_spark

    spark = get_spark(shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    out: dict = {}
    skipped: list[str] = []
    totals: dict = {}
    for name, fn in entrymod.queries().items():
        if name.startswith(SKIP_PREFIXES):
            skipped.append(name)
            continue
        try:
            df = fn(spark, sf_dir)
            # EXECUTE before stringifying: AQE only materializes its final
            # plan — runtime join conversions, coalesced reads, and the
            # reuse nodes (ReusedQueryStage / TableCacheQueryStage) — during
            # execution; the pre-execution AdaptiveSparkPlan hides them all
            # (observed: reuse showed 0 suite-wide despite shared cached
            # subtrees). collect() drives THIS DataFrame's queryExecution
            # (a noop write would finalize a different one); sf0.001 result
            # sets are driver-safe by construction.
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # pragma: no cover - audit must not die
            out[name] = {"error": str(exc)[:200]}
            continue
        rec = audit_plan(plan)
        out[name] = rec
        for k, v in rec.items():
            totals[k] = totals.get(k, 0) + v
    out["_summary"] = {
        "n_queries": len(out),
        "totals": totals,
        "cartesian_offenders": [
            n for n, r in out.items()
            if isinstance(r, dict) and r.get("cartesian", 0) > 0
        ],
        "bnlj_queries": [
            n for n, r in out.items()
            if isinstance(r, dict) and r.get("bnlj", 0) > 0
        ],
        "batch_eval_python_queries": [
            n for n, r in out.items()
            if isinstance(r, dict) and r.get("batch_eval_python", 0) > 0
        ],
    }
    out["_skipped"] = skipped
    with open(out_path, "w") as f:
        json.dump(out, f, indent=0, sort_keys=True)
    s = out["_summary"]
    print(f"audited {s['n_queries']} plans -> {out_path}")
    print("totals:", s["totals"])
    print("cartesian offenders:", s["cartesian_offenders"])
    print("bnlj queries:", s["bnlj_queries"])
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
