"""Dump the executed ``.explain("formatted")`` plan of named queries.

Usage: python tools/dump_plans.py <tag> <suffix> <query> [query ...]
       python tools/dump_plans.py <tag> <suffix> --all

Writes plans/<tag>/<query>_<suffix>.txt (suffix = "before" / "after").
Each query is collected first, so the file shows the plan that ran
(AQE's final plan), not the initial one.
Streaming gates (events_stream_*, docs_stream_*, orders_stream_*) execute on
build; they are skipped (their micro-batch plans are pinned by
tests/test_streaming.py).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SKIP_SUBSTR = ("_stream_",)


def main() -> int:
    tag, suffix = sys.argv[1:3]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entry
    from sensordatapipelines_spark import get_spark

    spark = get_spark(app_name="plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    if names == ["--all"]:
        names = [n for n in qs if not any(s in n for s in SKIP_SUBSTR)]
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for n in names:
        if any(s in n for s in SKIP_SUBSTR):
            print(f"skip streaming {n}")
            continue
        df = qs[n](spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        path = os.path.join(out_dir, f"{n}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
