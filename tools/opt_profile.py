"""Round-13 optimization profiler: isolate each headline query with the
noop sink (guide §1.4), time best-of-N, and dump `.explain("formatted")`
to plans/<round>/<query>_<tag>.txt so plan claims are checkable offline.

Usage:
    SPARK_GRAFT_CPUS=32 python tools/opt_profile.py [--tag before] [--plandir r14] \
        [--runs 3] [--sf /root/testdata/sf0.1] [--plans-only] [query ...]

Defaults to the bench HEADLINE list (the exact set bench.py times).
Timing methodology matches bench.py: noop sink, per-query job
description labels, release_persisted between runs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from retail_sales_data_pipeline_spark.caching import release_persisted  # noqa: E402
from retail_sales_data_pipeline_spark.plans import all_queries  # noqa: E402
from retail_sales_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="queries (default: bench set)")
    ap.add_argument("--tag", default=None, help="plans/<plandir>/<q>_<tag>.txt")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plans-only", action="store_true")
    ap.add_argument("--plandir", default="r14", help="plans/<plandir>/")
    args = ap.parse_args()

    spark = get_spark(app_name="opt_profile")
    queries = all_queries()
    names = args.names or [n for n in HEADLINE if n in queries]

    plandir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", args.plandir)
    os.makedirs(plandir, exist_ok=True)

    out: dict[str, float] = {}
    for name in names:
        fn = queries[name]
        spark.sparkContext.setJobDescription(f"opt:{name}")
        if args.tag:
            df = fn(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(plandir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(plan)
            release_persisted()
        if args.plans_only:
            print(f"# {name}: plan written", file=sys.stderr)
            continue
        best = None
        for _ in range(args.runs):
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            release_persisted()
            spark.catalog.clearCache()
        out[name] = round(best, 3)
        print(f"# {name}: {out[name]}s", file=sys.stderr)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"queries": out, "total": round(sum(out.values()), 3)}))
    spark.stop()


if __name__ == "__main__":
    main()
