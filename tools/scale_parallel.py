"""Parallel-scaling proof off the single-row-group fixtures (r13
verdict next #2): every sf0.1 fixture is ONE parquet file with ONE row
group, so scan stages have data-parallelism 1 at any core count and the
8v32-core bench ratios sit ≈1 by construction. This harness builds an
AMPLIFIED, multi-file copy of the fixture tables (fact rows replicated
with shifted primary keys so group/join cardinalities grow honestly,
written as 64 part files), times the top headline queries on it, and
prints a JSON record per run. Run it once per core count:

    SPARK_GRAFT_CPUS=32 python tools/scale_parallel.py --amplify 20
    SPARK_GRAFT_CPUS=8  python tools/scale_parallel.py --amplify 20

and record the 8/32 wall-clock ratios in docs/SCALE.md. The amplified
dataset is content-deterministic per --amplify and cached on disk
between invocations, so both core counts read identical bytes.

This measures SCALING, not correctness: the amplified tables are not
oracle-checked (the oracle pins sf0.001/sf0.01/sf0.1); the queries run
unchanged against a directory that mimics an sf dir.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from retail_sales_data_pipeline_spark.caching import release_persisted  # noqa: E402
from retail_sales_data_pipeline_spark.plans import all_queries  # noqa: E402
from retail_sales_data_pipeline_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
# fact tables replicated with shifted keys; the rest copied verbatim
AMPLIFY_KEYS = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
}
COPY = ["region", "nation", "customer", "supplier", "part", "embeddings"]
QUERIES = [
    "customer_monthly_mart",
    "sales_team_mart",
    "star_join_enrich",
    "monthly_grouped_sum",
    "corpus_tfidf_terms",
    "corpus_boilerplate_ngrams",
    "events_sessionize",
    "streaming_sessionize",
]
N_FILES = 64


def build(spark, out: str, k: int) -> None:
    os.makedirs(out, exist_ok=True)
    marker = os.path.join(out, f"_AMPLIFY_{k}_OK")
    if os.path.exists(marker):
        return
    for name in COPY:
        dst = os.path.join(out, f"{name}.parquet")
        if not os.path.exists(dst):
            shutil.copy(f"{SRC}/{name}.parquet", dst)
    frames = {
        name: spark.read.parquet(f"{SRC}/{name}.parquet") for name in AMPLIFY_KEYS
    }
    shift = {
        name: df.agg(F.max(AMPLIFY_KEYS[name])).collect()[0][0] + 1
        for name, df in frames.items()
    }
    # orders and lineitem share ONE shift (l_orderkey is the FK to
    # o_orderkey), so each replica's lineitems join that replica's orders
    shift["orders"] = shift["lineitem"] = max(shift["orders"], shift["lineitem"])
    for name, df in frames.items():
        key = AMPLIFY_KEYS[name]
        reps = spark.range(k).withColumnRenamed("id", "_rep")
        amp = (
            df.crossJoin(reps)
            .withColumn(key, F.col(key) + F.col("_rep") * F.lit(shift[name]))
            .drop("_rep")
        )
        (
            amp.repartition(N_FILES)
            .write.mode("overwrite")
            .parquet(os.path.join(out, f"{name}.parquet"))
        )
    open(marker, "w").write("ok")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--amplify", type=int, default=20)
    ap.add_argument("--out", default="/tmp/scale_par")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("names", nargs="*", default=None)
    args = ap.parse_args()
    out = f"{args.out}_{args.amplify}"

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name=f"scale_parallel_c{cpus}")
    build(spark, out, args.amplify)

    queries = dict(all_queries())
    timings = {}
    for name in args.names or QUERIES:
        spark.sparkContext.setJobDescription(f"scale_par:{name}")
        best = None
        for _ in range(args.runs):
            t0 = time.perf_counter()
            df = queries[name](spark, out)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            release_persisted()
            spark.catalog.clearCache()
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]}s", file=sys.stderr)
    print(json.dumps({"cpus": int(cpus), "amplify": args.amplify,
                      "queries": timings}))
    spark.stop()


if __name__ == "__main__":
    main()
