"""Generate docs/PLANS.md: physical-plan audit of the headline queries.

For each audited query we record the scan pushdown (PushedFilters /
ReadSchema), join strategies, exchange counts, and whole-stage-codegen
span count — the evidence that plans are scan-pruned, broadcast where
dimension-sized, and JVM-side. Rerun after plan-affecting changes:

    python tools/plan_audit.py
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from retail_sales_data_pipeline_spark.plans.registry import all_queries
from retail_sales_data_pipeline_spark.session import get_spark

AUDITED = [
    "customer_monthly_mart",
    "sketch_heavy_sources",
    "profile_documents_stats",
    "sales_team_mart",
    "star_join_enrich",
    "ledger_filter",
    "monthly_grouped_sum",
    "product_enrich",
    "dedup_minhash_lsh",
    "ann_lsh_topk",
    "ann_lsh_banded_topk",
    "events_sessionize",
    "sales_cube",
    "customers_churned",
    "scd2_customer_segments",
    "corpus_tfidf_terms",
    "events_cohort_retention",
    "mart_reconcile",
    "dedup_embedding_cosine",
    "corpus_pack_sequences",
    "corpus_decontaminate",
    "text_redact_pii",
    "multimodal_pointer_decode",
    "corpus_boilerplate_ngrams",
    "corpus_ngram_novelty",
    "dedup_semantic_cells",
    "text_repetition",
    "corpus_curation_funnel",
    "events_approx_quantiles",
    "dedup_incremental",
    "corpus_split_assign",
    "corpus_shuffle_shard",
    "ann_label_agreement",
    "dedup_fuzzy_keys",
    "events_json_variant",
    # the returned plan is the DV-filtered read: broadcast anti-join on
    # the position sidecar, zero table-side exchange before the agg
    "dv_takedown_counts",
    # r10: the mixed-schema read after a banded evolving merge — the
    # plan must show the merged-footer scan feeding one aggregation
    # exchange, no cartesian, no row-at-a-time fallback
    "corpus_merge_evolve",
]

# Queries whose plans must not contain any form of cartesian product.
# ann_cosine_topk intentionally broadcast-crosses a bounded query set;
# these must be candidate-generated instead.
NO_CARTESIAN = [
    "dedup_embedding_cosine",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "ann_lsh_topk",
    "ann_lsh_banded_topk",
    "ann_ivf_topk",
    "corpus_decontaminate",
    "corpus_boilerplate_ngrams",
    "corpus_ngram_novelty",
]

# Queries allowed a *bounded* broadcast-nested-loop (tiny side broadcast
# by construction: query set, anchor set, 1-row scale aggregate) but
# never an unbounded CartesianProduct. The expensive pair step must
# still be an equi-join.
NO_UNBOUNDED_CARTESIAN = [
    "dedup_semantic_cells",
    "ann_quantized_topk",
]

SF = "/root/testdata/sf0.01"

# Hand-maintained notes appended to a query's audit section (kept here
# so regenerating the file preserves them).
NOTES = {
    "star_join_enrich": [
        '### Bench-history note (the r2 "2.48× regression" flag)',
        "",
        "`BENCH_r01` recorded 0.727 s, `BENCH_r02` 1.805 s, and a dedicated",
        "quiet-machine re-run in round 3 (zero other JVMs, best-of-3 after",
        "sf0.001 warmup) measures **1.57 s**. The regression is *not* plan",
        "drift: the query source is byte-identical since round 1 (`git diff",
        "327b99c..HEAD` over `plans/retail_queries.py` shows no change to",
        "this function), and the physical plan audited above is the optimal",
        "shape — every join broadcast (AQE converts orders/customer at",
        "runtime too), zero `Exchange hashpartitioning`, pruned scans with",
        "pushed filters, at identical output size (600 000 rows both",
        "rounds). Conclusion: the r1 0.727 s was a favorable-machine-state",
        "sample (page cache + JIT warm from the two preceding mart queries",
        "in a shorter 11-query bench), and ~1.6–1.8 s is this machine's",
        "steady-state for materializing 600 k × 8 enriched rows through the",
        "noop sink. The plan, not the wall-clock sample, is the",
        "load-bearing evidence at 100 TB: zero fact shuffles means the cost",
        "scales linearly with scan throughput.",
        "",
    ]
}


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    spark = get_spark(app_name="plan_audit", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    out = [
        "# Physical-plan audit",
        "",
        "Generated by `tools/plan_audit.py` (sf0.01, local[4], AQE on;",
        "counts are from the *initial* plan — AQE further coalesces and",
        "converts joins at runtime). What to look for:",
        "",
        "- `ReadSchema` lists only the referenced columns (pruning reached the scan);",
        "- `PushedFilters` carries every scan-evaluable predicate;",
        "- dimension joins are `BroadcastHashJoin` (no fact shuffle).",
        "",
        "(Codegen spans aren't annotated on pre-execution adaptive plans;",
        "all expression work here is built-in functions, which stay inside",
        "whole-stage codegen at runtime.)",
        "",
    ]
    for name in NO_CARTESIAN:
        p = plan_of(qs[name](spark, SF))
        assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, (
            f"{name}: plan contains a cartesian product — scale-killer"
        )
    for name in NO_UNBOUNDED_CARTESIAN:
        p = plan_of(qs[name](spark, SF))
        assert "CartesianProduct" not in p, (
            f"{name}: plan contains an unbounded cartesian product"
        )
    for name in AUDITED:
        # CacheManager state is session-global: a relation persisted by
        # an earlier audited query would be substituted into this one's
        # plan (InMemoryTableScan hides the parquet scan evidence).
        # Audit the cold-cache plan a fresh driver would compile.
        spark.catalog.clearCache()
        df = qs[name](spark, SF)
        p = plan_of(df)
        scans = re.findall(r"(PushedFilters: \[[^\]]*\]|ReadSchema: \S+)", p)
        joins = re.findall(r"\b(\w*Join \w+ \w+)", p)
        out.append(f"## {name}")
        out.append("")
        out.append(
            f"- exchanges: {p.count('Exchange')} "
            f"(broadcast: {p.count('BroadcastExchange')})"
        )
        if joins:
            out.append(f"- joins: {', '.join(sorted(set(joins)))}")
        for s in scans:
            out.append(f"- `{s[:150]}`")
        out.append("")
        out.extend(NOTES.get(name, []))
    out.extend(_bucketed_join_demo(spark))
    out.extend(_dpp_demo(spark))
    out.extend(_bloom_filter_demo(spark))
    out.extend(_aqe_skew_demo(spark))
    os.makedirs("docs", exist_ok=True)
    # PRESERVED TAIL: hand-maintained sections (bench-history
    # adjudications etc.) live below the marker and survive regeneration
    marker = "## Bench-history adjudications"
    tail = ""
    try:
        with open("docs/PLANS.md") as f:
            old = f.read()
        if marker in old:
            tail = "\n" + old[old.index(marker):]
    except OSError:
        pass
    with open("docs/PLANS.md", "w") as f:
        f.write("\n".join(out) + "\n" + tail)
    print("wrote docs/PLANS.md" + (" (tail preserved)" if tail else ""))


def _bucketed_join_demo(spark) -> list[str]:
    """Measured evidence for the bucketing lever (operators/scale.py):
    lineitem ⋈ orders both bucketed on the join key runs as a
    zero-exchange sort-merge join — on a cluster this is what turns the
    recurring 100 TB fact-fact join shuffle into local bucket-pair
    merges."""
    from retail_sales_data_pipeline_spark.operators.scale import (
        bucketed_join_ready,
        write_bucketed,
    )

    spark.sql("DROP TABLE IF EXISTS audit_li_b")
    spark.sql("DROP TABLE IF EXISTS audit_ord_b")
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    orders = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    write_bucketed(li, "audit_li_b", "l_orderkey", num_buckets=8, sort_col="l_orderkey")
    write_bucketed(
        orders, "audit_ord_b", "o_orderkey", num_buckets=8, sort_col="o_orderkey"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join_ready(
            spark, "audit_li_b", "audit_ord_b", ("l_orderkey", "o_orderkey")
        )
        p = plan_of(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS audit_li_b")
        spark.sql("DROP TABLE IF EXISTS audit_ord_b")
    assert "Exchange" not in p, "bucketed join should be shuffle-free:\n" + p
    assert "SortMergeJoin" in p
    interesting = [
        ln for ln in p.splitlines()
        if re.search(r"SortMergeJoin|Exchange|Scan|SelectedBucketsCount|Bucketed", ln)
    ]
    return [
        "## bucketed lineitem ⋈ orders (operators/scale.py write_bucketed)",
        "",
        "Both sides written with `bucketBy(8, key)` + `sortBy(key)`;",
        "broadcast disabled to force the merge path. The physical plan has",
        f"**{p.count('Exchange')} exchanges** — the sort-merge join reads",
        "co-bucketed files directly (`SelectedBucketsCount` on both scans):",
        "",
        "```",
        *[ln.rstrip()[:150] for ln in interesting],
        "```",
        "",
    ]


def _dpp_demo(spark) -> list[str]:
    """Dynamic partition pruning: a fact table partitioned on the join
    key reads only the partitions the (filtered) dim side selects — the
    100 TB lever that turns 'scan everything then join' into 'scan the
    3 months the query touches'. The subquery filter is injected at
    runtime, so it composes with arbitrary dim predicates."""
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix="dpp_fact_")
    try:
        orders = spark.read.parquet(f"{SF}/orders.parquet").select(
            "o_orderkey", "o_totalprice", F.month("o_orderdate").alias("o_month")
        )
        orders.write.mode("overwrite").partitionBy("o_month").parquet(path)
        fact = spark.read.parquet(path)
        # DPP requires a *filter* on the pruning side to judge it
        # selective — a pre-restricted relation with no Filter node
        # doesn't qualify, which is itself a planner fact worth pinning.
        months = (
            spark.range(1, 13)
            .select(F.col("id").cast("int").alias("m"))
            .withColumn("label", F.concat(F.lit("M"), F.col("m")))
            .where(F.col("m") <= 3)
        )
        joined = fact.join(months, fact.o_month == months.m).groupBy("label").agg(
            F.sum("o_totalprice").alias("total")
        )
        p = plan_of(joined)
    finally:
        shutil.rmtree(path, ignore_errors=True)
    assert "dynamicpruning" in p.lower(), (
        "expected a dynamic-partition-pruning filter in:\n" + p
    )
    interesting = [
        ln for ln in p.splitlines()
        if re.search(r"dynamicpruning|PartitionFilters", ln, re.I)
    ]
    return [
        "## dynamic partition pruning (fact partitioned by month ⋈ filtered dim)",
        "",
        "Orders written `partitionBy(o_month)`, joined to a 3-row month",
        "dim: the fact scan carries a runtime `dynamicpruning` partition",
        "filter — only the joined months are read. At 100 TB this is the",
        "difference between scanning the full fact history and the slice",
        "the dim filter selects:",
        "",
        "```",
        *[ln.strip()[:150] for ln in interesting[:6]],
        "```",
        "",
    ]


def _bloom_filter_demo(spark) -> list[str]:
    """Runtime bloom-filter join pruning: a selective filter on one join
    side is turned into a bloom filter applied to the OTHER side's scan,
    discarding non-joining rows before the shuffle. At 100 TB this cuts
    the shuffled fact bytes by the dim filter's selectivity without any
    manual predicate rewriting."""
    conf = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
            "l_orderkey", "l_quantity"
        )
        orders = spark.read.parquet(f"{SF}/orders.parquet").select(
            "o_orderkey", "o_orderpriority"
        ).where(F.col("o_orderpriority") == "1-URGENT")
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.sum("l_quantity").alias("qty"))
        p = plan_of(joined)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "might_contain" in p, "expected a runtime bloom filter in:\n" + p
    interesting = [
        ln for ln in p.splitlines()
        if re.search(r"bloom|might_contain", ln, re.I)
    ]
    return [
        "## runtime bloom-filter join pruning (filtered orders → lineitem scan)",
        "",
        "With a selective dim predicate and broadcast disabled, Spark",
        "injects `bloom_filter_might_contain` into the fact side: rows",
        "that cannot join are dropped at the scan, before the shuffle.",
        "The shuffled bytes scale with the dim filter's selectivity, not",
        "the fact size:",
        "",
        "```",
        *[ln.strip()[:150] for ln in interesting[:6]],
        "```",
        "",
    ]


def _aqe_skew_demo(spark) -> list[str]:
    """AQE skew-join split, observed in an EXECUTED plan: one key holds
    ~90% of the fact rows, so one shuffle partition dwarfs the rest;
    with skewJoin enabled AQE splits that partition into multiple
    reducer tasks (each joining against a replicated right slice)
    instead of letting a single straggler own the join. This is the
    no-code-change answer to skew at 100 TB; `salted_skew_join` is the
    manual fallback for engines/joins AQE doesn't cover."""
    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # local-mode-sized skew thresholds: production defaults are
        # 256 MB / factor 5 — the *mechanism* is what's demonstrated
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        fact = spark.range(200_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(1))
            .otherwise(F.col("id") % 997)
            .alias("k"),
            F.concat(F.lit("payload_"), F.col("id")).alias("v"),
        )
        dim = spark.range(5_000).select(
            (F.col("id") % 997).alias("k"),
            F.concat(F.lit("right_"), F.col("id")).alias("w"),
        )
        joined = fact.join(dim, "k")
        # collect() executes the DataFrame's OWN QueryExecution, so the
        # subsequent explain prints the final adaptive plan (a sink
        # write would run a separate command QE and leave this one
        # un-finalized, isFinalPlan=false)
        joined.collect()
        p = plan_of(joined)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "skew=true" in p, "expected an AQE skew-split join in:\n" + p
    interesting = [
        ln for ln in p.splitlines()
        if re.search(r"skew=true|AQEShuffleRead|isFinalPlan", ln)
    ]
    return [
        "## AQE skew-join split (90%-hot key, executed plan)",
        "",
        "One key owns 90% of a 200k-row fact side; with",
        "`spark.sql.adaptive.skewJoin` on (thresholds scaled to local",
        "data sizes), the executed plan shows the sort-merge join marked",
        "`skew=true` with `AQEShuffleRead` splitting the hot partition",
        "into multiple reducer tasks — runtime skew handling with zero",
        "query changes:",
        "",
        "```",
        *[ln.strip()[:150] for ln in interesting[:8]],
        "```",
        "",
    ]


if __name__ == "__main__":
    main()
