"""Measure ANN wall-time slope and recall as the corpus scales past the
fixture's 2k vectors.

Completes the measured-headroom story (events: 20M rows; dedup:
50k-500k docs) for the vector family: synthetic unit-norm embeddings
are generated JVM-side, and at each corpus size we time

- ``cosine_topk_arrow`` — the exact brute-force path (Arrow-batched
  matmul, per-batch top-k), which is also the recall ground truth;
- ``lsh_ann_topk`` — hyperplane-bucketed candidates + exact rerank,
  the sublinear scale path, in four configurations of the one kernel:
  flat 4 and 8 planes, and 4x4 and 8x8 bands;

and report LSH recall@k against the exact result — speed bought with
recall is not a win, so both numbers print together.

Usage::

    python tools/ann_headroom.py [--sizes 100000,500000,1000000]
        [--queries 50] [--k 5]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from retail_sales_data_pipeline_spark.operators.similarity import (  # noqa: E402
    _topk_by_cosine,
    ann_topk,
    as_double,
    cosine,
    cosine_topk_arrow,
    lsh_ann_topk,
    plane_weights,
    recommended_banding,
)
from retail_sales_data_pipeline_spark.session import get_spark  # noqa: E402

DIM = 64

# (label, planes, planes_per_band) — flat single-table LSH is one band
# of all planes; the banded rows OR L tables of P planes for recall
LSH_CONFIGS = (("4p", 4, None), ("8p", 8, None), ("4x4", 16, 4), ("8x8", 64, 8))

N_CENTERS = 64
NOISE = 0.25


def synthetic_embeddings(spark, n: int, salt: int = 0):
    """(vec_id, embedding float array) — a mixture of N_CENTERS cluster
    centers plus component noise, all pure JVM expressions.  Uniform
    random vectors have no neighbor structure (every cosine ≈ 0, and
    single-probe LSH recall collapses to the bucket-collision rate);
    real embedding corpora are clustered, which is the workload ANN
    indexes exist for.  Point i belongs to center ``i % N_CENTERS``;
    its true near neighbors are in-cluster, so recall@k measures
    whether the index finds the right cluster."""
    cluster = F.pmod(F.col("id") + salt, F.lit(N_CENTERS))
    comp = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda d: (
            (F.pmod(F.xxhash64(cluster, d), F.lit(1_000_000)) / 1_000_000.0 - 0.5)
            + NOISE
            * (F.pmod(F.xxhash64(F.col("id") + salt, d, F.lit(7)), F.lit(1_000_000))
               / 1_000_000.0 - 0.5)
        ).cast("float"),
    )
    return spark.range(n).select(
        F.col("id").cast("long").alias("vec_id"), comp.alias("embedding")
    )


def ivf_topk(corpus, queries, k: int):
    """IVF with the generative cluster id as the coarse quantizer (the
    well-trained-quantizer case): each query searches one cell, so the
    candidate set is corpus/N_CENTERS and the join key is the cell id —
    the same plan shape as the registered ``ann_ivf_topk`` query."""
    cell = lambda df, salt: df.withColumn(  # noqa: E731
        "cell", F.pmod(F.col("vec_id") % 10_000_000 + salt, F.lit(N_CENTERS))
    )
    q = cell(queries, 999_983).select(
        F.col("vec_id").alias("query_id"), "cell", as_double("embedding").alias("_q")
    )
    c = cell(corpus, 0).select(
        F.col("vec_id").alias("neighbor_id"), "cell", as_double("embedding").alias("_c")
    )
    pairs = c.join(F.broadcast(q), "cell").select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("_q"), F.col("_c")), 6).alias("cosine"),
    )
    return _topk_by_cosine(pairs, k)


def _recall(approx, exact, k: int) -> float:
    """Mean fraction of exact top-k neighbor ids the approximate result
    recovered per query (both collected — |queries|·k rows)."""
    from collections import defaultdict

    truth, got = defaultdict(set), defaultdict(set)
    for r in exact.collect():
        truth[r.query_id].add(r.neighbor_id)
    for r in approx.collect():
        got[r.query_id].add(r.neighbor_id)
    if not truth:
        return 0.0
    return round(
        sum(len(truth[q] & got[q]) / len(truth[q]) for q in truth) / len(truth),
        4,
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="100000,500000,1000000")
    ap.add_argument("--queries", type=int, default=50)
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument(
        "--assert-auto",
        action="store_true",
        help="also run ann_topk (auto-selected banding) at each size and "
        "EXIT NONZERO if its recall@k < 0.95 — the r4-verdict pin that "
        "the encoded banding rule actually delivers recall at 1M",
    )
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]

    spark = get_spark(app_name="ann-headroom")
    # throwaway pass: Python/Arrow worker spawn + codegen warmup landed
    # entirely on the first measured row otherwise (observed: "brute"
    # at 100k slower than at 1M)
    wq = synthetic_embeddings(spark, 8, salt=999_983)
    wc = synthetic_embeddings(spark, 5000)
    cosine_topk_arrow(wc, wq, k=args.k).count()
    lsh_ann_topk(wc, wq, plane_weights(4, DIM), k=args.k).count()
    ivf_topk(wc, wq, args.k).count()

    results = []
    # keep the header in lockstep with the per-size cells: --assert-auto
    # adds an auto-banding column pair BEFORE the ivf columns
    auto_cols = "| auto | recall auto " if args.assert_auto else ""
    lsh_cols = "".join(f"| lsh {c} | recall {c} " for c, _, _ in LSH_CONFIGS)
    print("| corpus | brute (arrow) " + lsh_cols + auto_cols + "| ivf | recall ivf |")
    print("|---" * (4 + 2 * len(LSH_CONFIGS) + (2 if args.assert_auto else 0)) + "|")
    for n in sizes:
        corpus = synthetic_embeddings(spark, n).cache()
        corpus.count()
        # a distinct salt gives queries their own noise (and cluster
        # rotation) — same mixture, but never byte-identical to corpus
        # points
        queries = synthetic_embeddings(spark, args.queries, salt=999_983).withColumn(
            "vec_id", F.col("vec_id") + 10_000_000
        ).cache()
        queries.count()

        def timed(build):
            """best-of-2 wall time + the second run's materialized DF."""
            best, df = None, None
            for _ in range(2):
                if df is not None:
                    df.unpersist()
                t0 = time.perf_counter()
                df = build()
                df.cache().count()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            return round(best, 2), df

        t_brute, exact = timed(lambda: cosine_topk_arrow(corpus, queries, k=args.k))

        row = {"n": n, "brute_s": t_brute}
        cells = [f"| {n} | {t_brute} s"]
        for label, n_planes, per_band in LSH_CONFIGS:
            weights = plane_weights(n_planes, DIM)
            t_lsh, approx = timed(
                lambda: lsh_ann_topk(
                    corpus, queries, weights, k=args.k, planes_per_band=per_band
                )
            )
            rec = _recall(approx, exact, args.k)
            approx.unpersist()
            row[f"lsh{label}_s"], row[f"recall{label}"] = t_lsh, rec
            cells.append(f"{t_lsh} s | {rec}")
        if args.assert_auto:
            bands, per_band = recommended_banding(n)
            t_auto, auto = timed(
                lambda: ann_topk(corpus, queries, k=args.k, n_corpus=n, dim=DIM)
            )
            rec_auto = _recall(auto, exact, args.k)
            auto.unpersist()
            row["auto_s"], row["recall_auto"] = t_auto, rec_auto
            row["auto_banding"] = f"{bands}x{per_band}"
            cells.append(f"{t_auto} s ({bands}x{per_band}) | {rec_auto}")
            if rec_auto < 0.95:  # explicit: a bare assert vanishes
                raise SystemExit(  # under python -O / PYTHONOPTIMIZE
                    f"auto-banding recall {rec_auto} < 0.95 at n={n} "
                    f"({bands}x{per_band}) — recommended_banding rule broken"
                )
        t_ivf, iv = timed(lambda: ivf_topk(corpus, queries, args.k))
        rec_ivf = _recall(iv, exact, args.k)
        iv.unpersist()
        row["ivf_s"], row["recall_ivf"] = t_ivf, rec_ivf
        cells.append(f"{t_ivf} s | {rec_ivf}")
        print(" | ".join(cells) + " |")
        sys.stdout.flush()
        results.append(row)
        exact.unpersist()
        corpus.unpersist()
        queries.unpersist()
    print(json.dumps({"dim": DIM, "k": args.k, "queries": args.queries, "sweep": results}))
    spark.stop()


if __name__ == "__main__":
    main()
