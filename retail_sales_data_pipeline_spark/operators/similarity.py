"""Vector similarity search over an ``array<float>`` embedding column.

Hyperplane LSH follows Charikar ("Similarity estimation techniques from
rounding algorithms", STOC 2002); the IVF cell-probe shape mirrors the
inverted-file coarse quantizer of Jégou et al. ("Product quantization
for nearest neighbor search", TPAMI 2011) with provided cell ids.

Two search paths (SURVEY.md §7.2 M5 / training-data extensions):

- **Brute-force cosine top-k** — the exact baseline: broadcast the
  (small) query set, scan the corpus once, rank per query. Linear in
  corpus size, embarrassingly parallel, zero shuffle on the corpus side
  (only the final per-query top-k exchange, which is tiny). At 100 TB
  this is the "scan path": it works at any scale, bounded by scan
  throughput. It is also the recall ground truth for the LSH path.
- **Random-hyperplane LSH buckets** — the sublinear scale path: sign
  bits of projections onto deterministic pseudo-random hyperplanes
  form bucket keys; candidates share a bucket; cosine is verified only
  for candidates. ONE kernel serves every LSH query:
  :func:`lsh_bucket_keys` (an Arrow batch × planes matmul, zero
  shuffles) feeds :func:`lsh_ann_topk` (top-k) and
  :func:`cosine_neardup_pairs_lsh` (near-dup pairs). A single-table
  LSH is one band of all planes; banding is ``planes_per_band``.

Determinism contract: hyperplane weights derive from md5 (identical in
Python/DuckDB): ``w(p, d) = hex(md5('p:d')[:8]) / 2^32 - 0.5``, computed
once per call on the driver (:func:`plane_weights`). Cosines are rounded
at the edge (6 dp) and rankings order by the *rounded* value with an id
tiebreak, so both engines produce identical rows.

The cosine tails are built-in expression algebra (zip_with / aggregate
/ transform) — JVM-side, dot products folded element-wise in index
order. The bucket stage is a numpy matmul over Arrow batches
(``mapInPandas``).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..caching import persist_tracked


def as_double(arr: Column | str) -> Column:
    c = F.col(arr) if isinstance(arr, str) else arr
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Element-wise dot product folded in index order (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    # zero-norm convention, repo-wide: Spark's Divide yields NULL on a
    # zero divisor, and NULL ranks LAST under desc — degenerate vectors
    # can never displace a real candidate. Oracle twins must mirror it
    # with NULLIF wherever zero norms are reachable (DuckDB's IEEE 0/0
    # is NaN, which ranks FIRST under desc).
    return dot(a, b) / (norm(a) * norm(b))


def _topk_by_cosine(
    pairs: DataFrame,
    k: int,
    cosine_col: str = "cosine",
    extra_cols: tuple = (),
) -> DataFrame:
    """The shared rerank tail of every top-k path: rank per query by
    (rounded cosine DESC, neighbor_id ASC — the cross-engine
    determinism tie-break every oracle twin mirrors), keep ``rk <= k``.
    ONE implementation so a tie-break or rounding change can never
    drift between the brute-force, LSH, IVF and quantized paths
    (they share one oracle contract)."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col(cosine_col).desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            cosine_col,
            *extra_cols,
            F.col("rk").cast("long"),
        )
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: every query against every corpus vector.

    ``queries`` is broadcast (query sets are small by definition); the
    corpus is scanned once. Output:
    ``query_id, neighbor_id, cosine, rk`` with ``rk`` = row_number over
    (rounded cosine desc, neighbor_id asc).
    """

    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("_q")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("_c")
    )
    pairs = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("_q"), F.col("_c")), 6).alias("cosine"),
    )
    return _topk_by_cosine(pairs, k)


def plane_weights(num_planes: int, dim: int) -> np.ndarray:
    """The ``(num_planes, dim)`` hyperplane weight matrix, computed on
    the driver with no Spark job: ``w(p, d) = int(md5('p:d')[:8], 16) /
    2^32 - 0.5`` ∈ [-0.5, 0.5) — the rule every oracle SQL's ``planes``
    CTE spells. Each weight is an exact dyadic rational, so the matrix
    equals DuckDB's bit for bit."""
    return np.array(
        [
            [int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16) / 2**32 - 0.5
             for d in range(dim)]
            for p in range(num_planes)
        ],
        dtype=np.float64,
    )


def lsh_bucket_keys(
    df: DataFrame,
    weights: np.ndarray,
    planes_per_band: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Banded sign-bit bucket keys ``(id, band, bucket)``: one batch ×
    planes matmul per Arrow batch, sign bits packed per band (band =
    p div P, bit = p mod P). Zero shuffles.

    ``planes_per_band=None`` is one band of all planes — single-table
    LSH. With P planes per band, two vectors are candidates if they
    agree on *any* band: the AND-within-band / OR-across-bands S-curve
    MinHash banding uses — more planes per band sharpen precision, more
    bands recover recall.

    Sign agreement with the oracle's index-ordered SQL sum rests on
    float64 arithmetic: md5-derived weights put no projection within
    float noise of zero.

    NULL vectors are skipped: they get no bucket rows, so they are
    never a candidate (nor a query with candidates). The oracle SQL
    would put a NULL vector in bucket 0 with a NULL cosine, ranked
    last, so results can differ only for a query with fewer than k
    non-NULL candidates.
    """
    per_band = planes_per_band or len(weights)
    if len(weights) % per_band:
        raise ValueError(
            f"{len(weights)} planes not divisible by planes_per_band="
            f"{per_band}; pass a multiple"
        )
    n_bands = len(weights) // per_band
    shifts = np.arange(per_band, dtype=np.int64)

    def batches(it):
        for pdf in it:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            em = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            bits = (em @ weights.T > 0).reshape(len(ids), n_bands, per_band)
            yield pd.DataFrame(
                {
                    "id": np.repeat(ids, n_bands),
                    "band": np.tile(np.arange(n_bands, dtype=np.int32), len(ids)),
                    "bucket": (bits << shifts).sum(axis=2).ravel(),
                }
            )

    return (
        df.select(id_col, vec_col)
        .where(F.col(vec_col).isNotNull())
        .mapInPandas(batches, schema="id long, band int, bucket long")
    )


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    weights: np.ndarray,
    k: int = 5,
    planes_per_band: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors sharing any band's
    bucket with the query (:func:`lsh_bucket_keys`, one band unless
    ``planes_per_band`` is set); exact cosine reranks candidates only.

    Output schema matches :func:`cosine_topk`; recall < 1 by design.
    One flat table of P planes gives 2^P buckets, and the 1M-vector
    sweep (docs/SCALE.md) measured its recall@5 stuck at the
    bucket-collision geometry (~0.68 at 4 planes). Banding is the fix:
    L tables of P planes each, recall ≈ 1-(1-s^P)^L, candidates
    ~L·|corpus|/2^P per query.

    Size contract: ``queries`` (×L band rows each) must fit in a
    broadcast relation — a few dozen bytes per query, so up to ~10M
    queries is comfortable under Spark's 8 GB broadcast cap. An
    oversized query set fails the broadcast instead of degrading to a
    sort-merge join; slice it and union the top-k results.
    """
    qb = lsh_bucket_keys(queries, weights, planes_per_band, id_col, vec_col)
    cb = lsh_bucket_keys(corpus, weights, planes_per_band, id_col, vec_col)
    # broadcast the QUERY bucket side: the planner only
    # sees post-stage estimates and would pick a sort-merge join —
    # shuffling and sorting the WHOLE corpus bucket relation. The hint
    # makes the probe a map-side hash join: zero corpus-side exchange.
    cand = (
        F.broadcast(qb.withColumnRenamed("id", "query_id"))
        .join(cb.withColumnRenamed("id", "neighbor_id"), ["band", "bucket"])
        .select("query_id", "neighbor_id")
    )
    if planes_per_band:
        cand = cand.distinct()  # a pair may share several bands
    q = queries.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("_q"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("_c"))
    pairs = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("_q"), F.col("_c")), 6).alias("cosine"),
        )
    )
    return _topk_by_cosine(pairs, k)


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ t).

    Brute-force all-pairs — correct at validation scale; at corpus scale
    use :func:`cosine_neardup_pairs_lsh` (co-bucket candidates, same
    verification tail).
    """
    a = df.select(F.col(id_col).alias("id_a"), as_double(vec_col).alias("_a"))
    b = df.select(F.col(id_col).alias("id_b"), as_double(vec_col).alias("_b"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("_a"), F.col("_b")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def cosine_neardup_pairs_lsh(
    df: DataFrame,
    weights: np.ndarray,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes_per_band: int | None = None,
) -> DataFrame:
    """LSH-bucketed embedding near-dup pairs — the corpus-scale path.

    Candidates are co-bucketed vector pairs (equi-join on
    :func:`lsh_bucket_keys`' ``(band, bucket)``, ``id_a < id_b``);
    exact cosine is verified on candidates only. Replaces
    :func:`cosine_neardup_pairs`'s O(n²) crossJoin with a bounded
    bucket-key shuffle — per-bucket candidate counts are ~(n/2^P)², the
    same candidate-then-verify shape as ``minhash_lsh_pairs`` for text.

    With ``planes_per_band`` set, a pair is a candidate if any band's
    buckets agree: 8 planes per band × 4 bands gives ~((n/256)² × 4)
    candidates with near-1 recall at cosine ≥ 0.99 and the sharp
    S-curve dedup wants; the default is one flat band.
    """
    # the bucket relation feeds BOTH sides of the candidate self-join.
    # Locally Spark's ReuseExchange dedupes the identical subtree, but
    # exchange reuse is a planner artifact, not a contract — the same
    # shape in minhash_lsh_pairs measurably recomputed 9×. Persist pins
    # the single-compute guarantee; b is |vectors|·|bands| rows of
    # three numbers, MEMORY_AND_DISK.
    b = persist_tracked(
        lsh_bucket_keys(df, weights, planes_per_band, id_col, vec_col)
    )
    cand = (
        b.select(F.col("id").alias("id_a"), "band", "bucket")
        .join(
            b.select(F.col("id").alias("id_b"), "band", "bucket"),
            ["band", "bucket"],
        )
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if planes_per_band:
        cand = cand.distinct()  # a pair may share several bands
    va = df.select(F.col(id_col).alias("id_a"), as_double(vec_col).alias("_a"))
    vb = df.select(F.col(id_col).alias("id_b"), as_double(vec_col).alias("_b"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("_a"), F.col("_b")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def quantize_int8(vec: Column, scale: Column) -> Column:
    """Symmetric int8 scalar quantization: ``round(x / scale * 127)``,
    kept as a double array so downstream dot products are exact (every
    partial sum is an integer far below 2^53 — order-independent,
    bit-identical across engines, unlike float accumulation).

    ``scale`` is the corpus-wide max |x|, so values land in [-127, 127].
    Quantized vectors shrink ANN memory/io ~4× (the standard serving
    trick); the companion query measures the ranking fidelity loss.
    """
    return F.transform(vec, lambda x: F.round(x / scale * 127))


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by *int8-quantized* cosine, with the exact cosine emitted
    beside it for fidelity auditing.

    The quantization scale (global max |x|) is a one-row aggregate
    broadcast into both sides — no driver round-trip, no collect. The
    search itself is the brute-force scan path of :func:`cosine_topk`:
    broadcast queries, single corpus scan, per-query row_number window
    ranked by (quantized cosine desc, neighbor_id asc).
    """

    both = queries.unionByName(corpus).select(as_double(vec_col).alias("_e"))
    scale = both.agg(
        F.max(F.array_max(F.transform("_e", F.abs))).alias("_scale")
    )

    def prep(df: DataFrame, out_id: str, e: str, q: str) -> DataFrame:
        return df.crossJoin(F.broadcast(scale)).select(
            F.col(id_col).alias(out_id),
            as_double(vec_col).alias(e),
            quantize_int8(as_double(vec_col), F.col("_scale")).alias(q),
        )

    qs = prep(queries, "query_id", "_qe", "_qq")
    cs = prep(corpus, "neighbor_id", "_ce", "_cq")
    pairs = cs.crossJoin(F.broadcast(qs)).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("_qq"), F.col("_cq")), 6).alias("cosine_q"),
        F.round(cosine(F.col("_qe"), F.col("_ce")), 6).alias("cosine_exact"),
    )
    return _topk_by_cosine(
        pairs, k, cosine_col="cosine_q", extra_cols=("cosine_exact",)
    )


def semantic_cell_pairs(
    corpus: DataFrame,
    anchors: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:
    2303.09540): assign every vector to its nearest anchor (cell), then
    verify cosine only on same-cell pairs.

    The anchor set is tiny and broadcast, so assignment is one scan;
    the pair search is an equi-join on ``cell`` — candidate work is
    Σ cell_size² instead of n², and at 100 TB you raise the anchor
    count k so cells stay bounded (SemDeDup uses k in the tens of
    thousands). Assignment ranks by (rounded cosine desc, anchor_id
    asc) — deterministic in both engines.

    Output: ``id_a, id_b, cell, cosine`` for same-cell pairs with
    cosine ≥ threshold.
    """
    a = anchors.select(
        F.col(id_col).alias("anchor_id"), as_double(vec_col).alias("_a")
    )
    v = corpus.select(F.col(id_col).alias("id"), as_double(vec_col).alias("_v"))
    scored = v.crossJoin(F.broadcast(a)).select(
        "id",
        "_v",
        "anchor_id",
        F.round(cosine(F.col("_v"), F.col("_a")), 6).alias("_sim"),
    )
    # argmax via max(struct): map-side combine collapses the k scored
    # rows per vector BEFORE the shuffle (a window over the exploded
    # relation would shuffle all n·k vector payloads). max(struct)
    # orders by (_sim, -anchor_id) = best cosine, lowest-anchor tiebreak;
    # every row of an id carries the same _v, so first() is exact.
    best = scored.groupBy("id").agg(
        F.max(
            F.struct(F.col("_sim").alias("s"), (-F.col("anchor_id")).alias("na"))
        ).alias("_b"),
        F.first("_v").alias("_v"),
    )
    # Materialize the norm once per vector: the pair step then computes
    # ONE dot per pair instead of three (dot + both norms). The division
    # dot/(norm_a*norm_b) is the same float expression the oracle uses,
    # so caching the norms changes cost, not values. Persist: both join
    # sides branch from this frame. (Lazy is the right call here — the
    # shuffle boundary under `best` fills the cache before the second
    # branch runs; an eager count() was A/B-measured 10% SLOWER at
    # sf0.1 from the extra job barrier.)
    assigned = persist_tracked(
        best.select(
            "id",
            (-F.col("_b.na")).cast("long").alias("cell"),
            "_v",
            norm(F.col("_v")).alias("_n"),
        )
    )
    left = assigned.select(
        F.col("id").alias("id_a"), "cell",
        F.col("_v").alias("_va"), F.col("_n").alias("_na"),
    )
    right = assigned.select(
        F.col("id").alias("id_b"), "cell",
        F.col("_v").alias("_vb"), F.col("_n").alias("_nb"),
    )
    return (
        left.join(right, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            "cell",
            F.round(
                dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
