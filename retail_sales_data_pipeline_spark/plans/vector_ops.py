"""Similarity-search queries over the ``embeddings`` table with DuckDB
oracle twins.

Query vectors are ``vec_id < 10``; the corpus is the rest. Cosines are
rounded to 6 dp and rankings order by the rounded value with an id
tiebreak, so Spark and DuckDB emit identical rows (the underlying
double arithmetic agrees far beyond 6 dp; see operators/similarity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import persist_tracked
from ..operators import similarity as S
from ..sources.tables import load_table

DIM = 64
NUM_PLANES = 4


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings", ["vec_id", "embedding"])


# ---------------------------------------------------------------------------
# Q: ann_cosine_topk — exact brute-force top-5 neighbors
# ---------------------------------------------------------------------------
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return S.cosine_topk(
        corpus=emb.where(F.col("vec_id") >= 10),
        queries=emb.where(F.col("vec_id") < 10),
        k=5,
    )


_COSINE_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS ce
  FROM embeddings WHERE vec_id >= 10
), pairs AS (
  SELECT query_id, neighbor_id,
    round(list_dot_product(qe, ce)
          / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))),
          6) AS cosine
  FROM q, c
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS rk
  FROM pairs
)
SELECT query_id, neighbor_id, cosine, rk FROM ranked WHERE rk <= 5
"""


# ---------------------------------------------------------------------------
# Q: ann_lsh_topk — hyperplane-LSH bucketed approximate top-5
# ---------------------------------------------------------------------------
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return S.lsh_ann_topk(
        corpus=emb.where(F.col("vec_id") >= 10),
        queries=emb.where(F.col("vec_id") < 10),
        weights=S.plane_weights(NUM_PLANES, DIM),
        k=5,
    )


_LSH_SQL = f"""
WITH planes AS (
  SELECT p.p, d.d,
    CAST(('0x' || substr(md5(CAST(p.p AS VARCHAR) || ':' || CAST(d.d AS VARCHAR)), 1, 8))
         AS BIGINT) / 4294967296.0 - 0.5 AS w
  FROM (SELECT unnest(generate_series(0, {NUM_PLANES - 1})) AS p) p,
       (SELECT unnest(generate_series(0, {DIM - 1})) AS d) d
), vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), elems AS (
  SELECT vec_id, i - 1 AS d, e[i] AS v
  FROM (SELECT vec_id, e, unnest(generate_series(1, {DIM})) AS i FROM vecs)
), proj AS (
  SELECT elems.vec_id, planes.p, sum(elems.v * planes.w) AS proj
  FROM elems JOIN planes ON elems.d = planes.d
  GROUP BY elems.vec_id, planes.p
), buckets AS (
  SELECT vec_id,
    sum(CASE WHEN proj > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS bucket
  FROM proj GROUP BY vec_id
), cand AS (
  SELECT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
  FROM buckets qb JOIN buckets cb ON qb.bucket = cb.bucket
  WHERE qb.vec_id < 10 AND cb.vec_id >= 10
), pairs AS (
  SELECT c.query_id, c.neighbor_id,
    round(list_dot_product(q.e, n.e)
          / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(n.e, n.e))),
          6) AS cosine
  FROM cand c
  JOIN vecs q ON q.vec_id = c.query_id
  JOIN vecs n ON n.vec_id = c.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS rk
  FROM pairs
)
SELECT query_id, neighbor_id, cosine, rk FROM ranked WHERE rk <= 5
"""


# ---------------------------------------------------------------------------
# Q: ann_lsh_banded_topk — multi-table (band-OR) ANN: L tables of P
# sharp sign-bit buckets each, OR'd for recall (the production LSH
# layout; single-table recall is geometry-capped — measured in
# docs/SCALE.md). Candidates = any-band co-bucket, exact-cosine rerank.
# ---------------------------------------------------------------------------
ANN_BANDS = 4
ANN_PLANES_PER_BAND = 4


def ann_lsh_banded_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return S.lsh_ann_topk(
        corpus=emb.where(F.col("vec_id") >= 10),
        queries=emb.where(F.col("vec_id") < 10),
        weights=S.plane_weights(ANN_BANDS * ANN_PLANES_PER_BAND, DIM),
        planes_per_band=ANN_PLANES_PER_BAND,
        k=5,
    )


_LSH_BANDED_SQL = f"""
WITH planes AS (
  SELECT p.p, d.d,
    CAST(('0x' || substr(md5(CAST(p.p AS VARCHAR) || ':' || CAST(d.d AS VARCHAR)), 1, 8))
         AS BIGINT) / 4294967296.0 - 0.5 AS w
  FROM (SELECT unnest(generate_series(0, {ANN_BANDS * ANN_PLANES_PER_BAND - 1})) AS p) p,
       (SELECT unnest(generate_series(0, {DIM - 1})) AS d) d
), vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), elems AS (
  SELECT vec_id, i - 1 AS d, e[i] AS v
  FROM (SELECT vec_id, e, unnest(generate_series(1, {DIM})) AS i FROM vecs)
), proj AS (
  SELECT elems.vec_id, planes.p, sum(elems.v * planes.w) AS proj
  FROM elems JOIN planes ON elems.d = planes.d
  GROUP BY elems.vec_id, planes.p
), buckets AS (
  SELECT vec_id, p // {ANN_PLANES_PER_BAND} AS band,
    CAST(sum(CASE WHEN proj > 0
             THEN (CAST(1 AS BIGINT) << (p % {ANN_PLANES_PER_BAND}))
             ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id, band
), cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
  FROM buckets qb JOIN buckets cb
    ON qb.band = cb.band AND qb.bucket = cb.bucket
  WHERE qb.vec_id < 10 AND cb.vec_id >= 10
), pairs AS (
  SELECT c.query_id, c.neighbor_id,
    round(list_dot_product(q.e, n.e)
          / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(n.e, n.e))),
          6) AS cosine
  FROM cand c
  JOIN vecs q ON q.vec_id = c.query_id
  JOIN vecs n ON n.vec_id = c.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS rk
  FROM pairs
)
SELECT query_id, neighbor_id, cosine, rk FROM ranked WHERE rk <= 5
"""


# ---------------------------------------------------------------------------
# Q: dedup_embedding_cosine — near-dup pairs over a planted-variant
# corpus, via LSH co-bucket candidates (the corpus-scale path: no
# cross join anywhere in the plan — tools/plan_audit.py asserts it).
# The brute-force crossJoin twin (cosine_neardup_pairs) remains the
# pytest ground truth for recall (tests/test_similarity.py).
# ---------------------------------------------------------------------------
def _neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    variants = emb.where(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(S.as_double("embedding"), lambda x: x + 0.01).alias("embedding"),
    )
    return emb.select(
        "vec_id", S.as_double("embedding").alias("embedding")
    ).unionByName(variants)


NEARDUP_BANDS = 4
NEARDUP_PLANES_PER_BAND = 8


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 4 bands × 8 planes: candidates ~4·(n/256)² instead of n²/2, with
    # near-1 recall for true near-dups (cosine ≈ 1 rarely straddles all
    # bands) — the AND/OR S-curve MinHash banding uses.
    corpus = _neardup_corpus(spark, sf_dir)
    weights = S.plane_weights(NEARDUP_BANDS * NEARDUP_PLANES_PER_BAND, DIM)
    return S.cosine_neardup_pairs_lsh(
        corpus, weights, threshold=0.9, planes_per_band=NEARDUP_PLANES_PER_BAND
    )


_NEARDUP_CORPUS_SQL = """corpus AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS id,
         list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.01) AS e
  FROM embeddings WHERE vec_id % 25 = 0
)"""

_NEARDUP_SQL = f"""
WITH {_NEARDUP_CORPUS_SQL},
planes AS (
  SELECT p.p, d.d,
    CAST(('0x' || substr(md5(CAST(p.p AS VARCHAR) || ':' || CAST(d.d AS VARCHAR)), 1, 8))
         AS BIGINT) / 4294967296.0 - 0.5 AS w
  FROM (SELECT unnest(generate_series(0, {NEARDUP_BANDS * NEARDUP_PLANES_PER_BAND - 1})) AS p) p,
       (SELECT unnest(generate_series(0, {DIM - 1})) AS d) d
), elems AS (
  SELECT id, i - 1 AS d, e[i] AS v
  FROM (SELECT id, e, unnest(generate_series(1, {DIM})) AS i FROM corpus)
), proj AS (
  SELECT elems.id, planes.p, sum(elems.v * planes.w) AS proj
  FROM elems JOIN planes ON elems.d = planes.d
  GROUP BY elems.id, planes.p
), buckets AS (
  SELECT id, p // {NEARDUP_PLANES_PER_BAND} AS band,
    CAST(sum(CASE WHEN proj > 0
             THEN (CAST(1 AS BIGINT) << (p % {NEARDUP_PLANES_PER_BAND}))
             ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY id, band
), cand AS (
  SELECT DISTINCT ba.id AS id_a, bb.id AS id_b
  FROM buckets ba JOIN buckets bb
    ON ba.band = bb.band AND ba.bucket = bb.bucket AND ba.id < bb.id
)
SELECT c.id_a, c.id_b,
  round(list_dot_product(a.e, b.e)
        / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
        6) AS cosine
FROM cand c JOIN corpus a ON a.id = c.id_a JOIN corpus b ON b.id = c.id_b
WHERE round(list_dot_product(a.e, b.e)
      / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
      6) >= 0.9
"""


# ---------------------------------------------------------------------------
# Q: ann_ivf_topk — IVF-style ANN: the `label` column acts as the coarse
# quantizer (inverted-file cell id); each query searches only its own
# cell. The cell equi-join replaces the cross join — the shuffle key is
# the cell id, bounded and uniform, which is the IVF scale story.
# ---------------------------------------------------------------------------
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", ["vec_id", "embedding", "label"])
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("cell"),
        S.as_double("embedding").alias("_q"),
    )
    c = emb.where(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("cell"),
        S.as_double("embedding").alias("_c"),
    )
    pairs = c.join(F.broadcast(q), "cell").select(
        "query_id",
        "neighbor_id",
        F.round(S.cosine(F.col("_q"), F.col("_c")), 6).alias("cosine"),
    )
    return S._topk_by_cosine(pairs, 5)


_IVF_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, label AS cell, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id AS neighbor_id, label AS cell, CAST(embedding AS DOUBLE[]) AS ce
  FROM embeddings WHERE vec_id >= 10
), pairs AS (
  SELECT q.query_id, c.neighbor_id,
    round(list_dot_product(q.qe, c.ce)
          / (sqrt(list_dot_product(q.qe, q.qe)) * sqrt(list_dot_product(c.ce, c.ce))),
          6) AS cosine
  FROM q JOIN c ON q.cell = c.cell
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS rk
  FROM pairs
)
SELECT query_id, neighbor_id, cosine, rk FROM ranked WHERE rk <= 5
"""


# ---------------------------------------------------------------------------
# Q: ann_recall_at_5 — the evaluation harness for the approximate
# path: per-query recall of the LSH top-5 against the brute-force
# top-5 ground truth (a left semi membership join on (query,
# neighbor)). This is the query you run before trusting an ANN config
# at scale — recall here is a property of the 4-plane toy config, and
# raising planes/bands trades it against probe cost.
# ---------------------------------------------------------------------------
def ann_recall_at_5(spark: SparkSession, sf_dir: str) -> DataFrame:
    brute = ann_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    approx = ann_lsh_topk(spark, sf_dir).select(
        F.col("query_id").alias("a_query_id"), F.col("neighbor_id").alias("a_neighbor_id")
    )
    hits = brute.join(
        F.broadcast(approx),
        (F.col("query_id") == F.col("a_query_id"))
        & (F.col("neighbor_id") == F.col("a_neighbor_id")),
        "left",
    )
    return hits.groupBy("query_id").agg(
        F.count("a_neighbor_id").alias("n_hits"),
        F.round(F.count("a_neighbor_id") / 5.0, 6).alias("recall_at_5"),
    )


_RECALL_SQL = f"""
WITH brute AS ({_COSINE_SQL}), approx AS ({_LSH_SQL})
SELECT b.query_id, count(a.neighbor_id) AS n_hits,
       round(count(a.neighbor_id) / 5.0, 6) AS recall_at_5
FROM brute b LEFT JOIN approx a
  ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
GROUP BY b.query_id
"""


# ---------------------------------------------------------------------------
# Q: kmeans_embeddings — iterative Lloyd's clustering, ORACLE-CHECKED:
# the operator's ``round_dp=6`` determinism knob pins the centroid
# trajectory (seeds = k lowest ids, 6-dp-rounded means and distances
# each iteration), so the DuckDB twin — the same recurrence unrolled as
# chained CTEs — lands on bit-identical assignments. Output: per-cluster
# size and inertia (sum of final squared distances, 2 dp).
# ---------------------------------------------------------------------------
KME_K = 8
KME_ITERS = 5


def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import cluster as C

    assigned = C.kmeans(_emb(spark, sf_dir), k=KME_K, iters=KME_ITERS, round_dp=6)
    return assigned.groupBy(F.col("cluster").cast("long").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.sum("dist2"), 2).alias("inertia"),
    )


# ---------------------------------------------------------------------------
# Q: ann_quantized_topk — int8 scalar-quantized cosine top-5 with the
# exact cosine beside it (fidelity audit of the 4×-smaller index)
# ---------------------------------------------------------------------------
def ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return S.quantized_topk(
        corpus=emb.where(F.col("vec_id") >= 10),
        queries=emb.where(F.col("vec_id") < 10),
        k=5,
    )


_QUANTIZED_SQL = """
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), s AS (
  SELECT max(list_max(list_transform(e, x -> abs(x)))) AS scale FROM vecs
), vq AS (
  SELECT vec_id, e, list_transform(e, x -> round(x / scale * 127)) AS qz
  FROM vecs, s
), q AS (
  SELECT vec_id AS query_id, e AS qe, qz AS qq FROM vq WHERE vec_id < 10
), c AS (
  SELECT vec_id AS neighbor_id, e AS ce, qz AS cq FROM vq WHERE vec_id >= 10
), pairs AS (
  SELECT query_id, neighbor_id,
    -- NULLIF: a vector quantizing to all-zero int8 (max|x| < scale/254)
    -- must yield NULL like Spark's null-divide, not IEEE NaN (which
    -- DuckDB would rank ABOVE every real cosine under DESC)
    round(list_dot_product(qq, cq)
          / NULLIF(sqrt(list_dot_product(qq, qq))
                   * sqrt(list_dot_product(cq, cq)), 0),
          6) AS cosine_q,
    round(list_dot_product(qe, ce)
          / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))),
          6) AS cosine_exact
  FROM q, c
), ranked AS (
  SELECT query_id, neighbor_id, cosine_q, cosine_exact,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine_q DESC, neighbor_id) AS rk
  FROM pairs
)
SELECT query_id, neighbor_id, cosine_q, cosine_exact, rk
FROM ranked WHERE rk <= 5
"""


# ---------------------------------------------------------------------------
# Q: dedup_semantic_cells — SemDeDup-style dedup: nearest-anchor cell
# assignment + within-cell cosine pairs on the planted-variant corpus.
# Anchors = the first 8 embeddings (deterministic stand-in for k-means
# centroids, which would make the query non-oracle-able).
# ---------------------------------------------------------------------------
N_ANCHORS = 8


def dedup_semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _neardup_corpus(spark, sf_dir)
    anchors = _emb(spark, sf_dir).where(F.col("vec_id") < N_ANCHORS)
    return S.semantic_cell_pairs(
        corpus, anchors, threshold=0.9, id_col="vec_id", vec_col="embedding"
    )


_SEMANTIC_CELLS_SQL = f"""
WITH {_NEARDUP_CORPUS_SQL},
anchors AS (
  SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS a
  FROM embeddings WHERE vec_id < {N_ANCHORS}
), scored AS (
  SELECT c.id, c.e, a.anchor_id,
    round(list_dot_product(c.e, a.a)
          / (sqrt(list_dot_product(c.e, c.e)) * sqrt(list_dot_product(a.a, a.a))),
          6) AS sim
  FROM corpus c, anchors a
), assigned AS (
  SELECT id, e, anchor_id AS cell FROM (
    SELECT id, e, anchor_id,
      row_number() OVER (PARTITION BY id ORDER BY sim DESC, anchor_id) AS rk
    FROM scored
  ) WHERE rk = 1
)
SELECT l.id AS id_a, r.id AS id_b, l.cell,
  round(list_dot_product(l.e, r.e)
        / (sqrt(list_dot_product(l.e, l.e)) * sqrt(list_dot_product(r.e, r.e))),
        6) AS cosine
FROM assigned l JOIN assigned r ON l.cell = r.cell AND l.id < r.id
WHERE round(list_dot_product(l.e, r.e)
      / (sqrt(list_dot_product(l.e, l.e)) * sqrt(list_dot_product(r.e, r.e))),
      6) >= 0.9
"""


# ---------------------------------------------------------------------------
# Q: dedup_semantic_keep — the APPLY step for embedding-space dedup,
# mirroring dedup_keep_canonical on the text side: SemDeDup cell pairs
# → connected components → keep the min-id representative per cluster.
# Output = the surviving vector set with each survivor's cluster size.
# ---------------------------------------------------------------------------
def dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import connected_components

    pairs = dedup_semantic_cells(spark, sf_dir).select("id_a", "id_b")
    nodes = _neardup_corpus(spark, sf_dir).select(F.col("vec_id").alias("id"))
    labels = connected_components(nodes, pairs)
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labels.where(F.col("id") == F.col("cluster_id"))
        .join(sizes, "cluster_id")
        .select(
            F.col("id").alias("vec_id"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
        )
    )


_SEMANTIC_KEEP_SQL = f"""
WITH RECURSIVE pairs AS ({_SEMANTIC_CELLS_SQL}),
nodes AS (
  WITH {_NEARDUP_CORPUS_SQL}
  SELECT id FROM corpus
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(id, lbl) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.src, r.lbl FROM reach r JOIN edges e ON e.dst = r.id
),
labels AS (
  SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id
),
csizes AS (
  SELECT cluster_id, count(*) AS n FROM labels GROUP BY cluster_id
)
SELECT l.id AS vec_id, CAST(s.n AS BIGINT) AS cluster_size
FROM labels l JOIN csizes s ON l.cluster_id = s.cluster_id
WHERE l.id = l.cluster_id
"""


# ---------------------------------------------------------------------------
# Q: kmeans_fixed_assign — Lloyd's k-means made ORACLE-CHECKABLE: a
# fixed iteration count (2), deterministic seeds (the k lowest ids),
# and centroids rounded to 6 dp after every update, so both engines
# walk the identical centroid trajectory and the final per-vector
# assignment matches bit-for-bit. (The free-running kmeans_embeddings
# stays rows-only; this query pins the algorithm itself against SQL.)
# Distances are compared rounded with a lowest-cluster tiebreak.
# ---------------------------------------------------------------------------
KM_K = 4
KM_ITERS = 2


def kmeans_fixed_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cluster import _dist2

    vecs = persist_tracked(
        _emb(spark, sf_dir).select("vec_id", S.as_double("embedding").alias("e"))
    )
    seeds = vecs.orderBy("vec_id").limit(KM_K).collect()
    cents = [list(map(float, r.e)) for r in seeds]

    def assign(cents) -> DataFrame:
        dists = F.array(
            *[F.round(_dist2(F.col("e"), c), 6) for c in cents]
        )
        best = (F.array_position(dists, F.array_min(dists)) - 1).cast("long")
        return vecs.select("vec_id", best.alias("cluster"))

    for _ in range(KM_ITERS):
        # NOTE (r13 optimization round): inlining the assignment
        # expression into the posexplode projection (to drop this 1:1
        # self-join) was tried and REVERTED — under GenerateExec the
        # k× aggregate(zip_with(...)) distance expression is
        # re-evaluated per exploded element (dim× blow-up; measured
        # 7.6× slower end-to-end). The join keeps the expensive
        # expression evaluated once per vector.
        assigned = assign(cents)
        rows = (
            assigned.join(vecs, "vec_id")
            .select("cluster", F.posexplode("e").alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg("val"), 6).alias("m"))
            .collect()  # k×dim floats — metadata-sized, as in cluster.py
        )
        new = [list(c) for c in cents]
        for r in rows:
            new[r.cluster][r.pos] = r.m
        cents = new
    return assign(cents)


def _kmeans_fixed_sql(
    k: int = KM_K, dim: int = DIM, iters: int = KM_ITERS, agg: bool = False
) -> str:
    """Unrolled-CTE DuckDB twin of the rounded-trajectory Lloyd's
    recurrence (``cluster.kmeans(round_dp=6)``): c0 = k lowest-id
    embeddings, then iters × (assign by rounded distance with lowest-cid
    tiebreak → 6-dp-rounded per-dimension means). ``agg=True`` returns
    the per-cluster (n_points, inertia) summary instead of the raw
    assignment — the ``kmeans_embeddings`` output shape."""

    def assign(ci: str, ai: str) -> str:
        return f"""{ai} AS (
  SELECT vec_id, cid, d AS dist2 FROM (
    SELECT v.vec_id, c.cid,
      round(list_aggregate(list_transform(generate_series(1, {dim}),
            i -> (v.e[i] - c.c[i]) * (v.e[i] - c.c[i])), 'sum'), 6) AS d,
      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        round(list_aggregate(list_transform(generate_series(1, {dim}),
              i -> (v.e[i] - c.c[i]) * (v.e[i] - c.c[i])), 'sum'), 6),
        c.cid) AS rk
    FROM vecs v, {ci} c
  ) WHERE rk = 1
)"""

    parts = [
        "vecs AS (\n  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings\n)",
        f"""c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS c
  FROM (SELECT * FROM vecs ORDER BY vec_id LIMIT {k})
)""",
    ]
    for it in range(iters):
        parts.append(assign(f"c{it}", f"a{it}"))
        parts.append(f"""m{it} AS (
  SELECT a.cid, g.i AS pos, round(avg(v.e[g.i]), 6) AS m
  FROM a{it} a JOIN vecs v USING (vec_id), generate_series(1, {dim}) g(i)
  GROUP BY a.cid, g.i
)""")
        parts.append(f"""c{it + 1} AS (
  SELECT c{it}.cid, coalesce(u.c, c{it}.c) AS c
  FROM c{it} LEFT JOIN
    (SELECT cid, list(m ORDER BY pos) AS c FROM m{it} GROUP BY cid) u
    ON c{it}.cid = u.cid
)""")
    parts.append(assign(f"c{iters}", "afinal"))
    final = (
        "SELECT CAST(cid AS BIGINT) AS cluster, count(*) AS n_points,\n"
        "  round(sum(dist2), 2) AS inertia\nFROM afinal GROUP BY cid"
        if agg
        else "SELECT vec_id, CAST(cid AS BIGINT) AS cluster FROM afinal"
    )
    return "WITH " + ",\n".join(parts) + "\n" + final


# ---------------------------------------------------------------------------
# Q: cluster_balanced_sample — diversity sampling: cap each k-means
# cluster at a fixed quota, picking members by a deterministic hash
# order (so the subset is reproducible). This is the cluster-balanced
# selection step of curation pipelines that down-weight redundant
# regions of embedding space; composed on the oracle-checked
# fixed-iteration k-means, the whole selection is oracle-checked too.
# ---------------------------------------------------------------------------
SAMPLE_PER_CLUSTER = 25


def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    assigned = kmeans_fixed_assign(spark, sf_dir)
    pick = F.md5(F.col("vec_id").cast("string"))
    w = Window.partitionBy("cluster").orderBy(pick.asc(), F.col("vec_id").asc())
    return (
        assigned.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= SAMPLE_PER_CLUSTER)
        .select("vec_id", "cluster", F.col("rk").cast("long").alias("rk"))
    )


_BALANCED_SAMPLE_SQL = f"""
WITH km AS ({_kmeans_fixed_sql()})
SELECT vec_id, cluster, rk FROM (
  SELECT vec_id, cluster,
    row_number() OVER (PARTITION BY cluster
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
  FROM km
) WHERE rk <= {SAMPLE_PER_CLUSTER}
"""


# ---------------------------------------------------------------------------
# Q: ann_label_agreement — embedding-quality eval: for each query
# vector, what fraction of its top-5 cosine neighbors share its label?
# The kNN label-agreement metric used to sanity-check an embedding
# space before spending a training run on it (high agreement ⇒ the
# metric structure respects the labels). Composes the checked
# cosine_topk with two label joins — the query-side join broadcasts (10
# rows), the neighbor-side join is an equi-join on the top-k output
# (|queries|·k rows), so the whole metric adds no scan of the corpus
# beyond cosine_topk's own.
# ---------------------------------------------------------------------------
def ann_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", ["vec_id", "embedding", "label"])
    topk = S.cosine_topk(
        corpus=emb.where(F.col("vec_id") >= 10),
        queries=emb.where(F.col("vec_id") < 10),
        k=5,
    )
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("_ql")
    )
    n = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("_nl")
    )
    same = (F.col("_nl") == F.col("_ql")).cast("int")
    return (
        topk.join(F.broadcast(q), "query_id")
        .join(n, "neighbor_id")
        .groupBy("query_id", F.col("_ql").cast("long").alias("label"))
        .agg(
            F.sum(same).alias("n_same"),
            F.round(F.avg(same), 6).alias("agree_frac"),
        )
    )


_LABEL_AGREEMENT_SQL = """
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label FROM embeddings
), q AS (
  SELECT vec_id AS query_id, e AS qe, label AS ql FROM vecs WHERE vec_id < 10
), c AS (
  SELECT vec_id AS neighbor_id, e AS ce, label AS nl FROM vecs
  WHERE vec_id >= 10
), pairs AS (
  SELECT query_id, neighbor_id, ql, nl,
    round(list_dot_product(qe, ce)
          / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))),
          6) AS cosine
  FROM q, c
), ranked AS (
  SELECT query_id, ql, nl,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS rk
  FROM pairs
)
SELECT query_id, CAST(ql AS BIGINT) AS label,
  CAST(sum(CASE WHEN nl = ql THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
  round(avg(CASE WHEN nl = ql THEN 1.0 ELSE 0.0 END), 6) AS agree_frac
FROM ranked WHERE rk <= 5
GROUP BY query_id, ql
"""


# ---------------------------------------------------------------------------
# Q: decontaminate_semantic — embedding-space benchmark decontamination:
# flag corpus vectors whose nearest eval-set vector exceeds a cosine
# threshold. Complements the n-gram `corpus_decontaminate` (exact
# phrase overlap): paraphrased eval leakage shares no 5-gram but sits
# next to the eval item in embedding space. Scale shape = the ANN
# broadcast pattern: the eval set is benchmark-sized (tiny), so the
# check is one corpus scan against broadcast eval vectors — never a
# corpus×corpus join. Output: flagged (vec_id, eval_id, cosine).
# ---------------------------------------------------------------------------
DECONTAM_COS = 0.9


def decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # planted-variant corpus: every 25th vector gets a +0.01 near-copy,
    # so the variant of eval vector 0 IS a semantic contamination of the
    # eval set (cosine ≈ 1) — the positive case the gate must flag.
    #
    # The gate is keyed by CORPUS vector: every corpus vector whose
    # nearest EVAL vector clears the threshold is flagged (reported
    # with that eval id). Ranking per eval vector instead would cap the
    # flags at |eval set| and let second-nearest contaminations ship —
    # the inversion a round-7 review caught in the previous version.
    # Scale shape: the EVAL set is the small side — broadcast it, scan
    # the corpus once, one per-corpus-key window (at 100 TB the corpus
    # must never be the broadcast side of anything).
    from pyspark.sql import Window

    emb = _emb(spark, sf_dir)
    corpus = _neardup_corpus(spark, sf_dir).where(F.col("vec_id") >= 10)
    evalv = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").alias("qe"),
    )
    pairs = corpus.crossJoin(F.broadcast(evalv)).select(
        "vec_id",
        "eval_id",
        F.round(S.cosine(F.col("embedding"), F.col("qe")), 6).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cosine"), F.asc("eval_id")
    )
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .where((F.col("rk") == 1) & (F.col("cosine") >= DECONTAM_COS))
        .select("vec_id", "eval_id", "cosine")
    )


_DECONTAM_SEMANTIC_SQL = f"""
WITH {_NEARDUP_CORPUS_SQL},
q AS (
  SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT id AS vec_id, e AS ce FROM corpus WHERE id >= 10
), pairs AS (
  SELECT q.eval_id, c.vec_id,
    round(list_dot_product(qe, ce)
          / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(ce, ce))),
          6) AS cosine
  FROM q, c
), ranked AS (
  SELECT eval_id, vec_id, cosine,
    row_number() OVER (PARTITION BY vec_id
                       ORDER BY cosine DESC, eval_id) AS rk
  FROM pairs
)
SELECT vec_id, eval_id, cosine FROM ranked
WHERE rk = 1 AND cosine >= {DECONTAM_COS}
"""


QUERIES = {
    "ann_cosine_topk": ann_cosine_topk,
    "ann_lsh_topk": ann_lsh_topk,
    "ann_ivf_topk": ann_ivf_topk,
    "ann_lsh_banded_topk": ann_lsh_banded_topk,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "ann_recall_at_5": ann_recall_at_5,
    "kmeans_embeddings": kmeans_embeddings,
    "ann_quantized_topk": ann_quantized_topk,
    "dedup_semantic_cells": dedup_semantic_cells,
    "kmeans_fixed_assign": kmeans_fixed_assign,
    "dedup_semantic_keep": dedup_semantic_keep,
    "cluster_balanced_sample": cluster_balanced_sample,
    "ann_label_agreement": ann_label_agreement,
    "decontaminate_semantic": decontaminate_semantic,
}

ORACLE_SQL = {
    "kmeans_embeddings": _kmeans_fixed_sql(k=KME_K, iters=KME_ITERS, agg=True),
    "ann_cosine_topk": _COSINE_SQL,
    "ann_lsh_topk": _LSH_SQL,
    "ann_ivf_topk": _IVF_SQL,
    "ann_lsh_banded_topk": _LSH_BANDED_SQL,
    "dedup_embedding_cosine": _NEARDUP_SQL,
    "ann_recall_at_5": _RECALL_SQL,
    "ann_quantized_topk": _QUANTIZED_SQL,
    "dedup_semantic_cells": _SEMANTIC_CELLS_SQL,
    "kmeans_fixed_assign": _kmeans_fixed_sql(),
    "dedup_semantic_keep": _SEMANTIC_KEEP_SQL,
    "cluster_balanced_sample": _BALANCED_SAMPLE_SQL,
    "ann_label_agreement": _LABEL_AGREEMENT_SQL,
    "decontaminate_semantic": _DECONTAM_SEMANTIC_SQL,
}
