"""Unit tests for vector similarity operators."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from retail_sales_data_pipeline_spark.operators import similarity as S


@pytest.fixture(scope="module")
def sf_oracle(sf_dir):
    """The sf0.01 fixture (beside the default one) the oracle checks use."""
    return os.path.join(os.path.dirname(sf_dir), "sf0.01")


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
        (4, [2.0, 0.0, 0.0, 0.0]),   # same direction as 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_values(spark, vecs):
    out = S.cosine_topk(
        corpus=vecs.where(F.col("vec_id") > 0),
        queries=vecs.where(F.col("vec_id") == 0),
        k=4,
    ).collect()
    by_n = {r.neighbor_id: r for r in out}
    assert by_n[4].cosine == 1.0                       # same direction
    assert by_n[4].rk == 1
    assert by_n[1].cosine == pytest.approx(0.9 / math.sqrt(0.82), abs=1e-6)
    assert by_n[2].cosine == 0.0
    assert by_n[3].cosine == -1.0
    assert by_n[3].rk == 4


def test_topk_limits_rows(spark, vecs):
    out = S.cosine_topk(
        corpus=vecs.where(F.col("vec_id") > 0),
        queries=vecs.where(F.col("vec_id") == 0),
        k=2,
    )
    assert out.count() == 2


def test_lsh_subset_of_exact(spark, vecs):
    weights = S.plane_weights(2, 4)
    queries = vecs.where(F.col("vec_id") == 0)
    corpus = vecs.where(F.col("vec_id") > 0)
    exact = {(r.query_id, r.neighbor_id) for r in
             S.cosine_topk(corpus, queries, k=4).collect()}
    approx = {(r.query_id, r.neighbor_id) for r in
              S.lsh_ann_topk(corpus, queries, weights, k=4).collect()}
    assert approx <= exact
    # the same-direction vector projects identically -> always co-bucketed
    assert (0, 4) in approx


def _oracle_prefix(sql: str, next_cte: str) -> str:
    """The oracle SQL's CTEs up to (not including) ``next_cte``."""
    return sql[: sql.index(f"), {next_cte} AS (")]


def test_plane_weights_match_oracle_planes():
    """The driver-side weights are the DuckDB oracle's ``planes`` CTE
    bit for bit (16 planes x 64 dims), lie in [-0.5, 0.5) and are
    deterministic."""
    import duckdb
    import numpy as np

    from retail_sales_data_pipeline_spark.plans.vector_ops import (
        _LSH_BANDED_SQL,
    )

    sql = _oracle_prefix(_LSH_BANDED_SQL, "vecs") + ") SELECT p, d, w FROM planes"
    want = np.zeros((16, 64))
    for p, d, w in duckdb.sql(sql).fetchall():
        want[p, d] = w
    got = S.plane_weights(16, 64)
    assert got.shape == (16, 64)
    assert got.tobytes() == want.tobytes()
    assert ((got >= -0.5) & (got < 0.5)).all()
    assert S.plane_weights(16, 64).tobytes() == got.tobytes()
    small = S.plane_weights(2, 3)
    assert len(set(small.ravel())) == 6  # md5 spread: no accidental repeats


def test_cosine_topk_null_embedding_ranks_last(spark):
    """A NULL corpus vector is a NULL-cosine candidate ranked last, and
    a NULL query vector gets NULL cosines for every neighbor."""
    rows = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (9, None)],
        "vec_id long, embedding array<double>",
    )
    null_query = spark.createDataFrame([(7, None)], rows.schema)
    corpus_only = S.cosine_topk(
        rows.where(F.col("vec_id") > 0), rows.where(F.col("vec_id") == 0), k=5
    )
    assert sorted(map(tuple, corpus_only.collect())) == [
        (0, 1, 0.993884, 1), (0, 9, None, 2),
    ]
    queries = rows.where(F.col("vec_id") == 0).unionByName(null_query)
    both = S.cosine_topk(rows, queries, k=3)
    assert sorted(map(tuple, both.collect())) == [
        (0, 0, 1.0, 1), (0, 1, 0.993884, 2), (0, 9, None, 3),
        (7, 0, None, 1), (7, 1, None, 2), (7, 9, None, 3),
    ]


def test_neardup_pairs(spark, vecs):
    pairs = {(r.id_a, r.id_b): r.cosine for r in
             S.cosine_neardup_pairs(vecs, threshold=0.95).collect()}
    assert pairs[(0, 4)] == 1.0
    assert (0, 2) not in pairs and (0, 3) not in pairs
    assert (0, 1) in pairs  # cos ≈ 0.9939


def test_neardup_lsh_subset_and_recall(spark, vecs):
    """LSH co-bucket near-dup pairs are a subset of brute force, and the
    always-co-bucketed pair (identical direction) is never missed."""
    weights = S.plane_weights(2, 4)
    brute = {(r.id_a, r.id_b) for r in
             S.cosine_neardup_pairs(vecs, threshold=0.95).collect()}
    lsh = {(r.id_a, r.id_b) for r in
           S.cosine_neardup_pairs_lsh(vecs, weights, threshold=0.95).collect()}
    assert lsh <= brute
    assert (0, 4) in lsh  # same direction -> identical projections


def test_neardup_lsh_values_match_brute(spark, vecs):
    """Where a pair survives bucketing, its cosine equals brute force."""
    weights = S.plane_weights(2, 4)
    brute = {(r.id_a, r.id_b): r.cosine for r in
             S.cosine_neardup_pairs(vecs, threshold=0.95).collect()}
    for r in S.cosine_neardup_pairs_lsh(vecs, weights, threshold=0.95).collect():
        assert brute[(r.id_a, r.id_b)] == r.cosine


def test_neardup_lsh_plan_has_no_cartesian(spark, vecs):
    weights = S.plane_weights(2, 4)
    plan = S.cosine_neardup_pairs_lsh(vecs, weights, threshold=0.9)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_neardup_banded_recall_beats_flat(spark):
    """Banding (OR across bands) recovers pairs a single flat bucket
    misses, while staying a subset of brute force."""
    import random

    rng = random.Random(7)
    base = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(30)]
    rows = [(i, v) for i, v in enumerate(base)]
    # planted near-dups: tiny perturbation of each 3rd vector
    rows += [(100 + i, [x + 0.01 for x in base[i]]) for i in range(0, 30, 3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    weights = S.plane_weights(16, 16)
    brute = {(r.id_a, r.id_b) for r in
             S.cosine_neardup_pairs(df, threshold=0.99).collect()}
    flat = {(r.id_a, r.id_b) for r in
            S.cosine_neardup_pairs_lsh(df, weights, threshold=0.99).collect()}
    banded = {(r.id_a, r.id_b) for r in
              S.cosine_neardup_pairs_lsh(df, weights, threshold=0.99,
                                         planes_per_band=4).collect()}
    assert banded <= brute and flat <= brute
    assert len(banded) >= len(flat)  # OR-across-bands only adds recall
    planted = {(i, 100 + i) for i in range(0, 30, 3)} & brute
    assert planted <= banded  # near-identical pairs survive banding


def test_quantized_topk_fidelity(spark, vecs):
    out = S.quantized_topk(
        corpus=vecs.where(F.col("vec_id") > 0),
        queries=vecs.where(F.col("vec_id") == 0),
        k=4,
    ).collect()
    assert len(out) == 4
    by_rank = sorted(out, key=lambda r: r.rk)
    # same direction (id 4) must stay rank 1 even after quantization
    assert by_rank[0].neighbor_id == 4 and by_rank[0].cosine_q == 1.0
    # int8 quantization of 4-dim unit-ish vectors stays close to exact
    assert all(abs(r.cosine_q - r.cosine_exact) < 0.02 for r in out)


def test_quantize_int8_range(spark, vecs):
    both = vecs.select(S.as_double("embedding").alias("e"))
    scale = both.agg(F.max(F.array_max(F.transform("e", F.abs))).alias("s"))
    q = (
        both.crossJoin(scale)
        .select(S.quantize_int8(F.col("e"), F.col("s")).alias("q"))
        .select(F.explode("q").alias("v"))
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .first()
    )
    assert -127 <= q.lo and q.hi <= 127


def test_semantic_cells_recall_and_precision(spark):
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
    from retail_sales_data_pipeline_spark.plans.vector_ops import (
        _neardup_corpus,
        dedup_semantic_cells,
    )

    corpus = _neardup_corpus(spark, sf_dir)
    truth = {
        (r.id_a, r.id_b)
        for r in S.cosine_neardup_pairs(corpus, threshold=0.9).collect()
    }
    got_rows = dedup_semantic_cells(spark, sf_dir).collect()
    got = {(r.id_a, r.id_b) for r in got_rows}
    # precision: every emitted pair is a true near-dup pair
    assert got <= truth
    # recall: cell partitioning may split pairs across cells, but most
    # planted variants land with their original
    assert len(got) >= 0.7 * len(truth) > 0
    assert all(r.cosine >= 0.9 for r in got_rows)


def test_banded_ann_recall_beats_single_table(spark, sf_dir):
    """Multi-table (band-OR) ANN recovers at least the recall of the
    single-table variant on the fixture embeddings — the AND/OR S-curve
    argument, checked against the exact top-5."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = emb.where(F.col("vec_id") >= 10)
    queries = emb.where(F.col("vec_id") < 10)
    exact: dict[int, set] = {}
    for r in S.cosine_topk(corpus, queries, k=5).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(df):
        got: dict[int, set] = {}
        for r in df.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(
            len(exact[q] & got.get(q, set())) / len(exact[q]) for q in exact
        ) / len(exact)

    flat = S.lsh_ann_topk(
        corpus, queries, S.plane_weights(4, 64), k=5
    )
    banded = S.lsh_ann_topk(
        corpus, queries, S.plane_weights(16, 64), planes_per_band=4, k=5
    )
    r_flat, r_banded = recall(flat), recall(banded)
    assert r_banded >= r_flat
    assert r_banded >= 0.5  # OR over 4 tables must recover real recall
    # candidates stay a subset of the exact ranking's universe: the
    # output schema and rank tie-break match the single-table variant
    assert banded.columns == flat.columns


def test_arrow_band_buckets_validate_grid(spark, vecs):
    """A plane count that does not divide into bands of
    ``planes_per_band`` raises up front instead of silently dropping
    the remainder planes."""
    with pytest.raises(ValueError, match="not divisible"):
        S.lsh_bucket_keys(vecs, S.plane_weights(6, 4), planes_per_band=4)


@pytest.mark.parametrize(
    "sql_name,planes_per_band", [("_LSH_SQL", None), ("_LSH_BANDED_SQL", 4)]
)
def test_bucket_keys_match_oracle_buckets(spark, sf_oracle, sql_name, planes_per_band):
    """The bucket stage's ``(id, band, bucket)`` rows equal the oracle
    SQL's ``buckets`` CTE on the sf0.01 embeddings — one band of 4
    planes (ann_lsh_topk) and 4 bands x 4 planes (ann_lsh_banded_topk)."""
    import duckdb

    from retail_sales_data_pipeline_spark.plans import vector_ops as V

    sql = getattr(V, sql_name)
    n_planes = V.NUM_PLANES if planes_per_band is None else 16
    band = "0" if planes_per_band is None else "band"
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf_oracle}/embeddings.parquet')"
    )
    want = sorted(
        con.sql(
            _oracle_prefix(sql, "cand")
            + f") SELECT vec_id, {band}, bucket FROM buckets"
        ).fetchall()
    )
    con.close()
    emb = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    got = sorted(
        map(
            tuple,
            S.lsh_bucket_keys(
                emb, S.plane_weights(n_planes, V.DIM), planes_per_band
            ).collect(),
        )
    )
    assert len(got) == len(want) > 0
    assert got == want


def test_null_embedding_is_never_a_candidate(spark, vecs):
    """A NULL vector gets no bucket rows, so every LSH path skips it
    instead of failing on a ragged numpy batch."""
    null_row = spark.createDataFrame(
        [(9, None)], "vec_id long, embedding array<float>"
    )
    corpus = vecs.where(F.col("vec_id") > 0).unionByName(null_row)
    queries = vecs.where(F.col("vec_id") == 0)
    keys = S.lsh_bucket_keys(corpus, S.plane_weights(4, 4), 2).collect()
    assert {r.id for r in keys} == {1, 2, 3, 4}
    banded = S.lsh_ann_topk(
        corpus, queries, S.plane_weights(4, 4), k=5, planes_per_band=2
    ).collect()
    pairs = S.cosine_neardup_pairs_lsh(
        corpus.unionByName(queries), S.plane_weights(4, 4), threshold=0.5,
        planes_per_band=2,
    ).collect()
    assert (0, 4) in {(r.query_id, r.neighbor_id) for r in banded}
    assert 9 not in {r.neighbor_id for r in banded}
    assert (0, 4) in {(r.id_a, r.id_b) for r in pairs}
    assert all(9 not in (r.id_a, r.id_b) for r in pairs)


@pytest.mark.parametrize(
    "name",
    ["ann_lsh_topk", "ann_lsh_banded_topk", "dedup_embedding_cosine"],
)
def test_query_build_launches_no_jobs(spark, sf_dir, name):
    """Constructing an LSH query launches ZERO Spark jobs: the plane
    weights are computed on the driver. Jobs are counted under a job
    group through the status tracker, so every action path counts."""
    from retail_sales_data_pipeline_spark.plans.vector_ops import QUERIES
    from retail_sales_data_pipeline_spark.sources.tables import dataset_schema

    fn = QUERIES[name]
    # the table's schema is inferred (one job) on its first read in a
    # process and cached after; warm it so test order cannot matter
    dataset_schema(spark, f"{sf_dir}/embeddings.parquet")
    sc = spark.sparkContext
    group = f"build-{name}"
    sc.setJobGroup(group, "query construction")
    try:
        df = fn(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert df.count() > 0


def test_parquet_row_count_matches_spark(spark, sf_dir):
    from retail_sales_data_pipeline_spark.operators.profile import (
        parquet_row_count,
    )

    path = f"{sf_dir}/embeddings.parquet"
    assert parquet_row_count(path) == spark.read.parquet(path).count()
