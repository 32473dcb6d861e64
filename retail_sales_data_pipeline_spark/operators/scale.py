"""Scale toolkit: skew salting and bucketed co-located joins.

These are the manual levers for the cases AQE cannot fix alone at
100 TB (SURVEY.md §7.3 "AQE skew-join handling for the 100 TB goal"):

- :func:`salted_grouped_sum` — two-phase aggregation through a salt for
  *hot grouping keys*. Spark's hash aggregate already does map-side
  partial aggregation for algebraic functions, so plain sums rarely
  need this; the salt matters when the per-key state is heavy
  (collect_list/distinct-style) or when one reduce key would otherwise
  receive a large fraction of all rows.
- :func:`salted_skew_join` — the classic replicate-and-salt equi-join:
  the skewed (large) side gets a random salt in [0, n); the small side
  is replicated n times with every salt value, restoring correctness.
  AQE's skewJoin split handles sort-merge cases adaptively; the manual
  form remains necessary for deliberate layouts and for joins AQE
  can't split (e.g. under bucketing constraints).
- :func:`write_bucketed` / :func:`bucketed_join_ready` — persist both
  sides of a recurring fact-fact join bucketed by the join key so the
  join runs shuffle-free (each bucket pair joins locally). On a
  cluster this is THE lever that turns the repeated 100 TB
  lineitem⋈orders exchange into a zero-exchange sort-merge join.

Correctness notes: salting a SUM in exact decimal is exactly
associative, so salted results are bit-identical to unsalted (proved in
tests). The salt is ``pmod(hash(salt columns), n)`` — deterministic,
uniform, and engine-independent — when the caller provides salt
columns; ``salted_skew_join`` without ``salt_cols`` falls back to a
uniform but partition-layout-dependent salt (documented on the
function).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.column import Column


def salted_grouped_sum(
    df: DataFrame,
    group_cols: list[str],
    measure: Column,
    total_alias: str,
    salt_cols: list[str],
    buckets: int = 16,
) -> DataFrame:
    """Two-phase grouped sum: partial per (keys, salt), final per keys.

    ``salt_cols`` should identify rows roughly uniquely (any high-
    cardinality columns); the salt is a deterministic hash bucket so
    reruns produce identical partials.
    """
    salt = F.pmod(F.hash(*[F.col(c) for c in salt_cols]), F.lit(buckets)).alias("_salt")
    partial = (
        df.select(*group_cols, salt, measure.alias("_m"))
        .groupBy(*group_cols, "_salt")
        .agg(F.sum("_m").alias("_partial"))
    )
    return partial.groupBy(*group_cols).agg(F.sum("_partial").alias(total_alias))


def salted_skew_join(
    large: DataFrame,
    small: DataFrame,
    on: tuple[str, str],
    buckets: int = 8,
    how: str = "inner",
    salt_cols: list[str] | None = None,
    advice: dict | None = None,
) -> DataFrame:
    """Skew-resistant equi-join: salt the large side, replicate the
    small side across all salt values, join on (key, salt).

    Pass ``advice`` (an :func:`..profile.advise` result for the LARGE
    side) to size ``buckets`` from measured skew instead of the
    default: the advised per-column salt factor for the join key wins
    when present (profile → advise → lever, end-to-end; see
    tests/test_profile.py).

    Pass ``salt_cols`` (high-cardinality columns of the large side) for
    a deterministic ``pmod(hash(salt_cols), buckets)`` salt; without
    them the salt falls back to hashing
    ``monotonically_increasing_id()``, which is partition-layout-
    dependent — correct (any uniform salt is), but reruns spread rows
    differently.

    Only ``inner`` and ``left`` joins are supported: under right/full
    outer, an unmatched small-side row would surface once per salt
    replica instead of once.

    Output columns = large ∪ small (minus the small side's join key),
    same as a plain join.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_skew_join supports inner/left joins, got how={how!r}: "
            "the replicated small side would duplicate unmatched rows "
            "under right/full outer"
        )
    lk, sk = on
    if "_salt" in large.columns or "_salt" in small.columns:
        # withColumn would silently clobber it and the post-join drops
        # would silently remove it — refuse instead of losing data
        raise ValueError(
            "salted_skew_join reserves the column name '_salt'; rename it"
        )
    if advice is not None and lk in advice.get("salt", {}):
        buckets = advice["salt"][lk]
    salt_src = (
        F.hash(*[F.col(c) for c in salt_cols])
        if salt_cols
        else F.hash(F.monotonically_increasing_id())
    )
    l_salted = large.withColumn("_salt", F.pmod(salt_src, F.lit(buckets)))
    s_replicated = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    )
    joined = l_salted.join(
        s_replicated,
        (l_salted[lk] == s_replicated[sk]) & (l_salted["_salt"] == s_replicated["_salt"]),
        how,
    )
    # frame-qualified drops disambiguate even when the key names match
    return (
        joined.drop(s_replicated["_salt"])
        .drop(l_salted["_salt"])
        .drop(s_replicated[sk])
    )


def zorder_key(cols: list[Column], bits: int = 16) -> Column:
    """Z-curve (Morton) interleaving of the low ``bits`` bits of each
    column — the multi-dimension layout lever that partitioning and
    bucketing don't cover.

    Sorting a table by ``zorder_key([a, b])`` before writing clusters
    rows so that parquet row-group min/max statistics stay selective on
    BOTH ``a`` and ``b``: a filter on either column skips most row
    groups, where a plain ``sortBy(a)`` layout leaves ``b`` scattered
    across every file. This is the same layout idea behind
    OPTIMIZE ... ZORDER BY in lakehouse table formats, expressed as a
    plain sort key with JVM bitwise expressions (no UDF, fully
    codegen'd).

    Columns must be non-negative integers (pre-bucket floats or hash
    strings first); values are truncated to ``bits`` bits. Key width =
    ``bits × len(cols)`` ≤ 63.
    """
    if bits * len(cols) > 63:
        raise ValueError(f"z-key would need {bits * len(cols)} bits (max 63)")
    out = F.lit(0).cast("long")
    for b in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1))
            out = out.bitwiseOR(F.shiftleft(bit, b * len(cols) + j))
    return out


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) table.

    Both sides of a recurring join written with the SAME bucket count
    and key join with zero exchanges (and zero sort if sorted).
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table)


def bucketed_join_ready(spark: SparkSession, left: str, right: str, key: tuple[str, str]) -> DataFrame:
    """Join two same-bucketed catalog tables on their bucket keys —
    shuffle-free when bucket specs line up."""
    lt, rt = spark.table(left), spark.table(right)
    lk, rk = key
    return lt.join(rt, lt[lk] == rt[rk])
