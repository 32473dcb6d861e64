"""Mart derivations: windowed sums, rank, incentive (SURVEY.md §2.7).

The reference's aggregation idiom is a *window sum over the group keys
followed by ``distinct()``* — a grouped sum that also carries every
grouped-constant attribute
(reference: src/main/transformations/jobs/customer_mart_sql_tranform_write.py:10-19,
sales_mart_sql_transform_write.py:9-16). That idiom is preserved here
verbatim because it is observable: if a "grouped-constant" attribute
actually varies within a group, the reference emits one row per distinct
attribute combination, each showing the whole group's total. A
``groupBy`` over the keys alone would emit one row; one over the keys
and the attributes keeps every combination but gives each its own
total.

Scale note: both forms hash-shuffle on the group keys, but not the
same rows. The window form sends every input row, with all its carried
columns, through the exchange and then sorts each partition by the
keys before summing; ``distinct()`` adds an aggregate over all columns
on top. :func:`grouped_sum` runs a map-side partial aggregate first, so
its one exchange carries partial sums at the output grain, and it never
sorts. The paper pipeline's marts (``pipeline.derive_*``) use
:func:`grouped_sum`; the window form stays for the registry's
reference-pinned plans. The test suite proves the two equivalent when
the carried attributes are constant per group. AQE handles skewed keys
(skewJoin + partition coalescing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.column import Column

from ..functions.scalars import incentive, money


def window_sum_distinct(
    df: DataFrame,
    partition_cols: list[str],
    measure: Column,
    total_alias: str,
    keep_cols: list[str] | None = None,
    round_money: bool = True,
) -> DataFrame:
    """Reference idiom A1/A2 + A3: windowed SUM then ``distinct()``.

    ``measure`` should already be an exact-decimal expression (see
    ``functions.scalars``); the summed total is edge-cast with
    :func:`money` so oracle hashes are stable.
    """
    w = Window.partitionBy(*partition_cols)
    total = F.sum(measure).over(w)
    total = money(total) if round_money else total
    keep = keep_cols if keep_cols is not None else []
    cols = [*partition_cols, *[c for c in keep if c not in partition_cols]]
    return df.select(*cols, total.alias(total_alias)).distinct()


def grouped_sum(
    df: DataFrame,
    group_cols: list[str],
    measure: Column,
    total_alias: str,
    round_money: bool = True,
) -> DataFrame:
    """The ``groupBy().agg(sum)`` form of :func:`window_sum_distinct`,
    with the same :func:`money` rounding chain.

    Identical results when every non-key column is dropped (proved in
    tests); cheaper at scale: a map-side partial aggregate below one
    exchange, and no sort. ``pipeline.derive_customer_mart`` and
    ``pipeline.derive_sales_mart`` build the paper's marts with it,
    carrying their attributes as group columns.
    """
    total = F.sum(measure)
    total = money(total) if round_money else total
    return df.groupBy(*group_cols).agg(total.alias(total_alias))


def merge_grouped_sums(
    existing: DataFrame,
    delta: DataFrame,
    group_cols: list[str],
    total_col: str,
    round_money: bool = True,
) -> DataFrame:
    """Incremental mart maintenance: combine an existing grouped-sum
    mart with a new batch's grouped sums — union + re-sum on the group
    keys, never a recompute of history.

    At 100 TB the daily delta is a fraction of the accumulated fact
    history; incremental maintenance turns the daily mart refresh from
    O(history) into O(delta + |mart|). Requires the additive (grouped)
    mart form; totals must still be exact decimals for associativity
    (proved equivalent to full recompute in tests).
    """
    unioned = existing.select(*group_cols, total_col).unionByName(
        delta.select(*group_cols, total_col)
    )
    total = F.sum(F.col(total_col).cast("decimal(18,4)"))
    total = money(total) if round_money else total
    return unioned.groupBy(*group_cols).agg(total.alias(total_col))


def rank_incentive(
    df: DataFrame,
    rank_partition: list[str],
    total_col: str,
    rate: float = 0.01,
    rank_alias: str = "rnk",
    incentive_alias: str = "incentive",
) -> DataFrame:
    """Reference A4+A5: ``rank()`` per partition by total desc, then the
    top-rank conditional incentive.

    ``rank()`` (not ``row_number``): ties on the top total all receive
    rank 1 and each gets the incentive — exact reference semantics
    (sales_mart_sql_transform_write.py:18-25).
    """
    w = Window.partitionBy(*rank_partition).orderBy(F.col(total_col).desc())
    return df.withColumn(rank_alias, F.rank().over(w)).withColumn(
        incentive_alias, incentive(total_col, rank_alias, rate)
    )
