"""Multi-dimensional data layout: Z-order (Morton-curve) clustering.

The companion to the small-file compaction planner (`sinks.py`
``compact_parquet`` / ``plans/retail_queries.maintenance_compaction_plan``):
compaction fixes FILE COUNT, Z-ordering fixes FILE PRUNING on more than
one predicate column at once. Sorting a dataset linearly on one column
gives perfect min/max skipping on that column and none on any other;
interleaving the bits of k quantized columns (the Morton code — Morton
1966; the same layout Delta Lake's ``OPTIMIZE ... ZORDER BY`` and
Iceberg's z-ordered rewrites apply) makes every file's bounding box
small in ALL k dimensions, so a parquet reader's row-group/file min-max
stats prune on any predicate column.

Scale shape (the whole point at 100 TB):

* the only driver-side work is one ``agg(min, max)`` per layout column
  — metadata-sized, a single job over footer-prunable columns;
* quantization and bit interleaving are pure JVM column algebra
  (``floor``/``shiftleft``/``bitwiseOR`` — whole-stage codegen, no UDF);
* the physical movement is exactly ONE range exchange on the z-value
  (``repartitionByRange`` samples the z distribution, so output files
  are balanced even when the value distribution is not) plus the
  per-file sort the parquet writer needs anyway — identical cost to the
  linear-sort compaction path, strictly better pruning.

Numeric columns only by design: categorical keys should hash-bucket
(`corpus_shuffle_shard` style) or dictionary-encode before layout.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .scale import zorder_key


def quantize_uniform(col: Column, lo: float, hi: float, bits: int) -> Column:
    """Map ``col`` in [lo, hi] onto integer buckets [0, 2**bits), uniform
    width, clamped at both ends (values at ``hi`` land in the top
    bucket; a degenerate lo==hi column collapses to bucket 0)."""
    n = 1 << bits
    if hi <= lo:
        return F.lit(0).cast("long")
    scaled = F.floor((col.cast("double") - F.lit(lo)) / F.lit(hi - lo) * n)
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), scaled)).cast("long")


def z_value(bucket_cols: list[Column], bits: int) -> Column:
    """Interleave the low ``bits`` bits of k bucket columns into one
    Morton code: bit ``i`` of column ``j`` lands at position ``i*k + j``
    (column 0 holds the least-significant interleaved bit). Delegates
    to :func:`..scale.zorder_key` — the single Morton implementation in
    the repo (that one is the raw sort-key lever; this module adds the
    quantize → range-partition → rewrite pipeline around it)."""
    if not bucket_cols:
        raise ValueError("z_value needs at least one column")
    return zorder_key(bucket_cols, bits)


def zorder_layout(
    df: DataFrame,
    cols: list[str] | None,
    n_files: int,
    bits: int | None = None,
    advice: dict | None = None,
) -> DataFrame:
    """Return ``df`` re-laid-out on the Morton curve of ``cols``:
    range-partitioned into ``n_files`` z-ranges and sorted by z within
    each, ready for a one-file-per-partition write. The helper column
    is dropped — output schema equals input schema.

    Column order matters at the margin: the LAST column in ``cols``
    owns the higher bit of each interleaved pair, so curve-range
    bounding boxes are tighter along it (measured 16 vs 25 of 64 files
    read at 1M rows — docs/SCALE.md, "Layout maintenance"); put the
    most-filtered column last. Pass ``cols=None`` with ``advice`` (an
    :func:`..profile.advise` result) to take the advised layout
    columns — numeric, null-free, ordered most-selective-last — from
    the measured profile instead of hand-picking."""
    if cols is None:
        if advice is None or not advice.get("zorder"):
            raise ValueError(
                "zorder_layout: cols=None requires advice with a "
                "non-empty 'zorder' recommendation"
            )
        cols = list(advice["zorder"])
    if bits is None:
        bits = min(16, 63 // max(1, len(cols)))
    # one metadata-sized job: global min/max + null count per layout
    # column. Nulls must be rejected loudly BEFORE the rewrite:
    # F.least/F.greatest skip nulls, so a null would silently quantize
    # into the TOP bucket and scatter unrelated rows into the max-value
    # curve region — degrading exactly the pruning this pass exists to
    # provide. Callers coalesce/filter nulls first, explicitly.
    bounds = df.agg(
        *[F.min(c).alias(f"lo_{c}") for c in cols],
        *[F.max(c).alias(f"hi_{c}") for c in cols],
        *[
            (F.count(F.lit(1)) - F.count(c)).alias(f"nulls_{c}")
            for c in cols
        ],
        *[
            F.sum(
                (
                    F.isnan(F.col(c).cast("double"))
                    | (F.abs(F.col(c).cast("double")) == float("inf"))
                ).cast("long")
            ).alias(f"nans_{c}")
            for c in cols
        ],
    ).first()
    bad = [c for c in cols if bounds[f"lo_{c}"] is None]
    if bad:
        raise ValueError(
            f"cannot z-order on {bad}: empty input or all-null column(s)"
        )
    nulled = {
        c: bounds[f"nulls_{c}"] + (bounds[f"nans_{c}"] or 0)
        for c in cols
        if bounds[f"nulls_{c}"] or bounds[f"nans_{c}"]
    }
    if nulled:
        raise ValueError(
            f"cannot z-order on columns with nulls/NaNs/infinities "
            f"{nulled}: a null or NaN silently lands in the top bucket "
            "(least/greatest skip them), and an infinity poisons the "
            "min/max bounds so every finite row collapses to bucket 0 "
            "— coalesce or filter first"
        )
    buckets = [
        quantize_uniform(
            F.col(c), float(bounds[f"lo_{c}"]), float(bounds[f"hi_{c}"]), bits
        )
        for c in cols
    ]
    if "_z" in df.columns:
        # withColumn would clobber it and the final drop would remove
        # the caller's column — refuse instead of losing data silently
        raise ValueError(
            "z-order layout reserves the column name '_z'; rename it"
        )
    z = df.withColumn("_z", z_value(buckets, bits))
    return (
        z.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )


def zorder_compact(
    spark: SparkSession,
    path: str,
    cols: list[str],
    target_files: int,
    retain_versions: int = 0,
) -> int:
    """OPTIMIZE-ZORDER analogue over a parquet dataset: rewrite ``path``
    into ``target_files`` z-clustered files via the shared
    atomic-manifest-commit / row-count-validation protocol
    (:func:`..sinks.staged_rewrite`; read back with
    :func:`..sinks.read_table`, historical snapshots via its
    ``version=`` when ``retain_versions > 0``). Returns the resulting
    file count."""
    from ..sinks import staged_rewrite

    return staged_rewrite(
        spark,
        path,
        lambda df: zorder_layout(df, cols, target_files),
        "._zorder",
        retain_versions=retain_versions,
    )


def partition_boxes(laid: DataFrame, cols: list[str]) -> list[dict]:
    """Per-partition bounding boxes of ``cols`` — the measurement
    behind every pruning claim (a stats-pruning reader must read
    exactly the files whose box intersects the predicate range).
    The pytest pruning property measures with it, as did the
    docs/SCALE.md "Layout maintenance" table."""
    from pyspark.sql.functions import spark_partition_id

    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"{c}_lo"), F.max(c).alias(f"{c}_hi")]
    return [
        r.asDict()
        for r in laid.withColumn("pid", spark_partition_id())
        .groupBy("pid")
        .agg(*aggs)
        .collect()
    ]


def boxes_touched(
    boxes: list[dict], col: str, lo: float, hi: float
) -> int:
    """How many partition boxes intersect ``[lo, hi]`` on ``col`` —
    i.e. how many files a min/max-pruning scan must read."""
    return sum(
        1 for b in boxes if b[f"{col}_hi"] >= lo and b[f"{col}_lo"] <= hi
    )
