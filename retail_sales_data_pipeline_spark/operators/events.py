"""Event-stream operators (batch form): gap sessionization and daily
rollups.

The reference has no streaming surface (SURVEY.md §2.10) — these are the
extension operators a telemetry/training pipeline needs; the streaming
forms (the hourly rollup, the stateful sessionizer) live in
``streaming/jobs.py``.

Scale notes: rollups shuffle once on (bucket, type) with map-side
partial aggregation; sessionization shuffles once on user_id — the
natural key, uniform here; at 100 TB a power-user skew would be handled
by AQE skew splitting (session windows must stay whole per user, so
salting is not applicable — this is the one operator where key design
matters).

Determinism: second-resolution epoch arithmetic (floor) everywhere;
money-ish sums in exact decimal, rounded at the edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalars import epoch_sec

SESSION_GAP_SEC = 1800  # 30 min


def sessionize(events: DataFrame, gap_sec: int = SESSION_GAP_SEC) -> DataFrame:
    """Gap-based sessionization: a new session starts when the gap to the
    previous event of the same user exceeds ``gap_sec``.

    Output per session: ``user_id, session_seq, session_start,
    session_end, n_events, duration_sec, total_value``.

    Classic lag → flag → running-sum → group. Both window and groupBy
    hash-partition on user_id, so the whole operator is ONE shuffle;
    Catalyst reuses the exchange for the window and the aggregation.
    """
    w = Window.partitionBy("user_id").orderBy("ts")
    # project the epoch ONCE: the timestampdiff-based epoch_sec is
    # heavier than the old cast, and inlining it would re-evaluate it in
    # the lag, the gap comparison, and both aggregates
    sec = F.col("_sec")
    prev_sec = F.lag(sec).over(w)
    flagged = events.withColumn("_sec", epoch_sec("ts")).withColumn(
        "_new",
        F.when(prev_sec.isNull() | ((sec - prev_sec) > gap_sec), 1).otherwise(0),
    ).withColumn(
        "session_seq",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        flagged.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            (F.max(sec) - F.min(sec)).alias("duration_sec"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_value"),
        )
    )


def sessionize_scalable(
    events: DataFrame,
    gap_sec: int = SESSION_GAP_SEC,
    bucket_sec: int = 6 * 3600,
) -> DataFrame:
    """Gap sessionization for SKEWED users — identical output to
    :func:`sessionize` (tested), different parallelism story.

    Plain sessionization windows per user, so a celebrity user with
    10^8 events becomes ONE task sorting 10^8 rows — the stated
    limitation of the one-shuffle design (salting is unsound for
    sessions, which must stay whole per user). This variant is the
    standard two-level fix:

    1. sessionize within ``(user, time-bucket)`` — parallelism is
       users × buckets, so the hot user's work spreads across
       |buckets| tasks;
    2. stitch sessions that span bucket boundaries: with
       ``bucket_sec > gap_sec``, only the LAST session of bucket k and
       the FIRST session of bucket k+1 can be within ``gap_sec``
       (an empty intervening bucket implies a gap > bucket_sec), so
       boundary pairs form chains — closed with
       :func:`..dedup.connected_components` in O(log n) rounds
       (a user continuously active for a month is a ~120-link chain);
    3. re-aggregate merged clusters and re-rank ``session_seq`` per
       user by session start.

    Cost: two bounded shuffles + the stitch (which touches only
    boundary sessions, ≪ corpus). MEASURED (20M-row hot-share sweep,
    table in docs/SCALE.md, "Sessionize crossover"): plain
    degrades linearly in the hottest user's rows (~290k rows/s in the
    one straggler task) while this variant's cost tracks session count
    — the curves cross at ~7-8M hot-user rows on local[32]/128 GB, and
    earlier on a real cluster where the straggler hits a task's
    sort/memory budget first. :func:`sessionize_auto` dispatches on a
    measured max-rows-per-user with a deliberately conservative
    threshold.
    """
    if bucket_sec <= gap_sec:
        raise ValueError(
            f"bucket_sec ({bucket_sec}) must exceed gap_sec ({gap_sec}): "
            "the stitch relies on an empty bucket implying a closed gap"
        )

    from .dedup import connected_components

    sec = epoch_sec("ts")
    ev = events.withColumn("_sec", sec).withColumn(
        "_bkt", F.floor(F.col("_sec") / bucket_sec)
    )
    w = Window.partitionBy("user_id", "_bkt").orderBy("ts")
    prev_sec = F.lag(F.col("_sec")).over(w)
    flagged = ev.withColumn(
        "_new",
        F.when(prev_sec.isNull() | ((F.col("_sec") - prev_sec) > gap_sec), 1)
        .otherwise(0),
    ).withColumn(
        "_seq",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    local = (
        flagged.groupBy("user_id", "_bkt", "_seq")
        .agg(
            F.min("ts").alias("_start_ts"),
            F.max("ts").alias("_end_ts"),
            F.min("_sec").alias("_start_sec"),
            F.max("_sec").alias("_end_sec"),
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("_sum"),
        )
        .withColumn("_sid", F.monotonically_increasing_id())
        # ids must be FROZEN across the CC iterations that reuse this
        # relation — localCheckpoint cuts lineage so a recomputed
        # partition can never re-deal different ids
        .localCheckpoint()
    )
    # boundary candidates: last session of bucket k ⋈ first session of
    # bucket k+1, same user, within the gap
    lastk = local.withColumn(
        "_is_last",
        F.row_number().over(
            Window.partitionBy("user_id", "_bkt").orderBy(F.col("_end_sec").desc())
        )
        == 1,
    ).where("_is_last")
    firstk = local.withColumn(
        "_is_first",
        F.row_number().over(
            Window.partitionBy("user_id", "_bkt").orderBy(F.col("_start_sec").asc())
        )
        == 1,
    ).where("_is_first")
    edges = (
        lastk.alias("a")
        .join(
            firstk.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b._bkt") == F.col("a._bkt") + 1)
            & ((F.col("b._start_sec") - F.col("a._end_sec")) <= gap_sec),
        )
        .select(F.col("a._sid").alias("id_a"), F.col("b._sid").alias("id_b"))
    )
    labels = connected_components(
        local.select(F.col("_sid").alias("id")), edges
    )
    merged = (
        local.join(labels, local._sid == labels.id)
        .groupBy("user_id", "cluster_id")
        .agg(
            F.min("_start_ts").alias("session_start"),
            F.max("_end_ts").alias("session_end"),
            F.sum("_n").alias("n_events"),
            (F.max("_end_sec") - F.min("_start_sec")).alias("duration_sec"),
            F.round(F.sum("_sum"), 2).cast("double").alias("total_value"),
        )
    )
    return merged.select(
        "user_id",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("session_start"))
        .cast("long")
        .alias("session_seq"),
        "session_start",
        "session_end",
        "n_events",
        "duration_sec",
        "total_value",
    )


# Measured on local[32]/128 GB at 20M rows (docs/SCALE.md, "Sessionize
# crossover"): plain sessionize beats the two-level variant
# until the hottest user's row count reaches the low millions, where the
# single-task window sort overtakes the stitch's fixed overhead. On a
# real cluster the binding constraint arrives EARLIER — a task's
# sort/memory budget, not wall time — so the default dispatch threshold
# is the conservative end of the measured band.
HOT_USER_THRESHOLD_ROWS = 2_000_000


def sessionize_auto(
    events: DataFrame,
    gap_sec: int = SESSION_GAP_SEC,
    hot_user_threshold_rows: int = HOT_USER_THRESHOLD_ROWS,
) -> DataFrame:
    """Gap sessionization that picks plain vs two-level by measuring the
    skew it actually faces, per the crossover sweep in docs/SCALE.md.

    One profiling pass — ``groupBy(user_id).count`` then a global max,
    keys-only and map-side combined, returning a single long to the
    driver — decides the variant: below the threshold the one-shuffle
    :func:`sessionize` wins outright; above it the hottest user's
    window sort is a straggler (and, past task memory, a spill cliff),
    so :func:`sessionize_scalable` spreads that user across time
    buckets. Output is identical either way (pinned by tests).
    """
    max_user_rows = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .agg(F.max("_n"))
        .first()[0]
    ) or 0
    if max_user_rows > hot_user_threshold_rows:
        return sessionize_scalable(events, gap_sec=gap_sec)
    return sessionize(events, gap_sec=gap_sec)


def daily_stats(events: DataFrame) -> DataFrame:
    """Per day: events, exact distinct users, value sum (2 dp)."""
    return (
        events.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_value"),
        )
    )
