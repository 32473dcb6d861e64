"""Event-analytics queries over the ``events`` table with DuckDB oracle
twins, plus the streaming rollups (whose availableNow drains are
oracle-checkable like any batch query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import persist_tracked
from ..functions import scalars as S
from ..operators import events as E
from ..sources.tables import load_table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour, event_type,
  count(*) AS n_events,
  CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.sessionize(_events(spark, sf_dir))


_SESSIONIZE_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > {E.SESSION_GAP_SEC}
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts, value,
    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
  min(ts) AS session_start,
  max(ts) AS session_end,
  count(*) AS n_events,
  CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT) AS duration_sec,
  CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
FROM numbered GROUP BY user_id, session_seq
"""


_JSON_SQL = """
SELECT event_type,
  count(*) AS n_events,
  count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_prop,
  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
    AS sum_prop,
  round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_prop
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Q: events_json_variant — the same JSON-prop aggregation through Spark
# 4's VARIANT type: parse_json once into the binary variant encoding,
# then typed variant_get extraction. At 100 TB this is the semi-
# structured scale path — the JSON text is parsed ONCE per row instead
# of re-tokenized per extracted field (get_json_object re-parses for
# every path), and the open-format binary encoding pushes through
# shuffles far smaller than the source text. Oracle: DuckDB's JSON
# extraction — the engines' parse trees differ, the values must not.
# ---------------------------------------------------------------------------
def events_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", ["event_type", "props"])
    v = F.try_parse_json("props")
    # try_variant_get: a mistyped value ({"k": "abc"}) degrades to NULL
    # like the twin's get_json_object(...).cast('long') — variant_get
    # would raise INVALID_VARIANT_CAST at action time instead
    k = F.try_variant_get(v, "$.k", "long")
    return (
        ev.select("event_type", k.alias("_v"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("_v").alias("n_with_prop"),
            F.sum("_v").alias("sum_prop"),
            F.round(F.avg("_v"), 6).alias("avg_prop"),
        )
    )


def events_daily_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.daily_stats(_events(spark, sf_dir))


_DAILY_SQL = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
  count(*) AS n_events,
  count(DISTINCT user_id) AS n_users,
  CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
FROM events GROUP BY 1
"""


def events_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase attached to the user's most
    recent prior view (as-of join; oracle = DuckDB's native ASOF JOIN).
    """

    from ..operators.temporal import asof_join

    ev = _events(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts", "value")
    out = asof_join(purchases, views, key="user_id", ts="ts", right_payload=["value"])
    return out.select(
        "event_id",
        "user_id",
        F.round(F.col("value").cast("decimal(18,4)"), 2).cast("double").alias(
            "purchase_value"
        ),
        F.round(F.col("asof_value").cast("decimal(18,4)"), 2).cast("double").alias(
            "view_value"
        ),
        (S.epoch_sec("ts") - S.epoch_sec("asof_ts")).alias("gap_sec"),
    )


_ASOF_SQL = """
WITH p AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'view'
)
SELECT p.event_id, p.user_id,
  CAST(round(CAST(p.value AS DECIMAL(18,4)), 2) AS DOUBLE) AS purchase_value,
  CAST(round(CAST(v.value AS DECIMAL(18,4)), 2) AS DOUBLE) AS view_value,
  CAST(floor(epoch(p.ts)) - floor(epoch(v.ts)) AS BIGINT) AS gap_sec
FROM p ASOF JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
"""


def events_range_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Errors within ±5 minutes of a purchase by the same user (banded
    range join; oracle = plain inequality join).
    """

    from ..operators.temporal import banded_range_join

    ev = _events(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    errors = ev.where(F.col("event_type") == "error").select("user_id", "event_id", "ts")
    out = banded_range_join(purchases, errors, key="user_id", ts="ts", band_sec=300)
    return out.select(
        "user_id",
        F.col("l_event_id").alias("purchase_event"),
        F.col("r_event_id").alias("error_event"),
        "delta_sec",
    )


_RANGE_SQL = """
WITH p AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
), e AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'error'
)
SELECT p.user_id, p.event_id AS purchase_event, e.event_id AS error_event,
  CAST(floor(epoch(p.ts)) - floor(epoch(e.ts)) AS BIGINT) AS delta_sec
FROM p JOIN e ON p.user_id = e.user_id
WHERE abs(floor(epoch(p.ts)) - floor(epoch(e.ts))) <= 300
"""


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup → view → purchase: per-stage
    user counts where each stage must happen strictly after the prior
    stage's first occurrence."""
    ev = _events(spark, sf_dir)
    # s feeds v AND its own count; v feeds p AND its own count —
    # Catalyst does not dedupe common subplans, so without persisting
    # the stage relations one action scans the events table ~6x
    # (the same reason events_cohort_retention persists its base)
    s = persist_tracked(
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    v = persist_tracked(
        ev.where(F.col("event_type") == "view")
        .join(s, "user_id")
        .where(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        s.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(v.agg(F.count(F.lit(1)).alias("n_view_after_signup")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_after_view")))
    )


_FUNNEL_SQL = """
WITH s AS (
  SELECT user_id, min(ts) AS t_signup FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), v AS (
  SELECT e.user_id, min(e.ts) AS t_view
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'view' AND e.ts > s.t_signup
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'purchase' AND e.ts > v.t_view
  GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM s) AS n_signup,
       (SELECT count(*) FROM v) AS n_view_after_signup,
       (SELECT count(*) FROM p) AS n_purchase_after_view
"""


# ---------------------------------------------------------------------------
# Q: events_cohort_retention — classic cohort analysis: users grouped
# by first-active week (the events table spans ~1 month, so weekly
# grain gives a real retention curve), retention = share still active
# at each week offset. Two aggregations over the distinct (user, week)
# activity relation plus a broadcast-sized cohort join — the shuffles
# key on user_id and cohort_week, both uniform. Week-truncated
# timestamps differ by exact multiples of 7 days, so offset = days/7
# is integral in both engines.
# ---------------------------------------------------------------------------
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", ["user_id", "ts"])
    # the activity relation feeds both the first-week agg and the
    # cohort join — persist so the scan+distinct runs once
    um = persist_tracked(
        ev.select(
            "user_id", F.date_trunc("week", F.col("ts")).alias("w")
        ).distinct()
    )
    first = um.groupBy("user_id").agg(F.min("w").alias("w0"))
    j = um.join(first, "user_id")
    cohorts = j.groupBy(
        F.date_format("w0", "yyyy-MM-dd").alias("cohort_week"),
        (F.datediff("w", "w0") / 7).cast("long").alias("week_offset"),
    ).agg(F.countDistinct("user_id").alias("n_users"))
    size = first.groupBy(
        F.date_format("w0", "yyyy-MM-dd").alias("cohort_week")
    ).agg(F.countDistinct("user_id").alias("cohort_size"))
    return cohorts.join(F.broadcast(size), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_users",
        "cohort_size",
        F.round(F.col("n_users") / F.col("cohort_size"), 6).alias("retention"),
    )


_COHORT_SQL = """
WITH um AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
), first AS (
  SELECT user_id, min(w) AS w0 FROM um GROUP BY 1
), j AS (
  SELECT um.user_id, um.w, f.w0 FROM um JOIN first f ON um.user_id = f.user_id
), cohorts AS (
  SELECT strftime(w0, '%Y-%m-%d') AS cohort_week,
         CAST(datediff('day', w0, w) / 7 AS BIGINT) AS week_offset,
         count(DISTINCT user_id) AS n_users
  FROM j GROUP BY 1, 2
), size AS (
  SELECT strftime(w0, '%Y-%m-%d') AS cohort_week,
         count(DISTINCT user_id) AS cohort_size
  FROM first GROUP BY 1
)
SELECT c.cohort_week, c.week_offset, c.n_users, s.cohort_size,
  round(c.n_users / s.cohort_size, 6) AS retention
FROM cohorts c JOIN size s ON c.cohort_week = s.cohort_week
"""


def streaming_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming rollup drained with availableNow — on finite
    input it must equal the batch rollup, so it shares the batch oracle.
    """
    from ..streaming import stream_hourly_rollup

    return stream_hourly_rollup(spark, sf_dir)


def streaming_dedup_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup of a replayed (unioned-with-itself) event stream
    via dropDuplicatesWithinWatermark, rolled up per event type; equals
    the batch aggregate over distinct events."""
    from ..streaming import stream_dedup_rollup

    return stream_dedup_rollup(spark, sf_dir)


_DEDUP_ROLLUP_SQL = """
SELECT event_type,
  count(*) AS n_events,
  CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Q: streaming_sessionize — the custom stateful operator
# (applyInPandasWithState, event-time timeout), oracle-checked by
# modeling the availableNow drain EXACTLY in SQL: the drain processes
# all files in one batch (every non-final session per user is emitted on
# gap detection), then the watermark advances to max(ts) − 2 h and the
# closing batch fires event-time timeouts — flushing precisely the
# trailing sessions with (floor(epoch(session_end)) + gap)·1000 ms
# strictly below the millisecond watermark. Sessions inside that horizon
# stay in the state store (unbounded-stream semantics; documented in
# streaming/jobs.py). Timestamps are second-resolution (the state keeps
# floor-epoch seconds); sums are sequential float64 over DECIMAL(18,4)-
# exact inputs, rounded at the edge.
# ---------------------------------------------------------------------------
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import stream_sessionize

    return stream_sessionize(spark, sf_dir)


_STREAM_SESSIONIZE_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > {E.SESSION_GAP_SEC}
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts, value,
    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM flagged
), sess AS (
  SELECT user_id, session_seq,
    TIMESTAMP '1970-01-01 00:00:00'
      + CAST(floor(epoch(min(ts))) AS BIGINT) * INTERVAL '1 second'
      AS session_start,
    TIMESTAMP '1970-01-01 00:00:00'
      + CAST(floor(epoch(max(ts))) AS BIGINT) * INTERVAL '1 second'
      AS session_end,
    count(*) AS n_events,
    CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT)
      AS duration_sec,
    CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
  FROM numbered GROUP BY user_id, session_seq
), lastseq AS (
  SELECT user_id, max(session_seq) AS last_seq FROM sess GROUP BY user_id
), wm AS (
  SELECT epoch_ms(max(ts)) - {2 * 3600 * 1000} AS wm_ms FROM events
)
SELECT s.user_id, s.session_seq, s.session_start, s.session_end,
       s.n_events, s.duration_sec, s.total_value
FROM sess s LEFT JOIN lastseq l
  ON s.user_id = l.user_id AND s.session_seq = l.last_seq, wm
WHERE l.user_id IS NULL
   OR (CAST(floor(epoch(s.session_end)) AS BIGINT) + {E.SESSION_GAP_SEC}) * 1000
      < wm.wm_ms
"""


# ---------------------------------------------------------------------------
# Q: streaming_sessionize_complete — the bounded-drain/backfill mode of
# the stateful streaming sessionizer (drain_complete=True): a watermark-
# advancing sentinel flushes every trailing open session, so the stream
# equals the BATCH sessionizer row-for-row and the oracle is simply the
# batch SQL at the stream's second-resolution timestamps — no drain
# modeling needed (contrast _STREAM_SESSIONIZE_SQL above).
# ---------------------------------------------------------------------------
def streaming_sessionize_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import stream_sessionize

    return stream_sessionize(spark, sf_dir, drain_complete=True)


_STREAM_COMPLETE_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > {E.SESSION_GAP_SEC}
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts, value,
    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq,
  TIMESTAMP '1970-01-01 00:00:00'
    + CAST(floor(epoch(min(ts))) AS BIGINT) * INTERVAL '1 second'
    AS session_start,
  TIMESTAMP '1970-01-01 00:00:00'
    + CAST(floor(epoch(max(ts))) AS BIGINT) * INTERVAL '1 second'
    AS session_end,
  count(*) AS n_events,
  CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT) AS duration_sec,
  CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
FROM numbered GROUP BY user_id, session_seq
"""


# ---------------------------------------------------------------------------
# Q: events_approx_quantiles — sketch quantiles with a rank-based
# tolerance gate. percentile_approx (KLL-style at accuracy=10000) is
# engine-specific, so the hash-checkable output carries the EXACT
# p50/p95/p99 plus `approx_ok` = every approx value lying between the
# exact quantiles at p±0.005 (the sketch's rank-error contract, robust
# to the value scale — unlike a relative-error bound near zero). The
# oracle recomputes the exact quantiles and asserts TRUE. At 100 TB you
# keep only the single-pass sketch; the exact columns exist to make the
# approximate operator verifiable.
# ---------------------------------------------------------------------------
_QPS = [0.5, 0.95, 0.99]
_QEPS = 0.005


def events_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", ["event_type", "value"])
    lo = [p - _QEPS for p in _QPS]
    hi = [p + _QEPS for p in _QPS]
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.percentile_approx("value", _QPS, 10000).alias("_aq"),
        F.expr(f"percentile(value, array({','.join(map(str, _QPS))}))").alias("_eq"),
        F.expr(f"percentile(value, array({','.join(map(str, lo))}))").alias("_lo"),
        F.expr(f"percentile(value, array({','.join(map(str, hi))}))").alias("_hi"),
    )
    ok = None
    for i in range(len(_QPS)):
        cond = (F.col("_aq")[i] >= F.col("_lo")[i]) & (
            F.col("_aq")[i] <= F.col("_hi")[i]
        )
        ok = cond if ok is None else (ok & cond)
    return agg.select(
        "event_type",
        "n_events",
        *[F.round(F.col("_eq")[i], 6).alias(f"p{int(p * 100)}") for i, p in enumerate(_QPS)],
        ok.alias("approx_ok"),
    )


_APPROX_QUANTILES_SQL = """
SELECT event_type,
  CAST(count(*) AS BIGINT) AS n_events,
  round(quantile_cont(value, 0.5), 6) AS p50,
  round(quantile_cont(value, 0.95), 6) AS p95,
  round(quantile_cont(value, 0.99), 6) AS p99,
  TRUE AS approx_ok
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Q: events_rolling_7day — trailing-window KPIs: per day and event
# type, the day's total plus the 7-day trailing sum/average via a
# RANGE-framed window over an integer day number. Range frames (unlike
# row frames) stay correct when days are missing from the data — the
# frame covers calendar distance, not row count. The window input is
# the pre-aggregated daily relation (days × types rows), so the sort
# is metadata-sized at any event volume.
# ---------------------------------------------------------------------------
def events_rolling_7day(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    daily = (
        ev.select(
            F.col("event_type"),
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("day_num"),
            F.to_date("ts").alias("day"),
            F.col("value").cast("decimal(18,4)").alias("v"),
        )
        .groupBy("event_type", "day_num", "day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("v").alias("_dv"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_num")
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "event_type",
        "day",
        "n_events",
        F.round(F.col("_dv"), 2).cast("double").alias("day_value"),
        F.round(F.sum("_dv").over(w), 2).cast("double").alias("rolling_7d_value"),
        F.sum("n_events").over(w).cast("long").alias("rolling_7d_events"),
    )


_ROLLING_SQL = """
WITH daily AS (
  SELECT event_type,
    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num,
    CAST(ts AS DATE) AS day,
    CAST(count(*) AS BIGINT) AS n_events,
    sum(CAST(value AS DECIMAL(18,4))) AS dv
  FROM events GROUP BY 1, 2, 3
)
SELECT event_type, day, n_events,
  CAST(round(dv, 2) AS DOUBLE) AS day_value,
  CAST(round(sum(dv) OVER (PARTITION BY event_type ORDER BY day_num
                           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW), 2)
       AS DOUBLE) AS rolling_7d_value,
  CAST(sum(n_events) OVER (PARTITION BY event_type ORDER BY day_num
                           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
       AS BIGINT) AS rolling_7d_events
FROM daily
"""


QUERIES = {
    "events_sessionize": events_sessionize,
    "events_json_variant": events_json_variant,
    "events_daily_stats": events_daily_stats,
    "events_asof_attribution": events_asof_attribution,
    "events_range_pairs": events_range_pairs,
    "events_funnel": events_funnel,
    "events_cohort_retention": events_cohort_retention,
    "streaming_hourly_rollup": streaming_hourly_rollup,
    "streaming_dedup_rollup": streaming_dedup_rollup,
    "streaming_sessionize": streaming_sessionize,
    "streaming_sessionize_complete": streaming_sessionize_complete,
    "events_approx_quantiles": events_approx_quantiles,
    "events_rolling_7day": events_rolling_7day,
}

ORACLE_SQL = {
    "events_sessionize": _SESSIONIZE_SQL,
    "events_json_variant": _JSON_SQL,
    "events_daily_stats": _DAILY_SQL,
    "events_asof_attribution": _ASOF_SQL,
    "events_range_pairs": _RANGE_SQL,
    "events_funnel": _FUNNEL_SQL,
    "events_cohort_retention": _COHORT_SQL,
    "streaming_hourly_rollup": _HOURLY_SQL,
    "streaming_dedup_rollup": _DEDUP_ROLLUP_SQL,
    "streaming_sessionize": _STREAM_SESSIONIZE_SQL,
    "streaming_sessionize_complete": _STREAM_COMPLETE_SQL,
    "events_approx_quantiles": _APPROX_QUANTILES_SQL,
    "events_rolling_7day": _ROLLING_SQL,
}
