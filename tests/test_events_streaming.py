"""Events operators + Structured Streaming equivalence tests."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from retail_sales_data_pipeline_spark.operators import events as E

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ev(spark):
    rows = [
        # user 1: two sessions (gap > 30 min between e2 and e3)
        (1, datetime(2024, 1, 1, 10, 0, 0), 1, "click", 1.0),
        (2, datetime(2024, 1, 1, 10, 10, 0), 1, "view", 2.0),
        (3, datetime(2024, 1, 1, 11, 0, 1), 1, "click", 3.0),
        # user 2: one session, single event
        (4, datetime(2024, 1, 1, 10, 5, 0), 2, "purchase", 10.0),
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def test_sessionize_gaps(spark, ev):
    out = {(r.user_id, r.session_seq): r for r in E.sessionize(ev).collect()}
    assert len(out) == 3
    s1 = out[(1, 1)]
    assert s1.n_events == 2 and s1.duration_sec == 600 and s1.total_value == 3.0
    s2 = out[(1, 2)]
    assert s2.n_events == 1 and s2.duration_sec == 0 and s2.total_value == 3.0
    assert out[(2, 1)].n_events == 1


def test_sessionize_gap_boundary(spark):
    # gap of exactly 1800s continues the session; 1801s starts a new one
    rows = [
        (1, datetime(2024, 1, 1, 10, 0, 0), 1, "a", 1.0),
        (2, datetime(2024, 1, 1, 10, 30, 0), 1, "a", 1.0),   # +1800 → same
        (3, datetime(2024, 1, 1, 11, 0, 1), 1, "a", 1.0),    # +1801 → new
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = E.sessionize(df).collect()
    assert {r.session_seq: r.n_events for r in out} == {1: 2, 2: 1}


def test_hourly_rollup(spark, ev, tmp_path):
    """The streaming hourly rollup drained over a hand-built drop:
    per-(hour, event_type) counts and value sums."""
    from retail_sales_data_pipeline_spark.streaming import stream_hourly_rollup

    ev.toPandas().to_parquet(tmp_path / "events.parquet", coerce_timestamps="us")
    out = {
        (r.hour, r.event_type): r
        for r in stream_hourly_rollup(spark, str(tmp_path)).collect()
    }
    assert len(out) == 4
    assert out[(datetime(2024, 1, 1, 10), "click")].n_events == 1
    assert out[(datetime(2024, 1, 1, 10), "view")].total_value == 2.0
    assert out[(datetime(2024, 1, 1, 11), "click")].n_events == 1


def test_builtin_session_window_agrees_with_manual(spark):
    """Spark's built-in session_window (gap-merge windows) produces the
    same sessions as the manual lag+cumsum sessionizer on real data
    (second-resolution; no exact-boundary gaps in the fixture data)."""
    from retail_sales_data_pipeline_spark.sources.tables import load_table

    events = load_table(spark, SF, "events")
    manual = {
        (r.user_id, int(r.session_start.timestamp()), r.n_events)
        for r in E.sessionize(events).collect()
    }
    builtin = {
        (r.user_id, int(r.start.timestamp()), r.n)
        for r in events.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").alias("start"), "n")
        .collect()
    }
    assert manual == builtin


def test_permissive_row_level_rejects(spark, tmp_path):
    """A malformed row routes to the rejects frame; the file survives."""
    from pyspark.sql import types as T

    from retail_sales_data_pipeline_spark.sources.files import read_csv_permissive

    p = tmp_path / "rows.csv"
    p.write_text("a,b\n1,x\nnot_an_int,y\n3,z\n")
    schema = T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]
    )
    good, rejects = read_csv_permissive(spark, str(p), schema)
    assert {(r.a, r.b) for r in good.collect()} == {(1, "x"), (3, "z")}
    bad = [r._corrupt_record for r in rejects.collect()]
    assert bad == ["not_an_int,y"]


def test_permissive_rejects_header_formatting_variants(spark, tmp_path):
    """Header exclusion in the rejects pass is parse-aware: a real
    header whose formatting differs from ','.join(names) — spacing,
    quoting, case — must NOT be misclassified as a corrupt record
    (round-4 ADVICE; the old literal match sent it to rejects)."""
    from pyspark.sql import types as T

    from retail_sales_data_pipeline_spark.sources.files import read_csv_permissive

    schema = T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]
    )
    (tmp_path / "spaced.csv").write_text('A, "b"\n1,x\nbad,y\n')
    (tmp_path / "plain.csv").write_text("a,b\n2,w\nalso_bad,z\n")
    good, rejects = read_csv_permissive(
        spark, [str(tmp_path / "spaced.csv"), str(tmp_path / "plain.csv")], schema
    )
    assert {(r.a, r.b) for r in good.collect()} == {(1, "x"), (2, "w")}
    assert sorted(r._corrupt_record for r in rejects.collect()) == [
        "also_bad,z",
        "bad,y",
    ]


def test_streaming_rollup_equals_batch(spark):
    """The availableNow drain of the hourly rollup equals the batch
    oracle SQL over the same files (at sf0.01; the parity suite covers
    sf0.001)."""
    from .oracle import assert_query_matches_oracle

    assert_query_matches_oracle(spark, "/root/testdata/sf0.01", "streaming_hourly_rollup")


def test_streaming_rollup_drains_in_one_microbatch(spark):
    """Behavior pin (r7 verdict #5): the availableNow drain of the
    hourly rollup processes the finite parquet input in exactly ONE
    microbatch — the only plausible structural creep for this query is
    the drain splitting into per-file batches (each paying state-store
    commit overhead), and this pin turns that into a loud failure
    instead of a silent slowdown."""
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from retail_sales_data_pipeline_spark.streaming import jobs as J

    ev = J._events_stream(spark, SF)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = "probe_" + uuid.uuid4().hex[:8]
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_pin_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    data_batches = [
        p for p in q.recentProgress if p["numInputRows"] > 0
    ]
    assert len(data_batches) == 1, [
        (p["batchId"], p["numInputRows"]) for p in q.recentProgress
    ]
    assert spark.table(name).count() > 0


def test_streaming_sessionize_matches_batch(spark):
    """Closed sessions from the stateful streaming sessionizer must match
    the batch sessionizer at second resolution (the stream keys state by
    whole seconds)."""
    from retail_sales_data_pipeline_spark.sources.tables import load_table
    from retail_sales_data_pipeline_spark.streaming import stream_sessionize

    events = load_table(spark, SF, "events")
    batch = {
        (r.user_id, r.session_seq): (
            int(r.session_start.timestamp()),
            int(r.session_end.timestamp()),
            r.n_events,
            r.duration_sec,
        )
        for r in E.sessionize(events).collect()
    }
    stream = {
        (r.user_id, r.session_seq): (
            int(r.session_start.timestamp()),
            int(r.session_end.timestamp()),
            r.n_events,
            r.duration_sec,
        )
        for r in stream_sessionize(spark, SF).collect()
    }
    # every streamed (closed) session must agree with its batch twin
    assert stream, "stream emitted no sessions"
    for k, v in stream.items():
        assert batch[k] == v, f"mismatch at {k}: {batch[k]} vs {v}"
    # and with availableNow + event-time timeout, coverage is complete
    # except possibly each user's final open session
    assert len(stream) >= len(batch) - events.select("user_id").distinct().count()


def test_streaming_sessionize_drain_complete_equals_batch_exactly(spark):
    """drain_complete=True flushes trailing sessions via the watermark
    sentinel: the stream equals batch sessionize ROW FOR ROW — no
    tolerance for dropped trailing sessions (round-3 verdict item)."""
    from retail_sales_data_pipeline_spark.sources.tables import load_table
    from retail_sales_data_pipeline_spark.streaming import stream_sessionize

    events = load_table(spark, SF, "events")
    batch = {
        (r.user_id, r.session_seq): (
            int(r.session_start.timestamp()),
            int(r.session_end.timestamp()),
            r.n_events,
            r.duration_sec,
            r.total_value,
        )
        for r in E.sessionize(events).collect()
    }
    stream = {
        (r.user_id, r.session_seq): (
            int(r.session_start.timestamp()),
            int(r.session_end.timestamp()),
            r.n_events,
            r.duration_sec,
            r.total_value,
        )
        for r in stream_sessionize(spark, SF, drain_complete=True).collect()
    }
    assert stream == batch and len(batch) > 0


def test_streaming_sessionize_survives_dst_fold(spark, tmp_path):
    """Events whose session-zone wall clock falls inside the DST
    fall-back fold (America/New_York 2024-11-03, 01:00-02:00 occurs
    twice) must sessionize correctly. The old worker reconstructed
    epochs with ``ts.dt.tz_localize(tz)`` — pandas raises
    AmbiguousTimeError on the repeated wall clock, killing the query
    (round-4 ADVICE); epochs now come from the JVM-computed ``_sec``
    column, which has no zone to be ambiguous in."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from retail_sales_data_pipeline_spark.streaming import stream_sessionize

    # UTC instants; in America/New_York: 01:10 EDT, 01:30 EDT,
    # 01:30 EST (same wall clock as the previous event!), 01:45 EST,
    # 03:00 EST
    utc = [
        "2024-11-03 05:10:00",  # s1
        "2024-11-03 05:30:00",  # s1 (+20 min)
        "2024-11-03 06:30:00",  # s2 (+60 min > 30-min gap)
        "2024-11-03 06:45:00",  # s2 (+15 min)
        "2024-11-03 08:00:00",  # s3, trailing — stays in state
    ]
    pdf = pd.DataFrame(
        {
            "event_id": range(1, 6),
            "ts": pd.to_datetime(utc),  # naive → parquet timestamp[us] NTZ
            "user_id": [1] * 5,
            "event_type": ["click"] * 5,
            "value": [1.0, 2.0, 3.0, 4.0, 5.0],
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf), str(tmp_path / "events.parquet"))

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        got = {
            (r.user_id, r.session_seq): (r.n_events, r.duration_sec, r.total_value)
            for r in stream_sessionize(spark, str(tmp_path)).collect()
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    assert got == {
        (1, 1): (2, 1200, 3.0),
        (1, 2): (2, 900, 7.0),
    }


def test_stream_quality_filter_equals_batch(spark):
    """Stateless streaming curation drained with availableNow equals the
    batch gates row-for-row."""
    from pyspark.sql import functions as F

    from retail_sales_data_pipeline_spark.operators import text as X
    from retail_sales_data_pipeline_spark.streaming.jobs import stream_quality_filter

    sf = "/root/testdata/sf0.001"
    got = stream_quality_filter(spark, sf)
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    pre = docs.select("doc_id", "lang", "text", X.tokens("text").alias("_tk"))
    feats = X.quality_features("text", toks=F.col("_tk"))
    batch = (
        pre.select("doc_id", "lang", feats[0].cast("long").alias("n_tokens"), feats[6])
        .where(F.col("n_tokens").between(20, 400) & (F.col("quality_score") >= 0.32))
    )
    assert got.count() == batch.count() > 0
    assert got.exceptAll(batch).count() == 0 and batch.exceptAll(got).count() == 0


def test_stream_heavy_hitters_exact_regime_equals_batch(spark):
    """With capacity comfortably above per-bucket distinct keys, the
    streaming MG summaries never decrement — the drained result must
    EQUAL the exact batch per-user counts, in order."""
    from retail_sales_data_pipeline_spark.streaming.jobs import (
        stream_heavy_hitters,
    )

    sf = "/root/testdata/sf0.001"
    got = stream_heavy_hitters(
        spark, sf, capacity=32, n_buckets=4, top_k=50
    ).collect()
    exact = (
        spark.read.parquet(f"{sf}/events.parquet")
        .groupBy(F.col("user_id").cast("string").alias("item"))
        .count()
        .orderBy(F.desc("count"), "item")
        .collect()
    )
    assert [(r.item, r.est_count) for r in got] == [
        (r.item, r["count"]) for r in exact
    ]
    assert len(got) > 5


def test_stream_heavy_hitters_small_capacity_lower_bounds(spark):
    """Under real MG pressure (capacity 2) every estimate must stay a
    lower bound on the exact count — decrements only ever shrink."""
    from retail_sales_data_pipeline_spark.streaming.jobs import (
        stream_heavy_hitters,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r.item: r.est_count
        for r in stream_heavy_hitters(
            spark, sf, capacity=2, n_buckets=4, top_k=50
        ).collect()
    }
    assert got, "no summaries emitted"
    exact = {
        r.item: r["count"]
        for r in spark.read.parquet(f"{sf}/events.parquet")
        .groupBy(F.col("user_id").cast("string").alias("item"))
        .count()
        .collect()
    }
    for item, est in got.items():
        assert est <= exact[item], (item, est, exact[item])


def test_stream_cdc_apply_upserts_and_resumes(spark, tmp_path):
    """CDC stream -> manifest table: microbatch upserts through the
    atomic merge, in-batch multi-event keys collapsed latest-wins by
    order_col, and a second availableNow run on the SAME checkpoint
    processes only files it has not seen (no double-apply)."""
    import retail_sales_data_pipeline_spark.sinks as S
    from retail_sales_data_pipeline_spark.streaming.jobs import (
        stream_cdc_apply,
    )

    table = str(tmp_path / "state")
    spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0)], "id long, v string, seq long"
    ).write.parquet(table)

    src = tmp_path / "cdc"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, v string, seq long"

    def emit(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / name)
        )

    def drain():
        stream = spark.readStream.schema(schema).parquet(
            str(src) + "/*"
        )
        q = stream_cdc_apply(
            stream, table, keys=["id"], checkpoint=ckpt, order_col="seq"
        )
        q.awaitTermination()

    # batch 1: update id=2 twice (seq 1 then 2 — latest wins), insert 3
    emit("b1", [(2, "stale", 1), (2, "fresh", 2), (3, "c", 1)])
    drain()
    rows = {r.id: (r.v, r.seq) for r in S.read_table(spark, table).collect()}
    assert rows == {1: ("a", 0), 2: ("fresh", 2), 3: ("c", 1)}
    gen_after_b1 = S._load_manifest(table)["gen_no"]

    # restart on the same checkpoint with one NEW file: the old files
    # must not re-apply (gen advances exactly once more)
    emit("b2", [(1, "a2", 5)])
    drain()
    rows = {r.id: (r.v, r.seq) for r in S.read_table(spark, table).collect()}
    assert rows == {1: ("a2", 5), 2: ("fresh", 2), 3: ("c", 1)}
    assert S._load_manifest(table)["gen_no"] == gen_after_b1 + 1

    # empty catch-up run: no new files -> no new generation
    drain()
    assert S._load_manifest(table)["gen_no"] == gen_after_b1 + 1


def test_stream_cdc_apply_is_file_granular(spark, tmp_path):
    """Per-microbatch write amplification at a realistic batch:table
    ratio: each CDC batch upserts through the file-granular merge, so
    the batch rewrites ONLY the files holding its matched keys — the
    rest of the table carries into each new manifest by reference
    (round-7 fix for whole-table copy-on-write per microbatch)."""
    import retail_sales_data_pipeline_spark.sinks as S
    from retail_sales_data_pipeline_spark.streaming.jobs import (
        stream_cdc_apply,
    )

    table = str(tmp_path / "state")
    spark.range(6000).selectExpr(
        "id", "cast(id as double) as v", "cast(0 as long) as seq"
    ).write.parquet(table)
    S.compact_parquet(spark, table, target_files=6, sort_col="id")
    n_files = len(S._load_manifest(table)["files"])
    assert n_files == 6

    src = tmp_path / "cdc"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, v double, seq long"

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        q = stream_cdc_apply(
            stream, table, keys=["id"], checkpoint=ckpt, order_col="seq"
        )
        q.awaitTermination()

    for i, ids in enumerate([(100, 101), (3000, 3001), (5500, 9999)]):
        before = {e["name"] for e in S._load_manifest(table)["files"]}
        spark.createDataFrame(
            [(k, -1.0, i + 1) for k in ids], schema
        ).coalesce(1).write.parquet(str(src / f"b{i}"))
        drain()
        man = S._load_manifest(table)
        after = {e["name"] for e in man["files"]}
        # ≥ 4 of the 6 original-scale files carried BY REFERENCE, and
        # everything rewritten/inserted lives in the batch's generation
        assert len(before & after) >= len(before) - 2, (i, before, after)
        assert all(
            n.startswith(man["generation"]) for n in after - before
        ), (i, after - before)

    rows = {r.id: r.v for r in S.read_table(spark, table)
            .where("v < 0 OR id = 9999").collect()}
    assert rows == {100: -1.0, 101: -1.0, 3000: -1.0, 3001: -1.0,
                    5500: -1.0, 9999: -1.0}
    assert S.read_table(spark, table).count() == 6001


class _FakeGroupState:
    """Duck-typed GroupState for driver-side unit tests of the
    sessionizer's state machine (the Spark integration path is covered
    by the drain-equality tests; these pin the cross-batch semantics a
    bounded drain cannot reach)."""

    def __init__(self, value=None, timed_out=False):
        self._v = tuple(value) if value is not None else None
        self.hasTimedOut = timed_out
        self.timeout_ms = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


def _run_session_fn(state, rows_sec):
    import pandas as pd

    from retail_sales_data_pipeline_spark.streaming.jobs import (
        _make_session_fn,
    )

    fn = _make_session_fn()
    pdfs = iter(
        [pd.DataFrame({"_sec": rows_sec, "value": [1.0] * len(rows_sec)})]
    ) if rows_sec else iter([])
    return list(fn((7,), pdfs, state))


def test_sessionize_seq_survives_timeout_flush():
    """Regression: after an event-time timeout flushes session k, the
    user's NEXT session must number k+1 (the batch twin's cumulative
    numbering), not restart at 1."""
    from retail_sales_data_pipeline_spark.operators.events import (
        SESSION_GAP_SEC,
    )

    st = _FakeGroupState()
    _run_session_fn(st, [0, 10])  # open session 1
    assert st.get[0] == 1 and st.get[1] == 0
    st.hasTimedOut = True
    out = _run_session_fn(st, [])  # watermark passed last+gap: flush
    assert len(out) == 1 and out[0].iloc[0]["session_seq"] == 1
    assert st.exists and st.get[0] == 1 and st.get[1] is None  # counter kept
    st.hasTimedOut = False
    later = 10 + 10 * SESSION_GAP_SEC
    _run_session_fn(st, [later])
    assert st.get[0] == 2  # cumulative, not reset to 1
    # retention timeout with no open session: counter GC'd, no emit
    st.hasTimedOut = True
    st._v = (2, None, later, 0, 0.0)
    out = _run_session_fn(st, [])
    assert out == [] and not st.exists


def test_sessionize_out_of_order_event_extends_not_regresses():
    """Regression: a watermark-valid late event BELOW the open
    session's start must extend the interval (min/max), never move
    last backwards into a negative duration."""
    st = _FakeGroupState(value=(1, 1000, 2000, 3, 3.0))
    _run_session_fn(st, [500])  # late, within gap of the interval
    seq, start, last, n, sv = st.get
    assert (seq, start, last, n) == (1, 500, 2000, 4)
    assert last - start > 0  # duration stays positive


def test_stream_cdc_apply_late_batch_does_not_regress(spark, tmp_path):
    """Cross-batch ordering: a LATER microbatch carrying an OLDER
    order_col value for an already-upserted key must not regress the
    row (and an equal value stays idempotent under replay)."""
    import retail_sales_data_pipeline_spark.sinks as S
    from retail_sales_data_pipeline_spark.streaming.jobs import (
        stream_cdc_apply,
    )

    table = str(tmp_path / "state")
    spark.createDataFrame([(1, "a", 0)], "id long, v string, seq long"
                          ).write.parquet(table)
    src = tmp_path / "cdc"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, v string, seq long"

    def emit(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / name)
        )

    def drain():
        q = stream_cdc_apply(
            spark.readStream.schema(schema).parquet(str(src) + "/*"),
            table, keys=["id"], checkpoint=ckpt, order_col="seq",
        )
        q.awaitTermination()

    emit("b1", [(1, "fresh", 5)])
    drain()
    # a late-landing file with an OLDER seq for the same key
    emit("b2", [(1, "stale", 3), (2, "new", 1)])
    drain()
    rows = {r.id: (r.v, r.seq) for r in S.read_table(spark, table).collect()}
    assert rows == {1: ("fresh", 5), 2: ("new", 1)}  # no regression
    # equal-seq replay stays idempotent (>= keeps the row applied)
    emit("b3", [(1, "fresh", 5)])
    drain()
    rows = {r.id: (r.v, r.seq) for r in S.read_table(spark, table).collect()}
    assert rows == {1: ("fresh", 5), 2: ("new", 1)}


def test_stream_append_table_exactly_once(spark, tmp_path):
    """Append-only streaming ingest into a manifest table: availableNow
    drain lands every row exactly once, a REPLAYED batch (simulating
    foreachBatch's at-least-once redelivery after a crash between table
    commit and checkpoint commit) is skipped by the manifest's txn
    watermark, and each batch's rows surface as an ordinary CDC feed."""
    import retail_sales_data_pipeline_spark.sinks as S
    from retail_sales_data_pipeline_spark.streaming import (
        stream_append_table,
    )

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(-1, -1.0)], "id long, value double"
                          ).write.parquet(path)
    S.convert_to_manifest(spark, path)

    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 50)
        .option("numPartitions", 2)
        .load()
        .selectExpr("value as id", "cast(value as double) as value")
    )
    q = stream_append_table(
        stream.where("id < 150"), path, str(tmp_path / "ckpt"), "rates"
    )
    # rate-micro-batch is unbounded: stop after a few batches landed
    import time

    deadline = time.time() + 60
    while time.time() < deadline:
        man = S._load_manifest(path)
        if man.get("txn", {}).get("rates", -1) >= 2:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination()

    man = S._load_manifest(path)
    applied = man["txn"]["rates"]
    tbl = S.read_table(spark, path)
    n_before = tbl.count()
    # every id 0..(50*(applied+1))-1 present exactly once (bounded by
    # the <150 filter), plus the seed row
    got = [r.id for r in tbl.where("id >= 0").collect()]
    assert len(got) == len(set(got)), "duplicate rows from replay"

    # REPLAY: re-apply an already-committed batch id by hand — the
    # watermark skips it (crash-between-commit-and-checkpoint shape)
    replay = spark.createDataFrame([(999, 9.0)], "id long, value double")
    assert S.insert_into(spark, path, replay, txn=("rates", applied)) == 0
    assert S.read_table(spark, path).count() == n_before
    # and the next batch id applies
    assert S.insert_into(
        spark, path, replay, txn=("rates", applied + 1)
    ) == 1
    assert S.read_table(spark, path).count() == n_before + 1


def test_bounded_drain_partitions_scale_adaptive(spark, tmp_path):
    """r14: JVM-stateful bounded drains derive their state-partition
    count from INPUT SIZE (16 MB per partition), floored at 8 and
    capped at the session's configured shuffle partitions — pin the
    math so the knob stays scale-adaptive rather than core-tuned."""
    import os

    from retail_sales_data_pipeline_spark.streaming.jobs import (
        _bounded_drain_partitions,
    )

    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    small = tmp_path / "small.bin"
    small.write_bytes(b"x" * 1024)  # 1 KB -> floor
    assert _bounded_drain_partitions(spark, str(small)) == min(8, cap)
    # a TB-scale input must get the FULL configured width (the cap is
    # the operative value at cluster scale) — stat via a sparse file
    big = tmp_path / "big.bin"
    with open(big, "wb") as f:
        f.seek((1 << 40) - 1)
        f.write(b"\0")
    assert _bounded_drain_partitions(spark, str(big)) == cap
    # missing path degrades to the floor, never raises
    assert _bounded_drain_partitions(
        spark, str(tmp_path / "nope")
    ) == min(8, cap)
    # mid-size: 160 MB -> 10 partitions (between floor and cap) when
    # the cap allows it
    mid = tmp_path / "mid.bin"
    with open(mid, "wb") as f:
        f.seek(160 * (1 << 20) - 1)
        f.write(b"\0")
    assert _bounded_drain_partitions(spark, str(mid)) == min(10, cap)
    assert os.path.getsize(big) == 1 << 40  # sparse, not materialized


def test_bounded_drain_partitions_counts_every_file_of_a_directory(spark, tmp_path):
    """A directory input is sized by all of its files, not by the
    directory entry's own ~4 KB: 64 sparse 16 MB parts under a
    200-partition cap drain on 64 state partitions, not the floor."""
    from retail_sales_data_pipeline_spark.streaming.jobs import (
        _bounded_drain_partitions,
    )

    d = tmp_path / "drain"
    d.mkdir()
    for i in range(64):
        with open(d / f"part-{i:05d}.parquet", "wb") as f:
            f.truncate(16 << 20)  # sparse: no blocks written
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        assert _bounded_drain_partitions(spark, str(d)) == 64
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def test_overlapping_drains_leave_session_conf_alone(spark, monkeypatch):
    """Two bounded drains on one session, held inside their drain windows
    at the same time: each drains on its own input-sized partition
    count, the caller's session keeps its count throughout and after,
    and both results match their oracles."""
    import threading

    import retail_sales_data_pipeline_spark.streaming.jobs as J
    from tests.oracle import assert_query_matches_oracle

    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    spark.conf.set(key, "16")  # above the 8-partition drain floor
    real = J._run_to_memory
    gate = threading.Barrier(2, timeout=120)
    seen = []

    def gated(result, output_mode):
        gate.wait()  # both drains are inside their windows
        seen.append((spark.conf.get(key), result.sparkSession.conf.get(key)))
        out = real(result, output_mode)
        gate.wait()  # neither leaves before both have drained
        return out

    monkeypatch.setattr(J, "_run_to_memory", gated)
    errors = []

    def run(name):
        try:
            assert_query_matches_oracle(spark, SF, name)
        except BaseException as e:  # re-raised on the test thread
            errors.append(e)
            gate.abort()

    try:
        threads = [
            threading.Thread(target=run, args=(n,))
            for n in ("streaming_hourly_rollup", "streaming_dedup_rollup")
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        after = spark.conf.get(key)
    finally:
        spark.conf.set(key, saved)
    if errors:
        raise errors[0]
    assert seen == [("16", "8"), ("16", "8")]
    assert after == "16"
