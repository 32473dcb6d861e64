"""End-to-end pipeline tests (SURVEY.md §5 items 2 & 4): golden run on
FIXTURES.md-shaped retail data plus every negative path the reference's
control plane defines (quarantine, extra-column fold, crash detection,
ledger lifecycle).
"""

from __future__ import annotations

import contextlib
import csv
import datetime
import io
import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from retail_sales_data_pipeline_spark import storage
from retail_sales_data_pipeline_spark.ledger import Ledger
from retail_sales_data_pipeline_spark.pipeline import run_pipeline

PRODUCTS = {"sugar 50": 50.0, "maida 20": 20.0, "refined oil 110": 110.0}


def _write_csv(path, header, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


HAPPY_HEADER = [
    "customer_id", "store_id", "product_name", "sales_date",
    "sales_person_id", "price", "quantity", "total_cost",
]


def _happy_rows():
    # Deterministic rows over 2 months, 2 stores, FIXTURES.md domains.
    rows = []
    for i in range(40):
        cid = 1 + (i % 5)
        sid = 121 + ((i // 2) % 2)
        spid = {121: 1, 122: 4}[sid]
        prod = list(PRODUCTS)[i % 3]
        price = PRODUCTS[prod]
        qty = 1 + (i % 4)
        date = f"2023-0{3 + (i % 2)}-{10 + (i % 15):02d}"
        rows.append([cid, sid, prod, date, spid, price, qty, round(price * qty, 2)])
    return rows


@pytest.fixture
def dims(spark):
    customer = spark.createDataFrame(
        [(i, f"first{i}", f"last{i}", f"addr{i}", f"5600{i:02d}", f"98{i:08d}", "2021-01-01")
         for i in range(1, 6)],
        "customer_id int, first_name string, last_name string, address string, "
        "pincode string, phone_number string, customer_joining_date string",
    ).withColumn("customer_joining_date", F.to_date("customer_joining_date"))
    store = spark.createDataFrame(
        [(121, "store addr A", "560001", "mgrA", "2020-01-01", "good"),
         (122, "store addr B", "560002", "mgrB", "2020-01-01", "ok")],
        "id int, address string, store_pincode string, store_manager_name string, "
        "store_opening_date string, reviews string",
    )
    sales_team = spark.createDataFrame(
        [(1, "sp_f1", "sp_l1", 10, "N", "sp addr 1", "560001", "2021-01-01"),
         (4, "sp_f4", "sp_l4", 10, "N", "sp addr 4", "560002", "2021-01-01")],
        "id int, first_name string, last_name string, manager_id int, is_manager string, "
        "address string, pincode string, joining_date string",
    )
    return {"customer": customer, "store": store, "sales_team": sales_team}


@pytest.fixture
def workdir(tmp_path):
    d = {k: str(tmp_path / k) for k in ["source", "error", "processed", "out", "ledger"]}
    os.makedirs(d["source"])
    return d


def test_happy_path_end_to_end(spark, dims, workdir):
    _write_csv(f"{workdir['source']}/sales_2023.csv", HAPPY_HEADER, _happy_rows())
    ledger = Ledger(workdir["ledger"])
    res = run_pipeline(
        spark, workdir["source"], workdir["error"], workdir["processed"],
        workdir["out"], dims, ledger=ledger, run_id="r1",
    )
    assert len(res.accepted) == 1 and not res.quarantined and not res.crashed_files

    cm = spark.read.parquet(res.outputs["customer_mart"])
    # group keys: 5 customers x 2 months all present
    assert cm.count() == 10
    assert set(cm.columns) == {
        "customer_id", "sales_date_month", "full_name", "address",
        "phone_number", "total_sales",
    }
    # golden total: sum over all rows equals sum of mart totals
    total = sum(r[-1] for r in _happy_rows())
    assert abs(cm.agg(F.sum("total_sales")).first()[0] - total) < 1e-6

    sm = spark.read.parquet(res.outputs["sales_mart"])
    months = {r.sales_month for r in sm.select("sales_month").distinct().collect()}
    assert months == {"2023-03", "2023-04"}
    # exactly one rank-1 incentive per (store, month) here (no ties by construction)
    top = sm.filter(F.col("rnk") == 1)
    assert top.count() == 4  # 2 stores x 2 months
    assert all(r.incentive > 0 for r in top.collect())
    assert all(r.incentive == 0 for r in sm.filter(F.col("rnk") > 1).collect())

    # files archived; ledger all inactive
    assert os.listdir(workdir["processed"]) == ["sales_2023.csv"]
    snap = ledger.snapshot(spark)
    assert [r.status for r in snap.collect()] == ["I"]


def test_extra_column_folded(spark, dims, workdir):
    rows = [r + ["UPI" if i % 2 else "cash"] for i, r in enumerate(_happy_rows())]
    _write_csv(
        f"{workdir['source']}/extra.csv", HAPPY_HEADER + ["payment_mode"], rows
    )
    res = run_pipeline(
        spark, workdir["source"], workdir["error"], workdir["processed"],
        workdir["out"], dims, run_id="r1",
    )
    assert len(res.accepted) == 1
    # the fold is observable pre-mart; re-read the partitioned mart to
    # prove the file was processed, then check fold via a direct conform
    assert res.customer_mart_rows == 10


def test_missing_column_quarantined(spark, dims, workdir):
    hdr = [c for c in HAPPY_HEADER if c != "store_id"]
    rows = [[v for c, v in zip(HAPPY_HEADER, r) if c != "store_id"] for r in _happy_rows()]
    _write_csv(f"{workdir['source']}/bad.csv", hdr, rows)
    _write_csv(f"{workdir['source']}/good.csv", HAPPY_HEADER, _happy_rows())
    res = run_pipeline(
        spark, workdir["source"], workdir["error"], workdir["processed"],
        workdir["out"], dims, run_id="r1",
    )
    assert [os.path.basename(p) for p in res.accepted] == ["good.csv"]
    assert os.listdir(workdir["error"]) == ["bad.csv"]
    # quarantined file contributed no rows: marts reflect good.csv only
    assert res.customer_mart_rows == 10


def test_all_files_bad_is_clean_noop(spark, dims, workdir):
    _write_csv(f"{workdir['source']}/bad.csv", ["a", "b"], [[1, 2]])
    res = run_pipeline(
        spark, workdir["source"], workdir["error"], workdir["processed"],
        workdir["out"], dims, run_id="r1",
    )
    assert not res.accepted and len(res.quarantined) == 1
    assert res.customer_mart_rows == 0


def test_crash_detection_and_ledger_lifecycle(spark, dims, workdir):
    ledger = Ledger(workdir["ledger"])
    # simulate a prior run that died after mark_active
    ledger.mark_active(spark, {"sales_2023.csv": "somewhere"}, seq=0)
    assert ledger.active_files(spark) == ["sales_2023.csv"]

    _write_csv(f"{workdir['source']}/sales_2023.csv", HAPPY_HEADER, _happy_rows())
    res = run_pipeline(
        spark, workdir["source"], workdir["error"], workdir["processed"],
        workdir["out"], dims, ledger=ledger, run_id="r2",
    )
    # the rerun detected the in-flight file from the dead run
    assert res.crashed_files == ["sales_2023.csv"]
    # and after success the ledger shows it inactive
    assert ledger.active_files(spark) == []
    snap = ledger.snapshot(spark).collect()
    assert len(snap) == 1 and snap[0].status == "I"


def test_streaming_pipeline_matches_batch_and_skips_processed(spark, dims, workdir):
    """The streaming mode derives the same marts as the batch pipeline,
    and a rerun with the same checkpoint processes nothing new (the
    checkpoint replaces the A/I ledger)."""
    from retail_sales_data_pipeline_spark.streaming import stream_retail_pipeline

    _write_csv(f"{workdir['source']}/sales_2023.csv", HAPPY_HEADER, _happy_rows())
    ckpt = f"{workdir['out']}/_ckpt"
    c1 = stream_retail_pipeline(
        spark, workdir["source"], dims, workdir["out"], ckpt
    )
    assert c1["batches"] == 1 and c1["customer_mart_rows"] == 10

    cm = spark.read.parquet(f"{workdir['out']}/tables/customers_data_mart")
    total = sum(r[-1] for r in _happy_rows())
    assert float(cm.agg(F.sum("total_sales")).first()[0]) == pytest.approx(total)

    # rerun with same checkpoint: file already processed -> no new batch rows
    c2 = stream_retail_pipeline(
        spark, workdir["source"], dims, workdir["out"], ckpt
    )
    assert c2["batches"] == 0
    assert spark.read.parquet(
        f"{workdir['out']}/tables/customers_data_mart"
    ).count() == cm.count()


def test_rerun_same_run_id_is_idempotent(spark, dims, workdir):
    _write_csv(f"{workdir['source']}/a.csv", HAPPY_HEADER, _happy_rows())
    res1 = run_pipeline(
        spark, workdir["source"], workdir["error"], workdir["processed"],
        workdir["out"], dims, run_id="rX",
    )
    # same file lands again (retry scenario), same run id
    _write_csv(f"{workdir['source']}/a.csv", HAPPY_HEADER, _happy_rows())
    res2 = run_pipeline(
        spark, workdir["source"], workdir["error"], workdir["processed"],
        workdir["out"], dims, run_id="rX",
    )
    cm = spark.read.parquet(res2.outputs["customer_mart"])
    assert cm.count() == res1.customer_mart_rows  # overwrote, not doubled


def test_cleanup_local_dir(tmp_path):
    from retail_sales_data_pipeline_spark.validate import cleanup_local_dir

    d = tmp_path / "staging"
    d.mkdir()
    (d / "a.csv").write_text("x")
    sub = d / "nested"
    sub.mkdir()
    (sub / "b.csv").write_text("y")
    deleted = cleanup_local_dir(str(d))
    assert len(deleted) == 2
    assert d.exists() and not any(d.iterdir())  # dir kept, contents gone


def test_delete_objects_idempotent(tmp_path):
    from retail_sales_data_pipeline_spark.validate import delete_objects

    f = tmp_path / "obj.parquet"
    f.write_text("x")
    missing = str(tmp_path / "never-existed")
    deleted = delete_objects([str(f), missing])
    assert deleted == [str(f)]
    assert not f.exists()
    # second delete of the same keys is a no-op, not an error
    assert delete_objects([str(f), missing]) == []


def test_curate_corpus_writes_survivors(spark, tmp_path):
    from retail_sales_data_pipeline_spark.corpus_pipeline import curate_corpus

    sf = "/root/testdata/sf0.001"
    res = curate_corpus(spark, sf, str(tmp_path / "curated"))
    assert 0 < res.kept_docs < res.raw_docs
    # written corpus matches the funnel's final stage exactly
    final = [row for row in res.funnel if row[1] == "decontaminated"][0]
    assert res.kept_docs == final[2] and res.kept_tokens == final[3]
    back = spark.read.parquet(f"{res.out_path}/documents")
    assert back.count() == res.kept_docs
    # language partitioning reached the layout
    langs = {r.lang for r in back.select("lang").distinct().collect()}
    assert len(langs) > 1
    import os
    assert any(d.startswith("lang=") for d in os.listdir(f"{res.out_path}/documents"))


def test_export_shards_writes_reproducible_layout(spark, tmp_path):
    """The export job must write exactly one file per shard directory,
    cover exactly the curation survivors, order each shard by the
    shuffle key, and be byte-reproducible (same assignment on rerun)."""
    import os

    from retail_sales_data_pipeline_spark.corpus_pipeline import (
        curate_corpus,
        export_shards,
    )

    sf = "/root/testdata/sf0.001"
    n_shards = 8
    res = export_shards(spark, sf, str(tmp_path / "exp"), n_shards=n_shards)
    kept = curate_corpus(spark, sf, str(tmp_path / "curated")).kept_docs
    assert res.n_docs == kept

    shard_dirs = sorted(
        d for d in os.listdir(res.out_path) if d.startswith("shard=")
    )
    assert len(shard_dirs) == n_shards
    for d in shard_dirs:
        files = [
            f
            for f in os.listdir(os.path.join(res.out_path, d))
            if f.startswith("part-")
        ]
        assert len(files) == 1, (d, files)  # one file per shard

    back = spark.read.parquet(res.out_path)
    assert back.count() == res.n_docs
    # within-shard order: rows of each shard file are sorted by the
    # permutation key (single parquet file read preserves row order)
    one = spark.read.parquet(os.path.join(res.out_path, "shard=0"))
    keys = [r.shuffle_key for r in one.select("shuffle_key").collect()]
    assert keys == sorted(keys) and len(keys) > 0
    # reproducibility: a second export writes the identical assignment
    res2 = export_shards(spark, sf, str(tmp_path / "exp2"), n_shards=n_shards)
    a = sorted(
        map(tuple, spark.read.parquet(res.out_path).select(
            "doc_id", "shard").collect())
    )
    b = sorted(
        map(tuple, spark.read.parquet(res2.out_path).select(
            "doc_id", "shard").collect())
    )
    assert a == b


def test_single_header_probe_per_file(spark, dims, workdir, monkeypatch):
    """The exact-vs-wide routing in step 5 must reuse the headers probed
    during validation: exactly ONE driver-side header read per file
    end-to-end (round-3 verdict — the old second probe pass cost 10^5
    extra sequential JVM metadata reads at daily-batch scale), and no
    schemaless/inferless read_csv_full probe calls at all."""
    import retail_sales_data_pipeline_spark.pipeline as pl
    import retail_sales_data_pipeline_spark.validate as v

    probes: list[str] = []
    real_header = v.read_csv_header
    monkeypatch.setattr(
        v, "read_csv_header", lambda s, p: probes.append(p) or real_header(s, p)
    )
    real_full = pl.read_csv_full

    def guarded_full(spark_, path, schema=None, infer=False):
        assert schema is not None or infer, (
            f"header re-probe via read_csv_full({path!r}) — reuse "
            "ValidationReport.columns instead"
        )
        return real_full(spark_, path, schema=schema, infer=infer)

    monkeypatch.setattr(pl, "read_csv_full", guarded_full)

    _write_csv(f"{workdir['source']}/a.csv", HAPPY_HEADER, _happy_rows())
    rows = [r + ["UPI"] for r in _happy_rows()]
    _write_csv(f"{workdir['source']}/b.csv", HAPPY_HEADER + ["payment_mode"], rows)
    res = run_pipeline(
        spark, workdir["source"], workdir["error"], workdir["processed"],
        workdir["out"], dims, run_id="r1",
    )
    assert len(res.accepted) == 2
    assert sorted(os.path.basename(p) for p in probes) == ["a.csv", "b.csv"]


def test_persist_tracked_release(spark):
    """persist_tracked registers frames; release_persisted drops them
    all (LIFO) and empties the registry — the ADVICE-r4 lifecycle for
    persists buried inside lazy query builders."""
    from retail_sales_data_pipeline_spark.caching import (
        persist_tracked,
        release_persisted,
    )

    release_persisted()  # drain anything earlier tests left behind
    a = persist_tracked(spark.range(10).toDF("n"))
    b = persist_tracked(spark.range(5).toDF("n"))
    a.count(), b.count()
    assert a.storageLevel.useMemory and b.storageLevel.useMemory
    assert release_persisted() == 2
    assert not a.storageLevel.useMemory and not b.storageLevel.useMemory
    assert release_persisted() == 0  # registry drained


def test_release_frames_by_handle_ignores_interleaved(spark):
    """release_frames drops exactly the given handles regardless of
    tracker position — the concurrency-correct scoped release (ADVICE
    r5: depth marks assume one runner thread)."""
    from retail_sales_data_pipeline_spark.caching import (
        persist_tracked,
        release_frames,
        release_persisted,
    )

    release_persisted()  # drain anything earlier tests left behind
    mine = persist_tracked(spark.range(10).toDF("n"))
    theirs = persist_tracked(spark.range(5).toDF("n"))  # "another thread's"
    mine.count(), theirs.count()
    assert release_frames([mine]) == 1
    assert not mine.storageLevel.useMemory
    assert theirs.storageLevel.useMemory  # untouched, unlike a LIFO pop
    assert release_frames([mine]) == 0  # idempotent
    assert release_persisted() == 1  # only `theirs` remained tracked


def test_release_persisted_is_scopable(spark):
    """persist_mark/release_persisted(since=...) must drop exactly the
    caches created after the mark — a composite job (export_shards)
    releasing its own persists must not evict the caller's."""
    from pyspark import StorageLevel as SL

    from retail_sales_data_pipeline_spark.caching import (
        persist_mark,
        persist_tracked,
        release_persisted,
    )

    callers = persist_tracked(spark.range(10).toDF("a"))
    callers.count()
    mark = persist_mark()
    inner = persist_tracked(spark.range(20).toDF("b"))
    inner.count()

    dropped = release_persisted(since=mark, blocking=True)
    assert dropped == 1
    assert inner.storageLevel == SL.NONE  # inner released...
    assert callers.storageLevel != SL.NONE  # ...caller's cache survives
    assert release_persisted(blocking=True) == 1  # full drain gets the rest
    assert callers.storageLevel == SL.NONE


def test_rerun_same_run_id_table_sinks_not_doubled(spark, dims, workdir):
    """Regression: the TABLE sinks (append path) must be retry-
    idempotent too — a retried run overwrites its own run=<id>
    partition instead of double-appending the marts."""
    _write_csv(f"{workdir['source']}/a.csv", HAPPY_HEADER, _happy_rows())
    res1 = run_pipeline(
        spark, workdir["source"], workdir["error"], workdir["processed"],
        workdir["out"], dims, run_id="rX",
    )
    _write_csv(f"{workdir['source']}/a.csv", HAPPY_HEADER, _happy_rows())
    run_pipeline(
        spark, workdir["source"], workdir["error"], workdir["processed"],
        workdir["out"], dims, run_id="rX",
    )
    tbl = spark.read.parquet(res1.outputs["customer_mart_table"])
    assert tbl.count() == res1.customer_mart_rows  # replaced, not doubled
    # a DIFFERENT run id appends (cross-run append semantics preserved)
    _write_csv(f"{workdir['source']}/a.csv", HAPPY_HEADER, _happy_rows())
    run_pipeline(
        spark, workdir["source"], workdir["error"], workdir["processed"],
        workdir["out"], dims, run_id="rY",
    )
    tbl = spark.read.parquet(res1.outputs["customer_mart_table"])
    assert tbl.count() == 2 * res1.customer_mart_rows


def test_unreadable_csv_is_quarantined_not_fatal(spark, dims, workdir):
    """Regression: a zero-byte CSV must be routed to error_dir like any
    other invalid file — not crash the whole batch at header probe."""
    _write_csv(f"{workdir['source']}/good.csv", HAPPY_HEADER, _happy_rows())
    open(f"{workdir['source']}/empty.csv", "w").close()  # zero bytes
    res = run_pipeline(
        spark, workdir["source"], workdir["error"], workdir["processed"],
        workdir["out"], dims, run_id="rZ",
    )
    assert res.customer_mart_rows > 0  # good file still processed
    assert any(q.endswith("empty.csv") for q in res.quarantined)
    assert os.path.exists(f"{workdir['error']}/empty.csv")


def test_narrowed_mandatory_null_extends_missing_canonical(
    spark, dims, workdir
):
    """Regression: with a caller-narrowed mandatory subset, an accepted
    file missing a canonical column must flow through conform with the
    column NULL-extended, not abort the batch."""
    hdr = [c for c in HAPPY_HEADER if c != "total_cost"]
    rows = [r[:-1] for r in _happy_rows()]
    _write_csv(f"{workdir['source']}/nt.csv", hdr, rows)
    res = run_pipeline(
        spark, workdir["source"], workdir["error"], workdir["processed"],
        workdir["out"], dims, run_id="rN",
        mandatory=[c for c in HAPPY_HEADER if c != "total_cost"],
    )
    assert res.accepted and not res.quarantined
    cm = spark.read.parquet(res.outputs["customer_mart"])
    assert cm.count() > 0


def test_ledger_reconcile_flips_archived_actives(spark, workdir):
    """Recovery for the archive/mark-done crash window: a file left 'A'
    whose bytes reached processed/ is flipped to done."""
    ledger = Ledger(f"{workdir['out']}/ledger")
    ledger.mark_active(spark, {"x.csv": "/src/x.csv"}, seq=0)
    ledger.mark_active(spark, {"y.csv": "/src/y.csv"}, seq=0)
    # x.csv made it to processed/ before the crash; y.csv did not
    os.makedirs(workdir["processed"], exist_ok=True)
    open(f"{workdir['processed']}/x.csv", "w").write("data")
    fixed = ledger.reconcile(spark, workdir["processed"])
    assert fixed == ["x.csv"]
    assert ledger.active_files(spark) == ["y.csv"]
    assert ledger.reconcile(spark, workdir["processed"]) == []  # idempotent


def test_ledger_reconcile_uri_processed_prefix(spark, workdir):
    """The same recovery when the processed prefix is a URI: presence
    is checked through the prefix's storage backend, not os.path."""
    ledger = Ledger(f"{workdir['out']}/ledger")
    ledger.mark_active(spark, {"x.csv": "/src/x.csv", "y.csv": "/src/y.csv"}, seq=0)
    os.makedirs(workdir["processed"], exist_ok=True)
    open(f"{workdir['processed']}/x.csv", "w").write("data")
    fixed = ledger.reconcile(spark, f"file://{workdir['processed']}")
    assert fixed == ["x.csv"]
    assert ledger.active_files(spark) == ["y.csv"]


def test_cleanup_local_dir_missing_ok(tmp_path):
    """A missing location raises by default (typo guard); rerunnable
    emptying flows on object stores — where an emptied prefix is
    indistinguishable from an absent one — opt into the no-op with
    missing_ok=True."""
    import pytest as _pytest

    from retail_sales_data_pipeline_spark.validate import cleanup_local_dir

    absent = str(tmp_path / "no-such-dir")
    with _pytest.raises(FileNotFoundError):
        cleanup_local_dir(absent)
    assert cleanup_local_dir(absent, missing_ok=True) == []


@contextlib.contextmanager
def _spark_jobs(spark, group):
    """Collect the ids of the Spark jobs run inside the block."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_validate_and_ledger_job_counts(spark, tmp_path):
    """The per-file driver path runs no Spark job per file: validating a
    drop (accepted, wide, missing-column, zero-byte) runs none at all,
    and one ledger append is exactly its write job."""
    from retail_sales_data_pipeline_spark.validate import validate_files

    src = tmp_path / "src"
    src.mkdir()
    _write_csv(src / "a.csv", HAPPY_HEADER, _happy_rows())
    _write_csv(src / "b.csv", HAPPY_HEADER, _happy_rows()[:3])
    _write_csv(src / "wide.csv", HAPPY_HEADER + ["payment_mode"],
               [r + ["UPI"] for r in _happy_rows()])
    _write_csv(src / "miss1.csv", HAPPY_HEADER[1:], [])
    _write_csv(src / "miss2.csv", HAPPY_HEADER[:-1], [])
    (src / "zero.csv").write_bytes(b"")
    paths = sorted(str(p) for p in src.iterdir())
    with _spark_jobs(spark, "validate_files") as jobs:
        report = validate_files(spark, paths)
    assert jobs == []
    assert sorted(os.path.basename(p) for p in report.accepted) == ["a.csv", "b.csv", "wide.csv"]
    assert len(report.rejected) == 3

    ledger = Ledger(str(tmp_path / "ledger"))
    with _spark_jobs(spark, "mark_active") as jobs:
        ledger.mark_active(spark, {"a.csv": paths[0], "b.csv": paths[1]}, seq=0)
    assert len(jobs) == 1


def test_ledger_at_uri_path_detects_crash(spark, tmp_path):
    """A ledger addressed by URI (file://, and likewise s3://) must see
    its own events: Spark reads it at the same path it was written to,
    and a missing ledger is checked through the URI's storage backend,
    not an os.path check."""
    ledger = Ledger(f"file://{tmp_path}/ledger")
    assert ledger.active_files(spark) == []
    ledger.mark_active(spark, {"x.csv": "/src/x.csv"}, seq=0)
    assert ledger.active_files(spark) == ["x.csv"]


def test_fresh_ledger_probe_reads_no_parquet(spark, tmp_path, monkeypatch):
    """A ledger that does not exist yet is found missing through storage:
    the crash probe answers [] without a Spark read, which would log a
    FileNotFoundException stack trace before its PATH_NOT_FOUND."""
    from pyspark.sql import DataFrameReader

    reads = []
    real = DataFrameReader.parquet

    def recording(self, *paths, **kw):
        reads.append(paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", recording)
    assert Ledger(str(tmp_path / "ledger")).active_files(spark) == []
    assert reads == []


def test_unreadable_ledger_raises_not_empty(spark, tmp_path):
    """Only a missing ledger reads as "no events yet": a ledger whose
    file is not parquet fails the crash probe instead of disabling it."""
    (tmp_path / "ledger").mkdir()
    (tmp_path / "ledger" / "part-0.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception, match="(?i)parquet"):
        Ledger(str(tmp_path / "ledger")).active_files(spark)


def test_ledger_event_time_matches_row_list_writer(spark, tmp_path, monkeypatch):
    """The Arrow-built append stores the instant the earlier row-list
    writer stored: the naive UTC wall clock read as driver-local time
    (TimestampType.toInternal). Under TZ=America/New_York that is 5 h
    after a naive-pandas Arrow path would store. A ledger mixing the
    two writers therefore still snapshots a later 'I' over an 'A'."""
    import time
    from datetime import datetime, timedelta

    from retail_sales_data_pipeline_spark.ledger import LEDGER_SCHEMA

    def old_append(path, name, status, now, seq):
        spark.createDataFrame(
            [(name, f"/src/{name}", status, now, seq)], LEDGER_SCHEMA
        ).coalesce(1).write.mode("append").parquet(path)

    def micros(path):
        return [r.m for r in spark.read.parquet(path)
                .selectExpr("unix_micros(event_time) AS m").collect()]

    t0 = datetime(2026, 1, 15, 12, 0, 0, 123456)  # naive UTC, winter (EST)
    saved = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        old_append(str(tmp_path / "old"), "x.csv", "A", t0, 0)
        new = Ledger(str(tmp_path / "new"))
        monkeypatch.setattr(Ledger, "_now", lambda self: t0)
        new.mark_active(spark, {"x.csv": "/src/x.csv"}, seq=0)
        utc = int((t0 - datetime(1970, 1, 1)).total_seconds()) * 1_000_000 + t0.microsecond
        assert micros(str(tmp_path / "old")) == [utc + 5 * 3600 * 1_000_000]
        assert micros(str(tmp_path / "new")) == micros(str(tmp_path / "old"))

        mixed = Ledger(str(tmp_path / "mixed"))
        old_append(mixed.path, "x.csv", "A", t0, 0)
        monkeypatch.setattr(Ledger, "_now", lambda self: t0 + timedelta(minutes=1))
        mixed.mark_done(spark, {"x.csv": "/src/x.csv"}, seq=0)
        assert [r.status for r in mixed.snapshot(spark).collect()] == ["I"]
    finally:
        if saved is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = saved
        time.tzset()


class _CallLog:
    """Thread-safe record of wrapped calls' starts and ends, in order."""

    def __init__(self):
        self._lock = threading.Lock()
        self.events: list[tuple[str, str]] = []

    def wrap(self, name, fn, delay=0.0):
        def wrapper(*args, **kwargs):
            self._add("start", name)
            try:
                time.sleep(delay)  # widens any race the ordering forbids
                return fn(*args, **kwargs)
            finally:
                self._add("end", name)

        return wrapper

    def _add(self, event, name):
        with self._lock:
            self.events.append((event, name))

    def at(self, event, name) -> list[int]:
        return [i for i, e in enumerate(self.events) if e == (event, name)]


def _drop_with_reject(workdir):
    _write_csv(f"{workdir['source']}/good.csv", HAPPY_HEADER, _happy_rows())
    _write_csv(f"{workdir['source']}/bad.csv", HAPPY_HEADER[1:], [])


def _drain_listener_bus(spark):
    """Let the status tracker catch up with every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def test_pipeline_overlap_keeps_side_effect_order(spark, dims, workdir, monkeypatch):
    """The ledger runs beside planning and the five sinks run together,
    but the side effects keep their order: the probe returns before
    mark-active starts and before any quarantine; the 'A' events are
    written before any sink starts; archive and mark-done start only
    after every write has returned. Each wrapped step is slowed so an
    unwaited step would start early."""
    import retail_sales_data_pipeline_spark.pipeline as pl

    log = _CallLog()
    monkeypatch.setattr(Ledger, "active_files", log.wrap("probe", Ledger.active_files, 0.3))
    monkeypatch.setattr(Ledger, "mark_active", log.wrap("mark_active", Ledger.mark_active, 0.3))
    monkeypatch.setattr(Ledger, "mark_done", log.wrap("mark_done", Ledger.mark_done))
    monkeypatch.setattr(pl, "quarantine_files", log.wrap("quarantine", pl.quarantine_files))
    monkeypatch.setattr(pl, "archive_files", log.wrap("archive", pl.archive_files))
    monkeypatch.setattr(pl, "write_parquet", log.wrap("sink", pl.write_parquet))
    monkeypatch.setattr(
        pl, "write_partitioned_parquet", log.wrap("sink", pl.write_partitioned_parquet)
    )
    monkeypatch.setattr(
        pl, "append_table_run_scoped", log.wrap("sink", pl.append_table_run_scoped, 0.3)
    )

    _drop_with_reject(workdir)
    res = run_pipeline(
        spark, workdir["source"], workdir["error"], workdir["processed"],
        workdir["out"], dims, ledger=Ledger(workdir["ledger"]), run_id="rO",
    )
    assert [os.path.basename(q) for q in res.quarantined] == ["bad.csv"]
    assert res.customer_mart_rows == 10

    (probe_end,) = log.at("end", "probe")
    (mark_start,) = log.at("start", "mark_active")
    (mark_end,) = log.at("end", "mark_active")
    (quarantine_start,) = log.at("start", "quarantine")
    assert probe_end < mark_start and probe_end < quarantine_start
    sink_starts, sink_ends = log.at("start", "sink"), log.at("end", "sink")
    assert len(sink_starts) == len(sink_ends) == 5
    assert mark_end < min(sink_starts)
    assert max(sink_ends) < log.at("start", "archive")[0]
    assert max(sink_ends) < log.at("start", "mark_done")[0]


def test_pipeline_sink_failure_waits_and_leaves_files_active(
    spark, dims, workdir, monkeypatch
):
    """One failing sink: run_pipeline raises its error only after the
    other writes have returned. No job of the caller's group is left
    running, no worker thread survives, the caches are released, and
    the accepted file is neither archived nor flipped to 'I' — the next
    run's probe reports it."""
    import retail_sales_data_pipeline_spark.pipeline as pl

    def failing_append(df, path, run_id):
        raise RuntimeError("table sink down")

    monkeypatch.setattr(pl, "append_table_run_scoped", failing_append)
    _drop_with_reject(workdir)
    ledger = Ledger(workdir["ledger"])
    sc = spark.sparkContext
    cached_before = len(sc._jsc.getPersistentRDDs())
    with _spark_jobs(spark, "caller-sink-failure") as jobs:
        with pytest.raises(RuntimeError, match="table sink down"):
            run_pipeline(
                spark, workdir["source"], workdir["error"], workdir["processed"],
                workdir["out"], dims, ledger=ledger, run_id="rF",
            )
        _drain_listener_bus(spark)
    tracker = sc.statusTracker()
    assert jobs  # the ledger and the K1/K2 writes ran in the caller's group
    assert [j for j in jobs if tracker.getJobInfo(j).status == "RUNNING"] == []
    assert [t for t in threading.enumerate() if t.name.startswith("run_pipeline-rF")] == []
    assert len(sc._jsc.getPersistentRDDs()) == cached_before
    assert os.path.exists(f"{workdir['source']}/good.csv")
    assert not os.path.exists(workdir["processed"])
    assert ledger.active_files(spark) == ["good.csv"]

    monkeypatch.undo()
    res = run_pipeline(
        spark, workdir["source"], workdir["error"], workdir["processed"],
        workdir["out"], dims, ledger=ledger, run_id="rF2",
    )
    assert res.crashed_files == ["good.csv"]
    assert ledger.active_files(spark) == []


def test_pipeline_jobs_carry_caller_job_group(spark, dims, workdir):
    """Every job of the run, including those its worker threads submit,
    runs in the caller's job group: the set of ungrouped jobs does not
    grow, and the caller's group holds the five sink writes and the two
    ledger appends."""
    tracker = spark.sparkContext.statusTracker()
    _drain_listener_bus(spark)
    ungrouped = set(tracker.getJobIdsForGroup())
    _drop_with_reject(workdir)
    with _spark_jobs(spark, "caller-group") as jobs:
        run_pipeline(
            spark, workdir["source"], workdir["error"], workdir["processed"],
            workdir["out"], dims, ledger=Ledger(workdir["ledger"]), run_id="rG",
        )
        _drain_listener_bus(spark)
    assert set(tracker.getJobIdsForGroup()) <= ungrouped
    assert len(jobs) >= 5 + 2


def test_pipeline_row_counts_come_from_the_writes(spark, dims, workdir, monkeypatch):
    """No count() action runs: the mart row counts ride the K1 writes,
    and equal the rows written."""
    monkeypatch.setattr(type(dims["customer"]), "count", _no_count)
    _write_csv(f"{workdir['source']}/a.csv", HAPPY_HEADER, _happy_rows())
    res = run_pipeline(
        spark, workdir["source"], workdir["error"], workdir["processed"],
        workdir["out"], dims, run_id="rC",
    )
    monkeypatch.undo()
    assert res.customer_mart_rows == len(spark.read.parquet(res.outputs["customer_mart"]).collect())
    assert res.sales_mart_rows == len(spark.read.parquet(res.outputs["sales_mart"]).collect())
    assert (res.customer_mart_rows, res.sales_mart_rows) == (10, 4)


def test_pipeline_header_only_file_counts_zero(spark, dims, workdir, monkeypatch):
    """An accepted file with a header and no rows: both marts are empty,
    the counts are 0 / 0, and reading them does not hang."""
    monkeypatch.setattr(type(dims["customer"]), "count", _no_count)
    _write_csv(f"{workdir['source']}/empty_day.csv", HAPPY_HEADER, [])
    out = {}

    def run():
        try:
            out["res"] = run_pipeline(
                spark, workdir["source"], workdir["error"], workdir["processed"],
                workdir["out"], dims, ledger=Ledger(workdir["ledger"]), run_id="rE",
            )
        except BaseException as ex:
            out["err"] = ex

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive(), "run_pipeline hung"
    if "err" in out:
        raise out["err"]
    res = out["res"]
    assert len(res.accepted) == 1
    assert (res.customer_mart_rows, res.sales_mart_rows) == (0, 0)


def _no_count(self):
    raise AssertionError("run_pipeline must not run a count() action")


def test_streaming_counts_come_from_the_writes_and_match_batch(
    spark, dims, workdir, monkeypatch
):
    """The streaming path runs no count() action either: its row counts
    ride the two table writes. Both of its mart tables hold the batch
    pipeline's rows for the same drop, row for row."""
    from retail_sales_data_pipeline_spark.streaming import stream_retail_pipeline

    _write_csv(f"{workdir['source']}/a.csv", HAPPY_HEADER, _happy_rows())
    stream_out = f"{workdir['out']}_stream"
    monkeypatch.setattr(type(dims["customer"]), "count", _no_count)
    counts = stream_retail_pipeline(
        spark, workdir["source"], dims, stream_out, f"{stream_out}/_ckpt"
    )
    run_pipeline(
        spark, workdir["source"], workdir["error"], workdir["processed"],
        workdir["out"], dims, run_id="rS",
    )
    monkeypatch.undo()
    assert counts == {"customer_mart_rows": 10, "sales_mart_rows": 4, "batches": 1}
    for table, n in (("customers_data_mart", 10), ("sales_team_data_mart", 4)):
        streamed, batch = (
            sorted(map(tuple, spark.read.parquet(f"{d}/tables/{table}").drop("run").collect()))
            for d in (stream_out, workdir["out"])
        )
        assert streamed == batch and len(batch) == n, table


def _fact(spark, rows):
    """A conformed fact frame from (customer_id, store_id,
    sales_person_id, sales_date, total_cost) tuples."""
    from retail_sales_data_pipeline_spark.schema import SALES_SCHEMA

    return spark.createDataFrame(
        [(c, s, "sugar 50", datetime.date.fromisoformat(d), sp, t, 1, t, None)
         for c, s, sp, d, t in rows],
        SALES_SCHEMA,
    )


def test_duplicated_customer_key_totals_each_attribute_row(spark, dims):
    """Customer 1 appears twice in the dim, with two phones. Its two
    fact rows (10 and 5) in one month give one mart row per phone, each
    totalling the customer's actual spend, 15. The reference's window
    SUM over (customer_id, month) gave the fan-out total, 30, on both."""
    import retail_sales_data_pipeline_spark.pipeline as pl

    customer = dims["customer"].unionByName(
        dims["customer"].where("customer_id = 1").withColumn(
            "phone_number", F.lit("other-phone")
        )
    )
    fact = _fact(spark, [(1, 121, 1, "2023-03-10", 10.0), (1, 121, 1, "2023-03-20", 5.0)])
    enriched = pl.enrich_with_dims(fact, customer, dims["store"], dims["sales_team"])
    rows = {
        (r.customer_id, r.sales_date_month, r.phone_number): r.total_sales
        for r in pl.derive_customer_mart(enriched).collect()
    }
    assert rows == {
        (1, "2023-03", "9800000001"): 15.0,
        (1, "2023-03", "other-phone"): 15.0,
    }


def test_duplicated_sales_team_key_totals_each_attribute_row(spark, dims):
    """Seller 1 appears twice in the sales-team dim, with two first
    names. Its fact rows of 10 and 5 in one month give one mart row per
    name, each totalling 15 (not the window form's 30); the two tie, so
    both take rank 1 and the incentive."""
    import retail_sales_data_pipeline_spark.pipeline as pl

    sales_team = dims["sales_team"].unionByName(
        dims["sales_team"].where("id = 1").withColumn("first_name", F.lit("other"))
    )
    fact = _fact(spark, [(1, 121, 1, "2023-03-10", 10.0), (2, 121, 1, "2023-03-20", 5.0)])
    enriched = pl.enrich_with_dims(fact, dims["customer"], dims["store"], sales_team)
    rows = {
        r.full_name: (r.total_sales, r.rnk, r.incentive)
        for r in pl.derive_sales_mart(enriched).collect()
    }
    assert rows == {"sp_f1 sp_l1": (15.0, 1, 0.15), "other sp_l1": (15.0, 1, 0.15)}


def _final_plan(df) -> str:
    """The executed (post-AQE) physical plan of a frame that has run."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_marts_sum_before_the_exchange_and_only_the_rank_sorts(spark, dims, workdir):
    """The customer mart is one grouped sum: no Window, no Sort, and a
    partial HashAggregate below its one hash Exchange. The sales mart's
    one Window is the rank."""
    import retail_sales_data_pipeline_spark.pipeline as pl

    path = f"{workdir['source']}/a.csv"
    _write_csv(path, HAPPY_HEADER, _happy_rows())
    fact = pl._conformed_fact(spark, [path], {path: HAPPY_HEADER})
    enriched = pl.enrich_with_dims(fact, dims["customer"], dims["store"], dims["sales_team"])
    customer_mart, sales_mart = pl.derive_customer_mart(enriched), pl.derive_sales_mart(enriched)
    customer_mart.collect(), sales_mart.collect()

    lines = _final_plan(customer_mart).splitlines()
    assert not [ln for ln in lines if "Window" in ln or "Sort" in ln]
    (exchange,) = [i for i, ln in enumerate(lines) if "Exchange hashpartitioning" in ln]
    (partial,) = [i for i, ln in enumerate(lines) if "partial_sum(" in ln]
    assert partial > exchange and "HashAggregate" in lines[partial]
    (window,) = [ln for ln in _final_plan(sales_mart).splitlines() if "Window [" in ln]
    assert "rank(" in window


def test_pipeline_persists_only_the_two_marts(spark, dims, workdir, monkeypatch):
    """run_pipeline caches the two marts (each feeds 2-3 sinks) and
    nothing over the joined fact."""
    cls = type(dims["customer"])
    persisted = {}

    def recording(name):
        original = getattr(cls, name)

        def record(self, *args, **kwargs):
            persisted[id(self)] = self.columns
            return original(self, *args, **kwargs)

        monkeypatch.setattr(cls, name, record)

    recording("cache")
    recording("persist")
    _write_csv(f"{workdir['source']}/a.csv", HAPPY_HEADER, _happy_rows())
    run_pipeline(
        spark, workdir["source"], workdir["error"], workdir["processed"],
        workdir["out"], dims, run_id="rK",
    )
    monkeypatch.undo()
    assert sorted(persisted.values()) == [
        ["customer_id", "sales_date_month", "full_name", "address", "phone_number",
         "total_sales"],
        ["store_id", "sales_person_id", "sales_month", "full_name", "total_sales",
         "rnk", "incentive"],
    ]


def test_pipeline_refuses_non_pinned_thread_mode(spark, dims, workdir, monkeypatch):
    """With PySpark's pinned-thread mode off, inheritable_thread_target
    returns the session instead of a decorator. run_pipeline fails up
    front, naming the requirement, before any file moves or output
    byte is written."""
    import retail_sales_data_pipeline_spark.session as session

    monkeypatch.setattr(session, "inheritable_thread_target", lambda f=None: f)
    _drop_with_reject(workdir)
    with pytest.raises(RuntimeError, match="PYSPARK_PIN_THREAD"):
        run_pipeline(
            spark, workdir["source"], workdir["error"], workdir["processed"],
            workdir["out"], dims, ledger=Ledger(workdir["ledger"]), run_id="rP",
        )
    assert sorted(os.listdir(workdir["source"])) == ["bad.csv", "good.csv"]
    for d in ("error", "processed", "out"):
        assert not os.path.exists(workdir[d]), d


def test_discovery_is_one_list_on_s3(s3env, monkeypatch):
    """Discovering landed files on an object store costs one LIST however
    many files landed: the listing reports each entry's kind, so no
    entry is probed. A prefix named like a CSV is not a file."""
    from retail_sales_data_pipeline_spark.sources.files import discover_csv_files

    s3, server = s3env["s3"], s3env["server"]
    monkeypatch.setattr(s3, "page_size", 1000)  # one page: count LISTs, not pages
    for i in range(6):
        s3.put_bytes(f"s3://lake/landing/f{i}.csv", b"a,b\n1,2\n")
    s3.put_bytes("s3://lake/landing/notes.txt", b"x")
    s3.put_bytes("s3://lake/landing/dir.csv/part-0.csv", b"a\n1\n")
    server.reset_counts()
    assert discover_csv_files("s3://lake/landing") == [
        f"s3://lake/landing/f{i}.csv" for i in range(6)
    ]
    assert server.reset_counts() == {"LIST": 1}
    assert discover_csv_files("s3://lake/nothing") == []
    assert server.reset_counts() == {"LIST": 1}


PREFIXES = ["source", "error", "processed", "out", "ledger"]


@pytest.fixture(params=["s3", "file"])
def uri_dirs(request, tmp_path):
    """The pipeline's five prefixes as URIs: on the disk-backed fake S3
    (the Spark side mapped onto its backing directory), or ``file://``."""
    if request.param == "s3":
        request.getfixturevalue("s3env")
        base = "s3://lake/job"
    else:
        base = f"file://{tmp_path}/job"
        os.makedirs(f"{tmp_path}/job/source")
    return {k: f"{base}/{k}" for k in PREFIXES}


def _put_csv(path, header, rows):
    """Write a CSV through the path's storage backend (any scheme)."""
    buf = io.StringIO(newline="")
    w = csv.writer(buf)
    w.writerow(header)
    w.writerows(rows)
    storage.for_path(path).put_bytes(path, buf.getvalue().encode())


def _listing(uri):
    return [p.rsplit("/", 1)[-1] for p in storage.for_path(uri).list(uri)]


def _output_rows(spark, res):
    return {
        k: sorted(map(tuple, spark.read.parquet(storage.spark_path(v)).collect()), key=repr)
        for k, v in res.outputs.items()
    }


def test_pipeline_on_uri_prefixes_matches_plain_paths(spark, dims, workdir, uri_dirs):
    """A drop with one good and one missing-column file, with all five
    prefixes on s3:// or file://: discovery, header probes, CSV scans,
    quarantine, archive and the ledger all resolve through the storage
    seam, and every output holds the plain-path run's rows."""
    missing = [c for c in HAPPY_HEADER if c != "store_id"]
    for d in (workdir, uri_dirs):
        _put_csv(f"{d['source']}/sales_2023.csv", HAPPY_HEADER, _happy_rows())
        _put_csv(f"{d['source']}/bad.csv", missing, [r[:1] + r[2:] for r in _happy_rows()])
    plain, res = [
        run_pipeline(
            spark, d["source"], d["error"], d["processed"], d["out"], dims,
            ledger=Ledger(d["ledger"]), run_id="r1",
        )
        for d in (workdir, uri_dirs)
    ]
    assert res.accepted == [f"{uri_dirs['source']}/sales_2023.csv"]
    assert res.quarantined == [f"{uri_dirs['error']}/bad.csv"]
    assert plain.customer_mart_rows == 10
    assert (res.customer_mart_rows, res.sales_mart_rows) == (
        plain.customer_mart_rows, plain.sales_mart_rows,
    )
    assert _output_rows(spark, res) == _output_rows(spark, plain)
    assert _listing(uri_dirs["source"]) == []
    assert _listing(uri_dirs["error"]) == ["bad.csv"]
    assert _listing(uri_dirs["processed"]) == ["sales_2023.csv"]
    snap = Ledger(uri_dirs["ledger"]).snapshot(spark).collect()
    assert [(r.file_name, r.status) for r in snap] == [("sales_2023.csv", "I")]


def test_crash_detection_and_reconcile_on_uri_prefixes(spark, dims, uri_dirs):
    """A ledger and processed prefix on s3:// or file:// see the dead
    run's 'A' events, and reconcile finds the file the dead run had
    already archived, through the backend archive_files moved it with."""
    d = uri_dirs
    ledger = Ledger(d["ledger"])
    ledger.mark_active(spark, {"sales_2023.csv": "x", "lost.csv": "y"}, seq=0)
    _put_csv(f"{d['source']}/sales_2023.csv", HAPPY_HEADER, _happy_rows())
    res = run_pipeline(
        spark, d["source"], d["error"], d["processed"], d["out"], dims,
        ledger=ledger, run_id="r2",
    )
    assert res.crashed_files == ["sales_2023.csv"]
    assert ledger.active_files(spark) == ["lost.csv"]
    # lost.csv reached the processed prefix before its run died
    _put_csv(f"{d['processed']}/lost.csv", HAPPY_HEADER, [])
    assert ledger.reconcile(spark, d["processed"]) == ["lost.csv"]
    assert ledger.reconcile(spark, d["processed"]) == []
    assert _listing(d["processed"]) == ["lost.csv", "sales_2023.csv"]
    assert {r.status for r in ledger.snapshot(spark).collect()} == {"I"}


def test_unregistered_scheme_raises(spark, dims, workdir):
    """A landing prefix whose scheme has no registered backend fails the
    run, naming the registration call, instead of reading as an empty
    drop."""
    with pytest.raises(ValueError, match="storage.register"):
        run_pipeline(
            spark, "gs://bucket/land", workdir["error"], workdir["processed"],
            workdir["out"], dims, run_id="rG",
        )


def _parquet_files(root) -> dict[str, int]:
    """Data files per directory under ``root``, by path relative to it."""
    counts: dict[str, int] = {}
    for d, _, names in os.walk(root):
        n = sum(name.endswith(".parquet") for name in names)
        if n:
            counts[os.path.relpath(d, root)] = n
    return counts


def test_small_drop_writes_one_file_per_sink(spark, dims, workdir):
    """A mart far below the advisory partition size is written as one
    file by each of its sinks: K1 and K3 write one parquet file each,
    and K2 one per partition directory (not one per shuffle
    partition)."""
    _drop_with_reject(workdir)
    res = run_pipeline(
        spark, workdir["source"], workdir["error"], workdir["processed"],
        workdir["out"], dims, run_id="r1",
    )
    for key in ("customer_mart", "sales_mart", "customer_mart_table", "sales_mart_table"):
        assert sum(_parquet_files(res.outputs[key]).values()) == 1, key
    parts = _parquet_files(res.outputs["sales_mart_partitioned"])
    assert len(parts) == 4  # 2 months x 2 stores
    assert set(parts.values()) == {1}


def _big_customer_drop(spark, workdir, n_customers):
    """A customer dim of ``n_customers`` and one file with two rows for
    each (one per month), so the customer mart has 2 * n_customers rows."""
    customer = spark.createDataFrame(
        [(i, f"first{i}", f"last{i}", f"address line {i}", "560001", f"98{i:08d}")
         for i in range(1, n_customers + 1)],
        "customer_id int, first_name string, last_name string, address string, "
        "pincode string, phone_number string",
    )
    rows = [
        [c, 121, "sugar 50", f"2023-0{m}-10", 1, 50.0, 1, 50.0]
        for c in range(1, n_customers + 1) for m in (3, 4)
    ]
    _write_csv(f"{workdir['source']}/a.csv", HAPPY_HEADER, rows)
    return customer


def test_mart_files_follow_its_size(spark, dims, workdir):
    """The customer mart (tens of KB cached) is one file per sink at an
    advisory partition size of ``64m`` (Spark's byte-string form of the
    default), and several in a session whose advisory size is a few
    KB."""
    from pyspark.sql import SparkSession

    clone = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    dims = {**dims, "customer": _big_customer_drop(spark, workdir, 500)}
    files = {}
    for advisory in ("64m", "4k"):
        clone.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory)
        res = run_pipeline(
            clone, workdir["source"], workdir["error"], workdir["processed"],
            workdir["out"], dims, run_id=f"r{advisory}",
        )
        assert res.customer_mart_rows == 1000
        assert spark.read.parquet(res.outputs["customer_mart"]).count() == 1000
        files[advisory] = [
            sum(_parquet_files(path).values())
            for path in (
                res.outputs["customer_mart"],
                f"{res.outputs['customer_mart_table']}/run=r{advisory}",
            )
        ]
        for name in os.listdir(workdir["processed"]):  # land the drop again
            os.replace(f"{workdir['processed']}/{name}", f"{workdir['source']}/{name}")
    assert files["64m"] == [1, 1]
    assert min(files["4k"]) > 1, files


def test_wide_file_reads_with_an_explicit_schema(spark, dims, workdir):
    """A wide file is read with the schema its probed header gives, not
    an inferred one: its extra field keeps its text (``007``, not
    ``7``), and a malformed ``total_cost`` is NULL while the column
    stays double for the whole batch."""
    import retail_sales_data_pipeline_spark.pipeline as pl

    exact = f"{workdir['source']}/a.csv"
    wide = f"{workdir['source']}/wide.csv"
    _write_csv(exact, HAPPY_HEADER, _happy_rows())
    row = [1, 121, "sugar 50", "2023-03-10", 1, 50.0, 1, "abc", "007"]
    _write_csv(wide, HAPPY_HEADER + ["code"], [row])
    fact = pl._conformed_fact(
        spark, [exact, wide], {exact: HAPPY_HEADER, wide: HAPPY_HEADER + ["code"]}
    )
    assert dict(fact.dtypes)["total_cost"] == "double"
    (got,) = fact.where("additional_column IS NOT NULL").collect()
    assert (got.additional_column, got.total_cost, got.price) == ("007", None, 50.0)

    res = run_pipeline(
        spark, workdir["source"], workdir["error"], workdir["processed"],
        workdir["out"], dims, run_id="rW",
    )
    assert len(res.accepted) == 2 and res.customer_mart_rows == 10


def test_fill_failure_raises_before_any_output(spark, dims, workdir, monkeypatch):
    """A cache fill that raises fails the run before any sink starts: no
    byte lands under the run's output or the two tables, the accepted
    file stays 'A', the reject is quarantined, and no cached relation
    outlives the run."""
    import retail_sales_data_pipeline_spark.pipeline as pl

    def failing_fill(df):
        raise RuntimeError("fill failed")

    monkeypatch.setattr(pl, "fill_cache", failing_fill)
    spark.catalog.clearCache()
    _drop_with_reject(workdir)
    ledger = Ledger(workdir["ledger"])
    with pytest.raises(RuntimeError, match="fill failed"):
        run_pipeline(
            spark, workdir["source"], workdir["error"], workdir["processed"],
            workdir["out"], dims, ledger=ledger, run_id="rX",
        )
    for sub in ("rX", "tables"):
        assert not os.path.exists(os.path.join(workdir["out"], sub)), sub
    assert os.listdir(workdir["error"]) == ["bad.csv"]
    assert os.listdir(workdir["source"]) == ["good.csv"]
    assert ledger.active_files(spark) == ["good.csv"]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_pipeline_job_count(spark, dims, workdir):
    """A small run with a ledger (one good, one wide, one rejected file)
    runs 20 Spark jobs, among them one fill per mart and one job per
    sink. Inferring the wide file's schema would add two jobs, and sinks
    that each fill a lazily cached mart would add five."""
    _drop_with_reject(workdir)
    _write_csv(f"{workdir['source']}/wide.csv", HAPPY_HEADER + ["payment_mode"],
               [r + ["UPI"] for r in _happy_rows()])
    ledger = Ledger(workdir["ledger"])
    ledger.mark_done(spark, {"old.csv": "/src/old.csv"}, seq=1)
    with _spark_jobs(spark, "pipeline-jobs") as jobs:
        run_pipeline(
            spark, workdir["source"], workdir["error"], workdir["processed"],
            workdir["out"], dims, ledger=ledger, run_id="rJ",
        )
        _drain_listener_bus(spark)
    assert len(jobs) == 20
