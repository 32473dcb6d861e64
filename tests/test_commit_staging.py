"""The commit core's staging step: a commit's data, CDC and DV frames are
written as concurrent Spark jobs into one fresh staging directory, all
awaited before the footer check and the manifest CAS."""

from __future__ import annotations

import dataclasses
import glob
import os
import threading
import time

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

import retail_sales_data_pipeline_spark.session as session
import retail_sales_data_pipeline_spark.sinks as S
from tests.test_maintenance import _sorted_table


def _kind(path):
    """``"data"`` for a staging directory, else its last path segment."""
    tail = path.rstrip("/").rsplit("/", 1)[-1]
    return "data" if tail.startswith("gen-") else tail


@pytest.fixture()
def write_log(monkeypatch):
    """Every ``DataFrameWriter.parquet`` call as ``(path, start, end)``,
    each held 0.3 s before it writes. A staging data write is held 0.6 s
    longer, so its sidecar writes have already run under the staging
    directory when it starts."""
    log, lock = [], threading.Lock()
    real = DataFrameWriter.parquet

    def slow(self, path, *a, **k):
        start = time.monotonic()
        time.sleep(0.9 if _kind(path) == "data" else 0.3)
        try:
            return real(self, path, *a, **k)
        finally:
            with lock:
                log.append((path, start, time.monotonic()))

    monkeypatch.setattr(DataFrameWriter, "parquet", slow)
    return log


def _staged(log):
    """The staging writes of ``log``: ``{"data"|"cdc-insert"|...: (start, end)}``."""
    return {_kind(p): (start, end) for p, start, end in log}


def _manifest_bytes(path):
    with open(os.path.join(path, "_manifest.json"), "rb") as f:
        return f.read()


def test_commit_stages_data_and_cdc_concurrently(spark, tmp_path, monkeypatch, write_log):
    """One update_where: the data write and both CDC writes overlap, all
    of them have returned before the manifest commit starts, and the
    commit's CDC feed reads back from the sidecars."""
    path = str(tmp_path / "tbl")
    _sorted_table(spark, path, n=2000, files=4)
    commit_starts = []
    real_commit = S._commit_manifest

    def commit(*a, **k):
        commit_starts.append(time.monotonic())
        return real_commit(*a, **k)

    monkeypatch.setattr(S, "_commit_manifest", commit)
    write_log.clear()
    assert S.update_where(spark, path, {"tag": "'u'"}, "id BETWEEN 10 AND 12") == 3
    staged = _staged(write_log)
    assert set(staged) == {"data", "cdc-insert", "cdc-delete"}
    assert max(s for s, _ in staged.values()) < min(e for _, e in staged.values())
    assert len(commit_starts) == 1
    assert max(e for _, e in staged.values()) <= commit_starts[0]
    assert {r.tag for r in S.read_table(spark, path).where("id = 11").collect()} == {"u"}
    gen = S._load_manifest(path)["gen_no"]
    feed = S.table_changes(spark, path, gen - 1, gen).collect()
    assert sorted((r._change_type, r.id, r.tag) for r in feed) == sorted(
        [("delete", i, f"r{i}") for i in (10, 11, 12)]
        + [("insert", i, "u") for i in (10, 11, 12)]
    )


def test_failed_sidecar_write_cleans_staging(spark, tmp_path, monkeypatch, write_log):
    """A CDC frame that fails at write time: the commit raises its error
    only once the data write has returned, leaves no staging directory,
    no manifest change and no running job of the caller's group."""
    path = str(tmp_path / "tbl")
    _sorted_table(spark, path, n=2000, files=4)
    before = _manifest_bytes(path)

    @F.udf("long")
    def boom(v):
        raise ValueError("cdc write failed on purpose")

    real_commit = S._commit_generation

    def failing_cdc(spark_, path_, c):
        bad = c.cdc["insert"].withColumn("id", boom("id"))
        return real_commit(spark_, path_, dataclasses.replace(c, cdc={**c.cdc, "insert": bad}))

    monkeypatch.setattr(S, "_commit_generation", failing_cdc)
    sc = spark.sparkContext
    sc.setJobGroup("staging-failure", "a commit whose CDC write fails")
    try:
        write_log.clear()
        with pytest.raises(Exception, match="cdc write failed on purpose"):
            S.update_where(spark, path, {"tag": "'u'"}, "id BETWEEN 10 AND 12")
        raised = time.monotonic()
        jobs = sc.statusTracker().getJobIdsForGroup("staging-failure")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert _staged(write_log)["data"][1] <= raised
    assert glob.glob(os.path.join(path, "gen-*._update-*")) == []
    assert _manifest_bytes(path) == before
    assert S.verify_table(path, deep=True)["ok"]
    assert jobs and all(
        sc.statusTracker().getJobInfo(j).status != "RUNNING" for j in jobs
    )


def test_merge_jobs_run_in_callers_job_group(spark, tmp_path):
    """Every job of a merge_into, the staging writes on their pool
    threads included, carries the caller's job group."""
    path = str(tmp_path / "tbl")
    _sorted_table(spark, path, n=2000, files=4)
    patch = spark.createDataFrame(
        [(5, 0.0, "p"), (5000, 1.0, "new")], "id long, v double, tag string"
    )
    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("merge-group", "merge_into under one job group")
    try:
        res = S.merge_into(spark, path, patch, keys=["id"], deletion_vectors=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert (res["updated"], res["inserted"]) == (1, 1)
    assert tracker.getJobIdsForGroup("merge-group")
    # a subset, not equality: the status store may evict old jobs meanwhile
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def test_dv_merge_fills_keyed_cache_once(spark, tmp_path):
    """A deletion-vector merge fills the cache of its keyed read once,
    before its staging writes fan out: 14 Spark jobs. When the DV
    positions and the CDC preimages each fill it while staged together,
    the same merge runs 15."""
    path = str(tmp_path / "tbl")
    _sorted_table(spark, path, n=2000, files=4)
    patch = spark.createDataFrame(
        [(5, 0.0, "p"), (7, 0.0, "q"), (5000, 1.0, "new")],
        "id long, v double, tag string",
    )
    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()
    sc.setJobGroup("dv-merge-jobs", "one DV merge_into")
    try:
        res = S.merge_into(spark, path, patch, keys=["id"], deletion_vectors=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert res == {"updated": 2, "inserted": 1, "matched_rows": 2}
    # the status store hears of jobs on the listener bus: let it settle
    jobs, deadline = None, time.monotonic() + 5
    while time.monotonic() < deadline:
        time.sleep(0.3)
        now = tracker.getJobIdsForGroup("dv-merge-jobs")
        if now == jobs:
            break
        jobs = now
    assert len(jobs) == 14


def test_dml_refuses_non_pinned_thread_mode(spark, tmp_path, monkeypatch):
    """With PySpark's pinned-thread mode off, a DML call raises the
    PYSPARK_PIN_THREAD error before any staging byte is written."""
    path = str(tmp_path / "tbl")
    _sorted_table(spark, path, n=2000, files=4)
    before = _manifest_bytes(path)
    monkeypatch.setattr(session, "inheritable_thread_target", lambda f=None: f)
    with pytest.raises(RuntimeError, match="PYSPARK_PIN_THREAD"):
        S.delete_where(spark, path, "id BETWEEN 10 AND 12")
    assert glob.glob(os.path.join(path, "gen-*._delete-*")) == []
    assert _manifest_bytes(path) == before
