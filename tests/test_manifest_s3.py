"""The manifest protocol END-TO-END on an object store.

Round 7's DML/DV/time-travel/CDC stack committed through ``os.path``
only; round 8 routes every control-plane operation through the
:mod:`..table_io` seam. These tests run the WHOLE protocol —
convert / delete / update / merge (copy-on-write AND deletion-vector
modes) / rollback / time travel / CDC feed / compaction / vacuum —
against ``s3://`` URIs served by the disk-backed SigV4 fake
(``fake_s3.py``), with the commit fence exercised as real conditional
writes: the lock-free **ETag compare-and-swap** (``If-Match`` /
``If-None-Match: *`` PUTs, HTTP 412 on a lost race).

Spark's data plane reads/writes the same bytes through the mapped
directory (``storage.register_spark_path``), standing in for the
hadoop-aws ``s3a://`` connector a production cluster mounts over the
same store — the split the module docstrings document.
"""

from __future__ import annotations

import json
import os

import pytest

from retail_sales_data_pipeline_spark import sinks as S
from retail_sales_data_pipeline_spark import table_io
from retail_sales_data_pipeline_spark.storage import LocalStorage, PreconditionFailed


def _seed_table(spark, uri: str, n: int = 100, files: int = 4) -> None:
    from pyspark.sql import functions as F

    df = (
        spark.range(n)
        .select(
            F.col("id").cast("long").alias("id"),
            (F.col("id") % 10).alias("grp"),
            F.concat(F.lit("doc-"), F.col("id")).alias("payload"),
        )
        .repartition(files, "id")
    )
    S.write_parquet(df, uri)


# ---------------------------------------------------------------------------
# storage-level conditional-write primitives
# ---------------------------------------------------------------------------

@pytest.fixture(params=["local", "s3"])
def store_root(request, tmp_path):
    """A storage backend and a location to write under: ``LocalStorage``
    in ``tmp_path``, or the fake S3's bucket."""
    if request.param == "local":
        return LocalStorage(), str(tmp_path)
    return request.getfixturevalue("s3env")["s3"], "s3://lake"


def test_conditional_puts_and_ranged_reads(store_root):
    s3, root = store_root
    uri = f"{root}/obj.bin"
    etag = s3.put_bytes(uri, b"0123456789")
    assert etag  # ETag surfaces from the PUT
    # If-None-Match: * on an existing key -> 412
    with pytest.raises(PreconditionFailed):
        s3.put_bytes(uri, b"x", if_none_match=True)
    # If-Match with a stale etag -> 412; with the live etag -> accepted
    with pytest.raises(PreconditionFailed):
        s3.put_bytes(uri, b"x", if_match="deadbeef")
    etag2 = s3.put_bytes(uri, b"abcdefghij", if_match=etag)
    assert etag2 != etag
    body, etag3 = s3.read_bytes_meta(uri)
    assert body == b"abcdefghij" and etag3 == etag2
    assert s3.read_range(uri, 2, 3) == b"cde"
    meta = s3.head(uri)
    assert meta["size"] == 10 and meta["etag"] == etag2
    # If-Match on a missing key -> precondition failure, not success
    with pytest.raises(PreconditionFailed):
        s3.put_bytes(f"{root}/absent.bin", b"x", if_match=etag2)


def test_one_table_io_class_for_every_scheme(s3env, tmp_path):
    """Plain, ``file://`` and ``s3://`` tables share one commit protocol."""
    kinds = {
        type(table_io.for_path(p))
        for p in (str(tmp_path), f"file://{tmp_path}", "s3://lake/t")
    }
    assert kinds == {table_io.StorageTableIO}


def test_footer_reads_are_ranged(s3env, spark):
    """StorageTableIO.open_parquet reads footers via ranged GETs — a
    whole-object download would be table-sized at 100 TB."""
    uri = "s3://lake/tbl_footer"
    # big enough that a footer read cannot be the whole object (pyarrow
    # buffers up to 64 KiB of tail for the footer)
    _seed_table(spark, uri, n=100_000, files=1)
    io = table_io.for_path(uri)
    name = io.list_basenames(uri, "part-")[0]
    furi = f"{uri}/{name}"
    pf = io.open_parquet(furi)
    assert pf.metadata.num_rows == 100_000
    # the seekable reader must never have fetched the whole object in
    # one read: largest single ranged read << object size is the
    # contract; assert via a counting wrapper
    calls = []
    orig = s3env["s3"].read_range

    def counting(path, start, length):
        calls.append(length)
        return orig(path, start, length)

    s3env["s3"].read_range = counting
    try:
        pf2 = io.open_parquet(furi)
        assert pf2.metadata.num_rows == 100_000
    finally:
        s3env["s3"].read_range = orig
    assert calls and max(calls) < io.getsize(furi)


# ---------------------------------------------------------------------------
# the full DML protocol over s3://
# ---------------------------------------------------------------------------

def test_dml_lifecycle_copy_on_write_on_s3(s3env, spark):
    uri = "s3://lake/tables/events"
    _seed_table(spark, uri, n=100, files=4)
    assert S.convert_to_manifest(spark, uri) == 1
    # the manifest is a real OBJECT, served over HTTP with an ETag
    man_bytes, etag = s3env["s3"].read_bytes_meta(f"{uri}/_manifest.json")
    man = json.loads(man_bytes)
    assert man["gen_no"] == 1 and len(man["files"]) == 4 and etag

    # DELETE: file-granular, readable over the same URI
    n = S.delete_where(spark, uri, "grp = 3", retain_versions=2)
    assert n == 10
    assert S.read_table(spark, uri).count() == 90
    assert S.read_table(spark, uri).where("grp = 3").count() == 0

    # UPDATE
    n = S.update_where(
        spark, uri, {"payload": "concat(payload, '!')"}, "grp = 4",
        retain_versions=2,
    )
    assert n == 10
    got = S.read_table(spark, uri).where("grp = 4").select("payload")
    assert all(r.payload.endswith("!") for r in got.collect())

    # MERGE (upsert): 5 updates + 5 inserts
    from pyspark.sql import functions as F

    patch = spark.range(95, 105).select(
        F.col("id").cast("long").alias("id"),
        (F.col("id") % 10).alias("grp"),
        F.lit("merged").alias("payload"),
    )
    res = S.merge_into(
        spark, uri, patch, ["id"], retain_versions=2, broadcast_updates=True
    )
    assert res == {"updated": 5, "inserted": 5, "matched_rows": 5}
    tbl = S.read_table(spark, uri)
    assert tbl.count() == 95
    assert tbl.where("payload = 'merged'").count() == 10

    # time travel + CDC feed + rollback, all metadata over HTTP
    # (retain_versions=2 trims convert out of the retained history)
    hist = S.describe_history(uri)
    assert [h["op"] for h in hist] == ["delete", "update", "merge"]
    v2 = S.read_table(spark, uri, version=2)
    assert v2.count() == 90
    feed = S.table_changes_feed(spark, uri, 2, 4)
    assert feed.where("_change_type = 'insert'").count() == 20  # 10 upd + 10 merge
    gen = S.rollback(spark, uri, 2)
    assert gen == 5
    assert S.read_table(spark, uri).count() == 90

    # the dead generations' data files were retired from the STORE
    live = {e["name"] for e in S._load_manifest(uri)["files"]}
    for h in S._load_manifest(uri)["history"]:
        live |= {e["name"] for e in h.get("files", [])}
    assert all(s3env["s3"].exists(f"{uri}/{n}") for n in sorted(live))


def test_dml_lifecycle_deletion_vectors_on_s3(s3env, spark):
    uri = "s3://lake/tables/docs"
    _seed_table(spark, uri, n=100, files=4)
    S.convert_to_manifest(spark, uri)
    before = {e["name"] for e in S._load_manifest(uri)["files"]}

    n = S.delete_where(
        spark, uri, "grp = 7", deletion_vectors=True,
        dv_rewrite_threshold=0.5,
    )
    assert n == 10
    man = S._load_manifest(uri)
    # merge-on-read: every original data file is still live (untouched
    # bytes), the delete lives in a DV sidecar object
    assert before <= {e["name"] for e in man["files"]}
    assert sum(man["dv"]["n"].values()) == 10
    assert S.read_table(spark, uri).count() == 90
    assert S.read_table(spark, uri).where("grp = 7").count() == 0

    # DV MERGE over the same table
    from pyspark.sql import functions as F

    patch = spark.range(0, 5).select(
        F.col("id").cast("long").alias("id"),
        (F.col("id") % 10).alias("grp"),
        F.lit("v2").alias("payload"),
    )
    res = S.merge_into(
        spark, uri, patch, ["id"], deletion_vectors=True,
        broadcast_updates=True,
    )
    assert res["updated"] == 5 and res["inserted"] == 0
    tbl = S.read_table(spark, uri)
    assert tbl.count() == 90
    assert tbl.where("payload = 'v2'").count() == 5

    # REORG: materialize folds DVs into physical bytes
    rewritten = S.materialize_deletion_vectors(spark, uri)
    assert rewritten > 0
    man = S._load_manifest(uri)
    assert not (man.get("dv") or {}).get("n")
    assert S.read_table(spark, uri).count() == 90


def test_compaction_and_vacuum_on_s3(s3env, spark):
    uri = "s3://lake/tables/tiny"
    _seed_table(spark, uri, n=60, files=6)
    S.convert_to_manifest(spark, uri)
    out = S.compact_small_files(spark, uri, target_bytes=1 << 30)
    assert out["rewritten"] == 6 and out["files_written"] >= 1
    assert S.read_table(spark, uri).count() == 60
    # vacuum the retired generation leftovers past the TTL (mtimes are
    # 'now' on the store, so age them with an explicit clock)
    removed = S.vacuum_staging(
        "s3://lake/tables", ttl_seconds=0.0, now=4e9, dry_run=True
    )
    assert removed == []  # retire already cleaned; nothing orphaned
    # orphan a fake staging dir via the data plane and vacuum it out
    _seed_table(spark, f"{uri}/gen-000099._crash-deadbeef", n=5, files=1)
    removed = S.vacuum_staging("s3://lake/tables", ttl_seconds=0.0, now=4e9)
    assert [os.path.basename(p) for p in removed] == [
        "gen-000099._crash-deadbeef"
    ]
    assert not s3env["s3"].is_dir(f"{uri}/gen-000099._crash-deadbeef")


# ---------------------------------------------------------------------------
# the fence: ETag CAS under a writer race
# ---------------------------------------------------------------------------

def test_etag_cas_fences_interleaved_writer(s3env, spark, monkeypatch):
    """Deterministic two-writer race: writer B commits BETWEEN writer
    A's manifest read and A's conditional PUT. The store's If-Match
    rejects A with 412 -> ConcurrentWriteError; B's commit stands."""
    uri = "s3://lake/tables/raced"
    _seed_table(spark, uri, n=40, files=2)
    S.convert_to_manifest(spark, uri)
    s3 = s3env["s3"]
    muri = f"{uri}/_manifest.json"
    orig = s3.read_bytes_meta
    fired = {"done": False}

    def interpose(path):
        data, etag = orig(path)
        if path == muri and not fired["done"]:
            fired["done"] = True
            # writer B: a real commit through the SAME protocol
            b_man = json.loads(orig(muri)[0])
            b_man["gen_no"] += 1
            b_man["op"] = "writer-b"
            table_io.for_path(uri).commit_manifest(
                uri, b_man, expect_gen=json.loads(data)["gen_no"]
            )
        return data, etag

    monkeypatch.setattr(s3, "read_bytes_meta", interpose)
    a_man = json.loads(orig(muri)[0])
    a_man["gen_no"] += 1
    a_man["op"] = "writer-a"
    with pytest.raises(S.ConcurrentWriteError, match="ETag CAS lost"):
        S._commit_manifest(uri, a_man, expect_gen=1)
    monkeypatch.setattr(s3, "read_bytes_meta", orig)
    # exactly one commit landed: B's
    final = json.loads(orig(muri)[0])
    assert final["gen_no"] == 2 and final["op"] == "writer-b"


def test_expect_gen_stale_rejected_on_s3(s3env, spark):
    """The generation re-check (read half of the CAS) catches a writer
    whose plan is stale before any PUT happens."""
    uri = "s3://lake/tables/stale"
    _seed_table(spark, uri, n=20, files=1)
    S.convert_to_manifest(spark, uri)
    man = S._load_manifest(uri)
    man["gen_no"] += 1
    with pytest.raises(S.ConcurrentWriteError, match="generation moved"):
        S._commit_manifest(uri, man, expect_gen=99)


def test_creating_commit_is_conditional_on_s3(s3env, spark, monkeypatch):
    """Two CREATING writers (no manifest yet): the loser's
    ``If-None-Match: *`` PUT must 412, not overwrite — forced
    deterministically by blinding the loser's read half so it takes the
    create path against an object the winner just installed."""
    uri = "s3://lake/tables/fresh"
    _seed_table(spark, uri, n=20, files=1)
    io = table_io.for_path(uri)
    m1 = {"gen_no": 1, "op": "a", "files": [], "history": []}
    io.commit_manifest(uri, m1, expect_gen=0)
    s3 = s3env["s3"]
    orig = s3.read_bytes_meta

    def blind(path):
        raise FileNotFoundError(path)

    s3.read_bytes_meta = blind
    try:
        with pytest.raises(S.ConcurrentWriteError, match="ETag CAS lost"):
            io.commit_manifest(
                uri, {"gen_no": 1, "op": "b", "files": [], "history": []},
                expect_gen=0,
            )
    finally:
        s3.read_bytes_meta = orig
    assert json.loads(s3env["s3"].read_bytes(f"{uri}/_manifest.json"))[
        "op"
    ] == "a"


def test_retry_on_conflict_wins_second_try_on_s3(s3env, spark, monkeypatch):
    """The optimistic retry loop composes with the CAS fence: a DML op
    that loses its first race re-reads the new state and lands."""
    uri = "s3://lake/tables/retry"
    _seed_table(spark, uri, n=50, files=2)
    S.convert_to_manifest(spark, uri)
    s3 = s3env["s3"]
    muri = f"{uri}/_manifest.json"
    orig = s3.read_bytes_meta
    fired = {"done": False}

    def interpose(path):
        data, etag = orig(path)
        if path == muri and not fired["done"]:
            fired["done"] = True
            b_man = json.loads(data)
            b_man = dict(
                b_man, gen_no=b_man["gen_no"] + 1, op="metadata-b",
                history=list(b_man.get("history", []))
                + [{k: b_man[k] for k in ("gen_no", "generation", "rows",
                                          "files", "op") if k in b_man}],
            )
            orig_put = s3.put_bytes
            orig_put(muri, json.dumps(b_man).encode(), if_match=etag)
        return data, etag

    monkeypatch.setattr(s3, "read_bytes_meta", interpose)
    n = S.retry_on_conflict(
        lambda: S.delete_where(spark, uri, "grp = 1"), attempts=3
    )
    assert n == 5
    monkeypatch.setattr(s3, "read_bytes_meta", orig)
    assert S.read_table(spark, uri).where("grp = 1").count() == 0
    assert S._load_manifest(uri)["op"] == "delete"


def test_constraints_and_evolution_on_s3(s3env, spark):
    """CHECK constraints (metadata commits + commit-time scans) and
    schema-evolving MERGE work over s3:// — including the staging
    cleanup on a failed pre-commit CHECK (no gen-* prefix leaked to the
    store)."""
    uri = "s3://lake/tables/checked"
    _seed_table(spark, uri, n=20, files=1)
    S.convert_to_manifest(spark, uri)
    S.set_check_constraint(spark, uri, "grp_ok", "grp BETWEEN 0 AND 9")
    assert S._load_manifest(uri)["constraints"] == {
        "grp_ok": "grp BETWEEN 0 AND 9"
    }

    from pyspark.sql import functions as F

    bad = spark.range(1).select(
        F.lit(999).cast("long").alias("id"),
        F.lit(42).cast("long").alias("grp"),
        F.lit("bad").alias("payload"),
    )
    gens_before = {
        e for e in s3env["s3"].list(uri) if "/gen-" in e
    }
    with pytest.raises(ValueError, match="grp_ok"):
        S.merge_into(spark, uri, bad, ["id"])
    assert {e for e in s3env["s3"].list(uri) if "/gen-" in e} == gens_before

    # evolving merge adds a column without rewriting carried files
    patch = spark.range(1).select(
        F.lit(1000).cast("long").alias("id"),
        F.lit(5).cast("long").alias("grp"),
        F.lit("new").alias("payload"),
        F.lit("extra").alias("note"),
    )
    res = S.merge_into(spark, uri, patch, ["id"], evolve_schema=True)
    assert res["inserted"] == 1
    tbl = S.read_table(spark, uri)
    assert tbl.count() == 21
    assert tbl.where("note IS NOT NULL").count() == 1
    assert S._load_manifest(uri).get("mixed_schema") is True


def test_manifest_cdc_reader_on_s3(s3env, spark):
    """The manifest_cdc streaming source's driver-side reader resolves
    schema, offsets, and sidecar rows through the table-IO seam — a
    readChangeFeed over an object-store table."""
    from pyspark.sql.types import _parse_datatype_string

    from retail_sales_data_pipeline_spark.sources.cdc_source import (
        ManifestCDCStreamReader,
        _table_schema,
    )

    uri = "s3://lake/tables/cdcstream"
    _seed_table(spark, uri, n=30, files=1)
    S.convert_to_manifest(spark, uri)                       # v1
    S.delete_where(spark, uri, "id = 7", retain_versions=4)  # v2
    S.update_where(spark, uri, {"payload": "'upd'"}, "id = 8",
                   retain_versions=4)                        # v3

    assert [f.name for f in _table_schema(uri).fields] == [
        "id", "grp", "payload"
    ]
    schema = _parse_datatype_string(
        "id long, grp long, payload string, "
        "_change_type string, _commit_version long"
    )
    rdr = ManifestCDCStreamReader({"path": uri}, schema)
    assert rdr.initialOffset() == {"version": 3}
    rows = list(rdr._rows_between(1, 3))
    assert {(r[0], r[3], r[4]) for r in rows} == {
        (7, "delete", 2), (8, "delete", 3), (8, "insert", 3)
    }
    # replay is exact over the same immutable sidecars
    assert list(rdr.readBetweenOffsets({"version": 1}, {"version": 3})) == rows


def test_control_plane_request_budgets(s3env, spark):
    """Requests — not bytes — dominate object-store latency and cost,
    so the control plane's per-operation REQUEST COUNT is the scale
    invariant worth pinning: O(touched files + sidecars) per DML op,
    never O(table rows), and exactly ONE manifest PUT per commit (the
    atomicity unit). Data-plane bytes move through the cluster
    filesystem (S3A in production) and never through this seam."""
    from pyspark.sql import functions as F

    server = s3env["server"]
    # the fixture's tiny page_size exercises pagination elsewhere; the
    # budget pin wants the real-S3 page size (1000) so LIST counts mean
    # "listings issued", not "pages of a 3-key toy page"
    s3env["s3"].page_size = 1000
    uri = "s3://lake/tables/budget"
    df = spark.range(100_000).select(
        F.col("id"),
        (F.col("id") % 10).alias("grp"),
        F.concat(F.lit("p"), F.col("id")).alias("payload"),
    )
    S.write_parquet(df.repartition(16, "id"), uri)

    server.reset_counts()
    S.convert_to_manifest(spark, uri)
    c = server.reset_counts()
    # zero-rewrite adoption: one listing, one footer read per file
    # (ranged — the seekable reader costs ~1 range GET per footer),
    # one manifest PUT
    assert c["PUT"] == 1
    assert c["LIST"] <= 2
    assert c.get("GET_RANGE", 0) <= 2 * 16

    server.reset_counts()
    n = S.delete_where(spark, uri, "id = 12345", deletion_vectors=True)
    assert n == 1
    c = server.reset_counts()
    # a single-row DV delete in a 100k-row table: ~10 control-plane
    # requests, INDEPENDENT of table rows; one atomic manifest PUT
    assert c["PUT"] == 1
    assert sum(c.values()) <= 16, c

    server.reset_counts()
    patch = spark.range(50).select(
        F.col("id"), (F.col("id") % 10).alias("grp"),
        F.lit("u").alias("payload"),
    )
    res = S.merge_into(
        spark, uri, patch, ["id"], broadcast_updates=True,
        deletion_vectors=True,
    )
    assert res["updated"] == 50
    c = server.reset_counts()
    assert c["PUT"] == 1
    assert sum(c.values()) <= 40, c

    server.reset_counts()
    assert S.read_table(spark, uri).count() == 99_999  # one DV-deleted
    c = server.reset_counts()
    # read-path RESOLUTION (manifest + schema footer): a handful of
    # requests regardless of table size
    assert c.get("PUT", 0) == 0 and sum(c.values()) <= 10, c


def test_concurrent_writers_converge_with_retry_on_s3(s3env, spark):
    """Two REAL threads race DML commits against one s3:// table; the
    ETag-CAS fence serializes them and retry_on_conflict replays the
    loser against the winner's state — both deletions land, no rows
    lost, generation advanced exactly twice."""
    import threading

    uri = "s3://lake/tables/race2"
    _seed_table(spark, uri, n=100, files=4)
    S.convert_to_manifest(spark, uri)
    errs: list[Exception] = []
    barrier = threading.Barrier(2)

    def worker(pred: str) -> None:
        try:
            barrier.wait(timeout=30)
            S.retry_on_conflict(
                lambda: S.delete_where(spark, uri, pred), attempts=8
            )
        except Exception as e:  # surfaced below
            errs.append(e)

    t1 = threading.Thread(target=worker, args=("grp = 1",))
    t2 = threading.Thread(target=worker, args=("grp = 2",))
    t1.start(); t2.start(); t1.join(60); t2.join(60)
    # a hung fence must fail HERE, not as a confusing row-count miss
    assert not t1.is_alive() and not t2.is_alive(), "worker hung"
    assert not errs, errs
    tbl = S.read_table(spark, uri)
    assert tbl.count() == 80
    assert tbl.where("grp IN (1, 2)").count() == 0
    assert S._load_manifest(uri)["gen_no"] == 3
    # post-race FSCK (r10 verdict #5), over the SigV4 fake too
    fsck = S.verify_table(uri)
    assert fsck["ok"], fsck["errors"]


def test_dml_model_fuzz_on_s3(s3env, spark):
    """The SAME model-based protocol fuzz the local suite runs
    (tests/test_maintenance.py), replayed over s3:// — a seeded random
    merge/delete/update/append/compact/materialize/rollback/vacuum
    sequence with the live view model-checked after every commit and
    retained snapshots checked against model checkpoints. One seed,
    trimmed step count (every control-plane call is a signed HTTP
    round trip here)."""
    from tests.test_maintenance import run_dml_model_fuzz

    run_dml_model_fuzz(
        spark, "s3://lake/tables/fuzz", "s3://lake/tables", 20260815,
        steps=14,
    )


def test_concurrent_pair_fuzz_on_s3(s3env, spark):
    """The concurrency pair fuzz (tests/test_maintenance.py) replayed
    over s3:// — real threads racing DML through the ETag-CAS fence
    and the rebase path, every round's outcome checked against the two
    serializations. Trimmed round count: every control-plane call is a
    signed HTTP round trip here."""
    from tests.test_maintenance import run_concurrent_pair_fuzz

    run_concurrent_pair_fuzz(
        spark, "s3://lake/tables/pairfuzz", 20260815, rounds=5
    )


def test_concurrent_pair_fuzz_on_s3_sharded(s3env, spark, monkeypatch):
    """The pair fuzz over s3:// on a SHARDED table: thread races drive
    the selective resolve's verbatim carry through the ETag-CAS fence
    and its full-resolve rebase reset — serialization checked against
    the model each round."""
    from tests.test_maintenance import run_concurrent_pair_fuzz

    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 4)
    monkeypatch.setattr(S, "_SHARD_SIZE", 2)
    run_concurrent_pair_fuzz(
        spark, "s3://lake/tables/pairfuzz-sh", 31337, rounds=4
    )


def test_concurrent_pair_fuzz_on_s3_coordinated(s3env, spark, tmp_path):
    """Round-12 (r11 verdict #8): the s3 pair fuzz once more UNDER an
    advisory commit coordinator — the WriteSerializable guarantee must
    be exactly as strong with the fairness layer installed (the
    coordinator can reorder who commits first, never what a commit
    may produce), and the durable ETag-CAS fence stays the one
    correctness boundary."""
    from retail_sales_data_pipeline_spark.coordinator import (
        AdvisoryFileLockCoordinator,
        set_commit_coordinator,
    )
    from tests.test_maintenance import run_concurrent_pair_fuzz

    set_commit_coordinator(
        AdvisoryFileLockCoordinator(str(tmp_path / "locks"))
    )
    try:
        run_concurrent_pair_fuzz(
            spark, "s3://lake/tables/pairfuzz-coord", 424242, rounds=4
        )
    finally:
        set_commit_coordinator(None)


def test_transient_5xx_retried_4xx_fail_fast(s3env, spark, monkeypatch):
    """The adapter absorbs throttling the way a production S3 client
    must: 503 SlowDown responses are retried with backoff (each attempt
    re-signed) until the request lands; 4xx responses fail fast. A DML
    commit through a throttling window still lands exactly once."""
    from tests import fake_s3 as FS
    from retail_sales_data_pipeline_spark.storage_s3 import (
        S3ResponseError,
    )

    uri = "s3://lake/tables/flaky"
    _seed_table(spark, uri, n=20, files=1)

    # inject: every Nth authorized request 503s (stateful flake)
    orig = FS.DiskS3Handler._check_auth
    state = {"n": 0}

    def flaky(self):
        ok = orig(self)
        if not ok:
            return False
        state["n"] += 1
        if state["n"] % 3 != 0:  # two of every three requests throttle
            self._send(503, b"<Error><Code>SlowDown</Code></Error>")
            return False
        return True

    monkeypatch.setattr(FS.DiskS3Handler, "_check_auth", flaky)
    assert S.convert_to_manifest(spark, uri) == 1  # survives throttling
    n = S.delete_where(spark, uri, "grp = 1")
    assert n == 2
    monkeypatch.setattr(FS.DiskS3Handler, "_check_auth", orig)
    assert S.read_table(spark, uri).count() == 18
    assert S._load_manifest(uri)["gen_no"] == 2

    # 4xx is not retried: a permanent rejection surfaces immediately
    calls = {"n": 0}

    def reject(self):
        calls["n"] += 1
        self._send(418, b"<Error><Code>Teapot</Code></Error>")
        return False

    monkeypatch.setattr(FS.DiskS3Handler, "_check_auth", reject)
    with pytest.raises(S3ResponseError, match="418"):
        s3env["s3"].read_bytes(f"{uri}/_manifest.json")
    assert calls["n"] == 1


def test_lost_ack_commit_not_reported_as_conflict(s3env, spark, monkeypatch):
    """A conditional PUT that LANDS but whose response is lost gets
    retried and 412s against the writer's own new ETag. That must read
    as SUCCESS (the object holds exactly this writer's bytes), not as a
    lost race — otherwise retry_on_conflict would re-apply
    non-idempotent DML on top of its own committed effect."""
    from tests import fake_s3 as FS

    uri = "s3://lake/tables/lostack"
    _seed_table(spark, uri, n=30, files=1)
    S.convert_to_manifest(spark, uri)

    # make the NEXT conditional manifest PUT apply server-side but
    # answer 503 (as if the ack was lost); the adapter's retry then
    # 412s against the writer's own write
    orig_send = FS.DiskS3Handler._send
    state = {"armed": True}

    def lying_send(self, status, body=b"", extra=None):
        if (
            state["armed"]
            and self.command == "PUT"
            and self.headers.get("If-Match")
            and status == 200
        ):
            state["armed"] = False
            return orig_send(self, 503, b"<Error><Code>SlowDown</Code></Error>")
        return orig_send(self, status, body, extra)

    monkeypatch.setattr(FS.DiskS3Handler, "_send", lying_send)
    n = S.delete_where(spark, uri, "grp = 2")  # must NOT raise
    monkeypatch.setattr(FS.DiskS3Handler, "_send", orig_send)
    assert n == 3
    man = S._load_manifest(uri)
    assert man["gen_no"] == 2 and man["op"] == "delete"
    assert S.read_table(spark, uri).count() == 27
    assert S.read_table(spark, uri).where("grp = 2").count() == 0


def test_sharded_manifest_index_on_s3(s3env, spark, monkeypatch):
    """The round-9 sharded entry index over s3://: shards are plain
    objects, the root stays the single ETag-CAS commit point, carried
    shards ride by reference (no re-PUT), and reads resolve root +
    shards only."""
    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 6)
    monkeypatch.setattr(S, "_SHARD_SIZE", 3)
    uri = "s3://lake/tables/sharded"
    _seed_table(spark, uri, n=800, files=8)
    S.convert_to_manifest(spark, uri)  # inline (convert never shards)
    # the first commit carrying >= threshold files shards the index
    assert S.insert_into(spark, uri, _batch(spark, 8000, 8010)) == 10
    man = S._load_manifest(uri)
    assert man.get("files_ext") and "files" not in man
    shards = {s["name"] for s in man["files_ext"]["shards"]}
    assert sum(s["count"] for s in man["files_ext"]["shards"]) == 9
    assert S.read_table(spark, uri).count() == 810
    # next append carries every shard by reference; commits cost ONE
    # root CAS PUT + ONE new-shard PUT, zero re-PUT of carried shards
    s3env["s3"].page_size = 1000
    server = s3env["server"]
    S._SHARD_CACHE.clear()  # force cold resolution through the store
    server.reset_counts()
    assert S.insert_into(spark, uri, _batch(spark, 9000, 9010)) == 10
    c = server.reset_counts()
    man2 = S._load_manifest(uri)
    assert shards <= {s["name"] for s in man2["files_ext"]["shards"]}
    assert c["PUT"] == 2, c
    assert S.read_table(spark, uri).count() == 820
    # DML over the sharded index: only the touched groups rewrite
    assert S.delete_where(spark, uri, "id >= 9000") == 10
    assert S.read_table(spark, uri).count() == 810
    S._SHARD_CACHE.clear()
    assert S.describe_detail(uri)["rows"] == 810


def test_sharded_selective_scan_request_budget(s3env, spark, monkeypatch):
    """Round-10 shard-level stats over s3://: a SELECTIVE scan_table
    resolves by GETting the root manifest plus only the entry shards
    whose aggregate [min, max] admits the predicate — request count
    O(touched shards), pinned on the SigV4 fake. The commit that built
    the table stays at the r9 budget (one root CAS PUT + changed-shard
    PUTs only)."""
    from pyspark.sql import functions as F

    from retail_sales_data_pipeline_spark.data_skipping import (
        scan_table,
        shards_loaded,
    )

    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 6)
    monkeypatch.setattr(S, "_SHARD_SIZE", 2)
    s3env["s3"].page_size = 1000
    server = s3env["server"]
    uri = "s3://lake/tables/shardstats"
    df = spark.range(8000).select(
        F.col("id"), (F.col("id") % 10).alias("grp")
    )
    S.write_parquet(df.repartition(8), uri)
    S.convert_to_manifest(spark, uri)
    # id-sorted layout -> disjoint per-shard id ranges; this commit is
    # the sharding one: ONE root CAS PUT + the entry-shard PUTs
    server.reset_counts()
    S.compact_parquet(spark, uri, target_files=8, sort_col="id")
    c = server.reset_counts()
    man = S._load_manifest(uri)
    n_shards = len(man["files_ext"]["shards"])
    assert n_shards == 4
    assert c["PUT"] == 1 + n_shards, c
    assert all(s["top"] == 0 and "stats" in s
               for s in man["files_ext"]["shards"])

    # cold selective scan: root GET + ONE shard GET; zero PUTs. The
    # data plane (parquet bytes) moves through the mapped directory,
    # so every counted request is control-plane metadata.
    assert shards_loaded(uri, "id BETWEEN 100 AND 120") == (1, 4)
    S._SHARD_CACHE.clear()
    server.reset_counts()
    got = scan_table(spark, uri, "id BETWEEN 100 AND 120")
    assert got.count() == 21
    c = server.reset_counts()
    assert c.get("PUT", 0) == 0, c
    assert c.get("GET", 0) <= 2, c  # root + 1 admitted shard
    # whole budget (incl. the loose-file LIST and the schema footer's
    # ranged reads) stays a handful of requests
    assert sum(c.values()) <= 8, c

    # the carve-outs stay conservative: no provable atom -> all shards
    assert shards_loaded(uri, "id + grp = 12") == (4, 4)


def test_mixed_schema_selective_scan_request_budget(
    s3env, spark, monkeypatch
):
    """Round 11 over s3://: after an EVOLVING merge the table is
    mixed-schema — and a selective scan still costs root GET + touched
    shard GETs, because the root records the unified schema (reads
    need no footer merge) and entry/shard cols make absence a pruning
    fact. The exact budget the pre-r11 carve-out used to forfeit."""
    from pyspark.sql import functions as F

    from retail_sales_data_pipeline_spark.data_skipping import (
        scan_table,
        shards_loaded,
    )

    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 6)
    monkeypatch.setattr(S, "_SHARD_SIZE", 2)
    s3env["s3"].page_size = 1000
    server = s3env["server"]
    uri = "s3://lake/tables/mixedstats"
    df = spark.range(8000).select(
        F.col("id"), (F.col("id") % 10).alias("grp")
    )
    S.write_parquet(df.repartition(8), uri)
    S.convert_to_manifest(spark, uri)
    S.compact_parquet(spark, uri, target_files=8, sort_col="id")
    patch = spark.range(100, 121).selectExpr(
        "id", "id % 10 as grp", "id * 2 as score"
    )
    S.merge_into(spark, uri, patch, keys=["id"], evolve_schema=True)
    man = S._load_manifest(uri)
    assert man["mixed_schema"] and man.get("table_schema")

    total = len(man["files_ext"]["shards"])
    loaded, _ = shards_loaded(uri, "id BETWEEN 4000 AND 4010")
    assert loaded < total
    S._SHARD_CACHE.clear()
    server.reset_counts()
    got = scan_table(spark, uri, "id BETWEEN 4000 AND 4010")
    rows = got.collect()
    c = server.reset_counts()
    assert sorted(r.id for r in rows) == list(range(4000, 4011))
    assert all(r.score is None for r in rows)  # evolved col survives
    assert c.get("PUT", 0) == 0, c
    assert c.get("GET", 0) <= 1 + loaded, c  # root + admitted shards
    assert sum(c.values()) <= 8, c

    # predicate on the EVOLVED column: pre-evolution shards prune from
    # root records alone — still a touched-shards budget
    S._SHARD_CACHE.clear()
    server.reset_counts()
    got = scan_table(spark, uri, "score IS NOT NULL")
    assert got.count() == 21
    c = server.reset_counts()
    assert c.get("PUT", 0) == 0, c
    assert sum(c.values()) <= 8, c


def test_bloom_point_lookup_request_budget(s3env, spark):
    """Round-11 bloom indexes over s3://: a point lookup on an
    UNSORTED fingerprint column costs the root GET + one sidecar GET
    per candidate + the admitted file's scan — and a NO-MATCH lookup
    never plans a Spark job at all."""
    from pyspark.sql import functions as F

    import retail_sales_data_pipeline_spark.bloom as B
    from retail_sales_data_pipeline_spark.data_skipping import (
        files_scanned,
        scan_table,
    )

    server = s3env["server"]
    uri = "s3://lake/tables/bloomed"
    df = (
        spark.range(4000)
        .withColumn("fp", F.md5(F.col("id").cast("string")))
        .withColumn("grp", F.col("id") % 7)
    )
    S.write_parquet(df.repartition(4), uri)
    S.convert_to_manifest(spark, uri)
    assert S.set_bloom_columns(spark, uri, ["fp"]) == 4

    import hashlib

    target = hashlib.md5(b"1234").hexdigest()
    B._SIDE_CACHE.clear()
    server.reset_counts()
    n = files_scanned(uri, f"fp = '{target}'")
    c = server.reset_counts()
    assert n <= 2
    assert c.get("PUT", 0) == 0, c
    # root GET + <=4 sidecar GETs (+ the loose LIST)
    assert c.get("GET", 0) <= 5, c
    got = scan_table(spark, uri, f"fp = '{target}'")
    assert [r.id for r in got.collect()] == [1234]
    # absent fingerprint: zero admitted files, metadata-priced
    B._SIDE_CACHE.clear()
    server.reset_counts()
    assert files_scanned(uri, "fp = 'absent'") == 0
    c = server.reset_counts()
    assert c.get("GET", 0) <= 5 and c.get("PUT", 0) == 0, c


def test_bloom_distributed_probe_over_s3(s3env, spark, monkeypatch):
    """The past-the-cap distributed probe over s3://: the binaryFile
    sidecar glob runs through the table's spark_path mapping (s3a on
    a real cluster, the disk-backed dir here) and prunes identically
    to the driver probe."""
    from pyspark.sql import functions as F

    import retail_sales_data_pipeline_spark.bloom as B
    from retail_sales_data_pipeline_spark.data_skipping import scan_table

    uri = "s3://lake/tables/bloomdist"
    df = (
        spark.range(4000)
        .withColumn("fp", F.md5(F.col("id").cast("string")))
        .withColumn("grp", F.col("id") % 7)
    )
    S.write_parquet(df.repartition(4), uri)
    S.convert_to_manifest(spark, uri)
    S.set_bloom_columns(spark, uri, ["fp"])

    import hashlib

    target = hashlib.md5(b"2048").hexdigest()
    monkeypatch.setattr(B, "PROBE_CAP", 0)  # force the distributed path
    B._SIDE_CACHE.clear()
    got = scan_table(spark, uri, f"fp = '{target}'")
    assert [r.id for r in got.collect()] == [2048]
    assert len(got.inputFiles()) < 4  # the probe job pruned
    # admitted-set equivalence against the driver kernel, over s3
    # (round 12: the distributed probe collects the ADMITTED names —
    # O(selectivity) on the driver — and matches by table-relative
    # name through the spark_path mapping)
    man = S._load_manifest(uri)
    entries = S._version_files(man, uri)
    io = S._io(uri)
    probes = [("fp", [target])]
    B._SIDE_CACHE.clear()
    names = [e["name"] for e in entries]
    driver_adm = {
        e["name"] for e in entries
        if B.entry_admits(io, uri, e, probes)
    }
    assert B.distributed_admits(spark, uri, probes, names) == driver_adm


def test_sharded_selective_dml_request_budget(s3env, spark, monkeypatch):
    """Round-10 second rung, over s3://: a SELECTIVE DELETE on a
    sharded table is O(touched shards) END TO END — identification
    loads root + admitted shards only, and the commit carries every
    rejected shard's ROOT RECORD verbatim: shard GETs stay at the
    touched set, shard PUTs at the re-pooled set, one root CAS PUT."""
    from pyspark.sql import functions as F

    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 6)
    monkeypatch.setattr(S, "_SHARD_SIZE", 2)
    s3env["s3"].page_size = 1000
    server = s3env["server"]
    uri = "s3://lake/tables/shard-dml"
    df = spark.range(8000).select(
        F.col("id"), (F.col("id") % 10).alias("grp")
    )
    S.write_parquet(df.repartition(8), uri)
    S.convert_to_manifest(spark, uri)
    S.compact_parquet(spark, uri, target_files=8, sort_col="id")
    man0 = S._load_manifest(uri)
    names0 = {s["name"] for s in man0["files_ext"]["shards"]}
    assert len(names0) == 4

    S._SHARD_CACHE.clear()
    server.reset_counts()
    assert S.delete_where(spark, uri, "id BETWEEN 100 AND 120") == 21
    c = server.reset_counts()
    # identification: root GET + ONE admitted shard GET (everything
    # else the data plane reads through the mapped dir); commit: the
    # root CAS PUT + the re-pooled shard PUT — rejected shards move
    # ZERO requests in either direction
    assert c["PUT"] == 2, c  # new entry shard + root CAS
    assert c.get("GET", 0) <= 4, c
    # whole control plane (incl. existence HEADs, footer ranges, the
    # retire DELETEs) stays a handful — independent of shard count
    assert sum(c.values()) <= 20, c

    man1 = S._load_manifest(uri)
    names1 = {s["name"] for s in man1["files_ext"]["shards"]}
    assert len(names0 & names1) == 3  # carried by record
    assert man1["rows"] == 8000 - 21
    assert S.read_table(spark, uri).count() == 8000 - 21

    # a pure APPEND carries everything but the witness shard: one new
    # entry-shard PUT + the root CAS, O(1) shard GETs
    S._SHARD_CACHE.clear()
    server.reset_counts()
    batch = spark.range(90000, 90003).select(
        F.col("id"), (F.col("id") % 10).alias("grp")
    )
    assert S.insert_into(spark, uri, batch) == 3
    c = server.reset_counts()
    assert c["PUT"] == 2, c
    assert c.get("GET", 0) <= 4, c
    assert S.read_table(spark, uri).count() == 8000 - 21 + 3


def test_lost_ack_with_interleaved_third_writer(s3env, spark, monkeypatch):
    """Sharper lost-ack shape: this writer's conditional PUT LANDS
    unacked, and a THIRD writer commits on top before the read-back.
    Byte-equality alone would misread that as a lost race (the object
    no longer holds our bytes) and re-apply non-idempotent DML on top
    of our own committed effect; the writer-token CHAIN in the manifest
    recognizes the landed commit through later generations."""
    uri = "s3://lake/tables/lostack3"
    _seed_table(spark, uri, n=10, files=1)
    S.convert_to_manifest(spark, uri)
    io = table_io.for_path(uri)
    s3 = s3env["s3"]
    muri = f"{uri}/_manifest.json"
    orig_put = s3.put_bytes
    state = {"armed": True}

    def landed_but_unacked(path, data, **kw):
        if state["armed"] and path == muri and kw.get("if_match"):
            state["armed"] = False
            orig_put(path, data, **kw)  # the PUT actually lands...
            # ...then writer C commits ON TOP, inside the ack window
            nxt = json.loads(s3.read_bytes(muri))
            nxt["gen_no"] += 1
            nxt["op"] = "writer-c"
            io.commit_manifest(uri, nxt, expect_gen=nxt["gen_no"] - 1)
            raise PreconditionFailed(path)  # the ack this writer never saw
        return orig_put(path, data, **kw)

    monkeypatch.setattr(s3, "put_bytes", landed_but_unacked)
    man = json.loads(s3.read_bytes(muri))
    a_gen = man["gen_no"] + 1
    man = dict(man, gen_no=a_gen, op="writer-a")
    # must read as SUCCESS: our token is in writer C's carried chain
    io.commit_manifest(uri, man, expect_gen=a_gen - 1)
    monkeypatch.setattr(s3, "put_bytes", orig_put)
    final = json.loads(s3.read_bytes(muri))
    assert final["op"] == "writer-c" and final["gen_no"] == a_gen + 1


# ---------------------------------------------------------------------------
# commit-level conflict reconciliation: disjoint writers REBASE their
# already-staged commit instead of re-running the whole DML pass
# ---------------------------------------------------------------------------

def _batch(spark, lo: int, hi: int):
    from pyspark.sql import functions as F

    return spark.range(lo, hi).select(
        F.col("id").cast("long").alias("id"),
        (F.col("id") % 10).alias("grp"),
        F.concat(F.lit("doc-"), F.col("id")).alias("payload"),
    )


def _gen_dirs(s3env, uri: str, tag: str) -> list[str]:
    """Staging directories of one op kind, read from the store's
    backing tree (the data plane the fake maps onto)."""
    root = os.path.join(s3env["root"], uri[len("s3://"):])
    return sorted(
        d for d in os.listdir(root)
        if d.startswith("gen-") and tag in d and
        os.path.isdir(os.path.join(root, d))
    )


def test_concurrent_inserts_rebase_without_restaging(
    s3env, spark, monkeypatch
):
    """Two insert_into writers race the CAS; the loser REBASES its
    already-staged batch onto the winner's generation — both batches
    land, each writer stages its bytes exactly once, and the whole
    resolution is metadata-priced (request budget pinned: three
    manifest PUTs total — winner's, loser's 412, loser's rebase —
    and zero re-staged data bytes)."""
    uri = "s3://lake/tables/ins_race"
    _seed_table(spark, uri, n=40, files=2)
    S.convert_to_manifest(spark, uri)  # gen 1
    s3 = s3env["s3"]
    # the fixture's 3-key toy page size exercises pagination elsewhere;
    # the request-budget pin wants real-S3 pages so LIST counts mean
    # "listings issued" (same convention as the budget test above)
    s3.page_size = 1000
    server = s3env["server"]
    muri = f"{uri}/_manifest.json"
    orig = s3.read_bytes_meta
    fired = {"done": False}

    def interpose(path):
        data, etag = orig(path)
        if path == muri and not fired["done"]:
            fired["done"] = True
            # writer B: a REAL insert through the full protocol,
            # committing between A's CAS read and A's conditional PUT
            assert S.insert_into(spark, uri, _batch(spark, 1000, 1010)) == 10
        return data, etag

    monkeypatch.setattr(s3, "read_bytes_meta", interpose)
    server.reset_counts()
    n = S.insert_into(spark, uri, _batch(spark, 2000, 2020))
    c = server.reset_counts()
    monkeypatch.setattr(s3, "read_bytes_meta", orig)
    assert n == 20  # the loser committed WITHOUT raising or re-running
    # exactly three manifest PUTs: B's commit, A's 412'd CAS, A's rebase
    assert c["PUT"] == 3, c
    assert sum(c.values()) <= 40, c
    man = S._load_manifest(uri)
    assert man["gen_no"] == 3  # convert, B, A-rebased
    tbl = S.read_table(spark, uri)
    assert tbl.count() == 70
    assert tbl.where("id >= 1000").count() == 30  # no loss, no double
    # each writer staged ONCE: both dirs carry the ORIGINAL attempt's
    # generation number (gen-000002), proving the loser re-pointed its
    # staged files instead of writing them again
    dirs = _gen_dirs(s3env, uri, "._insert")
    assert len(dirs) == 2 and all(d.startswith("gen-000002") for d in dirs)


def test_txn_insert_race_keeps_exactly_once(s3env, spark, monkeypatch):
    """Duplicate delivery RACING itself: two writers insert the same
    (app_id, version). The loser's rebase sees the winner's watermark
    and drops its copy — 0 rows applied, batch lands exactly once."""
    uri = "s3://lake/tables/txn_race"
    _seed_table(spark, uri, n=40, files=2)
    S.convert_to_manifest(spark, uri)
    s3 = s3env["s3"]
    muri = f"{uri}/_manifest.json"
    orig = s3.read_bytes_meta
    fired = {"done": False}

    def interpose(path):
        data, etag = orig(path)
        if path == muri and not fired["done"]:
            fired["done"] = True
            assert S.insert_into(
                spark, uri, _batch(spark, 1000, 1010), txn=("app", 7)
            ) == 10
        return data, etag

    monkeypatch.setattr(s3, "read_bytes_meta", interpose)
    n = S.insert_into(
        spark, uri, _batch(spark, 1000, 1010), txn=("app", 7)
    )
    monkeypatch.setattr(s3, "read_bytes_meta", orig)
    assert n == 0  # exactly-once: the racing duplicate dropped itself
    tbl = S.read_table(spark, uri)
    assert tbl.where("id >= 1000").count() == 10
    assert S.describe_detail(uri)["txn"] == {"app": 7}
    # the dropped copy's staging is cleaned eagerly, not left for vacuum
    assert len(_gen_dirs(s3env, uri, "._insert")) == 1


def test_disjoint_delete_rebases_over_compaction(s3env, spark, monkeypatch):
    """The verdict-shape race: a DELETE whose matched file the winner
    never touched loses the CAS to a compaction of OTHER files. The
    loser rebases — no re-identification scan, no re-staging — and the
    final table carries the winner's compacted file plus the loser's
    rewrite."""
    uri = "s3://lake/tables/del_vs_compact"
    # one BIG file (ids 0..4999) + three small appends; the compaction
    # folds only the smalls, the delete touches only the big file
    S.write_parquet(_batch(spark, 0, 5000).coalesce(1), uri)
    for lo in (5000, 5050, 5100):
        S.append_table(_batch(spark, lo, lo + 50).coalesce(1), uri)
    S.convert_to_manifest(spark, uri)  # adopts all four files
    man0 = S._load_manifest(uri)
    assert len(man0["files"]) == 4
    s3 = s3env["s3"]
    muri = f"{uri}/_manifest.json"
    orig = s3.read_bytes_meta
    fired = {"done": False}
    small_cut = max(
        e["bytes"] for e in man0["files"] if e["rows"] == 50
    ) + 1

    def interpose(path):
        data, etag = orig(path)
        if path == muri and not fired["done"]:
            fired["done"] = True
            res = S.compact_small_files(
                spark, uri, min_file_bytes=small_cut
            )
            assert res["rewritten"] == 3 and res["carried"] == 1
        return data, etag

    monkeypatch.setattr(s3, "read_bytes_meta", interpose)
    # NOT wrapped in retry_on_conflict: a failed rebase would raise
    n = S.delete_where(spark, uri, "id < 100")
    monkeypatch.setattr(s3, "read_bytes_meta", orig)
    assert n == 100
    man = S._load_manifest(uri)
    assert man["gen_no"] == 3  # convert, compact, delete-rebased
    tbl = S.read_table(spark, uri)
    assert tbl.count() == 5050
    assert tbl.where("id < 100").count() == 0
    assert tbl.where("id >= 5000").count() == 150  # compacted rows intact
    # the delete staged once, under its ORIGINAL attempt number
    dirs = _gen_dirs(s3env, uri, "._delete")
    assert len(dirs) == 1 and dirs[0].startswith("gen-000002")


def test_live_concurrent_inserts_rebase_on_s3(s3env, spark):
    """LIVE two-thread insert race over the ETag-CAS fence — NOT
    wrapped in retry_on_conflict: both writers must land through
    commit-level rebase alone. No rows lost or doubled, generation
    advanced exactly twice."""
    import threading

    uri = "s3://lake/tables/live_ins"
    _seed_table(spark, uri, n=100, files=2)
    S.convert_to_manifest(spark, uri)
    errs: list[Exception] = []
    barrier = threading.Barrier(2)

    def worker(lo: int) -> None:
        try:
            batch = _batch(spark, lo, lo + 50)
            barrier.wait(timeout=30)
            assert S.insert_into(spark, uri, batch) == 50
        except Exception as e:  # surfaced below
            errs.append(e)

    t1 = threading.Thread(target=worker, args=(1000,))
    t2 = threading.Thread(target=worker, args=(2000,))
    t1.start(); t2.start(); t1.join(60); t2.join(60)
    # a hung fence must fail HERE, not as a confusing row-count miss
    assert not t1.is_alive() and not t2.is_alive(), "worker hung"
    assert not errs, errs
    tbl = S.read_table(spark, uri)
    assert tbl.count() == 200
    assert tbl.where("id >= 1000").count() == 100
    assert S._load_manifest(uri)["gen_no"] == 3


def test_concurrent_merges_same_absent_key_no_duplicate(
    s3env, spark, monkeypatch
):
    """Two merges race to upsert the SAME absent key. The winner
    inserts it; the loser must NOT rebase (its not-matched decision
    was made against the pre-insert snapshot — rebasing would commit a
    duplicate key, an outcome no serial order produces). The loser
    re-runs via retry_on_conflict, MATCHES the winner's row, and
    updates it: exactly one row for the key."""
    from pyspark.sql import functions as F

    uri = "s3://lake/tables/merge_race"
    _seed_table(spark, uri, n=40, files=2)
    S.convert_to_manifest(spark, uri)
    s3 = s3env["s3"]
    muri = f"{uri}/_manifest.json"
    orig = s3.read_bytes_meta
    fired = {"done": False}

    def upd(payload: str):
        return spark.createDataFrame(
            [(7777, 7, payload)], "id long, grp long, payload string"
        )

    def interpose(path):
        data, etag = orig(path)
        if path == muri and not fired["done"]:
            fired["done"] = True
            res = S.merge_into(spark, uri, upd("winner"), keys=["id"],
                               broadcast_updates=True)
            assert res["inserted"] == 1
        return data, etag

    monkeypatch.setattr(s3, "read_bytes_meta", interpose)
    res = S.retry_on_conflict(
        lambda: S.merge_into(spark, uri, upd("loser"), keys=["id"],
                             broadcast_updates=True)
    )
    monkeypatch.setattr(s3, "read_bytes_meta", orig)
    # the re-run saw the winner's row and UPDATED it, not re-inserted
    assert res["updated"] == 1 and res["inserted"] == 0
    rows = S.read_table(spark, uri).where("id = 7777")
    assert rows.count() == 1
    assert rows.select(F.col("payload")).first()[0] == "loser"


def test_overlapping_delete_conflict_still_reruns(s3env, spark, monkeypatch):
    """Rebase must REFUSE when the winner rewrote a file this commit
    also rewrites: the loser raises ConcurrentWriteError (staging
    cleaned eagerly) and retry_on_conflict's whole-pass re-run remains
    the correct fallback."""
    uri = "s3://lake/tables/overlap"
    _seed_table(spark, uri, n=100, files=1)  # ONE file: any two DMLs overlap
    S.convert_to_manifest(spark, uri)
    s3 = s3env["s3"]
    muri = f"{uri}/_manifest.json"
    orig = s3.read_bytes_meta
    fired = {"done": False}

    def interpose(path):
        data, etag = orig(path)
        if path == muri and not fired["done"]:
            fired["done"] = True
            assert S.delete_where(spark, uri, "id < 5") == 5
        return data, etag

    monkeypatch.setattr(s3, "read_bytes_meta", interpose)
    with pytest.raises(S.ConcurrentWriteError):
        S.delete_where(spark, uri, "id < 10")
    # the loser cleaned its staged generation on the spot
    assert len(_gen_dirs(s3env, uri, "._delete")) == 1
    # the outer retry loop re-runs against the winner's state and lands
    n = S.retry_on_conflict(lambda: S.delete_where(spark, uri, "id < 10"))
    monkeypatch.setattr(s3, "read_bytes_meta", orig)
    assert n == 5  # ids 0..4 already gone; the re-run removes 5..9
    tbl = S.read_table(spark, uri)
    assert tbl.count() == 90 and tbl.where("id < 10").count() == 0


def test_shard_bloom_aggregate_request_budget(s3env, spark, monkeypatch):
    """Round 12 over s3://: on a SHARDED bloom-policied table, a point
    lookup on a clustered-but-unordered column pays root GET + the
    touched shard's GET + that shard's member sidecar GETs — other
    shards' sidecars are NEVER fetched (the root aggregate disproved
    them), and a no-match lookup is root-only."""
    from pyspark.sql import functions as F

    import retail_sales_data_pipeline_spark.bloom as B
    from retail_sales_data_pipeline_spark.data_skipping import (
        scan_table,
        shards_loaded,
    )

    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 6)
    monkeypatch.setattr(S, "_SHARD_SIZE", 2)
    s3env["s3"].page_size = 1000
    server = s3env["server"]
    uri = "s3://lake/tables/shardbloom"
    # sentinels pin every [min, max] span to the whole hash space, so
    # any pruning below is the bloom aggregate's
    df = spark.range(8000).select(
        "id",
        F.when(F.col("id") % 1000 == 0, F.lit("0" * 32))
        .when(F.col("id") % 1000 == 1, F.lit("f" * 32))
        .otherwise(
            F.md5((F.col("id") / 1000).cast("long").cast("string"))
        ).alias("bucket"),
    )
    S.write_parquet(df.repartition(8), uri)
    S.convert_to_manifest(spark, uri)
    S.compact_parquet(spark, uri, target_files=8, sort_col="id")
    S.set_bloom_columns(spark, uri, ["bucket"])
    man = S._load_manifest(uri)
    shards = man["files_ext"]["shards"]
    assert len(shards) == 4 and any(s.get("bloom") for s in shards)

    import hashlib

    target = hashlib.md5(b"3").hexdigest()
    loaded, total = shards_loaded(uri, f"bucket = '{target}'")
    # range compaction samples its split points, so the bucket's ids
    # may straddle one shard boundary — 1 or 2 of 4, never more
    assert total == 4 and loaded <= 2, (loaded, total)
    S._SHARD_CACHE.clear()
    B._SIDE_CACHE.clear()
    server.reset_counts()
    got = scan_table(spark, uri, f"bucket = '{target}'")
    assert got.count() == 998
    c = server.reset_counts()
    assert c.get("PUT", 0) == 0, c
    # root + touched shards + their member sidecars; the untouched
    # shards and their sidecars never move
    assert c.get("GET", 0) <= 1 + 3 * loaded, c
    assert sum(c.values()) <= 12, c

    # no-match: every shard disproven from the ROOT alone — no shard
    # GET, no sidecar GET, no Spark job
    S._SHARD_CACHE.clear()
    B._SIDE_CACHE.clear()
    server.reset_counts()
    assert scan_table(spark, uri, "bucket = 'absent'").count() == 0
    c = server.reset_counts()
    assert c.get("GET", 0) <= 2, c  # root (+ the schema-witness shard)
    assert sum(c.values()) <= 6, c


def test_consolidated_probe_request_budget(s3env, spark, monkeypatch):
    """Round 13: past PROBE_CAP, the consolidated per-shard sidecar
    objects give the driver full file-grain verdicts at O(shards)
    GETs — not one GET per file — and ``files_scanned`` reports
    EXACTLY what ``scan_table`` then reads, with or without a session
    (r12 verdict wrong #2: the sessionless count on a >cap bloomed
    table used to be a flattering upper bound)."""
    import hashlib

    from pyspark.sql import functions as F

    import retail_sales_data_pipeline_spark.bloom as B
    from retail_sales_data_pipeline_spark.data_skipping import (
        files_scanned,
        scan_table,
    )

    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 4)
    monkeypatch.setattr(S, "_SHARD_SIZE", 2)
    server = s3env["server"]
    uri = "s3://lake/tables/consbudget"
    df = (
        spark.range(4000)
        .withColumn("fp", F.md5(F.col("id").cast("string")))
        .withColumn("grp", F.col("id") % 7)
    )
    S.write_parquet(df.repartition(8), uri)
    S.convert_to_manifest(spark, uri)
    S.compact_parquet(spark, uri, target_files=8, sort_col="id")
    S.set_bloom_columns(spark, uri, ["fp"])
    man = S._load_manifest(uri)
    shards = man["files_ext"]["shards"]
    assert len(shards) == 4 and all(s.get("bloomside") for s in shards)

    monkeypatch.setattr(B, "PROBE_CAP", 2)  # 8 candidates >> cap
    target = hashlib.md5(b"1234").hexdigest()
    pred = f"fp = '{target}'"
    B._SIDE_CACHE.clear()
    B._CONS_CACHE.clear()
    S._SHARD_CACHE.clear()
    server.reset_counts()
    n_rep = files_scanned(uri, pred)  # no session
    c = server.reset_counts()
    # root GET + 4 shard bodies + 4 consolidated objects (+ loose
    # LIST); crucially NOT the 8 per-file sidecar GETs on top
    assert c.get("GET", 0) <= 10, c
    assert c.get("PUT", 0) == 0, c
    # report == scan: sessionless, with-session, and the actual read
    # all agree on the same file count
    assert n_rep == files_scanned(uri, pred, spark)
    got = scan_table(spark, uri, pred)
    assert [r.id for r in got.collect()] == [1234]
    assert n_rep == len(got.inputFiles())
