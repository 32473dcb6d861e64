"""Round-11 bloom filter indexes: point-lookup file skipping on
columns the table is NOT sorted by (sinks.set_bloom_columns +
bloom.py + the prune_entries probe) — the Delta bloom-index analogue,
and the lookup shape [min, max] footer stats can never prune. The
canonical 100 TB case is takedown-by-fingerprint over an LLM corpus
(extends the reference's full-scan read path,
src/main/read/aws_read.py, with an index the reference never had).

Soundness focus: a false positive costs a scan; a false NEGATIVE
would silently drop matching rows, so these tests pin the hash
round trip, dtype canonicalization (nullable ints), type-class
mismatch admission, and the missing/corrupt-sidecar admit paths."""

from __future__ import annotations

import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

import retail_sales_data_pipeline_spark.bloom as B
import retail_sales_data_pipeline_spark.sinks as S
from retail_sales_data_pipeline_spark.data_skipping import (
    files_scanned,
    scan_table,
)


def _fp_table(spark, tmp_path, n=20_000, files=8, name="tbl"):
    """An UNSORTED-fingerprint table: md5 strings spread every file
    across the whole hash space, so range stats prune nothing."""
    path = str(tmp_path / name)
    df = (
        spark.range(n)
        .withColumn("fp", F.md5(F.col("id").cast("string")))
        .withColumn("grp", F.col("id") % 7)
    )
    S.write_parquet(df.repartition(files), path)
    S.convert_to_manifest(spark, path)
    return path


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


# ---------------------------------------------------------------------------
# unit: the filter itself
# ---------------------------------------------------------------------------


def test_bloom_roundtrip_no_false_negatives():
    m, k = B.params(1000, 0.01)
    bits = bytearray(m // 8)
    values = [f"doc-{i}" for i in range(1000)]
    B.add_values(bits, k, values)
    assert all(B.might_contain(bytes(bits), k, v) for v in values)
    # fpp sanity: misses mostly rejected
    miss = sum(
        B.might_contain(bytes(bits), k, f"absent-{i}") for i in range(1000)
    )
    assert miss < 60  # 1% nominal; generous margin


def test_bloom_int_string_canonical_equivalence():
    """The build side hashes Spark's cast(col as string); the probe
    side hashes the int literal — both must land on str(int)."""
    m, k = B.params(100, 0.01)
    bits = bytearray(m // 8)
    B.add_values(bits, k, [str(v) for v in (-5, 0, 777, 2**60)])
    for v in (-5, 0, 777, 2**60):
        assert B.might_contain(bytes(bits), k, v)
        assert B.might_contain(bytes(bits), k, str(v))


def test_bloom_hash_pinned_vectors():
    """The hash must stay bit-stable forever (a changed hash = false
    negatives against old sidecars). Pin actual digest-derived
    positions for fixed inputs."""
    assert B._digest("abc") == (
        int.from_bytes(hashlib.md5(b"abc").digest()[:8], "big"),
        int.from_bytes(hashlib.md5(b"abc").digest()[8:16], "big"),
    )
    assert B._digest(123) == B._digest("123")
    assert B._digest(None) is None
    assert B._digest(True) is None  # bool is not a canonical int
    assert B._digest(1.5) is None


def test_bloom_type_class_mismatch_admits():
    m, k = B.params(10, 0.01)
    bits = bytearray(m // 8)
    B.add_values(bits, k, ["7"])
    side = {"cols": {"c": {"type": "str", "k": k, "bits": bytes(bits)}}}

    class IO:
        def load_json(self, p):
            return None

    entry = {"name": "f"}
    # direct probe through entry_admits with a stubbed cache
    B._SIDE_CACHE.clear()
    B._SIDE_CACHE[B.sidecar_path("/t", "f")] = side
    # int literal against a str column: class mismatch -> admit
    assert B.entry_admits(IO(), "/t", entry, [("c", [7])])
    # str literal, present -> admit; absent -> reject
    assert B.entry_admits(IO(), "/t", entry, [("c", ["7"])])
    assert not B.entry_admits(IO(), "/t", entry, [("c", ["8"])])
    # IN: any present value admits
    assert B.entry_admits(IO(), "/t", entry, [("c", ["8", "7"])])
    B._SIDE_CACHE.clear()


# ---------------------------------------------------------------------------
# end to end: policy, backfill, probe, commits, lifecycle
# ---------------------------------------------------------------------------


def test_point_lookup_prunes_unsorted_table(spark, tmp_path):
    path = _fp_table(spark, tmp_path)
    total = files_scanned(path)
    target = _md5("123")
    # before the policy: nothing prunes (hash space spans every file)
    assert files_scanned(path, f"fp = '{target}'") == total

    n = S.set_bloom_columns(spark, path, ["fp", "id"], fpp=0.01)
    assert n == total
    man = S._load_manifest(path)
    assert man["bloom"] == {"cols": ["fp", "id"], "fpp": 0.01}

    B._SIDE_CACHE.clear()
    assert files_scanned(path, f"fp = '{target}'") <= 2  # fpp slack
    got = scan_table(spark, path, f"fp = '{target}'").collect()
    assert [(r.id, r.fp) for r in got] == [(123, target)]
    # int policy column prunes too
    assert files_scanned(path, "id = 777") <= 2
    assert scan_table(spark, path, "id = 777").count() == 1
    # absent value: zero files -> zero Spark jobs downstream
    assert files_scanned(path, "fp = 'nope'") == 0
    # IN-list unions the probes
    assert files_scanned(
        path, f"fp IN ('{target}', '{_md5('19999')}')"
    ) <= 4
    # non-policy column unaffected; range atoms don't consult blooms
    assert files_scanned(path, "grp = 3") == total
    assert files_scanned(path, "id > 0") == total


def test_takedown_delete_via_bloom(spark, tmp_path):
    path = _fp_table(spark, tmp_path)
    S.set_bloom_columns(spark, path, ["fp"])
    target = _md5("4242")
    assert S.delete_where(spark, path, f"fp = '{target}'") == 1
    assert S.read_table(spark, path).count() == 20_000 - 1
    # a no-match takedown identifies ZERO files (metadata only)
    assert S.delete_where(spark, path, "fp = 'absent'") == 0
    fsck = S.verify_table(path, deep=True)
    assert fsck["ok"], fsck["errors"]


def test_commits_index_their_own_files(spark, tmp_path):
    """Policy is carried; every later commit builds sidecars for its
    new files only (patch-priced, the CHECK-enforcement induction)."""
    path = _fp_table(spark, tmp_path)
    S.set_bloom_columns(spark, path, ["fp"])
    batch = (
        spark.range(90_000, 90_010)
        .withColumn("fp", F.md5(F.col("id").cast("string")))
        .withColumn("grp", F.col("id") % 7)
    )
    assert S.insert_into(spark, path, batch) == 10
    man = S._load_manifest(path)
    assert man["bloom"]["cols"] == ["fp"]  # carried by the commit
    t = _md5("90005")
    B._SIDE_CACHE.clear()
    assert files_scanned(path, f"fp = '{t}'") <= 2
    assert scan_table(spark, path, f"fp = '{t}'").count() == 1
    # compaction rewrites files -> fresh sidecars for the new layout
    S.compact_parquet(spark, path, target_files=4)
    B._SIDE_CACHE.clear()
    assert files_scanned(path, f"fp = '{t}'") <= 2
    assert scan_table(spark, path, f"fp = '{t}'").count() == 1
    fsck = S.verify_table(path)
    assert fsck["ok"], fsck["errors"]


def test_retire_removes_sidecars_with_files(spark, tmp_path):
    path = _fp_table(spark, tmp_path, n=2000, files=2)
    S.set_bloom_columns(spark, path, ["fp"])

    def sidecars():
        out = []
        for root, _, fs in os.walk(path):
            out += [os.path.join(root, f) for f in fs
                    if f.endswith(B.BLOOM_SUFFIX)]
        return out

    before = set(sidecars())
    assert len(before) == 2
    # full rewrite retires the old files -> their sidecars go too
    S.compact_parquet(spark, path, target_files=1)
    after = set(sidecars())
    assert not (before & after), "old sidecars must retire with files"
    assert len(after) == 1


def test_missing_and_corrupt_sidecars_admit(spark, tmp_path):
    path = _fp_table(spark, tmp_path, n=2000, files=2)
    S.set_bloom_columns(spark, path, ["fp"])
    target = _md5("77")
    man = S._load_manifest(path)
    entries = S._version_files(man, path)
    # corrupt one sidecar, delete the other: both must ADMIT
    sp0 = B.sidecar_path(path, entries[0]["name"])
    sp1 = B.sidecar_path(path, entries[1]["name"])
    with open(sp0, "w") as fh:
        fh.write("{broken")
    os.unlink(sp1)
    B._SIDE_CACHE.clear()
    assert files_scanned(path, f"fp = '{target}'") == 2  # no pruning
    assert scan_table(spark, path, f"fp = '{target}'").count() == 1


def test_probe_cap_disables_driver_side_probing(spark, tmp_path, monkeypatch):
    path = _fp_table(spark, tmp_path, n=2000, files=2)
    S.set_bloom_columns(spark, path, ["fp"])
    monkeypatch.setattr(B, "PROBE_CAP", 1)  # candidates (2) > cap
    B._SIDE_CACHE.clear()
    target = _md5("123")
    assert files_scanned(path, f"fp = '{target}'") == 2
    assert scan_table(spark, path, f"fp = '{target}'").count() == 1


def test_policy_rejects_bad_columns(spark, tmp_path):
    path = str(tmp_path / "t")
    S.write_parquet(
        spark.range(10).selectExpr("id", "id * 1.5 as price"), path
    )
    S.convert_to_manifest(spark, path)
    with pytest.raises(ValueError, match="not in table schema"):
        S.set_bloom_columns(spark, path, ["nope"])
    with pytest.raises(ValueError, match="only"):
        S.set_bloom_columns(spark, path, ["price"])  # float: unsound
    with pytest.raises(ValueError, match="fpp"):
        S.set_bloom_columns(spark, path, ["id"], fpp=2.0)


def test_drop_policy_stops_probing(spark, tmp_path):
    path = _fp_table(spark, tmp_path, n=2000, files=2)
    S.set_bloom_columns(spark, path, ["fp"])
    target = _md5("123")
    B._SIDE_CACHE.clear()
    assert files_scanned(path, f"fp = '{target}'") <= 1
    S.drop_bloom_columns(path)
    assert S._load_manifest(path).get("bloom") is None
    assert files_scanned(path, f"fp = '{target}'") == 2
    with pytest.raises(ValueError, match="no bloom policy"):
        S.drop_bloom_columns(path)


def test_vacuum_protects_live_sidecars(spark, tmp_path):
    """The per-file vacuum sweep lists sidecars under the part-
    prefix; a LIVE file's sidecar must survive any TTL, a dead one's
    must be collected."""
    import time

    base = str(tmp_path)
    path = _fp_table(spark, tmp_path, n=2000, files=2, name="vtbl")
    S.compact_parquet(spark, path, target_files=2)  # files in gen dirs
    S.set_bloom_columns(spark, path, ["fp"])
    man = S._load_manifest(path)
    entries = S._version_files(man, path)
    live_side = B.sidecar_path(path, entries[0]["name"])
    # plant a DEAD sidecar (no data file) in the same gen dir
    gen_dir = os.path.dirname(os.path.join(path, entries[0]["name"]))
    dead_side = os.path.join(gen_dir, "part-dead.parquet" + B.BLOOM_SUFFIX)
    with open(dead_side, "w") as fh:
        fh.write("{}")
    removed = S.vacuum_staging(base, ttl_seconds=0,
                               now=time.time() + 10)
    assert dead_side in removed
    assert os.path.exists(live_side), "live sidecar vacuumed!"
    # the table still reads and prunes
    B._SIDE_CACHE.clear()
    assert scan_table(spark, path, f"fp = '{_md5('5')}'").count() == 1


def test_bloom_with_evolved_mixed_schema(spark, tmp_path):
    """Policy + schema evolution compose: files written before an
    evolved bloom column physically lack it (absence pruning handles
    them); files written after carry sidecars for it."""
    path = _fp_table(spark, tmp_path, n=2000, files=2)
    S.set_bloom_columns(spark, path, ["fp"])
    patch = (
        spark.range(100, 111)
        .withColumn("fp", F.md5(F.col("id").cast("string")))
        .withColumn("grp", F.col("id") % 7)
        .withColumn("tag", F.concat(F.lit("t-"), F.col("id")))
    )
    S.merge_into(spark, path, patch, keys=["id"], evolve_schema=True)
    man = S._load_manifest(path)
    assert man["mixed_schema"] and man["bloom"]
    target = _md5("105")
    B._SIDE_CACHE.clear()
    got = scan_table(spark, path, f"fp = '{target}'")
    assert got.count() == 1
    assert "tag" in got.columns
    assert files_scanned(path, f"fp = '{target}'") <= 2
    fsck = S.verify_table(path, deep=True)
    assert fsck["ok"], fsck["errors"]


def test_distributed_probe_past_cap(spark, tmp_path, monkeypatch):
    """Past PROBE_CAP the driver-side probe would be a GET storm —
    scan_table switches to ONE binaryFile job over every sidecar and
    prunes identically. files_scanned (no session) skips probing but
    stays correct."""
    path = _fp_table(spark, tmp_path, n=4000, files=4, name="dist")
    S.set_bloom_columns(spark, path, ["fp"])
    target = _md5("1234")
    monkeypatch.setattr(B, "PROBE_CAP", 0)  # force the distributed path
    B._SIDE_CACHE.clear()
    got = scan_table(spark, path, f"fp = '{target}'")
    rows = got.collect()
    assert [(r.id, r.fp) for r in rows] == [(1234, target)]
    # the distributed probe pruned: the plan reads fewer files than
    # the table holds (pin via the scan's input files)
    assert len(got.inputFiles()) < 4
    # absent value: everything rejected, empty result, schema intact
    empty = scan_table(spark, path, "fp = 'absent'")
    assert empty.count() == 0
    assert empty.columns == ["id", "fp", "grp"]
    # delete identification rides the same path (spark available)
    assert S.delete_where(spark, path, f"fp = '{target}'") == 1
    # files_scanned has no session: probing skipped, count honest
    assert files_scanned(path, f"fp = '{_md5('99')}'") == 4


def test_distributed_probe_matches_driver_probe(spark, tmp_path, monkeypatch):
    """Same verdict kernel, same answers: for a set of probes the
    distributed ADMITTED set equals the driver-side one exactly
    (round 12: the kernel collects admitted names — O(selectivity) on
    the driver — with payload_rejects still the shared verdict)."""
    path = _fp_table(spark, tmp_path, n=4000, files=4, name="equiv")
    S.set_bloom_columns(spark, path, ["fp", "id"])
    man = S._load_manifest(path)
    entries = S._version_files(man, path)
    io = S._io(path)
    names = [e["name"] for e in entries]
    for probes in (
        [("fp", [_md5("77")])],
        [("id", [123, 9999])],
        [("fp", ["absent"]), ("id", [5])],
    ):
        B._SIDE_CACHE.clear()
        driver_adm = {
            e["name"] for e in entries
            if B.entry_admits(io, path, e, probes)
        }
        dist_adm = B.distributed_admits(spark, path, probes, names)
        assert dist_adm == driver_adm, probes
    # a candidate with NO sidecar must survive the anti-join (admit-
    # on-missing without the driver learning which sidecars exist)
    io.remove_file(B.sidecar_path(path, names[0]))
    B._SIDE_CACHE.clear()
    dist_adm = B.distributed_admits(
        spark, path, [("fp", ["absent"])], names
    )
    assert names[0] in dist_adm and len(dist_adm) == 1


def test_bloom_on_sharded_table(spark, tmp_path, monkeypatch):
    """Composition with the sharded index: an fp point lookup cannot
    reject shards (hash-space ranges admit), so the resolve loads the
    index — and then bloom pruning cuts the FILE list to the admitted
    candidates before any scan."""
    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 4)
    monkeypatch.setattr(S, "_SHARD_SIZE", 2)
    path = _fp_table(spark, tmp_path, n=8000, files=8, name="sharded")
    S.compact_parquet(spark, path, target_files=8, sort_col="id")
    S.set_bloom_columns(spark, path, ["fp"])
    man = S._load_manifest(path)
    assert man.get("files_ext"), "table should be sharded"
    target = _md5("4321")
    B._SIDE_CACHE.clear()
    assert files_scanned(path, f"fp = '{target}'") <= 2
    got = scan_table(spark, path, f"fp = '{target}'")
    assert [r.id for r in got.collect()] == [4321]
    # the id-range path still prunes shards; blooms don't interfere
    from retail_sales_data_pipeline_spark.data_skipping import (
        shards_loaded,
    )

    loaded, total = shards_loaded(path, "id BETWEEN 10 AND 20")
    assert loaded < total
    fsck = S.verify_table(path, deep=True)
    assert fsck["ok"], fsck["errors"]


def test_rollback_carries_bloom_policy(spark, tmp_path):
    """Review finding (r11): RESTORE must not silently disarm the
    index — policy is table policy like constraints, and the dropped-
    version sidecar retire keys off it."""
    path = _fp_table(spark, tmp_path, n=2000, files=2, name="rb")
    S.set_bloom_columns(spark, path, ["fp"])
    target = _md5("55")
    S.delete_where(spark, path, f"fp = '{target}'", retain_versions=2)
    prev = S._load_manifest(path)["gen_no"] - 1
    S.rollback(spark, path, version=prev)  # restore pre-delete snapshot
    man = S._load_manifest(path)
    assert man.get("bloom", {}).get("cols") == ["fp"]
    # later commits keep indexing
    batch = (
        spark.range(70_000, 70_005)
        .withColumn("fp", F.md5(F.col("id").cast("string")))
        .withColumn("grp", F.col("id") % 7)
    )
    S.insert_into(spark, path, batch)
    t = _md5("70003")
    B._SIDE_CACHE.clear()
    assert files_scanned(path, f"fp = '{t}'") <= 2
    assert scan_table(spark, path, f"fp = '{t}'").count() == 1


# ---------------------------------------------------------------------------
# delete_keys: the takedown-LIST API (round 11) — one code path with
# delete_where, literal regime rides the bloom index, bulk regime
# becomes band + IN-subquery semi join
# ---------------------------------------------------------------------------


def test_delete_keys_literal_rides_bloom(spark, tmp_path):
    path = _fp_table(spark, tmp_path, n=4000, files=4, name="dk1")
    S.set_bloom_columns(spark, path, ["fp"])
    targets = [_md5(str(i)) for i in (7, 77, 777)]
    B._SIDE_CACHE.clear()
    assert S.delete_keys(spark, path, targets, "fp") == 3
    tbl = S.read_table(spark, path)
    assert tbl.count() == 4000 - 3
    assert tbl.where(f"id IN (7, 77, 777)").count() == 0
    # a list that matches nothing: zero files identified, 0 deleted
    assert S.delete_keys(spark, path, ["absent-a", "absent-b"], "fp") == 0
    # int keys on the id column
    assert S.delete_keys(spark, path, [11, 12, 11, None], "id") == 2
    assert S.delete_keys(spark, path, [], "id") == 0
    fsck = S.verify_table(path, deep=True)
    assert fsck["ok"], fsck["errors"]


def test_delete_keys_bulk_dataframe(spark, tmp_path, monkeypatch):
    """Past the literal cap: band + IN-subquery. Equality with the
    literal path pinned on the same key set."""
    path = _fp_table(spark, tmp_path, n=4000, files=4, name="dk2")
    ref = _fp_table(spark, tmp_path, n=4000, files=4, name="dk2ref")
    monkeypatch.setattr(S, "_DELETE_KEYS_LITERAL_CAP", 10)
    keys = spark.range(100, 151).select(F.col("id"))  # 51 keys > cap
    assert S.delete_keys(spark, path, keys, "id") == 51
    # reference: same keys as literals through delete_where
    lits = ", ".join(str(i) for i in range(100, 151))
    assert S.delete_where(spark, ref, f"id IN ({lits})") == 51
    got = sorted(map(tuple, S.read_table(spark, path).collect()))
    want = sorted(map(tuple, S.read_table(spark, ref).collect()))
    assert got == want
    # the band kept range pruning parseable: files outside [100, 150]
    # were never candidates (id-unsorted here, so just assert count)
    fsck = S.verify_table(path, deep=True)
    assert fsck["ok"], fsck["errors"]


def test_delete_keys_dv_and_validation(spark, tmp_path):
    path = _fp_table(spark, tmp_path, n=4000, files=4, name="dk3")
    # deletion-vector variant
    n = S.delete_keys(spark, path, [5, 6], "id", deletion_vectors=True)
    assert n == 2
    assert S.read_table(spark, path).where("id IN (5, 6)").count() == 0
    with pytest.raises(ValueError, match="int/str"):
        S.delete_keys(spark, path, [1.5], "id")
    with pytest.raises(ValueError, match="exactly one column"):
        S.delete_keys(
            spark, path, spark.range(3).selectExpr("id", "id b"), "id"
        )
    # string escaping round trip
    df = spark.createDataFrame(
        [(1, "o'brien"), (2, "plain")], "id long, name string"
    )
    p2 = str(tmp_path / "esc")
    S.write_parquet(df, p2)
    S.convert_to_manifest(spark, p2)
    assert S.delete_keys(spark, p2, ["o'brien"], "name") == 1
    assert S.read_table(spark, p2).count() == 1


def test_delete_keys_string_and_bulk_list_regimes(
    spark, tmp_path, monkeypatch
):
    """Second-review findings: a bare string is ONE key (not a char
    sequence); a big Python LIST routes to the bulk regime like a big
    frame; mixed int/str key types are rejected."""
    path = _fp_table(spark, tmp_path, n=4000, files=4, name="dk4")
    target = _md5("42")
    # bare string: exactly one row deleted, never char-wise
    assert S.delete_keys(spark, path, target, "fp") == 1
    assert S.read_table(spark, path).where("id = 42").count() == 0
    with pytest.raises(ValueError, match="bytes"):
        S.delete_keys(spark, path, b"abc", "fp")
    with pytest.raises(ValueError, match="mixed"):
        S.delete_keys(spark, path, [1, "a"], "id")
    # big list > cap: the bulk band+subquery regime, same results
    monkeypatch.setattr(S, "_DELETE_KEYS_LITERAL_CAP", 10)
    assert S.delete_keys(spark, path, list(range(200, 251)), "id") == 51
    assert S.read_table(spark, path).where(
        "id BETWEEN 200 AND 250"
    ).count() == 0
    assert S.read_table(spark, path).count() == 4000 - 1 - 51


def test_delete_keys_bulk_forced_shuffle_join(spark, tmp_path, monkeypatch):
    """Provenance pin, deterministic: with broadcast disabled the bulk
    IN-subquery plans as a SHUFFLED semi join — identification must
    still attribute matches to the right files (input_file_name is
    captured at scan level, before the join boundary)."""
    path = _fp_table(spark, tmp_path, n=4000, files=4, name="dk5")
    monkeypatch.setattr(S, "_DELETE_KEYS_LITERAL_CAP", 10)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        keys = spark.range(300, 341).select(F.col("id"))
        assert S.delete_keys(spark, path, keys, "id") == 41
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    tbl = S.read_table(spark, path)
    assert tbl.count() == 4000 - 41
    assert tbl.where("id BETWEEN 300 AND 340").count() == 0
    fsck = S.verify_table(path, deep=True)
    assert fsck["ok"], fsck["errors"]


def test_delete_keys_on_evolved_sharded_bloomed_table(
    spark, tmp_path, monkeypatch
):
    """All three r11 features composed: a SHARDED table takes an
    EVOLVING merge, carries a BLOOM policy, and then serves a keyed
    takedown — selective resolve, recorded-schema read, bloom
    identification, and the deep FSCK all hold together."""
    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 4)
    monkeypatch.setattr(S, "_SHARD_SIZE", 2)
    path = _fp_table(spark, tmp_path, n=8000, files=8, name="compose")
    S.compact_parquet(spark, path, target_files=8, sort_col="id")
    S.set_bloom_columns(spark, path, ["fp"])
    patch = (
        spark.range(100, 111)
        .withColumn("fp", F.md5(F.col("id").cast("string")))
        .withColumn("grp", F.col("id") % 7)
        .withColumn("tag", F.concat(F.lit("t-"), F.col("id")))
    )
    S.merge_into(spark, path, patch, keys=["id"], evolve_schema=True)
    man = S._load_manifest(path)
    assert man["mixed_schema"] and man["bloom"] and man.get("files_ext")

    # keyed takedown by fingerprint on the evolved table
    targets = [_md5(str(i)) for i in (105, 4000, 7777)]
    B._SIDE_CACHE.clear()
    assert S.delete_keys(spark, path, targets, "fp") == 3
    tbl = S.read_table(spark, path)
    assert tbl.count() == 8000 - 3
    assert tbl.where("id IN (105, 4000, 7777)").count() == 0
    assert "tag" in tbl.columns
    assert tbl.where("tag IS NOT NULL").count() == 10  # 11 - 1 deleted
    # bulk regime on the same table
    monkeypatch.setattr(S, "_DELETE_KEYS_LITERAL_CAP", 5)
    assert S.delete_keys(spark, path, list(range(200, 221)), "id") == 21
    assert S.read_table(spark, path).count() == 8000 - 3 - 21
    fsck = S.verify_table(path, deep=True)
    assert fsck["ok"], fsck["errors"]


# ---------------------------------------------------------------------------
# round 12: bulk key-batch probing, shard-grain aggregates, backfill
# adequacy — the three verdict/advice items on the r11 index
# ---------------------------------------------------------------------------


def test_bulk_delete_keys_probes_bloom(spark, tmp_path):
    """The >1000-key regime gets the SAME index the literal regime
    does (r11 verdict missing #2): the distinct keys ride a side
    channel into the sidecar probe, so a bulk takedown against an
    unsorted fingerprint column identifies at most what the literal
    IN would — not the full band scan."""
    from retail_sales_data_pipeline_spark.data_skipping import (
        prune_entries,
    )

    path = _fp_table(spark, tmp_path, n=20_000, files=16, name="bulkp")
    # fpp sized to the batch: probing V keys admits a non-matching
    # file with probability 1-(1-fpp)^V, so a table built for bulk
    # takedowns needs fpp << 1/V — 1e-5 here for ~2.5k-key batches
    # (~26 bits/row instead of ~10; the sizing rule is documented in
    # delete_keys and SCALE.md)
    S.set_bloom_columns(spark, path, ["fp"], fpp=1e-5)
    man = S._load_manifest(path)
    entries = S._version_files(man, path)

    # keys = every fingerprint in TWO of the sixteen files (>1000 keys
    # -> bulk regime; the md5 band spans the whole hash space)
    df = S.read_table(spark, path).select(
        "fp", F.input_file_name().alias("f")
    )
    two = [r.f for r in df.select("f").distinct().limit(2).collect()]
    keys = [r.fp for r in df.where(F.col("f").isin(two)).collect()]
    assert len(keys) > S._DELETE_KEYS_LITERAL_CAP

    lo, hi = min(keys), max(keys)
    band = f"fp BETWEEN '{lo}' AND '{hi}'"
    B._SIDE_CACHE.clear()
    # band alone: the hash space admits ~everything
    assert len(prune_entries(entries, band, path, man, spark)) >= 14
    # band + key batch: only the two source files (+fpp slack) survive
    pruned = prune_entries(
        entries, band, path, man, spark, extra_probes=[("fp", keys)]
    )
    assert len(pruned) <= 6  # two source files + fpp slack
    # and never more than the literal-IN pruning on the same key set
    lits = ", ".join(f"'{k}'" for k in keys)
    lit_pruned = prune_entries(
        entries, f"fp IN ({lits})", path, man, spark
    )
    assert len(pruned) <= max(len(lit_pruned), 2)

    # an all-absent bulk batch disproves ~every file (deterministic
    # data + hash, so the fpp slack here is a fixed small number)
    absent = [f"absent-{i}" for i in range(1500)]
    assert len(prune_entries(
        entries, "fp BETWEEN 'absent-' AND 'absent-z'",
        path, man, spark, extra_probes=[("fp", absent)],
    )) <= 2

    # end to end: the bulk delete removes exactly the two files' rows
    assert S.delete_keys(spark, path, keys, "fp") == len(keys)
    assert S.read_table(spark, path).count() == 20_000 - len(keys)
    assert S.delete_keys(spark, path, absent, "fp") == 0
    fsck = S.verify_table(path, deep=True)
    assert fsck["ok"], fsck["errors"]


def test_shard_bloom_aggregate_point_lookup(spark, tmp_path, monkeypatch):
    """Shard records carry an OR-fold of their members' sidecars
    (r11 verdict missing #3): a point lookup on a clustered-but-
    unordered column skips whole SHARDS before any entry shard is
    read — O(touched shards), the `_shard_agg` pattern applied to the
    bloom index."""
    from retail_sales_data_pipeline_spark.data_skipping import (
        shards_loaded,
    )

    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 4)
    monkeypatch.setattr(S, "_SHARD_SIZE", 2)
    path = str(tmp_path / "shagg")
    # bucket = md5(id // 1000), clustered by the id sort — PLUS two
    # sentinel values in every file pinning each [min, max] span to
    # the whole hash space, so range stats provably cannot prune and
    # any shard skip below is the bloom aggregate's doing
    df = (
        spark.range(8000)
        .withColumn(
            "bucket",
            F.when(F.col("id") % 1000 == 0, F.lit("0" * 32))
            .when(F.col("id") % 1000 == 1, F.lit("f" * 32))
            .otherwise(
                F.md5((F.col("id") / 1000).cast("long").cast("string"))
            ),
        )
        .withColumn("grp", F.col("id") % 7)
    )
    S.write_parquet(df.repartition(8), path)
    S.convert_to_manifest(spark, path)
    S.compact_parquet(spark, path, target_files=8, sort_col="id")
    S.set_bloom_columns(spark, path, ["bucket"])

    man = S._load_manifest(path)
    shards = man["files_ext"]["shards"]
    assert any(s.get("bloom") for s in shards), "no aggregate recorded"
    target = _md5("3")  # bucket of ids 3000-3999
    B._SIDE_CACHE.clear()
    loaded, total = shards_loaded(path, f"bucket = '{target}'")
    assert total >= 4 and loaded < total, (loaded, total)
    got = scan_table(spark, path, f"bucket = '{target}'")
    assert got.count() == 998  # 1000 minus the two sentinel rows
    # absent bucket: zero shards loaded, empty result, schema intact
    loaded0, _ = shards_loaded(path, "bucket = 'nope'")
    assert loaded0 == 0
    assert scan_table(spark, path, "bucket = 'nope'").count() == 0
    # selective DML rides the same shard skip
    assert S.delete_where(spark, path, f"bucket = '{target}'") == 998
    assert S.read_table(spark, path).count() == 8000 - 998
    fsck = S.verify_table(path, deep=True)
    assert fsck["ok"], fsck["errors"]


def test_shard_bloom_aggregate_soundness():
    """Admit-on-missing extended to the aggregate: records without
    one (pre-r12, saturated-and-recorded-null, policy-less) admit;
    malformed aggregates admit; only a well-formed aggregate that
    DISPROVES every probed value rejects."""
    from retail_sales_data_pipeline_spark.data_skipping import (
        pruning_atoms,
        shard_admits,
    )

    m, k = B.params(100, 0.01)
    bits = bytearray(m // 8)
    B.add_values(bits, k, ["present"])
    import base64

    agg = {"cols": {"c": {
        "type": "str", "k": k,
        "bits": base64.b64encode(bytes(bits)).decode(),
    }}}
    base = {"rows": 10, "stats": {}, "nulls": {}}
    atoms = pruning_atoms("c = 'absent'")
    admits = shard_admits(atoms)
    assert admits({**base})                      # no aggregate
    assert admits({**base, "bloom": None})       # recorded null
    assert admits({**base, "bloom": {"cols": "garbage"}})  # malformed
    assert not admits({**base, "bloom": agg})    # disproven
    hit = shard_admits(pruning_atoms("c = 'present'"))
    assert hit({**base, "bloom": agg})           # present admits
    # extra_probes (the bulk key batch) probe the aggregate too,
    # but only within the bounded value budget
    assert not shard_admits([], [("c", ["absent"])])(
        {**base, "bloom": agg}
    )
    big = [f"v{i}" for i in range(5000)]
    assert shard_admits([], [("c", big)])({**base, "bloom": agg})


def test_set_bloom_columns_rebuilds_on_policy_change(spark, tmp_path):
    """Advice fix (medium): backfill keyed on sidecar CONTENT. A
    re-applied policy with new columns or a different fpp rebuilds
    pre-existing sidecars; an identical policy still skips them."""
    path = _fp_table(spark, tmp_path, n=4000, files=4, name="repol")
    assert S.set_bloom_columns(spark, path, ["fp"]) == 4
    S.drop_bloom_columns(path)
    # wider column set: every file re-indexes, id lookups now prune
    assert S.set_bloom_columns(spark, path, ["fp", "id"]) == 4
    B._SIDE_CACHE.clear()
    assert files_scanned(path, "id = 777") <= 2
    assert scan_table(spark, path, "id = 777").count() == 1
    # different fpp: rebuild again
    S.drop_bloom_columns(path)
    assert S.set_bloom_columns(spark, path, ["fp", "id"], fpp=0.001) == 4
    # identical policy: adequate sidecars are skipped (0 rebuilt)
    S.drop_bloom_columns(path)
    assert S.set_bloom_columns(spark, path, ["fp", "id"], fpp=0.001) == 0
    B._SIDE_CACHE.clear()
    assert files_scanned(path, "id = 777") <= 2


def test_drop_policy_strips_shard_aggregates(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 4)
    monkeypatch.setattr(S, "_SHARD_SIZE", 2)
    path = str(tmp_path / "dropagg")
    # same sentinel trick as the point-lookup test: range stats span,
    # so pruning before the drop is the aggregate's and must VANISH
    # with the policy
    df = (
        spark.range(4000)
        .withColumn(
            "bucket",
            F.when(F.col("id") % 500 == 0, F.lit("0" * 32))
            .when(F.col("id") % 500 == 1, F.lit("f" * 32))
            .otherwise(
                F.md5((F.col("id") / 500).cast("long").cast("string"))
            ),
        )
    )
    S.write_parquet(df.repartition(8), path)
    S.convert_to_manifest(spark, path)
    S.compact_parquet(spark, path, target_files=8, sort_col="id")
    S.set_bloom_columns(spark, path, ["bucket"])
    man = S._load_manifest(path)
    assert any(s.get("bloom") for s in man["files_ext"]["shards"])
    from retail_sales_data_pipeline_spark.data_skipping import (
        shards_loaded,
    )

    probe = f"bucket = '{_md5('3')}'"
    loaded, total = shards_loaded(path, probe)
    assert loaded < total  # the aggregate prunes while the policy holds
    S.drop_bloom_columns(path)
    man = S._load_manifest(path)
    assert all("bloom" not in s for s in man["files_ext"]["shards"])
    # consultation stopped: the lookup loads every shard again
    loaded, total = shards_loaded(path, probe)
    assert loaded == total


def test_prefetch_sidecars_fills_cache(spark, tmp_path):
    path = _fp_table(spark, tmp_path, n=2000, files=4, name="pref")
    S.set_bloom_columns(spark, path, ["fp"])
    man = S._load_manifest(path)
    names = [e["name"] for e in S._version_files(man, path)]
    B._SIDE_CACHE.clear()
    B.prefetch_sidecars(S._io(path), path, names)
    for n in names:
        assert B.sidecar_path(path, n) in B._SIDE_CACHE
    # the probe after a prefetch answers identically to cold loads
    io = S._io(path)
    probes = [("fp", [_md5("55")])]
    warm = {n for n in names if B.entry_admits(io, path, {"name": n}, probes)}
    B._SIDE_CACHE.clear()
    cold = {n for n in names if B.entry_admits(io, path, {"name": n}, probes)}
    assert warm == cold


def test_dv_takedown_bloom_probe(spark, tmp_path):
    """The files_scanned-style pin for the STRENGTHENED
    dv_takedown_counts driver query (round 12): on its exact table
    shape — doc_id-sorted compaction, bloom policy on doc_id + lang,
    DV takedowns through delete_keys — the identification provably
    engages the bloom index. Sparse doc_ids make within-range absent
    keys possible, so a zero-file identification here is the BLOOM's
    verdict, not the [min, max] span's."""
    path = str(tmp_path / "dvshape")
    docs = spark.range(2000).select(
        (F.col("id") * 7 + 1).alias("doc_id"),
        F.element_at(
            F.array(*[F.lit(x) for x in ("en", "de", "fr", "es")]),
            (F.col("id") % 4 + 1).cast("int"),
        ).alias("lang"),
        F.concat(F.lit("src-"), (F.col("id") % 5)).alias("source"),
        (F.col("id") % 997).alias("n_chars"),
    )
    docs.write.parquet(path)
    S.compact_parquet(spark, path, target_files=4, sort_col="doc_id")
    S.set_bloom_columns(spark, path, ["doc_id", "lang"])

    B._SIDE_CACHE.clear()
    # absent lang: the index proves no file can match -> zero files,
    # and the takedown itself is a zero-Spark-job no-op
    assert files_scanned(path, "lang IN ('zz')") == 0
    assert S.delete_keys(
        spark, path, ["zz"], "lang", deletion_vectors=True
    ) == 0
    # absent-but-in-range doc_ids (not ===1 mod 7): ranges admit, the
    # bloom rejects
    assert files_scanned(path, "doc_id IN (9, 16, 4000)") == 0
    assert S.delete_keys(spark, path, [9, 16, 4000], "doc_id") == 0
    # present keys identify a bounded file set and delete for real
    assert files_scanned(path, "doc_id IN (8, 7001)") <= 2
    assert S.delete_keys(
        spark, path, [8, 7001], "doc_id", deletion_vectors=True
    ) == 2
    # the keys-FRAME shape the driver query uses (doc_id % 3 = 1)
    keys = docs.where("doc_id % 3 = 1").select("doc_id")
    n_keys = keys.count()
    assert S.delete_keys(
        spark, path, keys, "doc_id", deletion_vectors=True
    ) == n_keys  # disjoint from the point deletes (8, 7001 === 2 mod 3)
    left = S.read_table(spark, path)
    assert left.where("doc_id % 3 = 1").count() == 0

    # round 13: the keyed UPDATE probes the index exactly like
    # delete_keys — absent-but-in-range keys are a zero-file, zero-row
    # no-op (the bloom's verdict: files_scanned proves the same
    # identification scan sees zero candidates), present keys relabel
    # for real with pre-update-row assignment semantics
    assert files_scanned(path, "doc_id IN (23, 30, 3999)") == 0
    assert S.update_keys(
        spark, path, [23, 30, 3999], "doc_id",
        {"source": "concat('q:', source)"},
    ) == 0
    assert files_scanned(path, "doc_id IN (15, 7008)") <= 2
    before = {
        r.doc_id: (r.source, r.n_chars)
        for r in left.where("doc_id IN (15, 7008)").collect()
    }
    assert S.update_keys(
        spark, path, [15, 7008], "doc_id",
        {"source": "concat('q:', source)", "n_chars": "-n_chars"},
        deletion_vectors=True,
    ) == len(before)
    after = {
        r.doc_id: (r.source, r.n_chars)
        for r in S.read_table(spark, path)
        .where("doc_id IN (15, 7008)").collect()
    }
    assert after == {
        k: ("q:" + src, -n) for k, (src, n) in before.items()
    }
    fsck = S.verify_table(path, deep=True)
    assert fsck["ok"], fsck["errors"]


def test_deep_fsck_validates_shard_aggregates(spark, tmp_path, monkeypatch):
    """Round-12 FSCK leg: a shard bloom aggregate that lost member
    bits (corruption, a bad rewrite) could unsoundly skip a whole
    shard of matching rows — verify_table(deep=True) re-folds the
    member sidecars and reports it; the healthy table sweeps clean."""
    import base64
    import json as _json

    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 4)
    monkeypatch.setattr(S, "_SHARD_SIZE", 2)
    path = str(tmp_path / "fsckagg")
    df = (
        spark.range(4000)
        .withColumn(
            "bucket",
            F.md5((F.col("id") / 500).cast("long").cast("string")),
        )
    )
    S.write_parquet(df.repartition(8), path)
    S.convert_to_manifest(spark, path)
    S.compact_parquet(spark, path, target_files=8, sort_col="id")
    S.set_bloom_columns(spark, path, ["bucket"])
    fsck = S.verify_table(path, deep=True)
    assert fsck["ok"], fsck["errors"]

    # corrupt: zero out one shard's aggregate bits (claims "no values
    # anywhere" — the unsound-reject direction)
    man = S._load_manifest(path)
    shards = man["files_ext"]["shards"]
    victim = next(s for s in shards if s.get("bloom"))
    rec = victim["bloom"]["cols"]["bucket"]
    n = len(base64.b64decode(rec["bits"]))
    rec["bits"] = base64.b64encode(bytes(n)).decode()
    man["gen_no"] += 1
    S._commit_manifest(path, man, expect_gen=man["gen_no"] - 1)

    fsck = S.verify_table(path, deep=True)
    assert not fsck["ok"]
    assert any("miss member bits" in e for e in fsck["errors"]), fsck
    # shallow sweep (no sidecar reads) still passes — the check is a
    # deep leg by design
    assert S.verify_table(path)["ok"]


def test_merge_into_probes_bloom_for_keyed_upserts(spark, tmp_path):
    """Round 12: a broadcast keyed MERGE on a bloom-policied table
    probes the sidecars with its exact key set — a fingerprint-keyed
    upsert identifies only the files that can hold a patch key
    instead of scanning the whole unsorted table."""
    path = _fp_table(spark, tmp_path, n=8000, files=8, name="mergeb")
    S.set_bloom_columns(spark, path, ["fp"])

    # patch keyed on fp: 3 replacements + 2 inserts
    patch = spark.createDataFrame(
        [(_md5(str(i)), 10_000 + i, i % 7) for i in (11, 222, 3333)]
        + [("new-fp-1", 90_001, 0), ("new-fp-2", 90_002, 1)],
        "fp string, id long, grp long",
    ).select("id", "fp", "grp")

    reads: list[int] = []
    real_read = S._read_files

    def spy(spark_, man_, paths, *a, **kw):
        reads.append(len(paths))
        return real_read(spark_, man_, paths, *a, **kw)

    B._SIDE_CACHE.clear()
    S._read_files = spy
    try:
        out = S.merge_into(
            spark, path, patch, keys=["fp"], broadcast_updates=True
        )
    finally:
        S._read_files = real_read
    assert out == {"updated": 3, "inserted": 2, "matched_rows": 3}
    # the identification scan read at most the 3 key-holding files
    # (+fpp slack), not all 8
    assert reads and reads[0] <= 4, reads
    tbl = S.read_table(spark, path)
    assert tbl.count() == 8000 + 2
    assert tbl.where("id = 10011").count() == 1
    assert tbl.where("fp = 'new-fp-1'").count() == 1

    # an all-new patch (no key present): the probe empties the scan —
    # a pure insert with ZERO table files read for identification
    patch2 = spark.createDataFrame(
        [("brand-1", 91_001, 2), ("brand-2", 91_002, 3)],
        "fp string, id long, grp long",
    ).select("id", "fp", "grp")
    reads.clear()
    B._SIDE_CACHE.clear()
    S._read_files = spy
    try:
        out2 = S.merge_into(
            spark, path, patch2, keys=["fp"], broadcast_updates=True
        )
    finally:
        S._read_files = real_read
    assert out2["updated"] == 0 and out2["inserted"] == 2
    # identification never read a data file (any recorded reads are
    # from the commit's write path, which reads no candidates here)
    assert not reads or reads[0] == 0, reads
    fsck = S.verify_table(path, deep=True)
    assert fsck["ok"], fsck["errors"]


def test_update_keys_relabel_list(spark, tmp_path, monkeypatch):
    """Round 12: update_keys — the relabel-list twin of delete_keys,
    one shared regime machinery. Literal and bulk regimes both apply
    update_where semantics; an absent key matches nothing (never
    inserts); the bloom index prunes identification the same way."""
    path = _fp_table(spark, tmp_path, n=4000, files=4, name="uk")
    S.set_bloom_columns(spark, path, ["fp", "id"])

    # literal regime, string keys on the indexed fp column
    targets = [_md5(str(i)) for i in (5, 55, 555)]
    B._SIDE_CACHE.clear()
    n = S.update_keys(spark, path, targets, "fp", {"grp": "-1"})
    assert n == 3
    tbl = S.read_table(spark, path)
    assert tbl.where("grp = -1").count() == 3
    assert [r.id for r in tbl.where("grp = -1").collect()] and \
        sorted(r.id for r in tbl.where("grp = -1").collect()) == [5, 55, 555]

    # absent keys: zero rows, zero commits, never an insert
    assert S.update_keys(spark, path, ["absent"], "fp", {"grp": "-2"}) == 0
    assert S.read_table(spark, path).count() == 4000

    # bulk regime (past the cap) with DV, assignments referencing the
    # pre-update row
    monkeypatch.setattr(S, "_DELETE_KEYS_LITERAL_CAP", 10)
    n = S.update_keys(
        spark, path, list(range(100, 151)), "id",
        {"grp": "grp + 100"}, deletion_vectors=True,
    )
    assert n == 51
    got = S.read_table(spark, path).where("id BETWEEN 100 AND 150")
    assert got.count() == 51
    assert all(r.grp >= 100 for r in got.collect())

    # validation comes from the shared machinery
    with pytest.raises(ValueError, match="update_keys"):
        S.update_keys(spark, path, [1.5], "id", {"grp": "0"})
    with pytest.raises(ValueError, match="unknown columns"):
        S.update_keys(spark, path, [1], "id", {"nope": "0"})
    fsck = S.verify_table(path, deep=True)
    assert fsck["ok"], fsck["errors"]


def test_aggregate_skips_truncated_member_filters():
    """Review finding (r12): a member sidecar record with EMPTY bits
    (truncated write) folds to zero contribution — building the
    aggregate over it would claim the member provably holds nothing
    and unsoundly skip the shard. The column must be skipped; the
    file-grain probe on the same corrupt record must admit."""
    m, k = B.params(1000, 0.01)
    bits = bytearray(m // 8)
    B.add_values(bits, k, ["present"])
    good = {"cols": {"c": {"type": "str", "k": k, "bits": bytes(bits)}}}
    trunc = {"cols": {"c": {"type": "str", "k": k, "bits": b""}}}
    assert B.aggregate_payloads([good, trunc], ["c"]) is None
    tiny = {"cols": {"c": {"type": "str", "k": k, "bits": b"\x00" * 4}}}
    assert B.aggregate_payloads([good, tiny], ["c"]) is None
    zerok = {"cols": {"c": {"type": "str", "k": 0, "bits": bytes(bits)}}}
    assert B.aggregate_payloads([good, zerok], ["c"]) is None
    # file grain: the corrupt record ADMITS (never a reject source)
    assert not B.payload_rejects(trunc, [("c", ["anything"])])


def test_deep_fsck_ignores_stale_history_aggregates(
    spark, tmp_path, monkeypatch
):
    """Review finding (r12): after a re-policy rebuilds still-live
    members' sidecars at a different fpp, a HISTORY-only shard record
    keeps its old aggregate — legitimately stale, never consulted by
    live pruning. Deep FSCK must not flag the healthy table."""
    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 4)
    monkeypatch.setattr(S, "_SHARD_SIZE", 2)
    path = _fp_table(spark, tmp_path, n=4000, files=4, name="histagg")
    S.compact_parquet(spark, path, target_files=4, sort_col="id")
    S.set_bloom_columns(spark, path, ["fp"])
    # break one shard with a retained version: the re-pooled layout is
    # live, the pre-delete shard records stay referenced from history
    target = _md5("77")
    assert S.delete_where(
        spark, path, f"fp = '{target}'", retain_versions=1
    ) == 1
    man = S._load_manifest(path)
    assert man.get("history"), "needs a retained version"
    # re-policy at a different fpp rebuilds the LIVE members' sidecars
    S.drop_bloom_columns(path)
    S.set_bloom_columns(spark, path, ["fp"], fpp=1e-4)
    B._SIDE_CACHE.clear()
    fsck = S.verify_table(path, deep=True)
    assert fsck["ok"], fsck["errors"]
    # and the live index still prunes correctly after the rebuild
    t2 = _md5("123")
    assert scan_table(spark, path, f"fp = '{t2}'").count() == 1


def test_batch_probe_equivalent_to_loop():
    """Round 12: the numpy bulk-probe kernel must agree with the
    bit-exact Python loop on every verdict — same positions, same
    admits — across filter sizes, fpps, hit/miss mixes; non-pow2
    (r11-era) filters fall back to the loop (uint64 wrap would
    diverge there)."""
    import random

    rng = random.Random(20260816)
    for trial in range(12):
        n = rng.randrange(50, 2500)
        m, k = B.params(n, rng.choice([0.01, 1e-4, 1e-6]))
        bits = bytearray(m // 8)
        present = [f"v{trial}-{i}" for i in range(n)]
        B.add_values(bits, k, present)
        vals = rng.sample(present, min(80, n)) + [
            f"absent-{trial}-{i}" for i in range(200)
        ]
        rng.shuffle(vals)
        loop_admits = any(
            B.might_contain(bytes(bits), k, v) for v in vals
        )
        batch = B._batch_rejects(bytes(bits), k, vals)
        assert batch is not None
        assert (not batch) == loop_admits, trial
        rec = {"cols": {"c": {
            "type": "str", "k": k, "bits": bytes(bits)}}}
        assert B.payload_rejects(rec, [("c", vals)]) == (
            not loop_admits
        )
        # the REJECT verdict — the production no-match-takedown path,
        # and the only direction where a kernel bug loses data: an
        # all-absent batch must reject in BOTH kernels (review
        # finding: the mixed batches above always admit, so they
        # never reached this branch)
        allabs = [f"never-{trial}-{i}" for i in range(300)]
        loop_rej = not any(
            B.might_contain(bytes(bits), k, v) for v in allabs
        )
        batch_rej = B._batch_rejects(bytes(bits), k, allabs)
        assert batch_rej is not None and batch_rej == loop_rej, trial
        # int values ride the same canonical form, both verdicts
        ints = [rng.randrange(0, 10**9) for _ in range(100)]
        ib = bytearray(m // 8)
        B.add_values(ib, k, [str(i) for i in ints[:50]])
        lo = any(B.might_contain(bytes(ib), k, v) for v in ints)
        ba = B._batch_rejects(bytes(ib), k, ints)
        assert ba is not None and (not ba) == lo
        lo_abs = not any(
            B.might_contain(bytes(ib), k, v + 10**12) for v in ints
        )
        ba_abs = B._batch_rejects(
            bytes(ib), k, [v + 10**12 for v in ints]
        )
        assert ba_abs is not None and ba_abs == lo_abs
    # non-pow2 filter: fall back (r11 sidecars)
    assert B._batch_rejects(bytes(24), 3, ["x"] * 100) is None
    # the early exit inside the k-loop (every value dead after the
    # first rounds) agrees with the loop on an EMPTY filter too
    m, k = B.params(500, 0.01)
    assert B._batch_rejects(bytes(m // 8), k, ["a", "b", "c"]) is True


# ---------------------------------------------------------------------------
# round 13: consolidated per-shard sidecar objects — O(shards) GETs for
# full file-grain verdicts past PROBE_CAP (r12 verdict missing #2)
# ---------------------------------------------------------------------------


def _consolidated_table(spark, tmp_path, monkeypatch, name="consd"):
    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 4)
    monkeypatch.setattr(S, "_SHARD_SIZE", 2)
    path = _fp_table(spark, tmp_path, n=8000, files=8, name=name)
    S.compact_parquet(spark, path, target_files=8, sort_col="id")
    S.set_bloom_columns(spark, path, ["fp"])
    return path


def test_consolidated_objects_written_and_covering(
    spark, tmp_path, monkeypatch
):
    """set_bloom_columns writes one consolidated object per shard,
    referenced from the root record, whose members are exactly the
    shard's membership; deep FSCK sweeps the new objects clean."""
    path = _consolidated_table(spark, tmp_path, monkeypatch)
    man = S._load_manifest(path)
    shards = man["files_ext"]["shards"]
    assert shards and all(s.get("bloomside") for s in shards)
    for s in shards:
        full = os.path.join(path, s["bloomside"])
        assert os.path.exists(full), s["bloomside"]
        with open(full) as f:
            raw = json.load(f)
        members = {e["name"] for e in S._load_shard(path, s["name"])}
        assert set(raw["members"]) == members
    fsck = S.verify_table(path, deep=True)
    assert fsck["ok"], fsck["errors"]


def test_consolidated_driver_probe_past_cap(spark, tmp_path, monkeypatch):
    """Past PROBE_CAP with NO session: the consolidated objects give
    the driver exact file-grain pruning at O(shards) GETs — zero
    per-file sidecar reads, and files_scanned is exact instead of the
    no-probing upper bound."""
    path = _consolidated_table(spark, tmp_path, monkeypatch, name="cap")
    monkeypatch.setattr(B, "PROBE_CAP", 2)  # 8 candidates >> cap
    B._SIDE_CACHE.clear()
    B._CONS_CACHE.clear()
    target = _md5("4321")
    assert files_scanned(path, f"fp = '{target}'") <= 2
    assert not B._SIDE_CACHE, "per-file sidecars were read"
    assert B._CONS_CACHE, "consolidated objects were not consulted"
    # absent key: the index disproves every file driver-side
    assert files_scanned(path, f"fp = '{'0' * 32}'") <= 1
    # end to end through scan_table (same driver path)
    got = scan_table(spark, path, f"fp = '{target}'")
    assert [r.id for r in got.collect()] == [4321]


def test_consolidated_missing_object_falls_back(
    spark, tmp_path, monkeypatch
):
    """Soundness: a referenced-but-deleted consolidated object leaves
    its members UNCOVERED — they fall back to per-file sidecars and
    the answer is unchanged (admit direction preserved)."""
    path = _consolidated_table(spark, tmp_path, monkeypatch, name="miss")
    man = S._load_manifest(path)
    shards = man["files_ext"]["shards"]
    target = _md5("4321")
    truth = files_scanned(path, f"fp = '{target}'")
    os.remove(os.path.join(path, shards[0]["bloomside"]))
    monkeypatch.setattr(B, "PROBE_CAP", 2)
    B._SIDE_CACHE.clear()
    B._CONS_CACHE.clear()
    assert files_scanned(path, f"fp = '{target}'") == truth
    assert B._SIDE_CACHE, "uncovered members should probe per-file"
    got = scan_table(spark, path, f"fp = '{target}'")
    assert [r.id for r in got.collect()] == [4321]


def test_consolidated_distributed_plans_agree(
    spark, tmp_path, monkeypatch
):
    """The distributed probe's consolidated-only plan (full coverage:
    O(shards) exact-path GETs, no listing) returns the same admitted
    set as the per-file listing plan — and survives a deleted object
    by falling back to the listing."""
    path = _consolidated_table(spark, tmp_path, monkeypatch, name="dist")
    man = S._load_manifest(path)
    shards = man["files_ext"]["shards"]
    cons = [s["bloomside"] for s in shards]
    names = [e["name"] for e in S._version_files(man, path)]
    probes = [("fp", [_md5("4321"), _md5("77")])]
    via_cons = B.distributed_admits(
        spark, path, probes, names, consolidated=(cons, True)
    )
    via_files = B.distributed_admits(spark, path, probes, names)
    assert via_cons is not None and via_cons == via_files
    assert 0 < len(via_cons) <= 4
    # delete one object: the consolidated-only plan fails over to the
    # per-file listing and still returns the same (sound) set
    os.remove(os.path.join(path, cons[0]))
    again = B.distributed_admits(
        spark, path, probes, names, consolidated=(cons, True)
    )
    assert again == via_files


def test_deep_fsck_flags_consolidated_bit_loss(
    spark, tmp_path, monkeypatch
):
    """A consolidated copy that LOST bits a member sidecar set could
    unsoundly reject a present value for the whole file —
    verify_table(deep=True) re-checks each copied payload against the
    member's own sidecar and reports the loss."""
    import base64

    path = _consolidated_table(spark, tmp_path, monkeypatch, name="fsck")
    man = S._load_manifest(path)
    rel = man["files_ext"]["shards"][0]["bloomside"]
    full = os.path.join(path, rel)
    with open(full) as f:
        raw = json.load(f)
    mname = next(iter(raw["members"]))
    rec = raw["members"][mname]["cols"]["fp"]
    bits = bytearray(base64.b64decode(rec["bits"]))
    bits[0] = 0
    bits[len(bits) // 2] = 0
    rec["bits"] = base64.b64encode(bytes(bits)).decode()
    with open(full, "w") as f:
        json.dump(raw, f)
    fsck = S.verify_table(path, deep=True)
    assert not fsck["ok"]
    assert any("consolidated" in e and "misses member bits" in e
               for e in fsck["errors"])


def test_digest_cache_bounded_for_long_values(monkeypatch):
    """r12 verdict wrong #1: the digest lru keys hold RAW probe
    values, so a bulk probe over long strings must not enter the
    cache — 100k long keys would pin hundreds of MB on the driver.
    Long values still hash identically (same filter verdicts)."""
    B._digest_cached.cache_clear()
    base = B._digest_cached.cache_info().currsize
    long_vals = ["x" * 4096 + str(i) for i in range(1000)]
    for v in long_vals:
        assert B._digest(v) == B._digest_raw(v)
    assert B._digest_cached.cache_info().currsize == base
    # short values still cache
    for i in range(100):
        B._digest(f"short-{i}")
    assert B._digest_cached.cache_info().currsize == base + 100
    # and the filter round trip is unchanged for long values
    m, k = B.params(1000, 0.01)
    bits = bytearray(m // 8)
    B.add_values(bits, k, long_vals)
    assert all(B.might_contain(bytes(bits), k, v) for v in long_vals)


def test_consolidated_admits_restricted_to_candidates(
    spark, tmp_path, monkeypatch
):
    """Review pin: verdict work is priced by the caller's candidate
    list — members outside it are never probed or covered, and a
    garbage consolidated object degrades to (None coverage for its
    members | full fallback), never a crash."""
    path = _consolidated_table(spark, tmp_path, monkeypatch, name="restr")
    man = S._load_manifest(path)
    shards = man["files_ext"]["shards"]
    io = S._io(path)
    all_names = [e["name"] for e in S._version_files(man, path)]
    probes = [("fp", [_md5("4321")])]
    B._CONS_CACHE.clear()
    sub = all_names[:3]
    admitted, covered = B.consolidated_admits(
        io, path, shards, probes, sub
    )
    assert covered == set(sub)  # full coverage, but ONLY the asked-for
    assert admitted <= set(sub)
    # corrupt one object: its members drop out of coverage, the rest
    # still get verdicts, nothing raises
    victim = os.path.join(path, shards[0]["bloomside"])
    with open(victim, "w") as f:
        f.write("{not json")
    B._CONS_CACHE.clear()
    admitted2, covered2 = B.consolidated_admits(
        io, path, shards, probes, all_names
    )
    victim_members = {
        e["name"] for e in S._load_shard(path, shards[0]["name"])
    }
    assert covered2 == set(all_names) - victim_members
    # deep FSCK reports the corruption as ONE error and keeps sweeping
    fsck = S.verify_table(path, deep=True)
    assert not fsck["ok"]
    assert any(
        "consolidated" in e and shards[0]["bloomside"] in e
        for e in fsck["errors"]
    ), fsck["errors"]


def test_distributed_admits_escape_carrying_names(spark, tmp_path):
    """r12 advice #2, resolved the sound way. Whether Spark reports
    binaryFile paths percent-encoded is not stable across schemes and
    versions (measured NOT encoded on this Spark/local fs, contra the
    advice's premise), so name inference from the URI is ambiguous
    exactly when the file name carries escape-able characters — and a
    blanket unquote would mis-key "pc%20t"'s verdict onto a candidate
    literally named "pc t": a FALSE-NEGATIVE hazard. Pins: (1)
    sidecars written since r13 embed their own table-relative name
    ("self") and their verdicts survive any name; (2) a legacy
    sidecar (no self) with an unambiguous name still prunes; (3) a
    legacy sidecar with an escape-ambiguous name admits — pruning
    forfeited, soundness kept; (4) a verdict never transfers across
    the raw/unquoted name pair."""
    root = str(tmp_path / "esc")
    gen = os.path.join(root, "gen-000001")
    os.makedirs(gen)
    m, k = B.params(8, 0.01)
    bits = bytearray(m // 8)
    B.add_values(bits, k, ["present"])

    def write_side(rel, with_self):
        payload = B.encode_sidecar(
            0.01, {"key": ("str", k, bits)},
            self_rel=rel if with_self else None,
        )
        with open(os.path.join(root, rel + B.BLOOM_SUFFIX), "w") as f:
            json.dump(payload, f)

    rel_plain = "gen-000001/part-plain.parquet"        # legacy, clean
    rel_space = "gen-000001/part with space.parquet"   # self-keyed
    rel_pct = "gen-000001/part pc%20t.parquet"         # self-keyed
    rel_legacy_pct = "gen-000001/old pc%41t.parquet"   # legacy + escape
    write_side(rel_plain, with_self=False)
    write_side(rel_space, with_self=True)
    write_side(rel_pct, with_self=True)
    write_side(rel_legacy_pct, with_self=False)
    names = [rel_plain, rel_space, rel_pct, rel_legacy_pct]

    # absent value: every self-keyed or unambiguous file rejects; the
    # escape-ambiguous LEGACY sidecar admits (sound, pruning lost)
    admitted = B.distributed_admits(
        spark, root, [("key", ["absent"])], names
    )
    assert admitted == {rel_legacy_pct}

    # present value: everything admits (soundness unchanged)
    admitted2 = B.distributed_admits(
        spark, root, [("key", ["present"])], names
    )
    assert admitted2 == set(names)

    # cross-keying: "pc%20t"'s unquoted twin "pc t" exists as its own
    # candidate WITHOUT a sidecar — it must admit (no verdict), never
    # inherit the escaped file's reject
    twin = "gen-000001/part pc t.parquet"
    admitted3 = B.distributed_admits(
        spark, root, [("key", ["absent"])], [rel_pct, twin]
    )
    assert twin in admitted3 and rel_pct not in admitted3


def test_deep_fsck_flags_sidecar_self_mismatch(spark, tmp_path):
    """The distributed probe keys a sidecar's verdict by its
    content-embedded "self" name; a sidecar whose self points at a
    DIFFERENT live file (bad copy, writer bug) would re-key its
    rejects onto that file — unsound. Deep FSCK must flag exactly
    that state; a self-less legacy payload stays fine."""
    path = _fp_table(spark, tmp_path, n=2000, files=4, name="selfchk")
    S.set_bloom_columns(spark, path, ["fp"])
    man = S._load_manifest(path)
    entries = S._version_files(man, path)
    assert len(entries) >= 2
    assert S.verify_table(path, deep=True)["ok"]

    # point one sidecar's self at ANOTHER live file
    victim, other = entries[0]["name"], entries[1]["name"]
    sp = B.sidecar_path(path, victim)
    with open(sp) as f:
        raw = json.load(f)
    assert raw.get("self") == victim  # written since r13
    raw["self"] = other
    with open(sp, "w") as f:
        json.dump(raw, f)
    B._SIDE_CACHE.clear()
    fsck = S.verify_table(path, deep=True)
    assert not fsck["ok"]
    assert any(
        victim in e and "self" in e and other in e
        for e in fsck["errors"]
    ), fsck["errors"]

    # a LEGACY sidecar (no self at all) is not an error
    del raw["self"]
    with open(sp, "w") as f:
        json.dump(raw, f)
    B._SIDE_CACHE.clear()
    assert S.verify_table(path, deep=True)["ok"]


def test_distributed_admits_refuses_stray_self(spark, tmp_path):
    """Self-authentication (review finding): a stray sidecar COPY at
    a DIFFERENT name whose embedded self points at a live file must
    never re-key its reject verdict onto that file — self is honored
    only when the sidecar actually sits at root + self + suffix."""
    root = str(tmp_path / "stray")
    gen = os.path.join(root, "gen-000001")
    os.makedirs(gen)
    m, k = B.params(8, 0.01)
    bits = bytearray(m // 8)
    B.add_values(bits, k, ["present"])
    rel_live = "gen-000001/part-live.parquet"
    payload = B.encode_sidecar(
        0.01, {"key": ("str", k, bits)}, self_rel=rel_live
    )

    # the live file has NO sidecar of its own; a stray copy carrying
    # self=rel_live sits at a retired-looking name
    stray = "gen-000001/part-retired.parquet"
    with open(os.path.join(root, stray + B.BLOOM_SUFFIX), "w") as f:
        json.dump(payload, f)
    admitted = B.distributed_admits(
        spark, root, [("key", ["absent"])], [rel_live]
    )
    assert admitted == {rel_live}  # stray refused: the live file admits

    # control: the same payload AT its own name rejects as normal
    with open(os.path.join(root, rel_live + B.BLOOM_SUFFIX), "w") as f:
        json.dump(payload, f)
    admitted2 = B.distributed_admits(
        spark, root, [("key", ["absent"])], [rel_live]
    )
    assert admitted2 == set()


@pytest.mark.parametrize("mode", ["plain", "sharded", "bloomed_sharded", "dv"])
def test_vacuum_ttl0_keeps_live_objects(spark, tmp_path, monkeypatch, mode):
    """A TTL-0 vacuum collects only what no version keeps alive: after a
    retained-history delete, every live object — index shards and their
    consolidated bloom objects included — survives, so deep FSCK stays
    clean and the table reads the same."""
    if mode == "bloomed_sharded":
        path = _consolidated_table(spark, tmp_path, monkeypatch, name=mode)
    else:
        if mode == "sharded":
            monkeypatch.setattr(S, "_SHARD_THRESHOLD", 4)
            monkeypatch.setattr(S, "_SHARD_SIZE", 2)
        path = _fp_table(spark, tmp_path, n=8000, files=8, name=mode)
    assert S.delete_where(
        spark, path, "id < 100", retain_versions=1,
        deletion_vectors=mode == "dv",
    ) == 100
    if mode == "dv":
        assert S._dv_map(S._load_manifest(path))
    S.vacuum_staging(str(tmp_path), ttl_seconds=0)
    fsck = S.verify_table(path, deep=True)
    assert fsck["ok"], fsck["errors"]
    assert S.read_table(spark, path).count() == 7900


def test_rollback_retires_dropped_consolidated_objects(
    spark, tmp_path, monkeypatch
):
    """A rollback that trims history retires the dropped versions'
    consolidated bloom objects with their shards: no
    ``.agg.bloom.json`` is left whose shard no version references."""
    path = _consolidated_table(spark, tmp_path, monkeypatch, name="rbk")
    pre = S._load_manifest(path)["gen_no"]
    S.delete_where(spark, path, "id < 50", retain_versions=3)
    S.rollback(spark, path, version=pre, retain_versions=0)
    man = S._load_manifest(path)
    shards = {
        s["name"]
        for v in [man] + man.get("history", [])
        for s in (v.get("files_ext") or {}).get("shards", [])
    }
    orphans = [
        os.path.relpath(os.path.join(d, f), path)
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(B.CONSOLIDATED_SUFFIX)
        and os.path.relpath(os.path.join(d, f), path)[
            : -len(B.CONSOLIDATED_SUFFIX)
        ] not in shards
    ]
    assert not orphans
    assert S.read_table(spark, path).count() == 8000
    fsck = S.verify_table(path, deep=True)
    assert fsck["ok"], fsck["errors"]
