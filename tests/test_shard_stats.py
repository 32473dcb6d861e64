"""Round-10 shard-level statistics: the root manifest's shard records
carry aggregate [min, max] / null-count / row-count facts so a
selective scan loads only the index shards whose aggregate range
admits the predicate — the Iceberg manifest-list min/max model on top
of the round-9 sharded entry index. Extends the reference's full-scan
read (src/main/read/database_read.py and the conform-union scan in
src/main/transformations/jobs/main.py) the same way the per-file
skipping in test_data_skipping.py does, one level up the metadata
tree."""

from __future__ import annotations

import os

import pytest

import retail_sales_data_pipeline_spark.sinks as S
from retail_sales_data_pipeline_spark.data_skipping import (
    files_scanned,
    scan_table,
    shards_loaded,
)


def _sharded_table(spark, tmp_path, monkeypatch, name="t"):
    """An 8-file, 4-shard manifest table sorted by id, so shards cover
    disjoint id ranges and a point predicate provably touches one."""
    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 6)
    monkeypatch.setattr(S, "_SHARD_SIZE", 2)
    path = str(tmp_path / name)
    spark.range(8000).selectExpr(
        "id", "id % 10 as grp", "nullif(id % 4, 0) as opt"
    ).write.mode("overwrite").parquet(path)
    S.convert_to_manifest(spark, path)
    # one compaction pass lays the files out id-sorted -> disjoint
    # per-file (and per-shard) id ranges
    S.compact_parquet(spark, path, target_files=8, sort_col="id")
    return path


def test_shard_records_carry_aggregate_stats(spark, tmp_path, monkeypatch):
    path = _sharded_table(spark, tmp_path, monkeypatch)
    man = S._load_manifest(path)
    shards = man["files_ext"]["shards"]
    assert len(shards) == 4
    for s in shards:
        assert s["top"] == 0  # compaction moved everything to gen dirs
        assert s["rows"] == sum(
            e["rows"] for e in S._load_shard(path, s["name"])
        )
        assert "id" in s["stats"] and "grp" in s["stats"]
        lo, hi = s["stats"]["id"]
        assert 0 <= lo <= hi < 8000
        assert s["nulls"]["id"] == 0
        # opt is NULL on id%4==0 rows: positive shard-level null count
        assert s["nulls"]["opt"] > 0
    # shard ranges are disjoint (sorted layout) and cover the domain
    spans = sorted(s["stats"]["id"] for s in shards)
    assert spans[0][0] == 0 and spans[-1][1] == 7999
    for (a, b), (c, d) in zip(spans, spans[1:]):
        assert b < c


def test_selective_scan_loads_touched_shards_only(
    spark, tmp_path, monkeypatch
):
    path = _sharded_table(spark, tmp_path, monkeypatch)
    loaded, total = shards_loaded(path, "id BETWEEN 100 AND 120")
    assert total == 4 and loaded == 1

    # pin the actual shard I/O, not just the plan: cold cache, count
    # _load_shard calls during the scan resolve
    calls: list[str] = []
    real = S._load_shard

    def counting(table_path, rel):
        calls.append(rel)
        return real(table_path, rel)

    monkeypatch.setattr(S, "_load_shard", counting)
    S._SHARD_CACHE.clear()
    df = scan_table(spark, path, "id BETWEEN 100 AND 120")
    assert len(set(calls)) == 1, calls
    assert df.count() == 21
    assert sorted(r.id for r in df.collect()) == list(range(100, 121))

    # unpruned equivalence: the shard skip never changes results
    monkeypatch.setattr(S, "_load_shard", real)
    full = S.read_table(spark, path).where("id BETWEEN 100 AND 120")
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_all_shards_pruned_keeps_schema(spark, tmp_path, monkeypatch):
    path = _sharded_table(spark, tmp_path, monkeypatch)
    loaded, total = shards_loaded(path, "id = 123456")
    assert (loaded, total) == (0, 4)
    df = scan_table(spark, path, "id = 123456")
    assert df.columns == ["id", "grp", "opt"]
    assert df.count() == 0
    assert files_scanned(path, "id = 123456") == 0


def test_unparseable_predicate_loads_everything(
    spark, tmp_path, monkeypatch
):
    path = _sharded_table(spark, tmp_path, monkeypatch)
    loaded, total = shards_loaded(path, "id + grp = 12")  # not an atom
    assert loaded == total == 4
    want = (
        S.read_table(spark, path).where("id + grp = 12").count()
    )
    assert want > 0
    assert scan_table(spark, path, "id + grp = 12").count() == want


def test_pruned_shard_with_top_level_names_still_loads(
    spark, tmp_path, monkeypatch
):
    """A rejected shard that references TOP-LEVEL files (convert-
    adopted layout) must still load for the loose-append classifier —
    otherwise its files would be double-scanned as loose appends."""
    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 6)
    monkeypatch.setattr(S, "_SHARD_SIZE", 2)
    path = str(tmp_path / "adopted")
    spark.range(8000).selectExpr("id", "id % 10 as grp").repartition(
        8
    ).write.mode("overwrite").parquet(path)
    S.convert_to_manifest(spark, path)  # adopts top-level files
    man = S._load_manifest(path)
    shards = man["files_ext"]["shards"]
    assert all(s["top"] == s["count"] for s in shards)
    # every shard has top>0, so shard skipping cannot skip I/O here...
    loaded, total = shards_loaded(path, "id = 1")
    assert loaded == total
    # ...but correctness holds: no adopted file is misread as loose
    df = scan_table(spark, path, "id = 1")
    assert df.count() == 1


def test_pre_r10_records_backfill_on_carry(spark, tmp_path, monkeypatch):
    """Shard records written before round 10 (no aggregate fields)
    admit everything — conservative — and gain the aggregate when the
    next commit carries them."""
    path = _sharded_table(spark, tmp_path, monkeypatch)
    man = S._load_manifest(path)
    # simulate the r9 on-disk format: strip the aggregates in place
    for s in man["files_ext"]["shards"]:
        for k in ("rows", "stats", "nulls", "top"):
            s.pop(k, None)
    S._io(path).write_json(os.path.join(path, S._MANIFEST), man)
    loaded, total = shards_loaded(path, "id BETWEEN 100 AND 120")
    assert loaded == total == 4  # old records: no skipping, no error
    assert scan_table(spark, path, "id BETWEEN 100 AND 120").count() == 21

    # an append re-pools the tail but CARRIES full-size shards — the
    # carried records must come back with the aggregate backfilled
    batch = spark.range(90000, 90010).selectExpr(
        "id", "id % 10 as grp", "nullif(id % 4, 0) as opt"
    )
    S.insert_into(spark, path, batch)
    man2 = S._load_manifest(path)
    carried = [
        s for s in man2["files_ext"]["shards"]
        if {e["name"] for e in S._load_shard(path, s["name"])}
        <= {e["name"] for e in S._version_files(man, path)}
    ]
    assert carried, "append should carry at least one unchanged shard"
    assert all("top" in s and "stats" in s for s in carried)
    loaded, total = shards_loaded(path, "id BETWEEN 100 AND 120")
    assert loaded < total


def test_first_commit_past_threshold_shards(spark, tmp_path, monkeypatch):
    """ADVICE r9: a FIRST-EVER manifest commit with >= threshold files
    externalizes immediately — no multi-MB inline root waiting for the
    next commit to re-shard it. compact_parquet on a plain directory
    is exactly that path (man is None at commit time)."""
    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 6)
    monkeypatch.setattr(S, "_SHARD_SIZE", 2)
    path = str(tmp_path / "first")
    spark.range(4000).selectExpr("id", "id % 10 as grp").coalesce(
        2
    ).write.mode("overwrite").parquet(path)
    # no convert_to_manifest: the compaction commit IS the first one
    S.compact_parquet(spark, path, target_files=8, sort_col="id")
    man = S._load_manifest(path)
    assert man.get("files_ext") and "files" not in man
    assert sum(s["count"] for s in man["files_ext"]["shards"]) == 8
    assert all("top" in s for s in man["files_ext"]["shards"])
    assert S.read_table(spark, path).count() == 4000
    loaded, total = shards_loaded(path, "id BETWEEN 10 AND 20")
    assert loaded < total


def test_mixed_schema_table_scans_unpruned_and_correct(
    spark, tmp_path, monkeypatch
):
    """The mixed-schema carve-out: stats pruning could drop every file
    that physically carries an evolved column, and the merged read of
    the survivors would lose the column — so scans of mixed tables
    prune nothing (shard or entry level) and stay correct."""
    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 10_000)
    path = str(tmp_path / "mixed")
    spark.range(100).selectExpr(
        "id", "cast(id as double) v"
    ).repartition(4).write.mode("overwrite").parquet(path)
    S.convert_to_manifest(spark, path)
    patch = spark.createDataFrame(
        [(5, 5.0, "new")], "id long, v double, tag string"
    )
    S.merge_into(spark, path, patch, keys=["id"], evolve_schema=True)
    # a predicate on the EVOLVED column would prune every pre-evolution
    # file if pruning ran (they record no 'tag' facts -> admit; but the
    # evolved file is the only one [min,max] could disprove) — assert
    # the scan is schema-stable and right either way
    df = scan_table(spark, path, "tag = 'absent'")
    assert df.columns == ["id", "v", "tag"]
    assert df.count() == 0
    assert scan_table(spark, path, "tag = 'new'").count() == 1
    assert files_scanned(path, "v < 10") == files_scanned(path)


def test_schema_epoch_unique_per_incarnation(spark, tmp_path):
    """ADVICE r9: the unified-schema cache key must not collide when a
    table is dropped and recreated at the same path (gen numbers
    restart at 1, so a bare gen_no key would resurrect the OLD
    incarnation's unified schema and mis-gate inserts)."""
    import shutil

    path = str(tmp_path / "reborn")
    spark.range(10).selectExpr(
        "id", "cast(id as double) v"
    ).write.parquet(path)
    S.convert_to_manifest(spark, path)
    patch = spark.createDataFrame(
        [(1, 1.0, "x")], "id long, v double, tag string"
    )
    S.merge_into(spark, path, patch, keys=["id"], evolve_schema=True)
    man1 = S._load_manifest(path)
    epoch1 = man1["schema_epoch"]
    # round 11: the evolving commit records the unified schema in the
    # root, so the insert gate reads it there — zero footer I/O, and
    # the per-process cache (now the pre-r11 fallback) stays cold
    assert {f.name for f in S._recorded_schema(man1).fields} == {
        "id", "v", "tag"
    }
    S.insert_into(
        spark,
        path,
        spark.createDataFrame([(90, 9.0, "y")],
                              "id long, v double, tag string"),
    )
    assert (path, epoch1) not in S._MIXED_SCHEMA_CACHE

    # drop + recreate at the same path with a DIFFERENT evolved shape
    shutil.rmtree(path)
    spark.range(10).selectExpr(
        "id", "cast(id as string) label"
    ).write.parquet(path)
    S.convert_to_manifest(spark, path)
    patch2 = spark.createDataFrame(
        [(1, "a", 7)], "id long, label string, score long"
    )
    S.merge_into(spark, path, patch2, keys=["id"], evolve_schema=True)
    epoch2 = S._load_manifest(path)["schema_epoch"]
    assert epoch2 != epoch1  # uuid-salted generation name: unique
    # the gate validates against the NEW unified schema, not a stale
    # cache hit from the first incarnation
    ok = spark.createDataFrame(
        [(91, "b", 8)], "id long, label string, score long"
    )
    assert S.insert_into(spark, path, ok) == 1
    bad = spark.createDataFrame(
        [(92, 2.0, "t")], "id long, v double, tag string"
    )
    with pytest.raises(ValueError, match="insert schema mismatch"):
        S.insert_into(spark, path, bad)


# ---------------------------------------------------------------------------
# property: shard-level pruning is SOUND by construction — if the
# aggregate record disproves an atom, every member entry disproves it
# too (skipping the shard can never skip a file the entry-level pass
# would have scanned). Hypothesis drives random entry populations and
# atoms through the real _shard_agg/_entry_admits pair.
# ---------------------------------------------------------------------------
from hypothesis import given, settings
from hypothesis import strategies as st


def _entry_strategy():
    span = st.tuples(
        st.integers(-50, 50), st.integers(0, 60)
    ).map(lambda t: [t[0], t[0] + t[1]])

    def build(rows, has_span, span, nulls_known, nulls, top, colshape):
        # colshape (round 11, mixed-schema): None = pre-r11 entry (no
        # physical column list); "with" = file carries x; "without" =
        # file physically LACKS x — then the footer facts must be
        # consistent with an absent column: no span, and the only
        # null-count a real footer could report is rows (all-NULL)
        absent = colshape == "without"
        e = {
            "name": ("f.parquet" if top else "gen-1/f.parquet"),
            "rows": rows,
            "stats": ({} if absent else ({"x": span} if has_span else {})),
            "nulls": (
                ({"x": rows} if nulls_known and rows is not None else {})
                if absent
                else (
                    {"x": min(nulls, rows if rows is not None else nulls)}
                    if nulls_known
                    else {}
                )
            ),
        }
        if colshape is not None:
            e["cols"] = ["y"] if absent else ["x", "y"]
        return e

    return st.builds(
        build,
        rows=st.one_of(st.none(), st.integers(0, 100)),
        has_span=st.booleans(),
        span=span,
        nulls_known=st.booleans(),
        nulls=st.integers(0, 100),
        top=st.booleans(),
        colshape=st.sampled_from([None, "with", "without"]),
    )


_ATOMS = st.one_of(
    st.tuples(st.just("cmp"), st.just("x"),
              st.sampled_from(["=", "<", "<=", ">", ">="]),
              st.integers(-60, 60)),
    st.tuples(st.just("in"), st.just("x"),
              st.lists(st.integers(-60, 60), min_size=1, max_size=4)
              .map(tuple)),
    st.tuples(st.just("between"), st.just("x"),
              st.integers(-60, 60), st.integers(-60, 60)),
    st.tuples(st.just("isnull"), st.just("x")),
    st.tuples(st.just("notnull"), st.just("x")),
)


@settings(max_examples=300, deadline=None)
@given(chunk=st.lists(_entry_strategy(), min_size=1, max_size=8),
       atom=_ATOMS)
def test_shard_agg_pruning_is_sound(chunk, atom):
    from retail_sales_data_pipeline_spark.data_skipping import (
        _entry_admits,
    )

    rec = {"name": "s", "count": len(chunk), **S._shard_agg(chunk)}
    if not _entry_admits(rec, atom):
        # soundness is ROW-level: an EMPTY member (rows == 0) may admit
        # at entry granularity (conservative) while the aggregate's
        # all-NULL inference disproves the atom over the shard's actual
        # rows — skipping a file with no rows can never skip a match
        survivors = [
            e for e in chunk
            if _entry_admits(e, atom) and e.get("rows") != 0
        ]
        assert not survivors, (
            "shard aggregate disproved the atom but a NON-EMPTY member "
            f"entry admits it: atom={atom} rec={rec} "
            f"survivors={survivors}"
        )


# ---------------------------------------------------------------------------
# round-10 second rung: SELECTIVE DML — identification AND commit are
# O(touched shards). Rejected index shards are never loaded; their root
# records ride through the commit verbatim (sinks._live_state carry_out
# -> _commit_generation carried_shards -> _externalize_entries
# carried_verbatim).
# ---------------------------------------------------------------------------


def _count_shard_loads(monkeypatch):
    calls: list[str] = []
    real = S._load_shard

    def counting(table_path, rel):
        calls.append(rel)
        return real(table_path, rel)

    monkeypatch.setattr(S, "_load_shard", counting)
    return calls


def test_selective_delete_loads_touched_shards_only(
    spark, tmp_path, monkeypatch
):
    path = _sharded_table(spark, tmp_path, monkeypatch)
    man0 = S._load_manifest(path)
    shard_names0 = {s["name"] for s in man0["files_ext"]["shards"]}
    assert len(shard_names0) == 4

    calls = _count_shard_loads(monkeypatch)
    S._SHARD_CACHE.clear()
    n = S.delete_where(spark, path, "id BETWEEN 100 AND 120")
    assert n == 21
    # identification + commit together touched ONE shard (id-sorted
    # layout: the predicate's range lives in a single shard)
    assert len(set(calls)) == 1, calls

    man1 = S._load_manifest(path)
    shard_names1 = {s["name"] for s in man1["files_ext"]["shards"]}
    # the three untouched shards are carried BY RECORD — same objects
    assert len(shard_names0 & shard_names1) == 3
    # row accounting used the carried records' aggregate, not a load
    assert man1["rows"] == 8000 - 21
    got = S.read_table(spark, path)
    assert got.count() == 8000 - 21
    assert got.where("id BETWEEN 100 AND 120").count() == 0
    # untouched data intact, bit-for-bit row equality on a probe range
    assert got.where("id BETWEEN 4000 AND 4010").count() == 11


def test_dml_shards_loaded_observable(spark, tmp_path, monkeypatch):
    """dml_shards_loaded predicts the selective-DML resolve the way
    shards_loaded predicts the scan: its prediction matches the ACTUAL
    distinct shard loads a delete performs."""
    from retail_sales_data_pipeline_spark.data_skipping import (
        dml_shards_loaded,
    )

    path = _sharded_table(spark, tmp_path, monkeypatch)
    pred = "id BETWEEN 100 AND 120"
    predicted, total = dml_shards_loaded(path, pred)
    assert (predicted, total) == (1, 4)
    # selectivity off: unparseable predicate loads everything
    assert dml_shards_loaded(path, "id + grp = 3") == (4, 4)
    # all-rejected: only the schema witness loads
    assert dml_shards_loaded(path, "id = 123456") == (1, 4)

    calls = _count_shard_loads(monkeypatch)
    S._SHARD_CACHE.clear()
    assert S.delete_where(spark, path, pred) == 21
    assert len(set(calls)) == predicted, calls


def test_selective_delete_equals_full_resolve(spark, tmp_path, monkeypatch):
    """Carry on vs carry suppressed: identical table contents, rows,
    and read-back — the optimization is invisible to semantics."""
    a = _sharded_table(spark, tmp_path, monkeypatch, name="carry")
    b = _sharded_table(spark, tmp_path, monkeypatch, name="full")
    pred = "id >= 6000 AND id < 6500 AND grp < 5"
    S.delete_where(spark, a, pred)
    monkeypatch.setattr(S, "_shard_carry_eligible", lambda s: False)
    S.delete_where(spark, b, pred)
    ta = sorted(map(tuple, S.read_table(spark, a).collect()))
    tb = sorted(map(tuple, S.read_table(spark, b).collect()))
    assert ta == tb
    assert S._load_manifest(a)["rows"] == S._load_manifest(b)["rows"]


def test_selective_update_carries_rejected_shards(
    spark, tmp_path, monkeypatch
):
    path = _sharded_table(spark, tmp_path, monkeypatch)
    calls = _count_shard_loads(monkeypatch)
    S._SHARD_CACHE.clear()
    n = S.update_where(
        spark, path, {"grp": "grp + 100"}, "id BETWEEN 200 AND 210"
    )
    assert n == 11
    assert len(set(calls)) == 1, calls
    got = S.read_table(spark, path)
    assert got.where("grp >= 100").count() == 11
    assert got.count() == 8000
    assert S._load_manifest(path)["rows"] == 8000


def test_selective_insert_carries_all_but_witness(
    spark, tmp_path, monkeypatch
):
    """A pure append loads NO shard members except the single schema-
    gate witness — micro-batch ingest into a huge sharded table is
    O(1) index I/O, not O(shards)."""
    path = _sharded_table(spark, tmp_path, monkeypatch)
    calls = _count_shard_loads(monkeypatch)
    S._SHARD_CACHE.clear()
    batch = spark.range(90000, 90005).selectExpr(
        "id", "id % 10 as grp", "nullif(id % 4, 0) as opt"
    )
    assert S.insert_into(spark, path, batch) == 5
    assert len(set(calls)) == 1, calls  # the witness shard only
    man = S._load_manifest(path)
    assert man["rows"] == 8005
    assert S.read_table(spark, path).count() == 8005


def test_selective_dv_delete_chain_is_inductively_sound(
    spark, tmp_path, monkeypatch
):
    """Two DV deletes hitting DIFFERENT shards: the second commit's
    dv_n names files inside shards it carried verbatim — the relaxed
    membership check must accept them (they were valid under the base
    version and weren't dropped), and reads apply both vectors."""
    path = _sharded_table(spark, tmp_path, monkeypatch)
    assert S.delete_where(
        spark, path, "id BETWEEN 100 AND 104", deletion_vectors=True
    ) == 5
    # second delete touches a far shard; the first delete's DV entries
    # live in a shard this commit never loads
    calls = _count_shard_loads(monkeypatch)
    S._SHARD_CACHE.clear()
    assert S.delete_where(
        spark, path, "id BETWEEN 7000 AND 7004", deletion_vectors=True
    ) == 5
    assert len(set(calls)) <= 2, calls  # touched shard (+ tail fold)
    got = S.read_table(spark, path)
    assert got.count() == 8000 - 10
    assert got.where("id BETWEEN 100 AND 104").count() == 0
    assert got.where("id BETWEEN 7000 AND 7004").count() == 0
    assert S._load_manifest(path)["rows"] == 7990


def test_selective_merge_prunes_index_by_patch_keys(
    spark, tmp_path, monkeypatch
):
    """merge_into derives shard pruning from the PATCH's key facts
    (exact sorted set under broadcast): rejected shards are never
    loaded and carry verbatim; the not-matched branch stays sound (a
    rejected shard provably holds no patch key, so it cannot turn an
    insert into an update)."""
    path = _sharded_table(spark, tmp_path, monkeypatch)
    patch = spark.createDataFrame(
        [(150, 99, None), (9999999, 7, None)],
        "id long, grp long, opt long",
    )
    calls = _count_shard_loads(monkeypatch)
    S._SHARD_CACHE.clear()
    res = S.merge_into(spark, path, patch, keys=["id"],
                       broadcast_updates=True)
    assert res == {"updated": 1, "inserted": 1, "matched_rows": 1}
    assert len(set(calls)) == 1, calls  # only the shard holding id=150
    got = S.read_table(spark, path)
    assert got.count() == 8001
    assert got.where("id = 150").collect()[0].grp == 99
    assert got.where("id = 9999999").count() == 1
    assert S._load_manifest(path)["rows"] == 8001
    # equivalence against a full resolve on a twin table
    twin = _sharded_table(spark, tmp_path, monkeypatch, name="twin")
    monkeypatch.setattr(S, "_shard_carry_eligible", lambda s: False)
    res2 = S.merge_into(spark, twin, patch, keys=["id"],
                        broadcast_updates=True)
    assert res2 == res
    assert sorted(map(tuple, S.read_table(spark, twin).collect())) == \
        sorted(map(tuple, got.collect()))


def test_selective_delete_with_retention_and_vacuum(
    spark, tmp_path, monkeypatch
):
    """Retained history shares carried shard objects by reference;
    vacuum after a selective delete must not eat carried members."""
    path = _sharded_table(spark, tmp_path, monkeypatch)
    S.delete_where(spark, path, "id BETWEEN 0 AND 99", retain_versions=2)
    S.delete_where(spark, path, "id BETWEEN 3000 AND 3099",
                   retain_versions=2)
    S.vacuum_staging(path, ttl_seconds=0)
    got = S.read_table(spark, path)
    assert got.count() == 8000 - 200
    man = S._load_manifest(path)
    assert man["rows"] == 7800
    # time travel to the intermediate version still resolves
    prev = S.read_table(spark, path, version=man["gen_no"] - 1)
    assert prev.count() == 8000 - 100


def test_selective_compact_skips_right_sized_shards(
    spark, tmp_path, monkeypatch
):
    """Incremental OPTIMIZE prunes by the shard byte FLOOR (bmin): a
    shard whose smallest member clears min_file_bytes provably holds
    nothing to fold and carries verbatim — routine maintenance on a
    mostly-right-sized sharded table touches the small tail only."""
    path = _sharded_table(spark, tmp_path, monkeypatch)
    man = S._load_manifest(path)
    base_sizes = [
        e["bytes"] for e in S._version_files(man, path)
    ]
    assert all(isinstance(s["bmin"], int)
               for s in man["files_ext"]["shards"])
    # three tiny appends: the small tail to fold
    for i in range(3):
        S.insert_into(
            spark, path,
            spark.range(90000 + i, 90001 + i).selectExpr(
                "id", "id % 10 as grp", "nullif(id % 4, 0) as opt"
            ).coalesce(1),
        )
    floor = min(base_sizes) // 2  # tiny files are far below this
    calls = _count_shard_loads(monkeypatch)
    S._SHARD_CACHE.clear()
    res = S.compact_small_files(
        spark, path, target_bytes=2 * floor, min_file_bytes=floor
    )
    assert res["rewritten"] == 3
    assert res["carried"] == 8
    # only the small-tail shards loaded (each tiny insert minted a
    # 1-entry tail shard: _SHARD_SIZE=2 makes count>=1 "right-sized");
    # the four base shards carried verbatim — never loaded
    assert len(set(calls)) == 3, calls
    man2 = S._load_manifest(path)
    assert man2["rows"] == 8003
    assert S.read_table(spark, path).count() == 8003
    base_shards = {s["name"] for s in man["files_ext"]["shards"]
                   if s["bmin"] >= floor}
    assert base_shards <= {
        s["name"] for s in man2["files_ext"]["shards"]
    }


def test_describe_and_advise_are_o_root_on_sharded_tables(
    spark, tmp_path, monkeypatch
):
    """DESCRIBE DETAIL and the maintenance advisor read file count,
    bytes and rows from the root's shard aggregates (bsum/bmin) —
    zero shard loads on a fully right-sized table — and stay EXACT:
    numbers match a forced full resolve."""
    path = _sharded_table(spark, tmp_path, monkeypatch)
    calls = _count_shard_loads(monkeypatch)
    S._SHARD_CACHE.clear()
    fast = S.describe_detail(path)
    adv = S.advise_maintenance(path, target_bytes=2 * 1024)
    # O(root) + the one schema-witness shard _live_state always keeps
    # loaded when everything else carries
    assert len(set(calls)) <= 1, calls
    assert adv["compact"] is False and adv["evidence"]["small_files"] == 0

    # forced full resolve: identical numbers
    monkeypatch.setattr(S, "_shard_carry_eligible", lambda s: False)
    full = S.describe_detail(path)
    for k in ("rows", "num_files", "size_bytes", "gen_no", "dv_rows"):
        assert fast[k] == full[k], (k, fast[k], full[k])
    assert fast["num_files"] == 8 and fast["rows"] == 8000


def test_adopted_names_are_collision_free(spark, tmp_path, monkeypatch):
    """Adopting the same loose basename twice must mint two DISTINCT
    live basenames (DV position sets key on basenames; the selective
    resolve relies on new names never colliding with unloaded carried
    members)."""
    import shutil

    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 10_000)
    path = str(tmp_path / "adoptions")
    spark.range(100).selectExpr("id", "id % 10 as grp").coalesce(
        1
    ).write.mode("overwrite").parquet(path)
    S.convert_to_manifest(spark, path)

    def land_loose(tag):
        src = str(tmp_path / f"batch-{tag}")
        spark.range(1000, 1003).selectExpr(
            "id", "id % 10 as grp"
        ).coalesce(1).write.mode("overwrite").parquet(src)
        base = next(
            f for f in os.listdir(src) if f.startswith("part-")
        )
        # SAME destination basename both times (part- prefix: the loose
        # classifier only sees part-* files)
        shutil.copy(
            os.path.join(src, base),
            os.path.join(path, "part-loose.parquet"),
        )

    land_loose("a")
    S.delete_where(spark, path, "id = 0")  # adopts part-loose.parquet
    # an intervening commit recomputes `superseded` (the retired loose
    # name drops off once it's gone from disk) — without it a REUSED
    # loose name is classified as crash debris, not a new append
    S.insert_into(
        spark, path,
        spark.createDataFrame([(5000, 0)], "id long, grp long"),
    )
    land_loose("b")
    S.delete_where(spark, path, "id = 1")  # adopts the second one
    man = S._load_manifest(path)
    names = [e["name"] for e in S._version_files(man, path)]
    bases = [os.path.basename(n) for n in names]
    assert len(bases) == len(set(bases)), bases
    assert sum("adopted-" in b for b in bases) == 2
    assert S.read_table(spark, path).count() == 100 - 2 + 6 + 1


def test_expiring_inline_history_never_retires_carried_members(
    spark, tmp_path, monkeypatch
):
    """Round-10 self-review regression (CONFIRMED data loss before the
    fix): an EXPIRING history version indexes files under its OWN
    partition — an inline list, or shard objects from before a
    re-pool — so a file still live inside a carried shard can surface
    in old_names by a name the carry_skip cancellation can't match.
    The dead-set must prove such names dead against the carried
    members instead of retiring live data."""
    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 4)
    monkeypatch.setattr(S, "_SHARD_SIZE", 2)
    path = str(tmp_path / "expiry")
    spark.range(100).selectExpr("id", "id % 10 as grp").coalesce(
        2
    ).write.mode("overwrite").parquet(path)
    S.convert_to_manifest(spark, path)
    # inline manifest: 3 gen files under the threshold
    S.compact_parquet(spark, path, target_files=3)
    assert S._load_manifest(path).get("files_ext") is None

    def batch(lo):
        return spark.range(lo, lo + 2).selectExpr(
            "id", "id % 10 as grp"
        ).coalesce(1)

    # the sharding commit RETAINS the inline version in history
    S.insert_into(spark, path, batch(1000), retain_versions=1)
    man = S._load_manifest(path)
    assert man.get("files_ext") is not None
    assert any("files" in h for h in man["history"])

    # a plain selective insert (retain 0) expires the inline version;
    # before the fix this retired 2 of the 3 still-live data files
    S.insert_into(spark, path, batch(2000))
    man2 = S._load_manifest(path)
    for e in S._version_files(man2, path):
        assert os.path.exists(os.path.join(path, e["name"])), e["name"]
    assert S.read_table(spark, path).count() == 104
    fsck = S.verify_table(path, deep=True)
    assert fsck["ok"], fsck["errors"]

    # the cross-re-pool shape: files re-pooled into a NEW shard that a
    # later commit carries, while an expiring SHARDED version still
    # names them through the old shard objects
    S.insert_into(spark, path, batch(3000), retain_versions=1)
    S.compact_parquet(spark, path, target_files=6)  # re-pools shards
    S.insert_into(spark, path, batch(4000), retain_versions=1)
    S.insert_into(spark, path, batch(5000))  # expires the retained one
    assert S.read_table(spark, path).count() == 110
    fsck = S.verify_table(path, deep=True)
    assert fsck["ok"], fsck["errors"]


def test_sharded_selective_commit_crash_boundaries(
    spark, tmp_path, monkeypatch
):
    """Atomicity of the selective commit on a SHARDED table: a crash
    after the new entry shards are written but before the root CAS
    leaves readers on the OLD index (orphan shard objects are TTL
    vacuum material); a crash after the CAS but before retire leaves
    the NEW state visible with dead bytes on disk; a clean re-run
    recovers both."""
    import pytest

    path = _sharded_table(spark, tmp_path, monkeypatch)

    def boom(*a, **k):
        raise RuntimeError("injected crash")

    # crash A: before the root CAS — selective delete staged data and
    # wrote fresh entry shards, none of it visible
    gen0 = S._load_manifest(path)["gen_no"]
    monkeypatch.setattr(S, "_commit_manifest", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        S.delete_where(spark, path, "id BETWEEN 100 AND 120")
    monkeypatch.undo()
    man = S._load_manifest(path)
    assert man["gen_no"] == gen0
    assert S.read_table(spark, path).count() == 8000
    assert S.verify_table(path)["ok"]

    # crash B: after the CAS, before retire — new version visible,
    # superseded bytes linger for vacuum
    monkeypatch.setattr(S, "_retire", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        S.delete_where(spark, path, "id BETWEEN 100 AND 120")
    monkeypatch.undo()
    got = S.read_table(spark, path)
    assert got.count() == 8000 - 21
    assert got.where("id BETWEEN 100 AND 120").count() == 0
    assert S.verify_table(path)["ok"]

    # recovery: a later selective delete over the crashed state works
    assert S.delete_where(spark, path, "id BETWEEN 4000 AND 4004") == 5
    assert S.read_table(spark, path).count() == 8000 - 26
    assert S.verify_table(path, deep=True)["ok"]


def test_verify_table_fsck(spark, tmp_path, monkeypatch):
    """verify_table proves the invariants the fast paths rely on:
    clean on a healthy sharded+DV table, loud on a missing data file,
    a forged shard count, and a live basename collision."""
    path = _sharded_table(spark, tmp_path, monkeypatch)
    S.delete_where(spark, path, "id BETWEEN 10 AND 14",
                   deletion_vectors=True, retain_versions=1)
    res = S.verify_table(path, deep=True)
    assert res["ok"] and res["shards_checked"] >= 4
    assert res["versions_checked"] == 2

    # missing data file
    man = S._load_manifest(path)
    victim = S._version_files(man, path)[0]["name"]
    os.rename(os.path.join(path, victim),
              os.path.join(path, victim + ".hidden"))
    bad = S.verify_table(path)
    assert not bad["ok"] and any("missing data file" in e
                                 for e in bad["errors"])
    os.rename(os.path.join(path, victim + ".hidden"),
              os.path.join(path, victim))
    assert S.verify_table(path)["ok"]

    # forged shard count
    man = S._load_manifest(path)
    man["files_ext"]["shards"][0]["count"] += 1
    S._io(path).write_json(os.path.join(path, S._MANIFEST), man)
    bad = S.verify_table(path)
    assert not bad["ok"] and any("count" in e for e in bad["errors"])


def test_verify_table_reports_instead_of_crashing(
    spark, tmp_path, monkeypatch
):
    """Second self-review round: the FSCK must REPORT a missing or
    corrupt index shard and a truncated data file — never raise on
    exactly the corruption it exists to detect — and dedupe shared
    objects across retained versions (shards and files shared by
    reference are probed once)."""
    path = _sharded_table(spark, tmp_path, monkeypatch)
    S.delete_where(spark, path, "id = 7", retain_versions=1)
    clean = S.verify_table(path, deep=True)
    assert clean["ok"]
    # shared objects counted once despite two versions referencing them
    man = S._load_manifest(path)
    n_live = len(S._version_files(man, path))
    assert clean["files_checked"] <= n_live + 2  # live + the rewritten

    # missing shard object: reported, sweep completes, no exception
    S._SHARD_CACHE.clear()
    victim_shard = man["files_ext"]["shards"][0]["name"]
    os.rename(os.path.join(path, victim_shard),
              os.path.join(path, victim_shard + ".gone"))
    bad = S.verify_table(path, deep=True)
    assert not bad["ok"]
    assert any("missing index shard" in e for e in bad["errors"]), bad
    os.rename(os.path.join(path, victim_shard + ".gone"),
              os.path.join(path, victim_shard))

    # corrupt shard JSON: reported, not raised — WITHOUT a cache
    # clear: the FSCK must read disk, never trust the warm process
    # cache (third self-review round)
    shard_bytes = open(os.path.join(path, victim_shard), "rb").read()
    S._load_shard(path, victim_shard)  # warm the cache deliberately
    with open(os.path.join(path, victim_shard), "w") as fh:
        fh.write("{not json")
    bad = S.verify_table(path)
    assert not bad["ok"]
    assert any("unreadable index shard" in e for e in bad["errors"]), bad
    with open(os.path.join(path, victim_shard), "wb") as fh:
        fh.write(shard_bytes)
    assert S.verify_table(path)["ok"]

    # truncated data file: deep sweep reports the unreadable footer
    man = S._load_manifest(path)
    data_victim = S._version_files(man, path)[0]["name"]
    dp = os.path.join(path, data_victim)
    data_bytes = open(dp, "rb").read()
    with open(dp, "wb") as fh:
        fh.write(data_bytes[: len(data_bytes) // 2])
    bad = S.verify_table(path, deep=True)
    assert not bad["ok"]
    assert any("unreadable footer" in e or "footer rows" in e
               for e in bad["errors"]), bad
    with open(dp, "wb") as fh:
        fh.write(data_bytes)

    # forged HISTORY record of a shard the live manifest shares: the
    # structural check runs per version-record, not per object
    man = S._load_manifest(path)
    hist = [h for h in man["history"] if h.get("files_ext")]
    if hist:
        hist[0]["files_ext"] = {
            "shards": [
                dict(s, count=(s["count"] + 1))
                for s in hist[0]["files_ext"]["shards"]
            ]
        }
        S._io(path).write_json(os.path.join(path, S._MANIFEST), man)
        bad = S.verify_table(path)
        assert not bad["ok"]
        assert any("count" in e for e in bad["errors"]), bad

    # a root too malformed to sweep: reported as unverifiable, not
    # raised
    S._io(path).write_json(
        os.path.join(path, S._MANIFEST),
        {"format": 2, "gen_no": 1, "files_ext": {"shards": 42},
         "history": "nope"},
    )
    bad = S.verify_table(path)
    assert not bad["ok"] and bad["errors"], bad


def test_expiry_guard_absorbs_shard_load_failure(
    spark, tmp_path, monkeypatch
):
    """Second self-review round, the post-CAS posture: the expiring-
    history dead-set proof runs AFTER the manifest landed — if the
    carried-member load fails (racing retire of the shard object), the
    commit must still SUCCEED with the unprovable names left for TTL
    vacuum, never surface as a retryable failure that would re-apply a
    committed write."""
    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 4)
    monkeypatch.setattr(S, "_SHARD_SIZE", 2)
    path = str(tmp_path / "absorb")
    spark.range(100).selectExpr("id", "id % 10 as grp").coalesce(
        2
    ).write.mode("overwrite").parquet(path)
    S.convert_to_manifest(spark, path)
    S.compact_parquet(spark, path, target_files=3)

    def batch(lo):
        return spark.range(lo, lo + 2).selectExpr(
            "id", "id % 10 as grp"
        ).coalesce(1)

    S.insert_into(spark, path, batch(1000), retain_versions=1)
    # force the carried-member load to fail during the NEXT commit's
    # retire (which expires the inline version -> suspects non-empty)
    real = S._carried_member_names

    def failing(table_path, shards):
        raise FileNotFoundError("simulated racing retire")

    monkeypatch.setattr(S, "_carried_member_names", failing)
    assert S.insert_into(spark, path, batch(2000)) == 2  # no raise
    monkeypatch.setattr(S, "_carried_member_names", real)
    assert S.read_table(spark, path).count() == 104
    assert S.verify_table(path, deep=True)["ok"]


def test_merge_validates_schema_even_for_empty_patch(spark, tmp_path):
    """Self-review #4: an empty updates frame must still fail loud on
    a schema mismatch (the no-op early return happens only after the
    table-side validation)."""
    import pytest

    path = str(tmp_path / "t")
    spark.range(10).selectExpr("id", "id % 3 as grp").write.parquet(path)
    S.convert_to_manifest(spark, path)
    empty_bad = spark.createDataFrame([], "id long, other string")
    with pytest.raises(ValueError, match="merge schema mismatch"):
        S.merge_into(spark, path, empty_bad, keys=["id"])
    missing_key = spark.createDataFrame([], "grp long")
    with pytest.raises(ValueError, match="must exist on both sides"):
        S.merge_into(spark, path, missing_key, keys=["id"])
    # and a well-formed empty patch is still a clean no-op
    empty_ok = spark.createDataFrame([], "id long, grp long")
    assert S.merge_into(spark, path, empty_ok, keys=["id"]) == {
        "updated": 0, "inserted": 0, "matched_rows": 0
    }


def test_lost_merge_rebase_with_retired_carried_shard(
    spark, tmp_path, monkeypatch
):
    """Self-review #3: a lost merge CAS completes its snapshot from
    carried shard records — if the winner re-pooled and retired one,
    the load fails; the loser must clean its staging and surface
    ConcurrentWriteError (retry_on_conflict re-runs), never a raw
    FileNotFoundError and never a leaked generation."""
    path = _sharded_table(spark, tmp_path, monkeypatch)
    patch = spark.createDataFrame([(150, 99, None)],
                                  "id long, grp long, opt long")
    orig_commit = S._commit_manifest
    state = {"armed": True}

    def racing(p, manifest, expect_gen=None):
        if state["armed"] and manifest.get("op") == "merge":
            state["armed"] = False
            # winner re-pools EVERY shard and eagerly retires the old
            # index objects while the merge is mid-commit
            S.compact_parquet(spark, path, target_files=4, sort_col="id")
            S._SHARD_CACHE.clear()
        return orig_commit(p, manifest, expect_gen=expect_gen)

    monkeypatch.setattr(S, "_commit_manifest", racing)
    res = S.retry_on_conflict(
        lambda: S.merge_into(spark, path, patch, keys=["id"],
                             broadcast_updates=True)
    )
    monkeypatch.setattr(S, "_commit_manifest", orig_commit)
    assert res["updated"] == 1
    got = S.read_table(spark, path)
    assert got.count() == 8000
    assert got.where("id = 150").collect()[0].grp == 99
    fsck = S.verify_table(path)
    assert fsck["ok"], fsck["errors"]
    # no leaked staging: every gen dir on disk is referenced or empty
    man = S._load_manifest(path)
    live_dirs = {
        e["name"].split("/", 1)[0]
        for e in S._version_files(man, path)
    } | {s["name"].split("/", 1)[0]
         for s in man["files_ext"]["shards"]}
    for child in os.listdir(path):
        full = os.path.join(path, child)
        if child.startswith("gen-") and os.path.isdir(full):
            if child not in live_dirs:
                assert not [f for f in os.listdir(full)
                            if f.startswith("part-")], child


def test_shards_loaded_counts_history_loads(spark, tmp_path, monkeypatch):
    """Round-10 self-review follow-through: shards_loaded mirrors the
    WHOLE resolve — retained history versions' possibly-top-level
    shard loads count too, so a table carrying pre-r10 history records
    (no 'top' field, conservative load) reports the real I/O instead
    of a flattering live-only number."""
    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 6)
    monkeypatch.setattr(S, "_SHARD_SIZE", 2)
    path = str(tmp_path / "hist")
    spark.range(8000).selectExpr(
        "id", "id % 10 as grp", "nullif(id % 4, 0) as opt"
    ).write.mode("overwrite").parquet(path)
    S.convert_to_manifest(spark, path)
    S.compact_parquet(spark, path, target_files=8, sort_col="id")
    # a retained delete: history now carries the previous version's
    # shard records (shared by reference where membership held)
    S.delete_where(spark, path, "id BETWEEN 7000 AND 7999",
                   retain_versions=2)
    man = S._load_manifest(path)
    assert man.get("history"), "retention should have kept a snapshot"

    # r10 records everywhere: history shards are all top==0, so a
    # selective scan still loads O(touched) — distinct names counted
    loaded, total = shards_loaded(path, "id BETWEEN 100 AND 120")
    assert loaded < total

    # simulate pre-r10 HISTORY records (strip aggregates there only):
    # the conservative rule loads every history shard, and the counter
    # must say so even though the LIVE side still prunes
    for h in man["history"]:
        for s in (h.get("files_ext") or {}).get("shards", []):
            for k in ("rows", "stats", "nulls", "top"):
                s.pop(k, None)
    S._io(path).write_json(os.path.join(path, S._MANIFEST), man)
    loaded2, total2 = shards_loaded(path, "id BETWEEN 100 AND 120")
    assert loaded2 > loaded, (loaded2, loaded)
    # and the scan stays CORRECT under the degraded records
    assert scan_table(spark, path, "id BETWEEN 100 AND 120").count() == 21


# ---------------------------------------------------------------------------
# round-11: data skipping on MIXED-SCHEMA tables. An evolving merge
# records the unified logical schema in the root (sinks._commit_generation
# table_schema) and every entry/shard record carries its PHYSICAL column
# list, so a column absent from a file is a provable all-NULL fact:
# range and IS NOT NULL atoms prune it, IS NULL admits, and the explicit-
# schema read keeps evolved columns in the scan schema even when pruning
# dropped every file that physically carries them. Pre-r11 evolved
# tables (flag without recorded schema) keep the conservative full
# resolve. Extends the reference's conform-union column fold
# (src/main/transformations/jobs/main.py:245-254) to the metadata tree.
# ---------------------------------------------------------------------------


def _evolved_sharded_table(spark, tmp_path, monkeypatch, name="ev"):
    """A sharded id-sorted table evolved by a range-banded merge: the
    id 100-120 band rewrites WITH the new column ``score``; every other
    shard carries the old physical schema by reference."""
    path = _sharded_table(spark, tmp_path, monkeypatch, name=name)
    patch = spark.range(100, 121).selectExpr(
        "id",
        "id % 10 as grp",
        "nullif(id % 4, 0) as opt",
        "id * 2 as score",
    )
    S.merge_into(spark, path, patch, keys=["id"], evolve_schema=True)
    return path


def test_evolved_commit_records_unified_schema(
    spark, tmp_path, monkeypatch
):
    path = _evolved_sharded_table(spark, tmp_path, monkeypatch)
    man = S._load_manifest(path)
    assert man["mixed_schema"]
    rec = S._recorded_schema(man)
    assert rec is not None
    assert rec.names == ["id", "grp", "opt", "score"]
    assert all(f.nullable for f in rec.fields)
    # shard records carry the physical-column union: carried old
    # shards lack score, the rewrite's shard has it
    shards = S._load_manifest(path)["files_ext"]["shards"]
    with_score = [s for s in shards if "score" in s.get("cols", ())]
    without = [s for s in shards if "score" not in s.get("cols", ())]
    assert with_score and without


def test_evolved_scan_prunes_on_old_column(spark, tmp_path, monkeypatch):
    """The r10 verdict's missing #1: a selective scan on an EVOLVED
    table must stay O(touched shards), not degrade to the full
    resolve."""
    path = _evolved_sharded_table(spark, tmp_path, monkeypatch)
    loaded, total = shards_loaded(path, "id BETWEEN 4000 AND 4010")
    assert loaded < total, (loaded, total)

    calls: list[str] = []
    real = S._load_shard

    def counting(table_path, rel):
        calls.append(rel)
        return real(table_path, rel)

    monkeypatch.setattr(S, "_load_shard", counting)
    S._SHARD_CACHE.clear()
    df = scan_table(spark, path, "id BETWEEN 4000 AND 4010")
    assert len(set(calls)) == loaded, calls
    # the evolved column survives pruning even though no admitted file
    # physically carries it — explicit-schema read backfills NULL
    assert df.columns == ["id", "grp", "opt", "score"]
    rows = df.collect()
    assert sorted(r.id for r in rows) == list(range(4000, 4011))
    assert all(r.score is None for r in rows)

    monkeypatch.setattr(S, "_load_shard", real)
    full = S.read_table(spark, path).where("id BETWEEN 4000 AND 4010")
    assert sorted(map(tuple, rows)) == sorted(map(tuple, full.collect()))


def test_evolved_scan_prunes_on_absent_column(
    spark, tmp_path, monkeypatch
):
    """Atoms on the EVOLVED column prune files (and whole shards) that
    physically lack it: absent => all-NULL => range / IS NOT NULL
    reject, IS NULL admits."""
    path = _evolved_sharded_table(spark, tmp_path, monkeypatch)
    total = shards_loaded(path)[1]

    for pred in ("score >= 0", "score IS NOT NULL"):
        loaded, _ = shards_loaded(path, pred)
        assert loaded < total, (pred, loaded, total)
        df = scan_table(spark, path, pred)
        got = sorted(r.id for r in df.collect())
        assert got == list(range(100, 121)), pred
        full = S.read_table(spark, path).where(pred)
        assert sorted(map(tuple, df.collect())) == sorted(
            map(tuple, full.collect())
        ), pred
    # file-level observable: only the rewrite's files scan
    assert 0 < files_scanned(path, "score >= 0") < files_scanned(path)

    # IS NULL must ADMIT the absent-column files (their rows match!)
    df = scan_table(spark, path, "score IS NULL")
    assert df.count() == 8000 - 21
    # sanity: no silent shard-skip of matching rows
    assert df.where("id = 4000").count() == 1


def test_evolved_all_pruned_keeps_evolved_schema(
    spark, tmp_path, monkeypatch
):
    """Every file pruned (old files lack score; new files' span
    disproves the range): the empty result still carries the full
    unified schema, so downstream selects on score resolve."""
    path = _evolved_sharded_table(spark, tmp_path, monkeypatch)
    df = scan_table(spark, path, "score = -5")
    assert df.columns == ["id", "grp", "opt", "score"]
    assert df.count() == 0
    assert files_scanned(path, "score = -5") == 0


def test_pre_r11_mixed_table_keeps_full_resolve(
    spark, tmp_path, monkeypatch
):
    """A mixed table WITHOUT the recorded schema (pre-r11 layout,
    simulated by stripping table_schema from the root) degrades to the
    conservative full resolve — and stays correct."""
    import json

    path = _evolved_sharded_table(spark, tmp_path, monkeypatch)
    mpath = os.path.join(path, "_manifest.json")
    with open(mpath) as fh:
        man = json.load(fh)
    man.pop("table_schema")
    with open(mpath, "w") as fh:
        json.dump(man, fh)

    loaded, total = shards_loaded(path, "id BETWEEN 100 AND 120")
    assert loaded == total
    df = scan_table(spark, path, "id BETWEEN 100 AND 120")
    assert df.count() == 21
    assert "score" in df.columns  # mergeSchema fallback still unifies
    assert files_scanned(path, "id = 123456") == files_scanned(path)


def test_evolved_scan_case_insensitive_predicate(
    spark, tmp_path, monkeypatch
):
    """Spark resolves identifiers case-insensitively; the physical-
    absence check must too, or "SCORE >= 0" would prune the very files
    that carry score."""
    path = _evolved_sharded_table(spark, tmp_path, monkeypatch)
    df = scan_table(spark, path, "SCORE >= 0")
    assert sorted(r.id for r in df.collect()) == list(range(100, 121))
    assert files_scanned(path, "SCORE >= 0") == files_scanned(
        path, "score >= 0"
    )


def test_evolved_selective_delete_loads_touched_shards_only(
    spark, tmp_path, monkeypatch
):
    """Round 11 second rung: selective DML stays O(touched shards) on
    a MIXED-SCHEMA table once the unified schema is recorded — the
    resolve prunes with entry/shard cols, the commit carries rejected
    shards verbatim, and the rewrite reads under the recorded schema
    (no footer merge, no schema loss)."""
    path = _evolved_sharded_table(spark, tmp_path, monkeypatch)
    man0 = S._load_manifest(path)
    shards0 = {s["name"] for s in man0["files_ext"]["shards"]}

    calls: list[str] = []
    real = S._load_shard

    def counting(table_path, rel):
        calls.append(rel)
        return real(table_path, rel)

    monkeypatch.setattr(S, "_load_shard", counting)
    S._SHARD_CACHE.clear()
    n = S.delete_where(spark, path, "id BETWEEN 4000 AND 4020")
    assert n == 21
    # the touched id range lives in one shard; carry-ineligible ones
    # (undersized tails from the evolve's re-pool) may also load
    assert len(set(calls)) < len(shards0), calls

    monkeypatch.setattr(S, "_load_shard", real)
    man1 = S._load_manifest(path)
    assert man1["mixed_schema"] and man1["table_schema"] == man0[
        "table_schema"
    ]
    assert len(shards0 & {s["name"] for s in man1["files_ext"]["shards"]})
    got = S.read_table(spark, path)
    assert got.count() == 8000 - 21
    assert got.where("id BETWEEN 4000 AND 4020").count() == 0
    # evolved column intact across the DML (patch rows untouched)
    assert got.where("score IS NOT NULL").count() == 21
    fsck = S.verify_table(path, deep=True)
    assert fsck["ok"], fsck["errors"]

    # a unified-schema APPEND onto the evolved SHARDED table: the
    # insert gate reads the recorded schema, the selective resolve
    # carries every eligible shard, and the new rows land exactly once
    batch = spark.range(90000, 90005).selectExpr(
        "id", "id % 10 as grp", "nullif(id % 4, 0) as opt",
        "id * 2 as score"
    )
    assert S.insert_into(spark, path, batch) == 5
    assert S.read_table(spark, path).count() == 8000 - 21 + 5
    fsck = S.verify_table(path, deep=True)
    assert fsck["ok"], fsck["errors"]


def test_second_evolution_widens_recorded_schema(
    spark, tmp_path, monkeypatch
):
    """An evolving merge ON an already-mixed table: the unified-schema
    base comes from the ROOT record (no full resolve), widens with the
    new column, and reads reconcile all three physical generations."""
    path = _evolved_sharded_table(spark, tmp_path, monkeypatch)
    patch2 = spark.range(7000, 7011).selectExpr(
        "id", "id % 10 as grp", "nullif(id % 4, 0) as opt",
        "cast(null as long) as score", "id * 3 as bonus"
    )
    S.merge_into(spark, path, patch2, keys=["id"], evolve_schema=True)
    man = S._load_manifest(path)
    rec = S._recorded_schema(man)
    assert rec.names == ["id", "grp", "opt", "score", "bonus"]
    df = S.read_table(spark, path)
    assert df.count() == 8000
    assert df.where("bonus IS NOT NULL").count() == 11
    assert df.where("score IS NOT NULL").count() == 21
    # skipping works on the NEWEST column too
    from retail_sales_data_pipeline_spark.data_skipping import (
        scan_table as _scan,
    )

    got = _scan(spark, path, "bonus >= 0")
    assert sorted(r.id for r in got.collect()) == list(range(7000, 7011))
    assert files_scanned(path, "bonus >= 0") < files_scanned(path)
    fsck = S.verify_table(path, deep=True)
    assert fsck["ok"], fsck["errors"]


def test_corrupt_table_schema_degrades_not_prunes(
    spark, tmp_path, monkeypatch
):
    """A present-but-unparseable table_schema record must behave like
    an absent one (full resolve, mergeSchema fallback), never prune."""
    import json

    path = _evolved_sharded_table(spark, tmp_path, monkeypatch)
    mpath = os.path.join(path, "_manifest.json")
    with open(mpath) as fh:
        man = json.load(fh)
    man["table_schema"] = "{not json"
    with open(mpath, "w") as fh:
        json.dump(man, fh)
    loaded, total = shards_loaded(path, "id BETWEEN 100 AND 120")
    assert loaded == total
    df = scan_table(spark, path, "id BETWEEN 100 AND 120")
    assert df.count() == 21
    assert "score" in df.columns


def test_conflicting_second_evolution_drops_stale_schema(
    spark, tmp_path, monkeypatch
):
    """Review finding (r11): a second evolving merge must not carry the
    recorded table_schema of the first — carrying it made the newly
    evolved column silently invisible to every explicit-schema read.
    A common column that comes back narrower (``rev int`` against the
    table's ``rev long``) is stored at the table's type, so the fresh
    unified schema is recorded, and pruning stays sound."""
    path = str(tmp_path / "conflict")
    spark.range(10).selectExpr(
        "id", "cast(id as double) v"
    ).write.parquet(path)
    S.convert_to_manifest(spark, path)
    p1 = spark.createDataFrame(
        [(1, 1.0, 7)], "id long, v double, rev long"
    )
    S.merge_into(spark, path, p1, keys=["id"], evolve_schema=True)
    assert S._recorded_schema(S._load_manifest(path)) is not None

    # second evolution: rev comes back as INT plus `note`
    p2 = spark.createDataFrame(
        [(2, 2.0, 3, "x")],
        "id long, v double, rev int, note string",
    )
    S.merge_into(spark, path, p2, keys=["id"], evolve_schema=True)
    man = S._load_manifest(path)
    assert man["mixed_schema"]
    recorded = S._recorded_schema(man)
    assert [(f.name, f.dataType.simpleString()) for f in recorded] == [
        ("id", "bigint"), ("v", "double"), ("rev", "bigint"),
        ("note", "string"),
    ]
    got = S.read_table(spark, path)
    assert dict(got.dtypes)["rev"] == "bigint"
    assert got.where("note = 'x'").count() == 1
    from retail_sales_data_pipeline_spark.data_skipping import _prunable

    assert _prunable(man)


def test_fsck_catches_invisible_columns(spark, tmp_path, monkeypatch):
    """verify_table flags the invisible-column state: a mixed table
    whose recorded schema LACKS a column some live file physically
    carries (the bug class the stale-carry fix closed)."""
    import json

    path = _evolved_sharded_table(spark, tmp_path, monkeypatch)
    assert S.verify_table(path)["ok"]
    mpath = os.path.join(path, "_manifest.json")
    with open(mpath) as fh:
        man = json.load(fh)
    # forge a stale schema record missing `score`
    sch = json.loads(man["table_schema"])
    sch["fields"] = [f for f in sch["fields"] if f["name"] != "score"]
    man["table_schema"] = json.dumps(sch)
    with open(mpath, "w") as fh:
        json.dump(man, fh)
    fsck = S.verify_table(path)
    assert not fsck["ok"]
    assert any("invisible" in e for e in fsck["errors"])
