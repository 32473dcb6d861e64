"""The table-schema rule (``sinks._table_schema``): every writer of a
manifest table stages rows in the table's column types — INSERT checks
them strictly, MERGE and UPDATE cast by store assignment — and every
reader and writer of a mixed table from before the recorded schema
sees one merged schema."""
import glob
import json
import os

import pytest

import retail_sales_data_pipeline_spark.sinks as S


def _table(spark, path, v_type):
    v = "concat('s', id)" if v_type == "string" else "id * 10"
    spark.range(1, 7).selectExpr("id", f"{v} as v").coalesce(2).write.parquet(
        path
    )
    S.convert_to_manifest(spark, path)


def _v_of(spark, path):
    tbl = S.read_table(spark, path)
    return dict(tbl.dtypes)["v"], {r.id: r.v for r in tbl.collect()}


@pytest.mark.parametrize(
    "opts",
    [{}, {"deletion_vectors": True}, {"broadcast_updates": True}],
    ids=["plain", "dv", "broadcast"],
)
def test_merge_casts_batch_to_table_types(spark, tmp_path, opts):
    """A merge batch whose ``v`` is bigint lands in the ``v string``
    table as strings: the rewrite, the DV-marked upsert, the pure
    insert and the CDC insert frame all stage the cast batch, so the
    table stays readable and insertable."""
    path = str(tmp_path / "t")
    _table(spark, path, "string")
    v0 = S._load_manifest(path)["gen_no"]
    patch = spark.createDataFrame([(2, 7), (9, 7)], "id long, v bigint")
    res = S.merge_into(
        spark, path, patch, keys=["id"], retain_versions=1, **opts
    )
    assert res == {"updated": 1, "inserted": 1, "matched_rows": 1}
    v1 = S._load_manifest(path)["gen_no"]
    dtype, rows = _v_of(spark, path)
    assert dtype == "string"
    assert (rows[1], rows[2], rows[9]) == ("s1", "7", "7")
    feed = S.table_changes(spark, path, v0, v1)
    assert dict(feed.dtypes)["v"] == "string"
    assert {
        (r.id, r.v) for r in feed.where("_change_type = 'insert'").collect()
    } == {(2, "7"), (9, "7")}

    # pure insert: the batch alone is the new generation
    patch2 = spark.createDataFrame([(20, 8)], "id long, v bigint")
    res2 = S.merge_into(spark, path, patch2, keys=["id"], **opts)
    assert res2 == {"updated": 0, "inserted": 1, "matched_rows": 0}
    dtype, rows = _v_of(spark, path)
    assert dtype == "string" and rows[20] == "8" and len(rows) == 8
    same = spark.createDataFrame([(30, "x")], "id long, v string")
    assert S.insert_into(spark, path, same) == 1
    assert S.verify_table(path, deep=True)["ok"]


def test_merge_widens_integer_keys(spark, tmp_path):
    """An integer key may have any integer type: an ``id int`` batch
    merges into the ``id bigint`` table, its keys stored as bigint."""
    path = str(tmp_path / "t")
    _table(spark, path, "string")
    patch = spark.createDataFrame([(2, "u"), (9, "n")], "id int, v string")
    res = S.merge_into(spark, path, patch, keys=["id"], broadcast_updates=True)
    assert res == {"updated": 1, "inserted": 1, "matched_rows": 1}
    tbl = S.read_table(spark, path)
    assert dict(tbl.dtypes)["id"] == "bigint"
    assert {r.id: r.v for r in tbl.collect()}[2] == "u"


@pytest.mark.parametrize("dv", [False, True], ids=["rewrite", "dv"])
def test_update_casts_assignment_to_column_type(spark, tmp_path, dv):
    """``SET v = 42`` on a string column stores ``'42'``, as SQL
    UPDATE does, instead of committing the column as bigint."""
    path = str(tmp_path / "t")
    _table(spark, path, "string")
    n = S.update_where(
        spark, path, {"v": "42"}, "id = 3", deletion_vectors=dv
    )
    assert n == 1
    dtype, rows = _v_of(spark, path)
    assert dtype == "string"
    assert (rows[3], rows[4]) == ("42", "s4")
    assert S.verify_table(path, deep=True)["ok"]


@pytest.mark.parametrize("key", [9, 2], ids=["insert", "matched"])
def test_evolving_merge_stores_common_columns_at_table_types(
    spark, tmp_path, key
):
    """An evolving merge casts the batch's common columns by store
    assignment too: a ``v bigint`` batch that adds ``note`` lands in the
    ``v string`` table with ``v`` as strings, the unified schema is
    recorded, and the table stays readable, insertable and verifiable.
    With a matched key the union of the rewrite keeps the table's
    strings instead of casting them to bigint."""
    path = str(tmp_path / "t")
    _table(spark, path, "string")
    patch = spark.createDataFrame(
        [(key, 7, "hi")], "id long, v bigint, note string"
    )
    res = S.merge_into(spark, path, patch, keys=["id"], evolve_schema=True)
    assert res["inserted"] + res["updated"] == 1
    recorded = json.loads(S._load_manifest(path)["table_schema"])
    assert [(f["name"], f["type"]) for f in recorded["fields"]] == [
        ("id", "long"), ("v", "string"), ("note", "string")
    ]
    tbl = S.read_table(spark, path)
    assert dict(tbl.dtypes) == {"id": "bigint", "v": "string", "note": "string"}
    assert {r.id: (r.v, r.note) for r in tbl.collect()}[key] == ("7", "hi")
    same = spark.createDataFrame([(30, "x", None)], "id long, v string, note string")
    assert S.insert_into(spark, path, same) == 1
    assert S.read_table(spark, path).count() == (8 if key == 9 else 7)
    assert S.verify_table(path, deep=True)["ok"]


@pytest.mark.parametrize(
    "op, message",
    [("merge", "does not fit column"), ("update", "does not fit column"),
     ("merge_evolve", "does not fit column"),
     ("merge_key", "merge keys .* must have the table's types")],
)
def test_uncastable_value_raises_before_commit(spark, tmp_path, op, message):
    """A value the table's column type cannot hold (``'x'`` into
    bigint) raises before the commit point, in a merge that adds a
    column as in any other: the manifest is untouched
    and no staging generation is left behind. A merge key of another
    type raises too: the batch's key values prune the table's files,
    so only an integer key may differ, and only in width."""
    path = str(tmp_path / "t")
    _table(spark, path, "bigint")
    mpath = os.path.join(path, "_manifest.json")
    with open(mpath, "rb") as fh:
        before = fh.read()
    gens = sorted(glob.glob(os.path.join(path, "gen-*")))
    with pytest.raises(Exception, match=message):
        if op == "update":
            S.update_where(spark, path, {"v": "'x'"}, "id = 2")
        elif op == "merge":
            S.merge_into(
                spark, path,
                spark.createDataFrame([(2, "x")], "id long, v string"),
                keys=["id"],
            )
        elif op == "merge_evolve":
            S.merge_into(
                spark, path,
                spark.createDataFrame(
                    [(9, "x", "new")], "id long, v string, note string"
                ),
                keys=["id"], evolve_schema=True,
            )
        else:
            S.merge_into(
                spark, path,
                spark.createDataFrame([("k", 1)], "id string, v long"),
                keys=["id"],
            )
    with open(mpath, "rb") as fh:
        assert fh.read() == before
    assert sorted(glob.glob(os.path.join(path, "gen-*"))) == gens
    assert S.read_table(spark, path).count() == 6


def test_pre_r11_mixed_table_shares_one_merged_schema(
    spark, tmp_path, monkeypatch
):
    """A mixed table without a recorded schema (the layout before the
    schema was recorded in the root, simulated by stripping
    ``table_schema``): insert, merge and update all see the one merged
    schema, merged from the footers once per schema epoch, and the
    table stays readable."""
    path = str(tmp_path / "old")
    spark.range(0, 40).selectExpr(
        "id", "cast(id as double) v"
    ).coalesce(2).write.parquet(path)
    S.convert_to_manifest(spark, path)
    S.merge_into(
        spark, path,
        spark.createDataFrame([(5, 5.0, 50)], "id long, v double, score long"),
        keys=["id"], evolve_schema=True,
    )
    mpath = os.path.join(path, "_manifest.json")
    with open(mpath) as fh:
        man = json.load(fh)
    man.pop("table_schema")
    with open(mpath, "w") as fh:
        json.dump(man, fh)

    class Cache(dict):
        fills = hits = 0

        def get(self, key, default=None):
            Cache.hits += key in self
            return super().get(key, default)

        def __setitem__(self, key, value):
            Cache.fills += 1
            super().__setitem__(key, value)

    cache = Cache()
    monkeypatch.setattr(S, "_MIXED_SCHEMA_CACHE", cache)
    three = "id long, v double, score long"
    # score lives only in the merge's rewritten file: a one-footer
    # schema would reject these batches
    assert S.insert_into(
        spark, path, spark.createDataFrame([(100, 1.0, 7)], three)
    ) == 1
    res = S.merge_into(
        spark, path,
        spark.createDataFrame([(6, 6.0, 60), (101, 2.0, 8)], three),
        keys=["id"],
    )
    assert res == {"updated": 1, "inserted": 1, "matched_rows": 1}
    # the assignment is cast to the merged schema's bigint
    assert S.update_where(spark, path, {"score": "'61'"}, "id = 6") == 1
    # insert fills the cache; merge and update each look it up
    assert (Cache.fills, Cache.hits) == (1, 2)
    (schema,) = cache.values()
    assert [(f.name, f.dataType.simpleString()) for f in schema] == [
        ("id", "bigint"), ("v", "double"), ("score", "bigint")
    ]
    with pytest.raises(ValueError, match="insert schema mismatch"):
        S.insert_into(spark, path, spark.createDataFrame(
            [(102, 1.0, "x")], "id long, v double, score string"
        ))
    tbl = S.read_table(spark, path)
    assert tbl.count() == 42
    got = {r.id: r.score for r in tbl.where("score IS NOT NULL").collect()}
    assert got == {5: 50, 6: 61, 100: 7, 101: 8}
