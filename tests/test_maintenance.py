"""Invariant tests for the maintenance/mixing queries beyond their
fixture oracle rows: the algebraic properties that must hold on ANY
input, checked on seeded synthetic relations."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from retail_sales_data_pipeline_spark.plans.llm_ops import corpus_mix_rebalance
from retail_sales_data_pipeline_spark.plans.retail_queries import (
    COMPACT_TARGET_BYTES,
    maintenance_compaction_plan,
)

SF = "/root/testdata/sf0.01"


def test_mix_rebalance_invariants(spark):
    rows = {r.source: r for r in corpus_mix_rebalance(spark, SF).collect()}
    assert rows, "no sources"
    # no upsampling: every rate in (0, 1]; the binding source is kept
    # whole (rate rounds to 1.0)
    assert all(0.0 < r.rate <= 1.0 for r in rows.values())
    assert max(r.rate for r in rows.values()) == 1.0
    # target shares sum to ~1 and kept docs never exceed source docs
    assert abs(sum(r.target_share for r in rows.values()) - 1.0) < 1e-4
    assert all(r.kept_docs <= r.n_docs for r in rows.values())
    # kept docs per source is Binomial(n_docs, rate) under the md5
    # buckets; with only 25 docs/source at sf0.01 the noise is large,
    # so bound at 5 sigma + 1 — wide enough for any legitimate draw,
    # still catches a broken threshold comparison (those are off by
    # n_docs, not sigmas)
    for r in rows.values():
        mu = r.rate * r.n_docs
        sigma = (r.n_docs * r.rate * max(1e-9, 1 - r.rate)) ** 0.5
        assert abs(r.kept_docs - mu) <= 5 * sigma + 1, r
    # the REALIZED mix should track the target within aggregate noise
    total_kept = sum(r.kept_tokens for r in rows.values())
    worst = max(
        abs(r.kept_tokens / total_kept - r.target_share) for r in rows.values()
    )
    assert worst < 0.10


def test_compaction_plan_invariants(spark):
    plan = maintenance_compaction_plan(spark, SF).collect()
    assert plan
    by_lang: dict[str, list] = {}
    for r in plan:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, bins in by_lang.items():
        bins.sort(key=lambda r: r.bin)
        # bins are contiguous from 0
        assert [r.bin for r in bins] == list(range(len(bins)))
        # next-fit bound: a bin never exceeds target + its largest file
        # (the overflowing file that closed it); conservatively bound by
        # target + max file bytes in the partition
        max_file = max(r.total_bytes for r in bins)  # upper bound on any file
        for r in bins:
            assert r.total_bytes <= COMPACT_TARGET_BYTES + max_file
        # file ranges don't interleave across bins (ordered packing)
        for a, b in zip(bins, bins[1:]):
            assert a.last_file < b.first_file


def test_compaction_plan_is_layout_invariant(spark):
    """The plan depends only on the relation's CONTENT, not its
    physical partitioning — repartitioning the input must not change a
    single bin."""
    from retail_sales_data_pipeline_spark.sources.tables import load_table

    base = sorted(map(tuple, maintenance_compaction_plan(spark, SF).collect()))

    files = load_table(spark, SF, "documents", ["doc_id", "lang", "n_chars"])
    shuffled = files.repartition(7, "doc_id")
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy("doc_id")
    prefix = F.coalesce(
        F.sum("n_chars").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    alt = (
        shuffled.select(
            "lang", "doc_id", "n_chars",
            F.floor(prefix / COMPACT_TARGET_BYTES).cast("long").alias("bin"),
        )
        .groupBy("lang", "bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("n_chars").cast("long").alias("total_bytes"),
            F.min("doc_id").alias("first_file"),
            F.max("doc_id").alias("last_file"),
        )
    )
    assert sorted(map(tuple, alt.collect())) == base


def test_mix_rebalance_binding_source_kept_whole(spark):
    """Synthetic check of the feasibility math on a controlled corpus:
    with one source far below its target share, that source binds and
    every other source is down-sampled toward the target ratio."""
    rng = random.Random(7)
    rows = []
    did = 0
    # src0 (weight 3 under the query's rule) gets FEW docs → binding;
    # src1/src2 (weight 1) get many
    for source, n in [("src0", 5), ("src1", 60), ("src2", 60)]:
        for _ in range(n):
            text = " ".join(f"w{rng.randrange(50)}" for _ in range(20))
            rows.append((did, text, "en", source, len(text)))
            did += 1
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = {r.source: r for r in corpus_mix_rebalance(spark, d).collect()}
    assert out["src0"].rate == 1.0  # binding source kept whole
    # others down-sampled: target share 1/5 each vs ~half the raw corpus
    assert out["src1"].rate < 0.5 and out["src2"].rate < 0.5


def _morton_ref(vals: list[int], bits: int) -> int:
    out = 0
    k = len(vals)
    for i in range(bits):
        for j, v in enumerate(vals):
            out |= ((v >> i) & 1) << (i * k + j)
    return out


def test_z_value_matches_python_reference(spark):
    from retail_sales_data_pipeline_spark.operators.layout import z_value

    rng = random.Random(7)
    rows = [
        (i, rng.randrange(1 << 10), rng.randrange(1 << 10))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id long, a long, b long")
    got = {
        r.id: r.z
        for r in df.select(
            "id", z_value([F.col("a"), F.col("b")], 10).alias("z")
        ).collect()
    }
    for i, a, b in rows:
        assert got[i] == _morton_ref([a, b], 10), (i, a, b)


def test_z_value_rejects_long_overflow():
    import pytest as _pytest

    from retail_sales_data_pipeline_spark.operators.layout import z_value

    with _pytest.raises(ValueError):
        z_value([F.col("a"), F.col("b")], 32)  # 64 bits > signed long


def test_zorder_prunes_on_both_dimensions(spark):
    """The reason z-order exists: after laying out on (x, y), a
    predicate on EITHER column alone touches only a fraction of the
    range partitions (their per-partition min/max boxes are small in
    both dims), whereas a linear sort on x leaves a y-predicate
    touching every partition."""
    from retail_sales_data_pipeline_spark.operators.layout import (
        boxes_touched as touched,
    )
    from retail_sales_data_pipeline_spark.operators.layout import (
        partition_boxes,
        zorder_layout,
    )

    rng = random.Random(11)
    rows = [
        (rng.uniform(0, 1), rng.uniform(0, 1)) for _ in range(20_000)
    ]
    df = spark.createDataFrame(rows, "x double, y double")
    n_parts = 16

    def boxes(laid):
        return partition_boxes(laid, ["x", "y"])

    z_boxes = boxes(zorder_layout(df, ["x", "y"], n_parts))
    linear_boxes = boxes(
        df.repartitionByRange(n_parts, "x").sortWithinPartitions("x")
    )
    # range-partitioner boundary SAMPLING is seeded per execution, so
    # box edges (and occasionally an empty partition) vary run to run —
    # bounds below are safe under that variance (observed touched max 8
    # of 16 across seeds; the claim being pinned is "a large fraction
    # skipped" vs "nothing skipped", not an exact count)
    assert len(z_boxes) >= n_parts - 2
    # a narrow y-slice: linear-x layout cannot skip anything
    assert touched(linear_boxes, "y", 0.4, 0.45) == len(linear_boxes)
    # z-order: the same slice skips at least ~30% of partitions
    assert touched(z_boxes, "y", 0.4, 0.45) <= 11
    # and x-pruning still works on the z layout (not as sharp as a
    # pure x sort, but far from all-partitions)
    assert touched(z_boxes, "x", 0.4, 0.45) <= 11


def test_zorder_compact_roundtrip(spark, tmp_path):
    from retail_sales_data_pipeline_spark.operators.layout import (
        zorder_compact,
    )

    path = str(tmp_path / "tbl")
    rng = random.Random(3)
    rows = [(i, rng.uniform(0, 100), rng.uniform(0, 100)) for i in range(5000)]
    df = spark.createDataFrame(rows, "id long, a double, b double")
    df.repartition(40).write.parquet(path)  # 40 small files

    n_files = zorder_compact(spark, path, ["a", "b"], target_files=8)
    assert n_files == 8
    from retail_sales_data_pipeline_spark.sinks import read_table

    back = read_table(spark, path)
    assert back.count() == 5000
    assert sorted(r.id for r in back.select("id").collect()) == list(
        range(5000)
    )


def test_zorder_layout_rejects_empty_or_allnull(spark):
    import pytest as _pytest

    from retail_sales_data_pipeline_spark.operators.layout import (
        zorder_layout,
    )

    empty = spark.createDataFrame([], "x double, y double")
    with _pytest.raises(ValueError, match="empty input or all-null"):
        zorder_layout(empty, ["x", "y"], 4)


def test_zorder_layout_rejects_partial_nulls(spark):
    import pytest as _pytest

    from retail_sales_data_pipeline_spark.operators.layout import (
        zorder_layout,
    )

    rows = [(float(i), float(i) if i % 10 else None) for i in range(100)]
    df = spark.createDataFrame(rows, "x double, y double")
    with _pytest.raises(ValueError, match="nulls"):
        zorder_layout(df, ["x", "y"], 4)
    # NaN is just as silent-top-bucket dangerous as NULL
    rows = [(float(i), float("nan") if i == 3 else float(i)) for i in range(10)]
    with _pytest.raises(ValueError, match="NaN"):
        zorder_layout(
            spark.createDataFrame(rows, "x double, y double"), ["x", "y"], 4
        )
    # an infinity poisons the min/max bounds: (x-lo)/(hi-lo) -> 0 for
    # every finite row, silently collapsing the dimension to bucket 0
    for bad in (float("inf"), float("-inf")):
        rows = [(float(i), bad if i == 3 else float(i)) for i in range(10)]
        with _pytest.raises(ValueError, match="infinit"):
            zorder_layout(
                spark.createDataFrame(rows, "x double, y double"),
                ["x", "y"],
                4,
            )


def test_zorder_layout_degenerate_constant_column(spark):
    """A constant layout column (lo == hi) collapses to bucket 0 and
    the layout degrades gracefully to a linear sort on the other
    column — no crash, no row loss."""
    from retail_sales_data_pipeline_spark.operators.layout import (
        zorder_layout,
    )

    rows = [(float(i), 7.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "x double, y double")
    out = zorder_layout(df, ["x", "y"], 4)
    assert out.count() == 1000
    assert sorted(r.x for r in out.collect()) == [float(i) for i in range(1000)]


def test_vacuum_staging_removes_only_expired_orphans(spark, tmp_path):
    """Vacuum must remove crash leftovers past the TTL, keep fresh ones
    (they are the recovery material), never touch live tables, and —
    critically — never delete a legacy backup dir whose live table is
    MISSING: after a crash between the old protocol's two renames that
    dir is the sole remaining copy of the data."""
    import os
    import time
    import warnings

    from retail_sales_data_pipeline_spark.sinks import vacuum_staging

    base = tmp_path
    (base / "tbl").mkdir()  # live table — never touched
    (base / "tbl._old").mkdir()  # expired orphan (live table exists)
    (base / "tbl._compact").mkdir()  # fresh (in-flight or recent crash)
    (base / "other._zorder").mkdir()  # expired BUT no live `other` dir:
    # sole copy of the data — must be kept, with a warning
    (base / "notes._oldish").mkdir()  # suffix must match exactly
    now = time.time()
    old = now - 100_000
    os.utime(base / "tbl._old", (old, old))
    os.utime(base / "other._zorder", (old, old))

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        removed = vacuum_staging(str(base), ttl_seconds=24 * 3600, now=now)
    assert sorted(os.path.basename(p) for p in removed) == ["tbl._old"]
    assert any("recovery material" in str(w.message) for w in caught)
    left = sorted(p.name for p in base.iterdir())
    assert left == ["notes._oldish", "other._zorder", "tbl", "tbl._compact"]


def test_vacuum_staging_removes_expired_hidden_staging_files(spark, tmp_path):
    """A local put or copy killed between its fill and its rename
    leaves a hidden ``.<name>.<hex>.tmp`` file. Vacuum removes expired
    ones wherever a writer stages them: the base dir, a manifest table
    and its live generation, the ledger and a run-scoped mart partition.
    Fresh ones, data files and other dotfiles stay."""
    import os
    import time

    from retail_sales_data_pipeline_spark import sinks as S
    from retail_sales_data_pipeline_spark import storage

    base = tmp_path
    tbl = base / "tbl"
    spark.range(5).write.parquet(str(tbl))
    S.convert_to_manifest(spark, str(tbl))
    S.insert_into(spark, str(tbl), spark.range(5, 8))
    (gen,) = [p for p in tbl.iterdir() if p.name.startswith("gen-")]
    ledger, part = base / "ledger", base / "customers_data_mart" / "run=r1"
    ledger.mkdir()
    part.mkdir(parents=True)
    now = time.time() + 100_000  # every file written above is expired
    fresh = now - 60

    def staged(d, name, mtime=None):
        p = storage._hidden_tmp(str(d / name))
        open(p, "wb").close()
        if mtime:
            os.utime(p, (mtime, mtime))
        return p

    expired = sorted([
        staged(base, "x.parquet"),
        staged(tbl, "_manifest.json"),
        staged(gen, "part-0.parquet"),
        staged(ledger, "events-1.parquet"),
        staged(part, "part-0.parquet"),
    ])
    kept = [
        staged(ledger, "events-2.parquet", mtime=fresh),
        staged(part, "part-1.parquet", mtime=fresh),
    ]
    for d in (ledger, part):
        for name in ("part-0.parquet", ".part-0.parquet.crc", ".x.tmp",
                     ".events-1.parquet.tmp", "_SUCCESS"):
            (d / name).write_bytes(b"x")
            kept.append(str(d / name))
    assert not storage.is_hidden_tmp(".events-1.parquet.ABC.tmp")

    would = S.vacuum_staging(str(base), ttl_seconds=24 * 3600, now=now,
                             dry_run=True)
    assert sorted(would) == expired
    assert all(os.path.exists(p) for p in expired)
    removed = S.vacuum_staging(str(base), ttl_seconds=24 * 3600, now=now)
    assert sorted(removed) == expired
    assert not any(os.path.exists(p) for p in expired)
    assert all(os.path.exists(p) for p in kept)
    assert S.read_table(spark, str(tbl)).count() == 8


def _write_tbl(spark, path, n=4000, parts=20):
    df = spark.range(n).selectExpr(
        "id", "cast(id % 97 as double) as a", "cast(id % 89 as double) as b"
    )
    df.repartition(parts).write.mode("overwrite").parquet(path)
    return df


def test_manifest_commit_crash_at_every_step_boundary(spark, tmp_path, monkeypatch):
    """The round-6 atomicity contract: kill the rewrite at each step
    boundary of sinks.staged_rewrite and prove a readable, row-complete
    table at `path` after every crash, plus a clean re-run."""
    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    _write_tbl(spark, path)

    def rows_ok():
        back = S.read_table(spark, path)
        assert back.count() == 4000
        assert back.groupBy().sum("id").first()[0] == 4000 * 3999 // 2

    # crash A: staged generation written, commit never happened —
    # readers must still resolve the ORIGINAL files
    def boom(*a, **k):
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(S, "_commit_manifest", boom)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="crash before commit"):
        S.compact_parquet(spark, path, target_files=4)
    assert S._load_manifest(path) is None  # commit really didn't happen
    rows_ok()
    monkeypatch.undo()

    # crash B: manifest committed, retire of superseded files crashed —
    # readers must resolve the NEW generation and ignore the leftovers
    monkeypatch.setattr(S, "_retire", boom)
    with _pytest.raises(RuntimeError):
        S.compact_parquet(spark, path, target_files=4)
    man = S._load_manifest(path)
    assert man is not None and man["rows"] == 4000
    assert S._top_level_part_files(path)  # leftovers are still on disk
    rows_ok()  # ...but invisible to readers
    monkeypatch.undo()

    # recovery: a clean rewrite over the crashed state succeeds and
    # retires both the leftovers and the intermediate generation
    n_files = S.compact_parquet(spark, path, target_files=4)
    assert n_files <= 6
    rows_ok()
    assert S._top_level_part_files(path) == []


def test_append_after_rewrite_is_visible(spark, tmp_path):
    """Manifest resolution must include top-level batches appended
    AFTER the committed generation (they are not superseded), and the
    next rewrite must fold them into the new generation."""
    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    _write_tbl(spark, path, n=1000, parts=5)
    S.compact_parquet(spark, path, target_files=2)
    extra = spark.range(1000, 1500).selectExpr(
        "id", "cast(0.0 as double) as a", "cast(0.0 as double) as b"
    )
    S.append_table(extra, path)
    assert S.read_table(spark, path).count() == 1500
    S.compact_parquet(spark, path, target_files=2)
    assert S.read_table(spark, path).count() == 1500
    assert S._top_level_part_files(path) == []  # folded in and retired


def test_vacuum_collects_manifest_table_orphans(spark, tmp_path, monkeypatch):
    """Expired non-committed generations and superseded loose files
    inside a manifest table are vacuumed; the committed generation and
    fresh appends never are."""
    import os
    import time

    import retail_sales_data_pipeline_spark.sinks as S

    base = tmp_path
    path = str(base / "tbl")
    _write_tbl(spark, path, n=500, parts=3)
    # crash mid-retire → superseded loose files + (on the second pass)
    # an orphan previous generation stay on disk
    def noop(paths):
        return None

    monkeypatch.setattr(S, "_retire", noop)
    S.compact_parquet(spark, path, target_files=2)
    S.compact_parquet(spark, path, target_files=2)
    monkeypatch.undo()
    man = S._load_manifest(path)
    orphan_gens = [
        c
        for c in os.listdir(path)
        if c.startswith("gen-") and c != man["generation"]
    ]
    loose = S._top_level_part_files(path)
    assert orphan_gens and loose
    # fresh append — must survive the vacuum
    S.append_table(
        spark.range(500, 510).selectExpr(
            "id", "cast(0.0 as double) as a", "cast(0.0 as double) as b"
        ),
        path,
    )
    fresh = set(S._top_level_part_files(path)) - set(loose)
    assert fresh
    now = time.time() + 100_000  # everything written above is "old"...
    for f in fresh:  # ...except the append we just made
        p = os.path.join(path, f)
        os.utime(p, (now, now))
    removed = S.vacuum_staging(str(base), ttl_seconds=24 * 3600, now=now)
    removed_names = sorted(os.path.basename(p) for p in removed)
    assert sorted(orphan_gens + loose) == removed_names
    left = sorted(os.listdir(path))
    assert man["generation"] in left
    assert all(f in left for f in fresh)
    assert S.read_table(spark, path).count() == 510


def test_time_travel_retained_snapshots(spark, tmp_path):
    """retain_versions keeps superseded generations as readable
    snapshots: each version reads the table exactly as committed, the
    live view keeps folding appends, and generations falling off the
    retention window are retired on the next commit."""
    import pytest as _pytest

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    _write_tbl(spark, path, n=1000, parts=5)

    def append(lo, hi):
        S.append_table(
            spark.range(lo, hi).selectExpr(
                "id", "cast(0.0 as double) as a", "cast(0.0 as double) as b"
            ),
            path,
        )

    S.compact_parquet(spark, path, target_files=2)          # v1: 1000
    append(1000, 1300)
    S.compact_parquet(spark, path, target_files=2,          # v2: 1300
                      retain_versions=2)
    append(1300, 1450)
    S.compact_parquet(spark, path, target_files=2,          # v3: 1450
                      retain_versions=2)
    assert [v["gen_no"] for v in S.table_versions(path)] == [1, 2, 3]
    assert S.read_table(spark, path, version=1).count() == 1000
    assert S.read_table(spark, path, version=2).count() == 1300
    assert S.read_table(spark, path, version=3).count() == 1450
    # a snapshot is immutable: appends land only in the live view
    append(1450, 1500)
    assert S.read_table(spark, path).count() == 1500
    assert S.read_table(spark, path, version=3).count() == 1450
    S.compact_parquet(spark, path, target_files=2,          # v4: 1500
                      retain_versions=2)
    # v1 fell off the window and its generation dir is retired
    assert [v["gen_no"] for v in S.table_versions(path)] == [2, 3, 4]
    with _pytest.raises(ValueError, match=r"available: \[2, 3, 4\]"):
        S.read_table(spark, path, version=1)
    import os

    gens = sorted(g for g in os.listdir(path) if g.startswith("gen-"))
    # staging dir names carry a per-writer uniquifier after the suffix
    assert [g.rsplit("-", 1)[0] for g in gens] == [
        "gen-000002._compact", "gen-000003._compact", "gen-000004._compact"
    ]
    # never-rewritten table: honest error, not an empty frame
    plain = str(tmp_path / "plain")
    _write_tbl(spark, plain, n=10, parts=1)
    with _pytest.raises(ValueError, match="no manifest"):
        S.read_table(spark, plain, version=1)
    assert S.table_versions(plain) == []


def test_vacuum_never_touches_retained_snapshots(spark, tmp_path):
    """Retained time-travel generations are live data to the vacuum,
    even when TTL-expired; dropped ones become ordinary orphans."""
    import os
    import time

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    _write_tbl(spark, path, n=600, parts=3)
    S.compact_parquet(spark, path, target_files=2, retain_versions=2)
    S.compact_parquet(spark, path, target_files=2, retain_versions=2)
    removed = S.vacuum_staging(
        str(tmp_path), ttl_seconds=0, now=time.time() + 7 * 86400
    )
    assert removed == []  # both generations retained -> nothing to collect
    assert S.read_table(spark, path, version=1).count() == 600
    assert S.read_table(spark, path, version=2).count() == 600


def test_delete_where_semantics_and_atomicity(spark, tmp_path):
    """DELETE WHERE p removes exactly the p-IS-TRUE rows: FALSE and
    NULL rows survive (ANSI null handling — the classic filter(~p) bug
    drops NULLs), the staged count is validated against the declared
    expectation, and the op composes with appends + time travel."""
    import pytest as _pytest

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "keep"), (2, "purge"), (3, None), (4, "purge"), (5, "keep")],
        "doc_id long, tag string",
    ).repartition(3).write.parquet(path)

    n = S.delete_where(spark, path, "tag = 'purge'")
    assert n == 2
    left = {r.doc_id for r in S.read_table(spark, path).collect()}
    assert left == {1, 3, 5}  # NULL-tag row 3 survives

    # no-op delete: nothing matches -> no new generation is burned
    man_before = S._load_manifest(path)
    assert S.delete_where(spark, path, "tag = 'absent'") == 0
    assert S._load_manifest(path) == man_before

    # takedown-by-id-list with snapshot retention: the pre-delete
    # snapshot is still readable (and still CONTAINS the deleted row —
    # the documented erasure caveat), the live view does not
    assert S.delete_where(
        spark, path, "doc_id IN (5)", retain_versions=1
    ) == 1
    assert {r.doc_id for r in S.read_table(spark, path).collect()} == {1, 3}
    v_prev = S.table_versions(path)[0]["gen_no"]
    assert {
        r.doc_id
        for r in S.read_table(spark, path, version=v_prev).collect()
    } == {1, 3, 5}

    # a lying layout (row mutation outside the declared expectation)
    # must abort before the commit point
    with _pytest.raises(RuntimeError, match="row-count mismatch"):
        S.staged_rewrite(
            spark, path, lambda d: d.limit(1), "._compact",
        )
    assert {r.doc_id for r in S.read_table(spark, path).collect()} == {1, 3}


def test_merge_into_upsert_semantics(spark, tmp_path):
    """MERGE: matched keys replaced, unmatched inserted, NULL-keyed
    update rows inserted (never matched), dup-key and schema-drift
    batches rejected before any write, snapshot composition intact."""
    import pytest as _pytest

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "cust")
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, seg string, ltv double",
    ).write.parquet(path)
    # the plain pre-manifest layout is not a snapshot — establish v1
    S.compact_parquet(spark, path, target_files=1)

    res = S.merge_into(
        spark,
        path,
        spark.createDataFrame(
            [(2, "b2", 25.0), (4, "d", 40.0), (None, "x", 0.0)],
            "id long, seg string, ltv double",
        ),
        keys=["id"],
        retain_versions=1,
        broadcast_updates=True,
    )
    assert res == {"updated": 1, "inserted": 2, "matched_rows": 1}
    rows = {
        r.id: (r.seg, r.ltv) for r in S.read_table(spark, path).collect()
    }
    assert rows[2] == ("b2", 25.0) and rows[4] == ("d", 40.0)
    assert rows[1] == ("a", 10.0) and rows[None] == ("x", 0.0)
    # pre-merge snapshot retained
    v_prev = S.table_versions(path)[0]["gen_no"]
    assert S.read_table(spark, path, version=v_prev).count() == 3

    with _pytest.raises(ValueError, match="not unique"):
        S.merge_into(
            spark,
            path,
            spark.createDataFrame(
                [(9, "x", 1.0), (9, "y", 2.0)],
                "id long, seg string, ltv double",
            ),
            keys=["id"],
        )
    with _pytest.raises(ValueError, match="schema mismatch"):
        S.merge_into(
            spark,
            path,
            spark.createDataFrame([(9, "x")], "id long, seg string"),
            keys=["id"],
        )
    # empty batch is a no-op
    empty = spark.createDataFrame([], "id long, seg string, ltv double")
    assert S.merge_into(spark, path, empty, keys=["id"]) == {
        "updated": 0,
        "inserted": 0,
        "matched_rows": 0,
    }


def test_merge_broadcast_keeps_table_unshuffled(spark, tmp_path):
    """With broadcast_updates the MERGE plan must contain no
    hashpartitioning of the table side — the patch broadcasts."""
    import contextlib
    import io

    import retail_sales_data_pipeline_spark.sinks as S

    old = spark.range(1000).selectExpr("id", "cast(id as double) as v")
    upd = spark.range(5).selectExpr("id", "cast(99.0 as double) as v")
    merged = S._merge_frames(old, upd, ["id"], broadcast_updates=True)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        merged.explain("formatted")
    p = buf.getvalue()
    assert "BroadcastHashJoin" in p
    assert "hashpartitioning" not in p, p


def test_rollback_and_table_changes(spark, tmp_path):
    """RESTORE is metadata-only (manifest re-point, no rewrite), is
    itself reversible, supersedes post-snapshot appends, and
    table_changes replays the row-level diff between snapshots."""
    import os

    import pytest as _pytest

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    ).write.parquet(path)
    S.compact_parquet(spark, path, target_files=1)            # v1
    S.delete_where(spark, path, "id = 2", retain_versions=2)  # v2
    S.merge_into(
        spark,
        path,
        spark.createDataFrame([(4, "d")], "id long, v string"),
        keys=["id"],
        retain_versions=2,
    )                                                         # v3

    # CDF between snapshots: v1 -> v3 is one delete + one insert
    changes = {
        (r.id, r._change_type)
        for r in S.table_changes(spark, path, 1, 3).collect()
    }
    assert changes == {(2, "delete"), (4, "insert")}
    # v_to=None diffs against the live view (== v3 here)
    assert S.table_changes(spark, path, 3).count() == 0

    # restore v1; a post-snapshot append is superseded by the restore
    S.append_table(
        spark.createDataFrame([(9, "z")], "id long, v string"), path
    )
    before = {f for f in os.listdir(path) if f.startswith("gen-")}
    new_no = S.rollback(spark, path, 1)
    assert new_no == 4
    assert {f for f in os.listdir(path) if f.startswith("gen-")} == before
    assert {r.id for r in S.read_table(spark, path).collect()} == {1, 2, 3}
    # the rolled-back-FROM state is still reachable -> roll forward
    assert 3 in {v["gen_no"] for v in S.table_versions(path)}
    S.rollback(spark, path, 3)
    assert {r.id for r in S.read_table(spark, path).collect()} == {1, 3, 4}

    with _pytest.raises(ValueError, match="not retained"):
        S.rollback(spark, path, 99)
    plain = str(tmp_path / "plain")
    spark.range(3).write.parquet(plain)
    with _pytest.raises(ValueError, match="nothing to roll back"):
        S.rollback(spark, plain, 1)


# ---------------------------------------------------------------- round 7:
# file-granular copy-on-write, writer fencing, CDC sidecars


def _sorted_table(spark, path, n=6000, files=6):
    """A manifest table of `files` id-sorted files with disjoint id
    ranges, so footer min/max stats can prune key lookups to one file."""
    import retail_sales_data_pipeline_spark.sinks as S

    spark.range(n).selectExpr(
        "id", "cast(id as double) as v", "concat('r', id) as tag"
    ).write.mode("overwrite").parquet(path)
    S.compact_parquet(spark, path, target_files=files, sort_col="id")
    return S._load_manifest(path)


def test_merge_rewrites_only_touched_files(spark, tmp_path):
    """The 100 TB property: a metadata-sized patch must carry every
    unmatched file into the new manifest BY REFERENCE and rewrite only
    the files whose key range actually holds a matched key."""
    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    man = _sorted_table(spark, path, n=6000, files=6)
    before = {e["name"] for e in man["files"]}
    assert len(before) == 6

    # patch hits ids 10..12 — all inside ONE of the six sorted files
    patch = spark.createDataFrame(
        [(10, 0.0, "p"), (11, 0.0, "p"), (12, 0.0, "p")],
        "id long, v double, tag string",
    )
    res = S.merge_into(spark, path, patch, keys=["id"],
                       broadcast_updates=True)
    assert res == {"updated": 3, "inserted": 0, "matched_rows": 3}
    man2 = S._load_manifest(path)
    after = {e["name"] for e in man2["files"]}
    carried = before & after
    # ids 10..12 sit inside one sorted file (two if a sampled range
    # boundary splits them): at least 4 of 6 files carry BY REFERENCE
    assert len(carried) >= 4, (before, after)
    new = after - before
    assert all(n.startswith(man2["generation"]) for n in new)
    rows = {r.id: r.tag for r in S.read_table(spark, path).collect()}
    assert rows[10] == rows[11] == rows[12] == "p"
    assert rows[9] == "r9" and rows[13] == "r13"
    assert len(rows) == 6000

    # pure insert (no key matches): rewrite NOTHING — every previous
    # file carries, the new generation is just the inserted rows
    ins = spark.createDataFrame(
        [(99990, 1.0, "new")], "id long, v double, tag string"
    )
    res = S.merge_into(spark, path, ins, keys=["id"],
                       broadcast_updates=True)
    assert res == {"updated": 0, "inserted": 1, "matched_rows": 0}
    man3 = S._load_manifest(path)
    assert after <= {e["name"] for e in man3["files"]}
    assert S.read_table(spark, path).count() == 6001


def test_delete_rewrites_only_touched_files(spark, tmp_path):
    """delete_where identifies matched files with one predicate-column
    scan and rewrites only those; the rest carry by reference."""
    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    man = _sorted_table(spark, path, n=6000, files=6)
    before = {e["name"] for e in man["files"]}

    n = S.delete_where(spark, path, "id IN (5000, 5001)")
    assert n == 2
    man2 = S._load_manifest(path)
    after = {e["name"] for e in man2["files"]}
    # the two deleted ids touch one file (two across a sampled range
    # boundary): at least 4 of 6 carry by reference
    assert len(before & after) >= 4, (before, after)
    assert S.read_table(spark, path).count() == 5998
    got = {r.id for r in
           S.read_table(spark, path).where("id >= 4998").collect()}
    assert 5000 not in got and 5001 not in got and 4999 in got


def test_merge_folds_appends_file_granularly(spark, tmp_path):
    """Loose append batches are folded at DML time: touched appends are
    rewritten, untouched ones are ADOPTED (byte copy, no Spark job) —
    and after the commit no loose files remain unaccounted."""
    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    _sorted_table(spark, path, n=1000, files=2)
    S.append_table(
        spark.createDataFrame([(7000, 0.0, "a1")],
                              "id long, v double, tag string").coalesce(1),
        path)
    S.append_table(
        spark.createDataFrame([(8000, 0.0, "a2")],
                              "id long, v double, tag string").coalesce(1),
        path)
    patch = spark.createDataFrame([(8000, 1.0, "upd")],
                                  "id long, v double, tag string")
    res = S.merge_into(spark, path, patch, keys=["id"],
                       broadcast_updates=True)
    assert res["updated"] == 1 and res["matched_rows"] == 1
    man = S._load_manifest(path)
    names = [e["name"] for e in man["files"]]
    # untouched append adopted by copy, touched one rewritten
    assert sum("adopted-" in n for n in names) == 1
    rows = {r.id: r.tag for r in
            S.read_table(spark, path).where("id >= 7000").collect()}
    assert rows == {7000: "a1", 8000: "upd"}
    # both loose files superseded; live view reads them through the
    # manifest only
    assert set(man["superseded"]) >= set(S._top_level_part_files(path))
    assert S.read_table(spark, path).count() == 1002


def test_merge_pre_write_actions_pinned(spark, tmp_path):
    """The merge pre-phase is exactly TWO Spark actions (one update-
    batch aggregate, one rollup identification scan) — the four
    counting passes of the round-6 shape are retired."""
    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    _sorted_table(spark, path, n=2000, files=4)
    patch = spark.createDataFrame(
        [(5, 0.0, "p"), (4999, 0.0, "q")], "id long, v double, tag string"
    )
    calls = {"n": 0, "depth": 0}
    # patch the CONCRETE DataFrame class (Spark 4 splits classic/connect
    # subclasses off the pyspark.sql.DataFrame base); count only
    # TOP-LEVEL actions (first() delegates to collect() internally)
    DataFrame = type(patch)
    orig_first, orig_collect = DataFrame.first, DataFrame.collect

    def counting_first(self):
        if calls["depth"] == 0:
            calls["n"] += 1
        calls["depth"] += 1
        try:
            return orig_first(self)
        finally:
            calls["depth"] -= 1

    def counting_collect(self):
        if calls["depth"] == 0:
            calls["n"] += 1
        calls["depth"] += 1
        try:
            return orig_collect(self)
        finally:
            calls["depth"] -= 1

    DataFrame.first, DataFrame.collect = counting_first, counting_collect
    try:
        res = S.merge_into(spark, path, patch, keys=["id"],
                           broadcast_updates=True)
    finally:
        DataFrame.first, DataFrame.collect = orig_first, orig_collect
    assert res["updated"] == 1 and res["inserted"] == 1
    assert calls["n"] == 2, f"merge ran {calls['n']} driver actions, want 2"


def test_merge_duplicate_key_target_reported(spark, tmp_path):
    """A target holding N rows for one key collapses to the single
    update row — reported via matched_rows > updated plus a warning,
    and 'inserted' is computed from distinct keys (never negative)."""
    import warnings

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, "a"), (1, "a-dup"), (2, "b")], "id long, v string"
    ).write.parquet(path)
    S.compact_parquet(spark, path, target_files=1)
    patch = spark.createDataFrame([(1, "upd")], "id long, v string")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        res = S.merge_into(spark, path, patch, keys=["id"])
    assert res == {"updated": 1, "inserted": 0, "matched_rows": 2}
    assert any("duplicate keys" in str(w.message) for w in caught)
    rows = sorted((r.id, r.v) for r in S.read_table(spark, path).collect())
    assert rows == [(1, "upd"), (2, "b")]


def test_merge_null_keyed_updates_never_ambiguous(spark, tmp_path):
    """Two NULL-keyed update rows are pure inserts (SQL join semantics)
    and must NOT trip the ambiguous-merge uniqueness guard."""
    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(path)
    S.compact_parquet(spark, path, target_files=1)
    patch = spark.createDataFrame(
        [(None, "x"), (None, "y"), (1, "upd")], "id long, v string"
    )
    res = S.merge_into(spark, path, patch, keys=["id"])
    assert res == {"updated": 1, "inserted": 2, "matched_rows": 1}
    assert S.read_table(spark, path).count() == 3


def test_writer_fencing_concurrent_rewrite(spark, tmp_path):
    """Two interleaved rewrites: exactly one commits; the loser raises
    ConcurrentWriteError at its commit point (instead of silently
    orphaning the winner's rows) and the table stays readable as the
    winner's state."""
    import pytest as _pytest

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    _write_tbl(spark, path, n=2000, parts=8)
    S.compact_parquet(spark, path, target_files=4)  # gen 1

    def layout(df):
        # writer B runs to completion AFTER A froze its read set and
        # generation number but BEFORE A stages/commits
        S.compact_parquet(spark, path, target_files=2, retain_versions=2)
        return df.repartition(3)

    with _pytest.raises(S.ConcurrentWriteError, match="generation moved"):
        S.staged_rewrite(spark, path, layout, "._compact")
    man = S._load_manifest(path)
    assert man["gen_no"] == 2  # B's commit is the table
    assert S.read_table(spark, path).count() == 2000
    assert S.read_table(spark, path).groupBy().sum("id").first()[0] \
        == 2000 * 1999 // 2


def test_commit_lock_blocks_second_writer(tmp_path):
    """A held (fresh) commit lock rejects a second committer loudly; a
    stale lock from a crashed writer is broken after the TTL."""
    import os
    import time

    import pytest as _pytest

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    os.makedirs(path)
    lock = os.path.join(path, S._MANIFEST + ".lock")
    with open(lock, "w"):
        pass
    with _pytest.raises(S.ConcurrentWriteError, match="commit lock"):
        S._commit_manifest(path, {"gen_no": 1}, expect_gen=0)
    # stale lock (crashed holder): broken, commit proceeds
    old = time.time() - 2 * S._LOCK_TTL_SECONDS
    os.utime(lock, (old, old))
    S._commit_manifest(path, {"gen_no": 1, "files": [],
                              "superseded": [], "history": []},
                       expect_gen=0)
    assert S._load_manifest(path)["gen_no"] == 1
    assert not os.path.exists(lock)


def test_dml_crash_before_commit_leaves_table_intact(spark, tmp_path):
    """File-granular DML keeps the crash contract: a merge dying before
    its manifest commit leaves the pre-merge table byte-identical to
    readers, and a clean retry succeeds."""
    import pytest as _pytest

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    man = _sorted_table(spark, path, n=1000, files=4)
    patch = spark.createDataFrame([(5, 0.0, "p")],
                                  "id long, v double, tag string")

    def boom(*a, **k):
        raise RuntimeError("crash before commit")

    orig = S._commit_manifest
    S._commit_manifest = boom
    try:
        with _pytest.raises(RuntimeError, match="crash before commit"):
            S.merge_into(spark, path, patch, keys=["id"],
                         broadcast_updates=True)
    finally:
        S._commit_manifest = orig
    assert S._load_manifest(path) == man  # commit really didn't happen
    assert {r.tag for r in
            S.read_table(spark, path).where("id = 5").collect()} == {"r5"}
    res = S.merge_into(spark, path, patch, keys=["id"],
                       broadcast_updates=True)
    assert res["updated"] == 1
    assert {r.tag for r in
            S.read_table(spark, path).where("id = 5").collect()} == {"p"}


def test_table_changes_adjacent_reads_cdc_sidecar(spark, tmp_path):
    """Adjacent-version CDF is a metadata-priced sidecar read: correct
    values, and a plan with NO exceptAll and NO exchange. Gaps and
    rollbacks fall back to the snapshot diff."""
    import contextlib
    import io

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    ).write.parquet(path)
    S.compact_parquet(spark, path, target_files=1)            # v1
    S.delete_where(spark, path, "id = 2", retain_versions=3)  # v2
    S.merge_into(
        spark, path,
        spark.createDataFrame([(3, "c2"), (4, "d")], "id long, v string"),
        keys=["id"], retain_versions=3,
    )                                                         # v3

    adj = S.table_changes(spark, path, 1, 2)
    assert {(r.id, r._change_type) for r in adj.collect()} == {(2, "delete")}
    adj2 = S.table_changes(spark, path, 2, 3)
    assert {(r.id, r._change_type) for r in adj2.collect()} == {
        (3, "delete"), (3, "insert"), (4, "insert")
    }
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        adj2.explain("formatted")
    plan = buf.getvalue()
    assert "Except" not in plan and "Exchange" not in plan, plan

    # layout passes record an EMPTY feed — still no exceptAll
    S.compact_parquet(spark, path, target_files=1, retain_versions=3)  # v4
    adj3 = S.table_changes(spark, path, 3, 4)
    assert adj3.count() == 0
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        adj3.explain("formatted")
    assert "Except" not in buf.getvalue()

    # version gap: falls back to the snapshot diff, same answer shape
    gap = S.table_changes(spark, path, 1, 3)
    assert {(r.id, r.v, r._change_type) for r in gap.collect()} == {
        (2, "b", "delete"), (3, "c", "delete"),
        (3, "c2", "insert"), (4, "d", "insert"),
    }
    # exceptAll compiles to union+aggregate: the fallback's signature
    # in the physical plan is the shuffle it needs (absent on the
    # sidecar path)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        gap.explain("formatted")
    assert "Exchange" in buf.getvalue()


def test_cdc_covers_adopted_and_folded_appends(spark, tmp_path):
    """Loose appends entering a version must never vanish from the
    change feed: an ADOPTED append joins the commit's CDC insert list by
    reference (exact, zero extra bytes), while a commit that FOLDS loose
    rows into rewritten files records an UNKNOWN feed (cdc=None) so
    table_changes falls back to the snapshot diff and the feed raises
    instead of silently reporting no change."""
    import pytest as _pytest

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    ).write.parquet(path)
    S.compact_parquet(spark, path, target_files=1)            # v1
    # loose append, UNTOUCHED by the delete -> adopted by reference
    S.append_table(
        spark.createDataFrame([(10, "x")], "id long, v string"), path
    )
    S.delete_where(spark, path, "id = 2", retain_versions=3)  # v2
    adj = S.table_changes(spark, path, 1, 2)
    assert {(r.id, r._change_type) for r in adj.collect()} == {
        (2, "delete"), (10, "insert")
    }
    feed = S.table_changes_feed(spark, path, 1, 2)
    assert {(r.id, r._change_type) for r in feed.collect()} == {
        (2, "delete"), (10, "insert")
    }

    # loose append TOUCHED by the delete -> folded into the rewrite:
    # the hop's exact row set is unknowable from sidecars
    S.append_table(
        spark.createDataFrame(
            [(20, "y"), (21, "z")], "id long, v string"
        ),
        path,
    )
    S.delete_where(spark, path, "id = 21", retain_versions=3)  # v3
    assert S._load_manifest(path).get("cdc") is None
    adj2 = S.table_changes(spark, path, 2, 3)  # snapshot-diff fallback
    assert {(r.id, r._change_type) for r in adj2.collect()} == {
        (20, "insert")
    }
    with _pytest.raises(ValueError, match="no change feed"):
        S.table_changes_feed(spark, path, 2, 3)


def test_rollback_retention_and_vacuum_ttl(spark, tmp_path):
    """rollback accepts retain_versions (history stops growing across
    repeated rollbacks) and leaves superseded appends to the vacuum TTL
    instead of retiring them instantly — a mistaken restore stays
    recoverable for the grace period."""
    import os
    import time

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(path)
    S.compact_parquet(spark, path, target_files=1)                 # v1
    S.merge_into(spark, path,
                 spark.createDataFrame([(2, "b")], "id long, v string"),
                 keys=["id"], retain_versions=3)                   # v2
    S.append_table(
        spark.createDataFrame([(9, "z")], "id long, v string"), path)
    append_files = set(S._top_level_part_files(path))
    assert append_files

    S.rollback(spark, path, 1, retain_versions=2)                  # v3
    # superseded append still on disk (vacuum's TTL owns it) but
    # invisible to readers
    assert set(S._top_level_part_files(path)) == append_files
    assert {r.id for r in S.read_table(spark, path).collect()} == {1}
    # history keeps BOTH the restored version (still addressable) and
    # the rolled-from version, trimmed to retain_versions
    assert [h["gen_no"] for h in S._load_manifest(path)["history"]] == [1, 2]
    S.rollback(spark, path, 2, retain_versions=2)                  # v4
    assert [h["gen_no"] for h in S._load_manifest(path)["history"]] == [2, 3]
    assert {r.id for r in S.read_table(spark, path).collect()} == {1, 2}

    # the TTL-expired superseded append is vacuumed, nothing live is
    now = time.time() + 100_000
    removed = S.vacuum_staging(str(tmp_path), ttl_seconds=24 * 3600, now=now)
    assert append_files <= {os.path.basename(p) for p in removed}
    assert {r.id for r in S.read_table(spark, path).collect()} == {1, 2}


def test_merge_schema_evolution(spark, tmp_path):
    """evolve_schema=True: the update batch may add or omit columns;
    carried files keep the old physical schema at zero rewrite cost and
    every read path NULL-extends them; the mark clears on the next full
    rewrite."""
    import pytest as _pytest

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    spark.range(1000).selectExpr(
        "id", "cast(id as double) as v"
    ).write.parquet(path)
    S.compact_parquet(spark, path, target_files=4, sort_col="id")  # v1
    before = {e["name"] for e in S._load_manifest(path)["files"]}

    widened = spark.createDataFrame(
        [(5, -1.0, "gold"), (5000, -2.0, "new")],
        "id long, v double, seg string",
    )
    # without opt-in the widened batch is rejected, loudly and helpfully
    with _pytest.raises(ValueError, match="evolve_schema=True"):
        S.merge_into(spark, path, widened, keys=["id"])
    res = S.merge_into(spark, path, widened, keys=["id"],
                       broadcast_updates=True, evolve_schema=True,
                       retain_versions=2)                          # v2
    assert res["updated"] == 1 and res["inserted"] == 1
    man = S._load_manifest(path)
    assert man.get("mixed_schema") is True
    # untouched files carried by reference despite the schema change
    assert len(before & {e["name"] for e in man["files"]}) >= 3

    live = S.read_table(spark, path)
    assert set(live.columns) == {"id", "v", "seg"}
    rows = {r.id: r.seg for r in
            live.where("id IN (4, 5, 5000)").collect()}
    assert rows == {4: None, 5: "gold", 5000: "new"}
    assert live.count() == 1001

    # narrower batch after evolution: omitted column -> NULL insert
    narrow = spark.createDataFrame([(7000,)], "id long")
    res = S.merge_into(spark, path, narrow, keys=["id"],
                       broadcast_updates=True, evolve_schema=True,
                       retain_versions=2)                          # v3
    assert res["inserted"] == 1
    got = S.read_table(spark, path).where("id = 7000").first()
    assert got.v is None and got.seg is None

    # the new column is a first-class predicate target everywhere
    from retail_sales_data_pipeline_spark.data_skipping import scan_table
    assert scan_table(spark, path, "seg = 'gold'").count() == 1
    assert S.delete_where(spark, path, "seg = 'new'",
                          retain_versions=3) == 1                 # v4

    # time travel to the pre-evolution snapshot still answers
    assert S.read_table(spark, path, version=2).count() == 1001

    # CDC feed across the evolving commits NULL-extends sidecars
    feed = S.table_changes_feed(spark, path, 2, 4)
    assert {"id", "v", "seg", "_change_type", "_commit_version"} <= set(
        feed.columns
    )
    assert {(r.id, r._change_type) for r in feed.collect()} == {
        (7000, "insert"), (5000, "delete"),
    }

    # a full rewrite unifies the physical schema and clears the mark
    S.compact_parquet(spark, path, target_files=2)                 # v5
    man = S._load_manifest(path)
    assert "mixed_schema" not in man
    assert set(S.read_table(spark, path).columns) == {"id", "v", "seg"}
    assert S.read_table(spark, path).count() == 1001


def test_append_racing_rewrite_stays_visible(spark, tmp_path):
    """The ADVICE r6 race: an append_table batch landing AFTER the
    rewrite froze its directory snapshot must NOT be marked superseded
    — its rows stay visible as a loose file and fold into the NEXT
    rewrite."""
    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    _write_tbl(spark, path, n=1000, parts=4)
    S.compact_parquet(spark, path, target_files=2)

    def layout(df):
        # the racing append: lands after the rewrite read its snapshot
        S.append_table(
            spark.range(1000, 1010).selectExpr(
                "id", "cast(0.0 as double) as a", "cast(0.0 as double) as b"
            ).coalesce(1),
            path,
        )
        return df.repartition(2)

    S.staged_rewrite(spark, path, layout, "._compact")
    man = S._load_manifest(path)
    racer = S._top_level_part_files(path)
    assert racer, "the racing append should still be a loose file"
    assert not set(racer) & set(man["superseded"])
    assert S.read_table(spark, path).count() == 1010  # nothing lost
    S.compact_parquet(spark, path, target_files=2)  # next rewrite folds it
    assert S.read_table(spark, path).count() == 1010
    assert S._top_level_part_files(path) == []


def test_retry_on_conflict_wins_second_attempt(spark, tmp_path):
    """A fenced loser re-run by retry_on_conflict recomputes against
    the winner's state and lands cleanly."""
    import pytest as _pytest

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    _write_tbl(spark, path, n=1000, parts=4)
    S.compact_parquet(spark, path, target_files=2)

    fired = {"n": 0}

    def layout(df):
        if fired["n"] == 0:
            fired["n"] = 1  # interfere exactly once
            S.compact_parquet(spark, path, target_files=4,
                              retain_versions=2)
        return df.repartition(3)

    n_files = S.retry_on_conflict(
        lambda: S.staged_rewrite(spark, path, layout, "._compact")
    )
    assert n_files == 3
    assert S.read_table(spark, path).count() == 1000
    # attempts exhausted -> the conflict propagates
    def always_lose():
        raise S.ConcurrentWriteError("synthetic")

    with _pytest.raises(S.ConcurrentWriteError):
        S.retry_on_conflict(always_lose, attempts=2)


def test_update_where_semantics_and_granularity(spark, tmp_path):
    """UPDATE: assignments apply to predicate-TRUE rows only (evaluated
    against the PRE-update row, so swaps work), row count is preserved,
    only matched files rewrite, and the CDC feed carries
    preimage/postimage pairs."""
    import pytest as _pytest

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    _sorted_table(spark, path, n=6000, files=6)
    before = {e["name"] for e in S._load_manifest(path)["files"]}

    n = S.update_where(
        spark, path,
        {"tag": "'upd'", "v": "v + 1000"},
        "id BETWEEN 10 AND 12",
        retain_versions=2,
    )
    assert n == 3
    man = S._load_manifest(path)
    assert len(before & {e["name"] for e in man["files"]}) >= 4
    live = S.read_table(spark, path)
    assert live.count() == 6000
    rows = {r.id: (r.tag, r.v) for r in
            live.where("id BETWEEN 9 AND 13").collect()}
    assert rows[10] == ("upd", 1010.0) and rows[12] == ("upd", 1012.0)
    assert rows[9] == ("r9", 9.0) and rows[13] == ("r13", 13.0)

    # CDC: update = preimage delete + postimage insert
    v = man["gen_no"]
    changes = {(r.id, r.tag, r._change_type) for r in
               S.table_changes(spark, path, v - 1, v).collect()}
    assert changes == {
        (10, "r10", "delete"), (11, "r11", "delete"), (12, "r12", "delete"),
        (10, "upd", "insert"), (11, "upd", "insert"), (12, "upd", "insert"),
    }

    # swap: both assignments see the PRE-update row
    p2 = str(tmp_path / "swap")
    spark.createDataFrame([(1, 2.0, 3.0)], "id long, a double, b double"
                          ).write.parquet(p2)
    S.compact_parquet(spark, p2, target_files=1)
    S.update_where(spark, p2, {"a": "b", "b": "a"}, "id = 1")
    got = S.read_table(spark, p2).first()
    assert (got.a, got.b) == (3.0, 2.0)

    # NULL-predicate rows are untouched (ANSI semantics)
    p3 = str(tmp_path / "nulls")
    spark.createDataFrame(
        [(1, "x"), (2, None)], "id long, t string"
    ).write.parquet(p3)
    S.compact_parquet(spark, p3, target_files=1)
    assert S.update_where(spark, p3, {"id": "id + 10"}, "t = 'x'") == 1
    assert {r.id for r in S.read_table(spark, p3).collect()} == {11, 2}

    # guards: unknown column, provably-no-match no-op
    with _pytest.raises(ValueError, match="unknown columns"):
        S.update_where(spark, path, {"nope": "1"}, "id = 1")
    man_before = S._load_manifest(path)
    assert S.update_where(spark, path, {"tag": "'z'"}, "id = 999999") == 0
    assert S._load_manifest(path) == man_before


def test_describe_history_commit_log(spark, tmp_path):
    """DESCRIBE HISTORY: per-commit operation names, row counts, and
    monotone commit timestamps, ending at the current version."""
    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"
                          ).write.parquet(path)
    S.compact_parquet(spark, path, target_files=1)                  # v1
    S.merge_into(spark, path,
                 spark.createDataFrame([(3, "c")], "id long, v string"),
                 keys=["id"], retain_versions=5)                    # v2
    S.update_where(spark, path, {"v": "'x'"}, "id = 1",
                   retain_versions=5)                               # v3
    S.delete_where(spark, path, "id = 2", retain_versions=5)        # v4
    S.rollback(spark, path, 3, retain_versions=5)                   # v5

    hist = S.describe_history(path)
    assert [h["gen_no"] for h in hist] == [1, 2, 3, 4, 5]
    assert [h["op"] for h in hist] == [
        "compact", "merge", "update", "delete", "restore(3)"
    ]
    assert [h["rows"] for h in hist] == [2, 3, 3, 2, 3]
    stamps = [h["committed_at"] for h in hist]
    assert all(a <= b for a, b in zip(stamps, stamps[1:]))
    assert all(h["n_files"] >= 1 for h in hist)
    # unmanaged table: empty log
    plain = str(tmp_path / "plain")
    spark.range(3).write.parquet(plain)
    assert S.describe_history(plain) == []


def test_cdc_sidecars_retire_with_their_versions(spark, tmp_path):
    """Sidecar lifecycle: a version's CDC files live exactly as long as
    the version is known (current or retained); an unretained DML chain
    leaves no sidecar litter, and retained versions keep theirs."""
    import glob as _glob
    import os

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"
                          ).write.parquet(path)
    S.compact_parquet(spark, path, target_files=1)

    def cdc_dirs():
        return sorted(
            p for p in _glob.glob(os.path.join(path, "gen-*", "cdc-*"))
        )

    # unretained chain: each commit retires the previous version AND
    # its sidecars — only the current version's feed remains
    for i in range(3):
        S.merge_into(
            spark, path,
            spark.createDataFrame([(10 + i, "x")], "id long, v string"),
            keys=["id"],
        )
        dirs = cdc_dirs()
        man = S._load_manifest(path)
        assert all(man["generation"] in d for d in dirs), (i, dirs)

    # retained chain: history versions keep their sidecars on disk
    S.delete_where(spark, path, "id = 10", retain_versions=2)
    S.update_where(spark, path, {"v": "'y'"}, "id = 11",
                   retain_versions=2)
    known = {man_v.get("generation")
             for man_v in [S._load_manifest(path)]
             } | {h.get("generation")
                  for h in S._load_manifest(path)["history"]}
    for d in cdc_dirs():
        assert any(g and g in d for g in known), d
    # and the feed over the retained span still replays
    feed = S.table_changes_feed(
        spark, path, S._load_manifest(path)["gen_no"] - 2
    )
    # delete(10) + update(11) as preimage-delete + postimage-insert
    assert feed.count() == 3


def test_convert_to_manifest_zero_rewrite(spark, tmp_path):
    """CONVERT TO DELTA analogue: adopting a plain directory writes NO
    data bytes — existing files become stats-carrying manifest entries
    in place, and subsequent DML is file-granular over the ORIGINALS."""
    import os

    import retail_sales_data_pipeline_spark.sinks as S
    from retail_sales_data_pipeline_spark.data_skipping import (
        files_scanned,
        scan_table,
    )

    path = str(tmp_path / "tbl")
    spark.range(4000).selectExpr(
        "id", "cast(id as double) as v"
    ).repartitionByRange(4, "id").sortWithinPartitions("id"
                                                      ).write.parquet(path)
    originals = set(S._top_level_part_files(path))
    mtimes = {f: os.path.getmtime(f"{path}/{f}") for f in originals}

    assert S.convert_to_manifest(spark, path) == 1
    assert S.convert_to_manifest(spark, path) == 1  # idempotent no-op
    man = S._load_manifest(path)
    assert {e["name"] for e in man["files"]} == originals
    assert man["op"] == "convert" and man["rows"] == 4000
    # no data file was touched, let alone rewritten
    assert all(
        os.path.getmtime(f"{path}/{f}") == mtimes[f] for f in originals
    )
    assert S.read_table(spark, path).count() == 4000
    # adopted files prune like any other (footer stats were captured)
    assert files_scanned(path, "id BETWEEN 10 AND 20") < 4
    assert scan_table(spark, path, "id = 17").count() == 1

    # appends stay loose (not confused with adopted referenced files)
    S.append_table(
        spark.createDataFrame([(9999, 0.0)], "id long, v double"
                              ).coalesce(1), path)
    assert S.read_table(spark, path).count() == 4001

    # file-granular DML over the adopted layout: one original touched,
    # the rest stay in place untouched
    n = S.delete_where(spark, path, "id IN (100, 101)")
    assert n == 2
    man2 = S._load_manifest(path)
    carried = originals & {e["name"] for e in man2["files"]}
    assert len(carried) == 3
    # the dropped original is superseded (crash-safe even if its
    # physical delete had failed) and actually gone
    dropped = originals - carried
    assert dropped <= set(man2["superseded"])
    assert not any(os.path.exists(f"{path}/{f}") for f in dropped)
    assert S.read_table(spark, path).count() == 3999
    # untouched originals still physically identical
    assert all(
        os.path.getmtime(f"{path}/{f}") == mtimes[f] for f in carried
    )


def test_check_constraints_commit_time_enforcement(spark, tmp_path):
    """CHECK constraints: full-table validation once at ADD (rejecting
    a constraint existing rows violate), then every commit validates
    only its own new files and aborts BEFORE the commit point —
    including adopted appends, which bypassed every earlier gate."""
    import pytest as _pytest

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "id long, amount double"
    ).write.parquet(path)
    S.convert_to_manifest(spark, path)

    # a constraint the table already violates is rejected outright
    with _pytest.raises(ValueError, match="existing rows violate"):
        S.set_check_constraint(spark, path, "big", "amount > 15")
    assert "constraints" not in S._load_manifest(path)

    S.set_check_constraint(spark, path, "pos", "amount > 0")
    assert S._load_manifest(path)["constraints"] == {"pos": "amount > 0"}

    # violating merge aborts before commit; the table is untouched
    man_before = S._load_manifest(path)
    bad = spark.createDataFrame([(3, -5.0)], "id long, amount double")
    with _pytest.raises(ValueError, match=r"pos.*1 rows"):
        S.merge_into(spark, path, bad, keys=["id"])
    assert S._load_manifest(path) == man_before
    assert S.read_table(spark, path).count() == 2

    # valid commits pass; NULL passes (SQL CHECK semantics)
    ok = spark.createDataFrame(
        [(3, 5.0), (4, None)], "id long, amount double"
    )
    assert S.merge_into(spark, path, ok, keys=["id"])["inserted"] == 2
    assert S.read_table(spark, path).count() == 4

    # a violating UPDATE aborts too
    with _pytest.raises(ValueError, match="pos"):
        S.update_where(spark, path, {"amount": "-amount"}, "id = 1")

    # an append sneaks past (plain write), but the fold that would make
    # it durable is where it gets caught
    S.append_table(
        spark.createDataFrame([(9, -1.0)], "id long, amount double"
                              ).coalesce(1), path)
    with _pytest.raises(ValueError, match="pos"):
        S.compact_parquet(spark, path, target_files=1)
    # drop the constraint -> the fold passes
    S.drop_check_constraint(spark, path, "pos")
    S.compact_parquet(spark, path, target_files=1)
    assert S.read_table(spark, path).count() == 5
    with _pytest.raises(ValueError, match="no CHECK"):
        S.drop_check_constraint(spark, path, "pos")


def test_metadata_commits_record_empty_feed(spark, tmp_path):
    """add/drop-constraint commits change no rows: their own CDC feed
    must be EMPTY, never inherited from the previous commit's sidecars
    (the dict-copy trap)."""
    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, 1.0)], "id long, amount double"
                          ).write.parquet(path)
    S.convert_to_manifest(spark, path)                              # v1
    S.merge_into(spark, path,
                 spark.createDataFrame([(2, 2.0)],
                                       "id long, amount double"),
                 keys=["id"], retain_versions=4)                    # v2
    S.set_check_constraint(spark, path, "pos", "amount > 0")        # v3
    S.drop_check_constraint(spark, path, "pos")                     # v4
    # adjacent diffs across the metadata commits are empty and
    # metadata-priced; the merge's feed stays attributed to v2 only
    assert S.table_changes(spark, path, 2, 3).count() == 0
    assert S.table_changes(spark, path, 3, 4).count() == 0
    feed = S.table_changes_feed(spark, path, 1, 4)
    assert {(r.id, r._change_type, r._commit_version)
            for r in feed.collect()} == {(2, "insert", 2)}


import pytest as _pt


@_pt.mark.parametrize("seed", [20260814, 7])
def test_dml_sequence_model_fuzz(spark, tmp_path, seed):
    """Model-based fuzz of the whole manifest protocol: a seeded random
    sequence of merge/delete/update/append/compact/convert ops executed
    against both the table and a pure-Python dict model, with the live
    view checked after EVERY commit, retained snapshots checked against
    model checkpoints, and a final rollback replaying one. Catches the
    protocol-interaction bugs no single-op test shapes."""
    run_dml_model_fuzz(spark, str(tmp_path / "tbl"), str(tmp_path), seed)


@_pt.mark.parametrize("seed", [60601])
def test_dml_sequence_model_fuzz_sharded(
    spark, tmp_path, seed, monkeypatch
):
    """The model fuzz with tiny shard thresholds: every sequence step
    runs the round-10 selective resolve (verbatim carry through
    delete/update/merge/insert/compact, witness shards, tail folding,
    retention sharing shard objects) and the after-every-commit model
    check plus snapshot checkpoints must stay exact."""
    import retail_sales_data_pipeline_spark.sinks as S

    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 4)
    monkeypatch.setattr(S, "_SHARD_SIZE", 2)
    run_dml_model_fuzz(spark, str(tmp_path / "tbl"), str(tmp_path), seed)


def run_dml_model_fuzz(spark, path, base_dir, seed, steps=24,
                       bloom_cols=None):
    """The fuzz body, path-parameterized so the object-store suite
    (tests/test_manifest_s3.py) replays the same model over s3://.
    ``bloom_cols`` (round 11) sets a bloom policy up front, so every
    fuzzed commit additionally builds sidecars and the final deep
    FSCK sweeps them."""
    import random

    import retail_sales_data_pipeline_spark.sinks as S

    rng = random.Random(seed)
    model = {i: float(i) for i in range(500)}

    def to_rows(d):
        return [(k, v) for k, v in sorted(d.items())]

    S.write_parquet(
        spark.createDataFrame(
            to_rows(model), "id long, v double"
        ).repartition(4),
        path,
    )
    S.convert_to_manifest(spark, path)  # exercise zero-rewrite adoption
    if bloom_cols:
        S.set_bloom_columns(spark, path, bloom_cols)
    next_id = 10_000
    saved: dict[int, dict] = {}

    def check_live():
        got = {r.id: r.v for r in S.read_table(spark, path).collect()}
        assert got == model, (
            f"live divergence: extra={set(got) - set(model)} "
            f"missing={set(model) - set(got)}"
        )

    for step in range(steps):
        op = rng.choice(
            ["merge", "delete", "update", "append", "insert", "compact",
             "small", "materialize", "rollback", "vacuum"]
        )
        retain = rng.choice([0, 0, 2])
        prev_gen = (S._load_manifest(path) or {}).get("gen_no", 0)
        if op == "merge":
            nonlocal_ids = rng.sample(sorted(model), k=min(3, len(model)))
            # (k=0 on an emptied table: the merge becomes pure insert)
            fresh = [next_id + i for i in range(2)]
            next_id += 2
            batch = {i: rng.uniform(0, 1e6) for i in nonlocal_ids + fresh}
            S.merge_into(
                spark, path,
                spark.createDataFrame(to_rows(batch), "id long, v double"),
                keys=["id"], broadcast_updates=bool(rng.getrandbits(1)),
                retain_versions=retain,
                deletion_vectors=bool(rng.getrandbits(1)),
            )
            model.update(batch)
        elif op == "delete":
            if rng.getrandbits(1):
                victims = rng.sample(
                    sorted(model), k=min(4, len(model))
                ) or [-1]  # empty table: a matches-nothing takedown
                gone = set(victims) & set(model)
                if rng.getrandbits(1):
                    # the keyed takedown API (round 12): same
                    # semantics, the _keyed_batch_op regime machinery
                    # under the model check
                    S.delete_keys(
                        spark, path, victims, "id",
                        retain_versions=retain,
                        deletion_vectors=bool(rng.getrandbits(1)),
                    )
                else:
                    S.delete_where(
                        spark, path,
                        f"id IN ({', '.join(map(str, victims))})",
                        retain_versions=retain,
                        deletion_vectors=bool(rng.getrandbits(1)),
                    )
            else:
                cut = rng.uniform(0, 1e6)
                gone = {k for k, v in model.items() if v < cut}
                S.delete_where(
                    spark, path, f"v < {cut}", retain_versions=retain,
                    deletion_vectors=bool(rng.getrandbits(1)),
                )
            for k in gone:
                del model[k]
        elif op == "update":
            bump = rng.randrange(1, 100)
            if rng.getrandbits(1) and model:
                # the keyed relabel API (round 12) rides the fuzz too
                victims = rng.sample(sorted(model), k=min(5, len(model)))
                S.update_keys(
                    spark, path, victims, "id", {"v": f"v + {bump}"},
                    retain_versions=retain,
                    deletion_vectors=bool(rng.getrandbits(1)),
                )
                for k in victims:
                    model[k] = model[k] + bump
            else:
                lo = rng.randrange(0, 500)
                S.update_where(
                    spark, path, {"v": f"v + {bump}"},
                    f"id BETWEEN {lo} AND {lo + 50}",
                    retain_versions=retain,
                    deletion_vectors=bool(rng.getrandbits(1)),
                )
                for k in list(model):
                    if lo <= k <= lo + 50:
                        model[k] = model[k] + bump
        elif op == "append":
            fresh = {next_id + i: float(i) for i in range(3)}
            next_id += 3
            S.append_table(
                spark.createDataFrame(
                    to_rows(fresh), "id long, v double"
                ).coalesce(1),
                path,
            )
            model.update(fresh)
        elif op == "insert":
            # atomic committed append (txn watermark advances with step)
            fresh = {next_id + i: rng.uniform(0, 1e6) for i in range(3)}
            next_id += 3
            S.insert_into(
                spark, path,
                spark.createDataFrame(to_rows(fresh), "id long, v double"),
                retain_versions=retain, txn=("fuzz", step),
            )
            # replay of the same batch id must be a no-op
            assert S.insert_into(
                spark, path,
                spark.createDataFrame(to_rows(fresh), "id long, v double"),
                txn=("fuzz", step),
            ) == 0
            model.update(fresh)
        elif op == "compact":
            S.compact_parquet(spark, path, target_files=3,
                              retain_versions=retain)
        elif op == "materialize":
            S.materialize_deletion_vectors(spark, path,
                                           retain_versions=retain)
        elif op == "rollback":
            # mid-sequence RESTORE to a random retained checkpoint:
            # the model jumps back with it (restore supersedes any
            # pending loose appends — they are in no snapshot)
            avail = {v["gen_no"] for v in S.table_versions(path)}
            cur_gen = (S._load_manifest(path) or {}).get("gen_no", 0)
            cands = sorted((set(saved) & avail) - {cur_gen})
            if cands:
                tgt = rng.choice(cands)
                S.rollback(spark, path, tgt)
                model = dict(saved[tgt])
                saved[S._load_manifest(path)["gen_no"]] = dict(model)
        elif op == "vacuum":
            # TTL fully elapsed: everything dead is collected, nothing
            # live may go with it (this op + a later read is exactly
            # the shape of the rollback-superseded-live-files bug)
            import time as _t

            S.vacuum_staging(base_dir, ttl_seconds=24 * 3600,
                             now=_t.time() + 1_000_000)
        else:
            S.compact_small_files(spark, path, target_bytes=1 << 20,
                                  retain_versions=retain)
        check_live()
        # checkpoint the model ONLY when this op actually committed a
        # version that folds every pending loose append (a snapshot is
        # a file list; appends live only in the live view, and a no-op
        # delete/update commits nothing)
        man = S._load_manifest(path)
        if (
            man
            and retain
            and man["gen_no"] != prev_gen
            and op in ("merge", "delete", "update", "compact",
                       "materialize")
        ):
            saved[man["gen_no"]] = dict(model)

    # standing post-fuzz invariant (r10 verdict #5): the whole random
    # sequence ends with a full-resolve FSCK — deep, so entry facts
    # (rows, physical cols) are re-proven against the actual footers
    fsck = S.verify_table(path, deep=True)
    assert fsck["ok"], fsck["errors"]

    # retained snapshots equal their model checkpoints
    available = {v["gen_no"] for v in S.table_versions(path)}
    checked = 0
    for gen_no, snap in saved.items():
        if gen_no in available and checked < 3:
            got = {
                r.id: r.v
                for r in S.read_table(spark, path, version=gen_no).collect()
            }
            assert got == snap, f"snapshot {gen_no} diverged"
            checked += 1

    # replay one retained checkpoint via rollback (loose appends are
    # superseded by the restore, matching the checkpointed model)
    candidates = sorted(
        (set(saved) & available) - {S._load_manifest(path)["gen_no"]}
    )
    if candidates:
        target = candidates[-1]
        S.rollback(spark, path, target)
        model = saved[target]
        check_live()


def test_dml_crash_after_commit_before_retire(spark, tmp_path, monkeypatch):
    """File-granular crash contract, other side: the manifest commits,
    then the retire of the replaced file crashes — readers must resolve
    the new file list (the dead file is invisible even though present),
    and the TTL vacuum collects it later without touching live files."""
    import os
    import time

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    _sorted_table(spark, path, n=2000, files=4)
    before = {e["name"] for e in S._load_manifest(path)["files"]}

    def boom(paths):
        raise RuntimeError("retire crashed")

    monkeypatch.setattr(S, "_retire", boom)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="retire crashed"):
        S.merge_into(
            spark, path,
            spark.createDataFrame([(7, -1.0, "p")],
                                  "id long, v double, tag string"),
            keys=["id"], broadcast_updates=True,
        )
    monkeypatch.undo()
    man = S._load_manifest(path)
    after = {e["name"] for e in man["files"]}
    dead = before - after
    assert dead  # the replaced file...
    assert all(os.path.exists(f"{path}/{n}") for n in dead)  # ...on disk
    live = S.read_table(spark, path)
    assert live.count() == 2000  # but invisible: no double rows
    assert {r.tag for r in live.where("id = 7").collect()} == {"p"}

    # TTL vacuum collects exactly the dead file's bytes
    now = time.time() + 100_000
    removed = S.vacuum_staging(str(tmp_path), ttl_seconds=24 * 3600,
                               now=now)
    removed_rel = {os.path.relpath(p, path) for p in removed}
    assert dead <= removed_rel
    assert S.read_table(spark, path).count() == 2000


def test_commit_aborts_when_lock_stolen_mid_commit(spark, tmp_path,
                                                   monkeypatch):
    """Stale-lock TTL breaking can race: a second breaker may delete
    the first breaker's FRESH lock. The commit re-reads its owner token
    immediately before the manifest replace and aborts loudly instead
    of double-committing — and must NOT remove the thief's lock."""
    import os

    import pytest as _pytest

    import retail_sales_data_pipeline_spark.sinks as S
    import retail_sales_data_pipeline_spark.storage as _storage

    path = str(tmp_path / "tbl")
    spark.range(10).write.parquet(path)
    S.convert_to_manifest(spark, path)
    man = S._load_manifest(path)
    lock = os.path.join(path, S._MANIFEST + ".lock")
    real_write = _storage._write

    def steal_then_write(tmp, data):  # the fenced put's tmp-file write
        with open(lock, "w") as lf:  # the racing breaker's fresh lock
            lf.write("intruder-token")
        return real_write(tmp, data)

    monkeypatch.setattr(_storage, "_write", steal_then_write)
    new_man = dict(man)
    new_man["gen_no"] = man["gen_no"] + 1
    with _pytest.raises(S.ConcurrentWriteError, match="broken by another"):
        S._commit_manifest(path, new_man, expect_gen=man["gen_no"])
    monkeypatch.undo()
    # manifest untouched; the thief's lock is left in place
    assert S._load_manifest(path)["gen_no"] == man["gen_no"]
    with open(lock) as fh:
        assert fh.read() == "intruder-token"
    os.remove(lock)
    assert S.read_table(spark, path).count() == 10


def test_rollback_on_converted_table_keeps_adopted_files(spark, tmp_path):
    """Regression: a table adopted IN PLACE by convert_to_manifest has
    its live data files at the table root. rollback must not classify
    them as loose appends and supersede them — that would let the next
    commit's retire (or the TTL vacuum) delete the restored version's
    own files."""
    import time

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    spark.range(100).selectExpr("id", "cast(id as double) as v"
                                ).repartition(2).write.parquet(path)
    S.convert_to_manifest(spark, path)                            # v1
    S.delete_where(spark, path, "id = 5", retain_versions=2,
                   deletion_vectors=True)                         # v2
    S.rollback(spark, path, 1)                                    # v3
    man = S._load_manifest(path)
    referenced = {e["name"] for e in man["files"]}
    assert not (set(man["superseded"]) & referenced), (
        "rollback superseded files the restored version references"
    )
    assert S.read_table(spark, path).count() == 100
    # neither a later commit's retire nor the TTL vacuum may touch them
    S.delete_where(spark, path, "id = 7", retain_versions=1)      # v4
    S.vacuum_staging(str(tmp_path), ttl_seconds=24 * 3600,
                     now=time.time() + 100_000)
    assert S.read_table(spark, path).count() == 99
    assert S.read_table(spark, path).where("id = 5").count() == 1


def test_live_files_snapshot_readable_by_duckdb(spark, tmp_path):
    """live_files(version=) is the external-engine interop hook: a
    plain parquet reader (DuckDB here) scans a consistent retained
    snapshot by path list, no manifest understanding needed."""
    import duckdb
    import pytest as _pytest

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    spark.range(100).selectExpr("id", "id * 2 as v").write.parquet(path)
    S.compact_parquet(spark, path, target_files=2)                  # v1
    S.delete_where(spark, path, "id < 50", retain_versions=2)       # v2
    files_v1 = S.live_files(path, version=1)
    files_v2 = S.live_files(path, version=2)
    con = duckdb.connect()
    n1 = con.execute(
        "SELECT count(*) FROM read_parquet(?)", [files_v1]
    ).fetchone()[0]
    n2 = con.execute(
        "SELECT count(*) FROM read_parquet(?)", [files_v2]
    ).fetchone()[0]
    assert (n1, n2) == (100, 50)
    assert S.live_files(path) == files_v2  # live == current version
    with _pytest.raises(ValueError, match="not retained"):
        S.live_files(path, version=99)


def test_register_table_sql_view(spark, tmp_path):
    """Manifest tables are plain SQL citizens via register_table,
    including snapshot views."""
    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"
                          ).write.parquet(path)
    S.compact_parquet(spark, path, target_files=1)
    S.delete_where(spark, path, "id = 2", retain_versions=1)
    S.register_table(spark, "t_live", path)
    S.register_table(spark, "t_v1", path, version=1)
    assert spark.sql("SELECT count(*) c FROM t_live").first().c == 1
    assert spark.sql("SELECT count(*) c FROM t_v1").first().c == 2
    assert spark.sql(
        "SELECT v FROM t_live WHERE id = 1"
    ).first().v == "a"


def test_commit_time_never_rounds_up(monkeypatch):
    """A version's ``committed_at`` is cut to the millisecond, never
    rounded up: an instant read right after the commit (here 0.9 ms
    into the same millisecond) is not before it, so TIMESTAMP AS OF at
    that instant finds the version."""
    import types

    import retail_sales_data_pipeline_spark.sinks as S

    monkeypatch.setattr(S, "time", types.SimpleNamespace(time=lambda: 1792445201.3369))
    assert S._commit_time() <= 1792445201.3369
    assert S._commit_time() == 1792445201.336


def test_timestamp_as_of_and_vacuum_dry_run(spark, tmp_path):
    """TIMESTAMP AS OF resolves the latest retained version committed
    at or before the instant; vacuum's dry_run reports without
    deleting."""
    import os
    import time

    import pytest as _pytest

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(path)
    S.compact_parquet(spark, path, target_files=1)                  # v1
    t_after_v1 = time.time()
    time.sleep(0.05)
    S.merge_into(spark, path,
                 spark.createDataFrame([(2, "b")], "id long, v string"),
                 keys=["id"], retain_versions=3)                    # v2
    time.sleep(0.05)
    S.delete_where(spark, path, "id = 1", retain_versions=3)        # v3

    assert S.version_as_of(path, t_after_v1) == 1
    assert S.version_as_of(path, time.time()) == 3
    assert S.read_table(spark, path, as_of=t_after_v1).count() == 1
    t_mid = S._load_manifest(path)["history"][-1]["committed_at"]
    assert S.read_table(spark, path, as_of=t_mid).count() == 2
    with _pytest.raises(ValueError, match="at or before"):
        S.version_as_of(path, t_after_v1 - 3600)
    with _pytest.raises(ValueError, match="not both"):
        S.read_table(spark, path, version=1, as_of=t_mid)

    # dry-run vacuum: reports the same set a real one removes, touches
    # nothing
    def file_count():
        return sum(len(fs) for _, _, fs in os.walk(path))

    now = time.time() + 100_000
    before = file_count()
    would = S.vacuum_staging(str(tmp_path), ttl_seconds=24 * 3600,
                             now=now, dry_run=True)
    assert file_count() == before  # nothing deleted
    did = S.vacuum_staging(str(tmp_path), ttl_seconds=24 * 3600, now=now)
    assert sorted(would) == sorted(did)
    assert S.read_table(spark, path).count() == 1


def test_check_constraint_evolving_merge_omits_constrained_column(
    spark, tmp_path
):
    """ADVICE r7 #3: an evolve_schema merge whose update batch OMITS a
    constrained column must take the documented NULL-passes CHECK
    semantics (the new files' missing column is NULL-extended), not die
    on an unresolved-column AnalysisException — and a genuinely failing
    pre-commit CHECK scan must clean its staged generation instead of
    leaking it until vacuum."""
    import pytest as _pytest

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, 10.0, "a")], "id long, amount double, tag string"
    ).write.parquet(path)
    S.convert_to_manifest(spark, path)
    S.set_check_constraint(spark, path, "pos", "amount > 0")

    # the update batch omits `amount` entirely: inserted rows get NULL
    # there, and NULL passes CHECK — this used to raise unresolved-column
    patch = spark.createDataFrame([(2, "b")], "id long, tag string")
    res = S.merge_into(spark, path, patch, keys=["id"], evolve_schema=True)
    assert res["inserted"] == 1
    tbl = S.read_table(spark, path)
    assert tbl.count() == 2
    assert tbl.where("amount IS NULL").count() == 1

    # a failing CHECK still cleans its staging (no gen-* leak)
    import os

    bad = spark.createDataFrame([(3, -1.0, "c")],
                                "id long, amount double, tag string")
    gens_before = {
        d for d in os.listdir(path) if d.startswith("gen-")
    }
    with _pytest.raises(ValueError, match="pos"):
        S.merge_into(spark, path, bad, keys=["id"])
    gens_after = {d for d in os.listdir(path) if d.startswith("gen-")}
    assert gens_after == gens_before


def test_describe_detail_and_rollback_as_of(spark, tmp_path):
    """DESCRIBE DETAIL analogue (metadata-priced operational summary)
    and RESTORE ... TIMESTAMP AS OF (rollback(as_of=))."""
    import pytest as _pytest

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    spark.range(100).selectExpr("id", "cast(id as double) v").write.parquet(
        path
    )
    d0 = S.describe_detail(path)
    assert d0["format"] == "parquet(unmanaged)" and d0["size_bytes"] > 0

    S.convert_to_manifest(spark, path)                              # v1
    t_v1 = S._load_manifest(path)["committed_at"]
    S.delete_where(spark, path, "id < 10", retain_versions=3,
                   deletion_vectors=True)                            # v2
    S.append_table(
        spark.createDataFrame([(500, 0.0)], "id long, v double"
                              ).coalesce(1), path)
    S.set_check_constraint(spark, path, "pos", "v >= 0")            # v3
    d = S.describe_detail(path)
    assert d["gen_no"] == 3 and d["rows"] == 91
    assert d["dv_rows"] == 10 and d["loose_appends"] == 1
    assert d["constraints"] == {"pos": "v >= 0"}
    assert d["retained_versions"] == 2
    assert d["num_files"] >= 1 and d["size_bytes"] > 0
    assert "maintenance" not in d  # opt-in only
    # advise=True folds the scheduler decisions into the same call
    d_adv = S.describe_detail(path, advise=True)
    m = d_adv["maintenance"]
    assert m == S.advise_maintenance(path)
    assert set(m) >= {"compact", "materialize_dv", "vacuum", "evidence"}

    # timestamp restore lands on the latest version at-or-before t
    gen = S.rollback(spark, path, as_of=t_v1)
    assert gen == 4
    assert S.read_table(spark, path).count() == 100
    with _pytest.raises(ValueError, match="exactly one"):
        S.rollback(spark, path)
    with _pytest.raises(ValueError, match="exactly one"):
        S.rollback(spark, path, version=1, as_of=t_v1)


def test_advise_maintenance_drives_the_levers(spark, tmp_path):
    """advise_maintenance reads metadata only and its recommendations,
    when executed, clear themselves (the scheduler loop contract)."""
    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    spark.range(4000).selectExpr("id", "cast(id as double) v").write.parquet(
        path
    )
    S.compact_parquet(spark, path, target_files=4, sort_col="id")
    S.delete_where(spark, path, "id < 700", deletion_vectors=True,
                   dv_rewrite_threshold=0.95)  # rots file 0 (70%)
    for i in range(3):
        S.append_table(
            spark.createDataFrame([(9000 + i, 0.0)], "id long, v double"
                                  ).coalesce(1), path)
    adv = S.advise_maintenance(path, target_bytes=1 << 20,
                               loose_threshold=2)
    assert adv["compact"] is True
    assert len(adv["materialize_dv"]) == 1
    assert adv["evidence"]["loose_appends"] == 3
    assert adv["evidence"]["dv_rows"] == 700

    # execute the advice; it clears
    S.compact_small_files(spark, path, target_bytes=1 << 20)
    adv2 = S.advise_maintenance(path, target_bytes=1 << 20,
                                loose_threshold=2)
    assert adv2["materialize_dv"] == [] and adv2["evidence"]["dv_rows"] == 0
    assert adv2["evidence"]["loose_appends"] == 0
    assert S.read_table(spark, path).count() == 4000 - 700 + 3


def test_insert_into_atomic_append_with_txn(spark, tmp_path):
    """insert_into: atomic INSERT INTO with a version, a CDC insert
    feed, CHECK enforcement, DV carry — and the streaming-txn
    idempotency watermark that turns at-least-once replay into
    exactly-once table effects."""
    import pytest as _pytest

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    spark.range(100).selectExpr("id", "cast(id as double) v").write.parquet(
        path
    )
    S.convert_to_manifest(spark, path)                             # v1
    S.delete_where(spark, path, "id = 5", deletion_vectors=True,
                   retain_versions=3)                              # v2

    batch = spark.createDataFrame(
        [(200, 1.0), (201, 2.0)], "id long, v double"
    )
    n = S.insert_into(spark, path, batch, retain_versions=3,
                      txn=("ingest", 7))                           # v3
    assert n == 2
    man = S._load_manifest(path)
    assert man["op"] == "insert" and man["txn"] == {"ingest": 7}
    # carried files kept their DV by reference; rows reflect the insert
    assert sum(man["dv"]["n"].values()) == 1
    tbl = S.read_table(spark, path)
    assert tbl.count() == 101 and tbl.where("id >= 200").count() == 2
    # the commit's CDC feed is exactly the batch
    feed = S.table_changes(spark, path, 2, 3)
    assert {(r.id, r._change_type) for r in feed.collect()} == {
        (200, "insert"), (201, "insert")
    }

    # REPLAY: same txn version -> skipped, exactly-once
    assert S.insert_into(spark, path, batch, txn=("ingest", 7)) == 0
    assert S._load_manifest(path)["gen_no"] == 3
    assert S.read_table(spark, path).count() == 101
    # a NEWER version applies; an OLDER one (late replay) is skipped
    assert S.insert_into(
        spark, path,
        spark.createDataFrame([(202, 3.0)], "id long, v double"),
        txn=("ingest", 8), retain_versions=3,
    ) == 1
    assert S.insert_into(spark, path, batch, txn=("ingest", 6)) == 0
    assert S.read_table(spark, path).count() == 102

    # schema guard — names AND types (a same-named string column would
    # brick the uniform table's footer-schema'd reads)
    with _pytest.raises(ValueError, match="insert schema mismatch"):
        S.insert_into(
            spark, path,
            spark.createDataFrame([(1, "x")], "id long, tag string"),
        )
    with _pytest.raises(ValueError, match="insert schema mismatch"):
        S.insert_into(
            spark, path,
            spark.createDataFrame([("x", 1.0)], "id string, v double"),
        )
    # the insert feed is BY REFERENCE to the staged data files (batch
    # bytes written once) and an empty batch burns no generation
    man_now = S._load_manifest(path)
    assert man_now["cdc"]["insert"] == [
        e["name"] for e in man_now["files"]
        if e["name"].startswith(man_now["generation"])
    ]
    gen_before = man_now["gen_no"]
    assert S.insert_into(
        spark, path,
        spark.createDataFrame([], "id long, v double"),
        txn=("ingest", 99),
    ) == 0
    assert S._load_manifest(path)["gen_no"] == gen_before
    # CHECK constraints gate the new files
    S.set_check_constraint(spark, path, "pos", "v >= 0")
    with _pytest.raises(ValueError, match="pos"):
        S.insert_into(
            spark, path,
            spark.createDataFrame([(300, -1.0)], "id long, v double"),
        )

    # the txn watermark survives a restore (table policy)
    S.rollback(spark, path, version=3)
    assert S._load_manifest(path)["txn"]["ingest"] == 8


def test_round7_manifest_format_still_served(spark, tmp_path):
    """Upgrade path: a manifest written before round 8 (entries carry
    no null counts, no file sizes; no txn map) must keep working —
    skipping admits conservatively, size-consuming passes fall back to
    a stat, and the first new commit upgrades the entries it touches."""
    import json
    import os

    import retail_sales_data_pipeline_spark.sinks as S
    from retail_sales_data_pipeline_spark.data_skipping import scan_table

    path = str(tmp_path / "tbl")
    spark.range(1000).selectExpr("id", "cast(id as double) v").write.parquet(
        path
    )
    S.compact_parquet(spark, path, target_files=4, sort_col="id")
    # rewrite the manifest as round 7 would have written it
    mpath = os.path.join(path, S._MANIFEST)
    man = json.load(open(mpath))
    for e in man["files"]:
        e.pop("nulls", None)
        e.pop("bytes", None)
    man.pop("txn", None)
    json.dump(man, open(mpath, "w"))

    # null-dependent atoms admit (no counts recorded -> no pruning,
    # never wrong rows); range atoms still prune via [min, max]
    assert scan_table(spark, path, "v IS NOT NULL").count() == 1000
    from retail_sales_data_pipeline_spark.data_skipping import (
        files_scanned,
    )

    assert files_scanned(path, "id < 250") == 1
    # size consumers fall back to a stat per old entry
    d = S.describe_detail(path)
    assert d["size_bytes"] > 0 and d["num_files"] == 4
    adv = S.advise_maintenance(path, target_bytes=1)
    assert adv["compact"] is False
    # DML + txn inserts work on the old-format table; the commit
    # upgrades its own entries
    assert S.delete_where(spark, path, "id = 7") == 1
    assert S.insert_into(
        spark, path,
        spark.createDataFrame([(5000, 1.0)], "id long, v double"),
        txn=("up", 1),
    ) == 2 - 1
    man2 = S._load_manifest(path)
    assert man2["txn"] == {"up": 1}
    new_entries = [
        e for e in man2["files"] if e["name"].startswith(man2["generation"])
    ]
    assert new_entries and all(
        "nulls" in e and "bytes" in e for e in new_entries
    )
    assert S.read_table(spark, path).count() == 1000


def test_sharded_manifest_index_lifecycle(spark, tmp_path, monkeypatch):
    """Round-9 scale path: past _SHARD_THRESHOLD live files the entry
    list externalizes into immutable shards referenced from the root
    manifest (Iceberg's manifest-file model). Forced here with a tiny
    threshold: DML shards the index, unchanged shards carry BY
    REFERENCE across commits, history/time-travel/rollback share the
    shard objects, cold resolution reloads them from disk, and a full
    rewrite that shrinks the table collapses back to the inline form."""
    import retail_sales_data_pipeline_spark.sinks as S

    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 6)
    monkeypatch.setattr(S, "_SHARD_SIZE", 3)
    path = str(tmp_path / "sharded")
    df = spark.range(8000).selectExpr("id", "id % 10 as grp")
    df.repartition(8).write.mode("overwrite").parquet(path)
    # convert of an above-threshold directory shards IMMEDIATELY
    # (round-9 follow-up: no 20 MB inline root on big adoptions)
    assert S.convert_to_manifest(spark, path) == 1
    man1 = S._load_manifest(path)
    assert man1.get("files_ext") and "files" not in man1

    # DML keeps the sharded layout; membership-changed shards rewrite
    n = S.delete_where(spark, path, "id % 1000 = 3", retain_versions=2)
    assert n == 8
    man2 = S._load_manifest(path)
    assert man2.get("files_ext") and "files" not in man2
    shards2 = {s["name"] for s in man2["files_ext"]["shards"]}
    assert len(shards2) >= 3  # 8 entries / shard size 3
    assert sum(s["count"] for s in man2["files_ext"]["shards"]) == len(
        S._version_files(man2, path)
    )
    assert S.read_table(spark, path).count() == 7992

    # pure append: every previous shard must carry BY REFERENCE
    batch = spark.range(90000, 90010).selectExpr("id", "id % 10 as grp")
    assert S.insert_into(spark, path, batch, retain_versions=2,
                         txn=("st", 1)) == 10
    man3 = S._load_manifest(path)
    shards3 = {s["name"] for s in man3["files_ext"]["shards"]}
    assert shards2 <= shards3  # unchanged groups shared, not rewritten
    assert S.read_table(spark, path).count() == 8002

    # history shares shard OBJECTS (no inlined copies in the root)
    assert all(
        "files_ext" in h or h["gen_no"] == 1
        for h in man3.get("history", [])
    )
    # time travel through a sharded snapshot
    assert S.read_table(spark, path, version=2).count() == 7992

    # cold resolution: a fresh process has no cache
    S._SHARD_CACHE.clear()
    assert len(S._version_files(S._load_manifest(path), path)) == len(
        shards3
    ) * 0 + sum(s["count"] for s in man3["files_ext"]["shards"])
    assert S.read_table(spark, path).count() == 8002

    # rollback onto a sharded snapshot shares its shards by reference
    S.rollback(spark, path, version=2)
    man4 = S._load_manifest(path)
    assert {s["name"] for s in man4["files_ext"]["shards"]} == shards2
    assert S.read_table(spark, path).count() == 7992

    # a full rewrite that shrinks below half the threshold collapses
    # the index back inline; superseded shard objects are retired
    S.compact_parquet(spark, path, target_files=2)
    man5 = S._load_manifest(path)
    assert "files" in man5 and not man5.get("files_ext")
    assert S.read_table(spark, path).count() == 7992
    import os as _os

    leftover = [
        f"{d}/{b}"
        for d in _os.listdir(path)
        if _os.path.isdir(_os.path.join(path, d))
        for b in _os.listdir(_os.path.join(path, d))
        if b.startswith("entries-")
    ]
    assert not leftover, leftover


def test_sharded_index_fragmentation_bounded(spark, tmp_path, monkeypatch):
    """Small appends must not mint a shard forever: undersized carried
    shards (< _SHARD_SIZE // 2 entries) re-pool into the committing
    generation's new shard, so shard count tracks the LIVE FILE count
    (~2x optimal), not the commit count (continual tail folding)."""
    import retail_sales_data_pipeline_spark.sinks as S

    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 6)
    monkeypatch.setattr(S, "_SHARD_SIZE", 8)
    path = str(tmp_path / "frag")
    spark.range(800).selectExpr("id", "id % 10 as grp").repartition(
        8
    ).write.mode("overwrite").parquet(path)
    S.convert_to_manifest(spark, path)
    for i in range(10):
        batch = spark.range(10_000 + i, 10_001 + i).selectExpr(
            "id", "id % 10 as grp"
        )
        assert S.insert_into(spark, path, batch.coalesce(1)) == 1
    man = S._load_manifest(path)
    shards = man["files_ext"]["shards"]
    n_entries = sum(s["count"] for s in shards)
    assert n_entries == 18
    # without tail folding this would be ~11 shards (one per append);
    # the bound is 2x-optimal: every carried shard holds >= SIZE/2
    assert len(shards) <= -(-2 * n_entries // S._SHARD_SIZE) + 1, shards
    assert S.read_table(spark, path).count() == 810


def test_drop_lost_staging_spares_live_generations(spark, tmp_path):
    """The conflict-path staging cleanup must re-check liveness: a
    'lost' CAS can be a LANDED commit whose ack was misrecognized
    (bounded writer-chain), and deleting its generation would turn a
    wrong error report into data loss."""
    import os as _os

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    spark.range(100).selectExpr("id", "id % 10 as grp").write.parquet(path)
    S.convert_to_manifest(spark, path)
    S.delete_where(spark, path, "grp = 3")  # creates a live generation
    man = S._load_manifest(path)
    gen = man["generation"]
    io = S._io(path)
    # referenced generation: the guard must refuse to delete it
    S._drop_lost_staging(io, path, gen)
    assert _os.path.isdir(_os.path.join(path, gen))
    assert S.read_table(spark, path).count() == 90
    # unreferenced staging: removed as before
    orphan = "gen-000099._delete-deadbeef"
    _os.makedirs(_os.path.join(path, orphan))
    with open(_os.path.join(path, orphan, "part-x.parquet"), "wb") as fh:
        fh.write(b"junk")
    S._drop_lost_staging(io, path, orphan)
    assert not _os.path.exists(_os.path.join(path, orphan))


def test_insert_into_mixed_schema_accepts_unified(spark, tmp_path):
    """ADVICE r8: on a mixed_schema table (post-evolving-merge) the
    insert gate validates against the UNIFIED schema, so a batch
    carrying the evolved shape is accepted; a type conflict still
    fails loudly. The unified probe is cached per schema_epoch —
    a second insert pays a dict lookup, not a footer-merge job."""
    import pytest as _pytest

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "tbl")
    spark.range(100).selectExpr("id", "cast(id as double) v").write.parquet(
        path
    )
    S.convert_to_manifest(spark, path)
    patch = spark.createDataFrame(
        [(5, 5.0, "new")], "id long, v double, tag string"
    )
    S.merge_into(spark, path, patch, keys=["id"], evolve_schema=True)
    man = S._load_manifest(path)
    # ADVICE r9: the epoch is the uuid-salted generation NAME, not the
    # bare gen_no — gen numbers restart when a table is dropped and
    # recreated at the same path, and a recolliding (path, epoch) key
    # would hand the new incarnation the old one's unified schema
    assert man["mixed_schema"] and man["schema_epoch"] == man["generation"]

    unified = spark.createDataFrame(
        [(900, 1.0, "u")], "id long, v double, tag string"
    )
    assert S.insert_into(spark, path, unified) == 1
    # epoch AND recorded unified schema carried by the insert commit
    man2 = S._load_manifest(path)
    assert man2["schema_epoch"] == man["schema_epoch"]
    assert man2["table_schema"] == man["table_schema"]
    # round 11: the gate reads the recorded schema from the root (zero
    # footer I/O) — the per-process cache is the pre-r11 fallback only
    assert (path, man2["schema_epoch"]) not in S._MIXED_SCHEMA_CACHE
    assert {f.name for f in S._recorded_schema(man2).fields} == {
        "id", "v", "tag"
    }
    assert S.insert_into(spark, path, unified.selectExpr(
        "id + 1 as id", "v", "tag")) == 1  # recorded-schema path again
    # name+type still enforced against the unified schema
    bad = spark.createDataFrame([(1, "x", "y")],
                                "id long, v string, tag string")
    with _pytest.raises(ValueError, match="insert schema mismatch"):
        S.insert_into(spark, path, bad)
    tbl = S.read_table(spark, path)
    assert tbl.count() == 102
    assert tbl.where("tag = 'u'").count() == 2


def test_convert_shards_large_adoption(spark, tmp_path, monkeypatch):
    """CONVERT of a directory past _SHARD_THRESHOLD externalizes the
    index immediately — a 100k-file adoption must not mint a ~20 MB
    inline root only for the first DML commit to re-shard it."""
    import retail_sales_data_pipeline_spark.sinks as S

    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 6)
    monkeypatch.setattr(S, "_SHARD_SIZE", 3)
    path = str(tmp_path / "bigconvert")
    spark.range(800).selectExpr("id", "id % 10 as grp").repartition(
        8
    ).write.mode("overwrite").parquet(path)
    assert S.convert_to_manifest(spark, path) == 1
    man = S._load_manifest(path)
    assert man.get("files_ext") and "files" not in man
    assert sum(s["count"] for s in man["files_ext"]["shards"]) == 8
    assert S.read_table(spark, path).count() == 800
    # the protocol works on the sharded adoption: DML + read + detail
    assert S.delete_where(spark, path, "grp = 3") == 80
    assert S.read_table(spark, path).count() == 720
    assert S.describe_detail(path)["rows"] == 720


def test_live_concurrent_inserts_rebase_local(spark, tmp_path):
    """LIVE two-thread insert race on the POSIX lock fence — NOT
    wrapped in retry_on_conflict: both writers must land through
    commit-level rebase alone (the local fence surfaces contention as
    ConcurrentWriteError from the lock OR the generation re-check;
    the rebase loop absorbs both shapes). No rows lost, no rows
    doubled, generation advanced exactly twice."""
    import threading

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "race")
    spark.range(100).selectExpr("id", "id % 10 as grp").repartition(
        2
    ).write.mode("overwrite").parquet(path)
    S.convert_to_manifest(spark, path)
    errs: list[Exception] = []
    barrier = threading.Barrier(2)

    def worker(lo: int) -> None:
        try:
            batch = spark.range(lo, lo + 50).selectExpr(
                "id", "id % 10 as grp"
            )
            barrier.wait(timeout=30)
            assert S.insert_into(spark, path, batch) == 50
        except Exception as e:  # surfaced below
            errs.append(e)

    t1 = threading.Thread(target=worker, args=(1000,))
    t2 = threading.Thread(target=worker, args=(2000,))
    t1.start(); t2.start(); t1.join(60); t2.join(60)
    # a hung fence must fail HERE, not as a confusing row-count miss
    assert not t1.is_alive() and not t2.is_alive(), "worker hung"
    assert not errs, errs
    tbl = S.read_table(spark, path)
    assert tbl.count() == 200
    assert tbl.where("id >= 1000").count() == 100
    assert S._load_manifest(path)["gen_no"] == 3


def test_rebase_ingest_stress_exactly_once(spark, tmp_path):
    """Contention stress on the rebase path: four writer threads, each
    applying three txn-marked batches INCLUDING a duplicate delivery,
    with NO retry_on_conflict wrapper — commit-level rebase plus the
    txn watermark alone must produce exactly-once table effects under
    real interleaving. The final state is deterministic regardless of
    the winning order: every (app, version) batch lands exactly once
    and each app's watermark is its max version."""
    import threading

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "stress")
    spark.range(100).selectExpr("id", "id % 10 as grp").repartition(
        2
    ).write.mode("overwrite").parquet(path)
    S.convert_to_manifest(spark, path)
    errs: list[Exception] = []
    barrier = threading.Barrier(4)

    def worker(w: int) -> None:
        try:
            barrier.wait(timeout=30)
            for ver in (1, 2, 3):
                lo = 10_000 * (w + 1) + 100 * ver
                batch = spark.range(lo, lo + 10).selectExpr(
                    "id", "id % 10 as grp"
                )
                n = S.insert_into(
                    spark, path, batch, txn=(f"app{w}", ver)
                )
                assert n in (0, 10)  # 0 only if a duplicate raced in
                if ver == 2:  # at-least-once: redeliver the same batch
                    assert S.insert_into(
                        spark, path, batch, txn=(f"app{w}", 2)
                    ) == 0
        except Exception as e:  # surfaced below
            errs.append(e)

    threads = [
        threading.Thread(target=worker, args=(w,)) for w in range(4)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(180)
    assert all(not t.is_alive() for t in threads), "worker hung"
    assert not errs, errs
    tbl = S.read_table(spark, path)
    assert tbl.count() == 100 + 4 * 3 * 10  # every batch exactly once
    assert tbl.where("id >= 10000").count() == 120
    # no duplicates anywhere (each id unique by construction)
    assert tbl.select("id").distinct().count() == tbl.count()
    man = S._load_manifest(path)
    assert man["txn"] == {f"app{w}": 3 for w in range(4)}
    # 12 applied commits: convert(1) + one generation per landed batch
    assert man["gen_no"] == 13


def run_concurrent_pair_fuzz(spark, path, seed, rounds=8,
                             bloom_cols=None):
    """Seeded CONCURRENCY fuzz for the rebase protocol, path-
    parameterized so the object-store suite (tests/test_manifest_s3.py)
    replays it over s3://: each round runs TWO randomly chosen DML ops
    in parallel threads (each under retry_on_conflict, so overlapping
    conflicts re-run and disjoint ones rebase), then asserts the table
    equals ONE of the two serial orders of the pair applied to the
    model — the WriteSerializable guarantee, checked mechanically. A
    rebase that merged two commits into a state no serialization
    produces (lost rows, double inserts, missed updates) fails the
    round it happens in. It caught two real defects on its first runs
    (dv-target liveness in _rebase_ok; PATH_NOT_FOUND stale-snapshot
    classification)."""
    import random
    import threading

    import retail_sales_data_pipeline_spark.sinks as S

    rng = random.Random(seed)
    model = {i: float(i) for i in range(300)}

    def to_df(d):
        return spark.createDataFrame(
            sorted(d.items()), "id long, v double"
        )

    S.write_parquet(to_df(model).repartition(4), path)
    S.convert_to_manifest(spark, path)
    if bloom_cols:
        # round 13: the racing pair now also maintains a live bloom
        # policy — every DML commit builds sidecars, carried shards
        # take the one-time aggregate/consolidated upgrade, and the
        # keyed probes run against an index that is itself being
        # rewritten by the other thread
        S.set_bloom_columns(spark, path, list(bloom_cols))
    next_id = [10_000, 50_000]  # per-thread-slot fresh-id pools

    def make_op(slot: int):
        """One (table_action, model_fn) pair; model_fn is PURE so the
        two serial orders can both be computed."""
        kind = rng.choice(["delete", "update", "merge", "insert",
                           "compact"])
        if kind == "delete":
            victims = rng.sample(sorted(model), k=min(3, len(model)))
            pred = f"id IN ({', '.join(map(str, victims))})"
            dv = bool(rng.getrandbits(1))

            def act():
                S.delete_where(spark, path, pred, deletion_vectors=dv)

            def mod(m):
                return {k: v for k, v in m.items() if k not in victims}
        elif kind == "update":
            lo = rng.randrange(0, 300)
            bump = float(rng.randrange(1, 50))
            dv = bool(rng.getrandbits(1))

            def act():
                S.update_where(spark, path, {"v": f"v + {bump}"},
                               f"id BETWEEN {lo} AND {lo + 30}",
                               deletion_vectors=dv)

            def mod(m):
                return {
                    k: (v + bump if lo <= k <= lo + 30 else v)
                    for k, v in m.items()
                }
        elif kind == "merge":
            ups = rng.sample(sorted(model), k=min(2, len(model)))
            fresh = [next_id[slot], next_id[slot] + 1]
            next_id[slot] += 2
            batch = {i: float(rng.randrange(0, 10_000))
                     for i in ups + fresh}

            def act():
                S.merge_into(spark, path, to_df(batch), keys=["id"],
                             broadcast_updates=True)

            def mod(m):
                return {**m, **batch}
        elif kind == "insert":
            fresh = {next_id[slot] + i: float(rng.randrange(0, 10_000))
                     for i in range(3)}
            next_id[slot] += 3

            def act():
                S.insert_into(spark, path, to_df(fresh))

            def mod(m):
                return {**m, **fresh}
        else:

            def act():
                S.compact_small_files(spark, path, target_bytes=1 << 20)

            def mod(m):
                return dict(m)
        return act, mod

    for rnd in range(rounds):
        (act_a, mod_a), (act_b, mod_b) = make_op(0), make_op(1)
        errs: list[Exception] = []
        barrier = threading.Barrier(2)

        def run(act):
            try:
                barrier.wait(timeout=30)
                S.retry_on_conflict(act, attempts=8)
            except Exception as e:  # surfaced below
                errs.append((type(e).__name__, str(e)[:800]))

        t1 = threading.Thread(target=run, args=(act_a,))
        t2 = threading.Thread(target=run, args=(act_b,))
        t1.start(); t2.start(); t1.join(120); t2.join(120)
        assert not t1.is_alive() and not t2.is_alive(), "worker hung"
        assert not errs, (rnd, errs)
        got = {r.id: r.v for r in S.read_table(spark, path).collect()}
        ab, ba = mod_b(mod_a(model)), mod_a(mod_b(model))
        assert got in (ab, ba), (
            f"round {rnd}: outcome matches NEITHER serialization "
            f"(extra={set(got) - set(ab)} missing={set(ab) - set(got)})"
        )
        model = got

    # standing post-fuzz invariant (r10 verdict #5): every race the
    # fuzz explored ends with a full-resolve FSCK re-proving exactly
    # the invariants the selective fast paths no longer re-check
    fsck = S.verify_table(path, deep=True)
    assert fsck["ok"], fsck["errors"]


def test_dml_sequence_model_fuzz_bloomed(spark, tmp_path):
    """The model fuzz with a BLOOM POLICY active (round 11): every
    random merge/delete/update/append/compact/rollback commit also
    builds sidecars, point lookups during the sequence stay correct,
    and the closing deep FSCK covers the indexed table."""
    run_dml_model_fuzz(
        spark, str(tmp_path / "btbl"), str(tmp_path), 424242,
        steps=14, bloom_cols=["id"],
    )


@_pt.mark.parametrize("seed", [20260815, 907])
def test_concurrent_dml_pair_fuzz(spark, tmp_path, seed):
    run_concurrent_pair_fuzz(spark, str(tmp_path / f"pair{seed}"), seed)


@_pt.mark.parametrize("seed", [6502])
def test_concurrent_dml_pair_fuzz_sharded_bloomed(
    spark, tmp_path, seed, monkeypatch
):
    """The heaviest configuration in one fuzz: SHARDED table (tiny
    thresholds) with a live BLOOM POLICY, two racing DML threads.
    Every commit builds sidecars and maintains shard aggregates +
    consolidated objects while the selective resolve's carry/rebase
    paths run under real interleaving — and the WriteSerializable
    model check plus the closing deep FSCK (which now also proves
    aggregate coverage, consolidated bit coverage, and sidecar
    self-name integrity) must still hold."""
    import retail_sales_data_pipeline_spark.sinks as S

    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 4)
    monkeypatch.setattr(S, "_SHARD_SIZE", 2)
    run_concurrent_pair_fuzz(
        spark, str(tmp_path / f"sbpair{seed}"), seed,
        rounds=6, bloom_cols=["id"],
    )


@_pt.mark.parametrize("seed", [31337])
def test_concurrent_dml_pair_fuzz_sharded(
    spark, tmp_path, seed, monkeypatch
):
    """The same WriteSerializable pair fuzz on a SHARDED table (tiny
    thresholds): every DML op now runs the round-10 selective resolve
    — rejected shards carried verbatim, rebase resets to the full
    resolve on a lost CAS — and the serialization guarantee must hold
    under the exact same model check. Exercises carry + rebase + tail
    folding under real thread interleaving."""
    import retail_sales_data_pipeline_spark.sinks as S

    monkeypatch.setattr(S, "_SHARD_THRESHOLD", 4)
    monkeypatch.setattr(S, "_SHARD_SIZE", 2)
    run_concurrent_pair_fuzz(
        spark, str(tmp_path / f"shardpair{seed}"), seed
    )


def test_evolving_merge_winner_blocks_rebase(spark, tmp_path, monkeypatch):
    """r9 verdict hardening: the mixed-schema mark is part of
    _rebase_ok's POLICY check — a commit staged against the uniform
    table must not rebase onto a winner whose evolving merge flipped
    the table mixed (the staged files were validated against the old
    schema world). Forced deterministically: a delete loses its CAS to
    an evolving merge that touched DISJOINT files, so every OTHER
    rebase precondition holds (dropped files live, DV state untouched,
    no loose consumed, winner-added files allowed for matched-only
    ops) and the flag flip is the one thing standing; the spy pins
    that _rebase_ok was consulted and REFUSED, and retry_on_conflict
    re-runs the delete against the evolved table — the
    winner-then-loser serialization."""
    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "evolve_race")
    spark.range(400).selectExpr(
        "id", "cast(id as double) v"
    ).repartition(4).write.parquet(path)
    S.convert_to_manifest(spark, path)
    S.compact_parquet(spark, path, target_files=4, sort_col="id")

    evolve_batch = spark.createDataFrame(
        [(350, 350.0, "tagged")], "id long, v double, tag string"
    )
    orig_commit = S._commit_manifest
    state = {"armed": True}
    verdicts: list[bool] = []
    real_rebase_ok = S._rebase_ok

    def spying_rebase_ok(*a, **kw):
        got = real_rebase_ok(*a, **kw)
        verdicts.append(got)
        return got

    def racing(p, manifest, expect_gen=None):
        if state["armed"] and manifest.get("op") == "delete":
            state["armed"] = False
            # the winner lands INSIDE the loser's read-to-CAS window:
            # an evolving merge on a file the delete never touches
            S.merge_into(spark, path, evolve_batch, keys=["id"],
                         evolve_schema=True)
        return orig_commit(p, manifest, expect_gen=expect_gen)

    monkeypatch.setattr(S, "_rebase_ok", spying_rebase_ok)
    monkeypatch.setattr(S, "_commit_manifest", racing)
    n = S.retry_on_conflict(
        lambda: S.delete_where(spark, path, "id < 25")
    )
    monkeypatch.setattr(S, "_commit_manifest", orig_commit)
    assert n == 25
    # the refusal fired: _rebase_ok consulted and said no (the ONLY
    # failing precondition is the mixed-schema flip — the merge's file
    # set is disjoint from the delete's)
    assert verdicts and verdicts[0] is False, verdicts
    man = S._load_manifest(path)
    assert man.get("mixed_schema") is True
    tbl = S.read_table(spark, path)
    assert tbl.count() == 375
    assert tbl.where("tag = 'tagged'").count() == 1
    assert tbl.where("id < 25").count() == 0


def test_staging_mismatch_classifies_superseded_snapshot(spark, tmp_path):
    """Round-13 race fix (caught live by the sharded pair fuzz, seed
    31337 round 7): a winner's post-commit retire can delete the files
    a racing rewrite is STAGING from, and Spark's parallel listing
    treats the vanished input as EMPTY (zero rows, one WARN) instead
    of raising — so the race surfaces through the row-count
    validation. The race verdict needs BOTH signals (r13 review
    narrowing): the snapshot generation superseded AND an input file
    of the staged-against snapshot vanished from disk — then the
    mismatch classifies as ConcurrentWriteError (retryable). With a
    current snapshot, or with a gen advance whose winner retired
    nothing (a pure append), it stays the loud RuntimeError: genuine
    row loss must never silently retry behind an unrelated commit."""
    import pytest as _pt

    import retail_sales_data_pipeline_spark.sinks as S

    path = str(tmp_path / "racecls")
    spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "id long, v double"
    ).coalesce(2).write.parquet(path)
    S.convert_to_manifest(spark, path)
    stale_man = S._load_manifest(path)

    def commit_with(man, expected):
        return S._commit_generation(spark, path, S.Commit(
            man=man, op="test",
            new_df=spark.createDataFrame(
                [(1, 1.0)], "id long, v double"
            ).coalesce(1),
            expected=expected,
        ))

    # no race, wrong count: the loud invariant stays loud
    with _pt.raises(RuntimeError) as exc:
        commit_with(stale_man, expected=999)
    assert not isinstance(exc.value, S.ConcurrentWriteError)

    # gen advanced by a PURE APPEND (retires nothing — every snapshot
    # input still on disk): a mismatch is still a genuine row-loss
    # signal, not a race, and must stay the loud RuntimeError
    S.insert_into(
        spark, path,
        spark.createDataFrame([(100, 1.0)], "id long, v double"),
    )
    with _pt.raises(RuntimeError) as exc:
        commit_with(stale_man, expected=999)
    assert not isinstance(exc.value, S.ConcurrentWriteError)

    # gen advanced by a RETIRING winner (delete_where rewrites the
    # touched files; retain_versions=0 deletes the superseded inputs):
    # now an input of the stale snapshot has vanished — classified as
    # the lost writer race (retry_on_conflict retries)
    stale_man2 = S._load_manifest(path)
    S.delete_where(spark, path, "id < 5")
    with _pt.raises(S.ConcurrentWriteError):
        commit_with(stale_man2, expected=999)
