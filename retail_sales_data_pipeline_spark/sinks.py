"""Sinks (SURVEY.md §2.2 K1-K5): parquet overwrite, partitioned parquet,
append-mode mart table, run-scoped output layout — plus the manifest
table protocol (atomic commits, file-granular DML, time travel, CDF).

The reference fans each mart out to local parquet, an epoch-stamped S3
prefix, a partitioned parquet copy, and a MySQL append
(reference: src/main/write/parquet_writer.py:3-14, main.py:360-380,
database_write.py:8-17). Spark writes object stores natively, so the
local-write-then-upload dance collapses into a single ``df.write`` to
whatever URI the cluster mounts; the epoch prefix survives as
``run_scoped_path`` because it is the reference's idempotency unit.

``append_table`` deliberately RAISES on failure — the reference's
``DatabaseWriter.write_dataframe`` swallows exceptions
(database_write.py:16-17), a bug SURVEY.md §7.4 flags as must-not-copy.

MANIFEST PROTOCOL (format 2, round 7 — file-granular copy-on-write):
``<table>/_manifest.json`` names the table's live DATA FILES
individually — ``{"name": "gen-000003._merge/part-...", "rows": n,
"stats": {col: [min, max]}, "nulls": {col: n}}`` — instead of one
generation directory.
A version is a file LIST, so a commit can carry untouched files forward
BY REFERENCE: ``delete_where`` / ``merge_into`` / ``update_where``
rewrite only the files that actually contain matched rows (identified
by footer min/max pruning plus one key/predicate-column scan) and the
bytes written per patch are proportional to the touched files, not the
table — the Delta/Iceberg-class property a 100 TB table needs (a
1k-row upsert must not rewrite 100 TB). DELETION VECTORS take the next
step (``deletion_vectors=True`` on ``delete_where``/``merge_into``):
matched rows' positions go to a patch-sized sidecar and reads filter
them via a broadcast anti-join on parquet's ``_metadata`` file/row
index — bytes written drop from touched-FILE-size to deleted-ROW-size
(merge-on-read), with a hybrid threshold that rewrites files whose
deleted fraction rots past it and materialization on any later
rewrite (:func:`compact_small_files` also retires DV rot during
routine maintenance). Commits stay atomic and WRITER-FENCED through
the :mod:`.table_io` seam, one protocol for every backend: an **ETag
compare-and-swap** — read the manifest and its ETag, re-check the
generation, conditionally put the new one. Object stores (``s3://`` via
:mod:`.storage_s3`) fence that put natively (``If-Match``, HTTP 412);
``storage.LocalStorage`` fences it with an ``O_CREAT|O_EXCL`` lock file
around an ``os.replace``. Either way a concurrent-rewrite race becomes
a loud :class:`ConcurrentWriteError` (``retry_on_conflict`` is the
optimistic retry). The Spark data plane
addresses the same bytes through the cluster filesystem (``s3://`` ->
``s3a://`` by default; ``storage.register_spark_path`` overrides).
DML commits record their insert/delete row sets as CDC
sidecar files — adjacent-version ``table_changes`` and the multi-hop
``table_changes_feed`` become metadata-priced reads, and
``sources/cdc_source.py`` streams them. The rest of the family:
``convert_to_manifest`` (zero-rewrite adoption of a plain directory),
``compact_small_files`` (incremental OPTIMIZE), ``scan_table`` in
:mod:`.data_skipping` (footer-stat file skipping), schema evolution
(``merge_into(evolve_schema=True)``), CHECK constraints
(``set_check_constraint``), time travel / ``rollback`` /
``describe_history``, and TTL ``vacuum_staging``.
"""

from __future__ import annotations

import dataclasses
import math
import os
import time
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession

from . import storage as _storage
from . import table_io as _table_io
from .bloom import BLOOM_SUFFIX as _BLOOM_SUFFIX
from .caching import fill_cache
from .session import spark_threads
from .storage import spark_path


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K1: plain parquet write (reference parquet_writer.py:8-14).
    Object-store URIs are mapped to the cluster's data-plane scheme
    (``s3://`` -> ``s3a://`` by default; ``storage.register_spark_path``
    overrides)."""
    df.write.mode(mode).parquet(spark_path(path))


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """K2: parquet partitioned by ``partition_cols`` (reference
    main.py:360-365 partitions by sales_month, store_id). At scale this
    is the layout that lets month/store queries prune: each partition
    directory is skipped entirely unless the predicate selects it.
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(
        spark_path(path)
    )


def append_table(df: DataFrame, path: str) -> None:
    """K3: append a mart batch to a table (JDBC-append stand-in backed by
    parquet so tests need no MySQL; on a real deployment swap for
    ``df.write.jdbc(url, table, mode="append", properties=...)``).
    Errors propagate (fixes reference database_write.py:16-17).
    NOT retry-idempotent — a replayed caller double-appends; batch/
    stream orchestration should use :func:`append_table_run_scoped`.
    """
    df.write.mode("append").parquet(spark_path(path))


def append_table_run_scoped(df: DataFrame, path: str, run_id) -> None:
    """K3 with RETRY IDEMPOTENCY: each run appends by OVERWRITING its
    own ``run=<id>`` partition directory under the table root, so a
    retried run (or a replayed foreachBatch micro-batch, keyed by batch
    id) replaces its own rows instead of double-appending — the
    reference's MySQL append has exactly that double-apply hole, which
    its ledger can only detect, not prevent. Readers scan the table
    root as before and gain a ``run`` provenance partition column."""
    df.write.mode("overwrite").parquet(
        spark_path(os.path.join(path, f"run={run_id}"))
    )


def publish_run_scoped(src_dir: str, path: str, run_id) -> None:
    """K3 from a finished parquet write: replace the table's
    ``run=<id>`` partition (the layout :func:`append_table_run_scoped`
    writes) with copies of ``src_dir``'s data files, so a batch already
    written once is not written again by a second Spark job. The
    reference does the same with its local parquet, uploaded file by
    file (upload_to_s3.py:10-24). Names starting with ``_`` or ``.``
    (``_SUCCESS``, checksums, staging files) are not data and are not
    copied. Every step goes through ``storage.for_path``: on an object
    store each copy is server-side, so no byte passes through the
    driver, and each file appears whole."""
    dst = os.path.join(path, f"run={run_id}")
    store = _storage.for_path(dst)
    if store.exists(dst):
        store.delete(dst)
    for f in _storage.for_path(src_dir).list_files(src_dir):
        name = f.rsplit("/", 1)[-1]
        if not name.startswith(("_", ".")):
            store.copy(f, f"{dst}/{name}")


_MANIFEST = "_manifest.json"
# the POSIX commit lock's timing, re-exported from the local backend's
# conditional put (tests pin the TTL)
_LOCK_TTL_SECONDS = _storage._LOCK_TTL_SECONDS
_LOCK_WAIT_SECONDS = _storage._LOCK_WAIT_SECONDS

# re-export: the protocol's writer-race error lives with the IO seam
ConcurrentWriteError = _table_io.ConcurrentWriteError


def _commit_time() -> float:
    """A version's ``committed_at``: unix seconds cut to the millisecond,
    never rounded up, so an instant read after a commit returns is never
    before that commit's time (TIMESTAMP AS OF would skip it)."""
    return math.floor(time.time() * 1000) / 1000


def _io(path: str):
    """The table's control-plane IO over the path's :mod:`.storage`
    backend. See :mod:`.table_io`."""
    return _table_io.for_path(path)


def _load_manifest(path: str) -> dict | None:
    """Parse ``<path>/_manifest.json`` if present, else None."""
    return _io(path).load_json(os.path.join(path, _MANIFEST))


def _commit_manifest(path: str, manifest: dict, expect_gen: int | None = None) -> None:
    """THE atomic commit point of the rewrite protocol
    (:meth:`.table_io.StorageTableIO.commit_manifest`), an ETag
    compare-and-swap on every backend: read the current manifest with
    its ETag, verify ``expect_gen``, conditionally put the new one
    (``if_match`` / ``if_none_match``). Object stores fence the put
    natively (a lost race 412s); local paths fence it inside
    ``storage.LocalStorage``, which compares the ETag under an
    ``O_CREAT|O_EXCL`` lock file and ``os.replace``-s a temp file into
    place.

    The put is one indivisible step, so readers see either the old
    generation or the new one, never a mix; a concurrent writer becomes
    a loud :class:`ConcurrentWriteError` (the table stays exactly as
    the winner left it — ``retry_on_conflict`` is the optimistic retry
    loop)."""
    _io(path).commit_manifest(path, manifest, expect_gen=expect_gen)


def _top_level_part_files(path: str) -> list[str]:
    """Basenames of loose data files at the table root (the original
    un-managed layout, plus any ``append_table`` batches landed since
    the last rewrite). Bloom sidecars (``<file>.bloom.json``, round
    11) sit NEXT TO their data file — a backfilled convert-adopted
    table has them at the root — and must never classify as loose
    data."""
    return [
        b for b in _io(path).list_basenames(path, "part-")
        if not b.endswith(_BLOOM_SUFFIX)
    ]


def _json_scalar(v, widen: bool = False):
    """A footer statistic value that can round-trip JSON and be compared
    against predicate literals, else None (timestamps/decimals/
    undecodable bytes are dropped — a missing stat only costs pruning,
    never correctness).

    DATE values become ISO strings — Spark compares date columns to
    string literals, and ISO dates order identically as strings. With
    ``widen`` (the MAX side of a range) a ``"~"`` sentinel is appended:
    ``"~"`` (0x7E) sorts after every character a date/time literal can
    contain, so a literal carrying a time suffix (``>= '2024-01-01
    10:00'``, which Spark CASTs down to the date) still falls inside
    the widened range — widening only ever ADMITS more files, keeping
    pruning sound for sloppy literals."""
    import datetime

    if isinstance(v, bool | int):
        return v
    if isinstance(v, float):
        return None if (math.isnan(v) or math.isinf(v)) else v
    if isinstance(v, str):
        return v
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        return v.isoformat() + ("~" if widen else "")
    return None


def _parquet_footer(abs_path: str) -> tuple[int, dict, dict, list]:
    """Row count, per-column [min, max], per-column NULL counts, and
    the PHYSICAL top-level column names of one parquet file, from the
    FOOTER only — no data pages are read, so this is metadata-priced
    at any file size. Columns with missing/unusable stats in any row
    group are omitted from the respective index (conservative: no
    stats -> file is always a candidate). Null counts are recorded
    only when EVERY row group reports one (an unknown row group
    poisons the column — an undercounted total would unsoundly prune
    ``IS NULL``).

    All-NULL columns deliberately keep a null-count entry even though
    they have no [min, max]: ``nulls[col] == rows`` is itself a pruning
    fact (every comparison predicate on that column is FALSE for the
    whole file).

    The column list (round 11) is the mixed-schema pruning fact: a
    column ABSENT from a file's physical schema is all-NULL there by
    the table's schema-evolution semantics, so range / ``IS NOT NULL``
    atoms prune the file even though its footer carries no stats for
    the column at all (``IS NULL`` must admit). See
    :func:`data_skipping._entry_admits`.
    """
    pf = _io(abs_path).open_parquet(abs_path)
    cols = list(pf.schema_arrow.names)
    md = pf.metadata
    agg: dict[str, list | None] = {}
    nulls: dict[str, int | None] = {}
    for rg in range(md.num_row_groups):
        for i in range(md.num_columns):
            col = md.row_group(rg).column(i)
            name = col.path_in_schema
            if "." in name:
                continue  # nested leaves can't prune top-level predicates
            st = col.statistics
            if st is None or st.null_count is None:
                nulls[name] = None  # unknown anywhere -> unknown overall
            elif nulls.get(name, 0) is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
            if agg.get(name, ()) is None:
                continue  # already poisoned by an earlier row group
            if st is None or not st.has_min_max:
                agg[name] = None
                continue
            lo, hi = _json_scalar(st.min), _json_scalar(st.max, widen=True)
            if lo is None or hi is None:
                agg[name] = None
                continue
            prev = agg.get(name)
            if prev is None and name in agg:
                continue
            if prev is None:
                agg[name] = [lo, hi]
            else:
                agg[name] = [min(prev[0], lo), max(prev[1], hi)]
    stats = {k: v for k, v in agg.items() if v is not None}
    return (
        md.num_rows,
        stats,
        {k: v for k, v in nulls.items() if v is not None},
        cols,
    )


def _file_entry(table_path: str, rel_name: str) -> dict:
    """Manifest entry for one data file: relative name + footer-derived
    row count, column min/max stats, null counts (the pruning index),
    and file size — recorded ONCE at commit time so size-consuming
    passes (describe_detail / advise_maintenance / compact_small_files)
    read the manifest instead of issuing one stat/HEAD per live file
    (at 100k files on an object store that difference is ~100k serial
    round trips per call)."""
    abs_path = os.path.join(table_path, rel_name)
    rows, stats, nulls, cols = _parquet_footer(abs_path)
    return {
        "name": rel_name,
        "rows": rows,
        "stats": stats,
        "nulls": nulls,
        "cols": cols,
        "bytes": _io(abs_path).getsize(abs_path),
    }


def _entry_bytes(table_path: str, entry: dict) -> int:
    """Entry file size; stat/HEAD fallback (and cache) for entries
    committed before sizes were recorded."""
    if entry.get("bytes") is None:
        p = os.path.join(table_path, entry["name"])
        entry["bytes"] = _io(p).getsize(p)
    return entry["bytes"]


# SHARDED MANIFEST INDEX (round 9, the 100k-file scale path): past
# _SHARD_THRESHOLD live files the entry list no longer inlines in the
# root manifest — it externalizes into immutable per-group sidecar
# objects ("entries-*.json" under generation dirs, <= _SHARD_SIZE
# entries each), referenced from the root as
# ``{"files_ext": {"shards": [{"name", "count"}, ...]}}``. The root
# stays the SINGLE CAS commit point; a commit rewrites only the shards
# whose membership changed (Iceberg's manifest-file model: carried
# shards ride by reference like carried data files), so per-commit
# manifest bytes are O(touched entries + 1 small root), not O(table
# files). Shards are immutable once written, so resolution caches them
# per process — a warm live-state resolve costs ONE root GET.
_SHARD_THRESHOLD = 10_000
_SHARD_SIZE = 4_000
_SHARD_CACHE: dict[tuple[str, str], list[dict]] = {}
_SHARD_CACHE_MAX = 512

# merged-footer schemas of pre-r11 mixed-schema tables, keyed by
# (table path, schema_epoch) — see _table_schema
_MIXED_SCHEMA_CACHE: dict = {}


def _shard_names(version: dict) -> set[str]:
    """Relative paths of a version's external entry-list shards."""
    ext = version.get("files_ext") or {}
    return {s["name"] for s in ext.get("shards", [])}


def _load_shard(table_path: str, rel: str) -> list[dict]:
    """One immutable entry-list shard, cached per process. Immutability
    makes the cache trivially coherent: a shard object is never
    rewritten in place (changed membership = a NEW shard under the
    committing generation's directory)."""
    key = (table_path, rel)
    got = _SHARD_CACHE.get(key)
    if got is None:
        doc = _io(table_path).load_json(os.path.join(table_path, rel))
        if doc is None:
            raise FileNotFoundError(os.path.join(table_path, rel))
        got = doc["entries"]
        if len(_SHARD_CACHE) >= _SHARD_CACHE_MAX:
            # default=None: two concurrent writer threads (the rebase
            # races are real) may evict the same head key
            _SHARD_CACHE.pop(next(iter(_SHARD_CACHE)), None)
        _SHARD_CACHE[key] = got
    return got


def _shard_agg(chunk: list[dict]) -> dict:
    """Shard-level aggregate pruning facts for the ROOT manifest's
    shard record (round 10, the Iceberg manifest-list min/max model):
    ``rows`` (sum), ``stats`` (per-column [min, max] unioned over the
    shard's entries), ``nulls`` (per-column summed null counts) and
    ``top`` (how many entries name TOP-LEVEL files — the loose-file
    classifier needs those names even when a predicate disproves the
    shard). The record is shaped exactly like a file entry, so
    ``data_skipping._entry_admits`` evaluates it unchanged at shard
    granularity: a selective scan loads only the shards whose
    aggregate range admits the predicate, O(touched shards) instead of
    O(all shards). Conservative by omission — a column is dropped from
    the aggregate the moment ANY member entry lacks the fact (missing
    span admits; missing null count admits), so pruning can only skip
    shards PROVABLY empty of matches and the full predicate is still
    re-applied after the scan."""
    rows = 0
    rows_known = True
    top = 0
    for e in chunk:
        if "/" not in e["name"]:
            top += 1
        r = e.get("rows")
        if r is None:
            rows_known = False
        else:
            rows += r
    # physical-column union (round 11, mixed-schema skipping): recorded
    # only when EVERY member carries its column list — then "c not in
    # shard cols" proves c is absent from (so all-NULL in) every member
    cols: list | None = None
    if chunk and all(e.get("cols") is not None for e in chunk):
        cset: set[str] = set()
        for e in chunk:
            cset |= set(e["cols"])
        cols = sorted(cset)

    def _absent(e: dict, c: str) -> bool:
        # column physically absent from this member file -> all-NULL
        # there by schema-evolution semantics (read backfills NULL).
        # Case-insensitive like Spark's identifier resolution: only a
        # name absent under either comparison is provably absent.
        mc = e.get("cols")
        if mc is None or c in mc:
            return False
        cl = c.lower()
        return not any(m.lower() == cl for m in mc)

    # a null count survives only if EVERY member entry records it OR
    # is provably all-NULL by column absence with a known row count
    null_cols: set[str] = set()
    for e in chunk:
        null_cols |= set(e.get("nulls") or {})
    nulls: dict[str, int] = {}
    for c in null_cols:
        total = 0
        for e in chunk:
            n = (e.get("nulls") or {}).get(c)
            if n is None:
                if _absent(e, c) and e.get("rows") is not None:
                    n = e["rows"]
                else:
                    total = -1
                    break
            total += n
        if total >= 0:
            nulls[c] = total
    # a span survives only if every entry records one for the column
    # OR is provably all-NULL in it (no values to constrain the union)
    span_cols: set[str] = set()
    for e in chunk:
        span_cols |= set(e.get("stats") or {})
    stats: dict[str, list] = {}
    for c in sorted(span_cols):
        agg: list | None = None
        for e in chunk:
            span = (e.get("stats") or {}).get(c)
            if span is not None:
                try:
                    agg = (
                        [span[0], span[1]] if agg is None
                        else [min(agg[0], span[0]), max(agg[1], span[1])]
                    )
                except TypeError:
                    agg = None
                    break
                continue
            if _absent(e, c):
                continue  # physically absent: all-NULL, no constraint
            r = e.get("rows")
            n = (e.get("nulls") or {}).get(c)
            if r is not None and n is not None and 0 < r <= n:
                continue  # all-NULL entry
            agg = None
            break
        if agg is not None:
            stats[c] = agg
    # byte floor + sum, recorded only when every member carries a size:
    # bmin lets compact_small_files skip shards that provably hold no
    # file under its fold threshold; bsum lets describe_detail report
    # table bytes without enumerating members
    bsizes = [e.get("bytes") for e in chunk]
    out = {
        "rows": rows if rows_known else None,
        "stats": stats,
        "nulls": nulls,
        "top": top,
    }
    if cols is not None:
        out["cols"] = cols
    if bsizes and all(isinstance(b, int) for b in bsizes):
        out["bmin"] = min(bsizes)
        out["bsum"] = sum(bsizes)
    return out


def _bloom_shard_agg(io, path: str, members: list[dict], policy) -> dict | None:
    """Shard-grain bloom aggregate for a root shard record (round 12):
    the OR-fold of the members' sidecars, one filter per policy
    column — ``bloom.aggregate_payloads`` does the folding and the
    honesty checks (saturation, type drift, unfoldable pre-r12
    sidecars all drop to None). Cost is one cached sidecar GET per
    member, paid once per shard record: carried records keep the
    aggregate (``None`` included — a recorded null means "attempted,
    not useful", so saturated shards are never re-aggregated every
    commit). Sound across policy DROP too: the aggregate states facts
    about immutable member files, but drop_bloom_columns strips it
    anyway so consultation visibly stops with the policy."""
    if not policy:
        return None
    from . import bloom as B

    return B.aggregate_payloads(
        [B.load_sidecar(io, path, e["name"]) for e in members],
        list(policy.get("cols", [])),
    )


def _bloom_shard_consolidated(
    io, path: str, shard_rel: str, members: list[dict], policy
) -> str | None:
    """Write the shard's CONSOLIDATED sidecar object (round 13, r12
    verdict missing #2): the members' filters concatenated under one
    ``<shard rel>.agg.bloom.json`` — full per-file verdicts at one GET
    per shard, the grain the OR-fold aggregate cannot serve once a
    unique-key column saturates it. Members without a sidecar are
    omitted (probe admits them). Written at the same moments as the
    shard aggregate — new-shard externalization, carried-record
    upgrade, and the set_bloom_columns backfill — and, like the
    aggregate, sound across the sidecars it copies: shard membership
    is immutable (changed membership = a new shard name = a new
    object). Returns the object's rel name, None when no member has a
    sidecar (recorded, so sidecar-less shards don't retry the GETs
    every commit)."""
    if not policy:
        return None
    from . import bloom as B

    payloads = {
        e["name"]: side
        for e in members
        if (side := B.load_sidecar(io, path, e["name"])) is not None
    }
    if not payloads:
        return None
    rel = shard_rel + B.CONSOLIDATED_SUFFIX
    full = os.path.join(path, rel)
    io.write_json(full, B.encode_consolidated(payloads))
    B._CONS_CACHE.pop(full, None)  # a re-applied policy rewrites in place
    return rel


def _externalize_entries(
    io,
    path: str,
    gen: str,
    man_prev: dict,
    keep_entries: list[dict],
    new_entries: list[dict],
    salt: int,
    carried_verbatim: list[dict] = (),
) -> dict:
    """Write this commit's entry list as external shards, carrying
    every previous shard whose membership is unchanged BY REFERENCE.
    ``carried_verbatim`` (round 10, selective DML): root shard records
    the resolve already PROVED unchanged (predicate-rejected, no
    member touched) — carried as-is without loading their members at
    all, the step that makes a selective DML commit O(touched shards).
    Entries from broken shards (ones containing a file this commit
    drops) re-pool with the new entries into fresh shards under the
    committing generation. UNDERSIZED shards (fewer than half of
    ``_SHARD_SIZE`` entries) re-pool too, even when unchanged:
    without that, every small append would mint a one-file shard
    forever and shard count would grow O(commits). Continual tail
    folding bounds the per-commit index rewrite at half a shard of
    entries and the shard count at ~2x the optimal
    ceil(live files / _SHARD_SIZE). ``salt`` disambiguates shard
    names across rebase attempts (stale attempts' shards are
    unreferenced dead files vacuumed by TTL). Returns the
    ``files_ext`` record."""
    bloom_policy = man_prev.get("bloom")
    keep_names = {e["name"] for e in keep_entries}
    carried: list[dict] = list(carried_verbatim)
    verbatim_names = {s["name"] for s in carried_verbatim}
    residual = set(keep_names)
    for s in (man_prev.get("files_ext") or {}).get("shards", []):
        if s["name"] in verbatim_names:
            continue  # proven unchanged at resolve time: never loaded
        members = _load_shard(path, s["name"])
        names = {e["name"] for e in members}
        if names <= keep_names and len(names) >= _SHARD_SIZE // 2:
            if bloom_policy and "bloom" not in s:
                # one-time upgrade per carried record: members are in
                # hand, sidecars exist by policy induction; a null
                # result is RECORDED so saturated shards don't pay the
                # sidecar GETs again at every later commit
                s = {
                    **s,
                    "bloom": _bloom_shard_agg(
                        io, path, members, bloom_policy
                    ),
                }
            if bloom_policy and "bloomside" not in s:
                # same one-time upgrade for the consolidated object
                # (round 13): a null result is recorded for the same
                # retry-suppression reason
                s = {
                    **s,
                    "bloomside": _bloom_shard_consolidated(
                        io, path, s["name"], members, bloom_policy
                    ),
                }
            if "top" not in s or "bmin" not in s:
                # stale record (pre-r10: no aggregate at all; early-r10:
                # stats but no byte floor/sum): backfill from the
                # members already in hand — zero extra I/O — so old
                # tables gain shard skipping AND the O(root) metadata
                # path at their next commit. The r11 "cols" union is
                # deliberately NOT a backfill trigger: pre-r11 shard
                # FILES are immutable and their members never carry
                # cols, so a cols-triggered recompute would re-run
                # per-commit forever without ever producing one —
                # legacy shards simply stay conservative (no physical-
                # absence pruning) until a rewrite re-pools them. Records whose members
                # genuinely lack sizes recompute each carry (still
                # zero extra I/O — the load happened for the
                # membership check above).
                s = {
                    "name": s["name"], "count": s["count"],
                    **({"bloom": s["bloom"]} if "bloom" in s else {}),
                    **(
                        {"bloomside": s["bloomside"]}
                        if "bloomside" in s else {}
                    ),
                    **_shard_agg(members),
                }
            carried.append(s)
            residual -= names
    by_name = {e["name"]: e for e in keep_entries}
    pool = [by_name[n] for n in sorted(residual)] + new_entries
    shards = list(carried)
    for i in range(0, len(pool), _SHARD_SIZE):
        chunk = pool[i:i + _SHARD_SIZE]
        rel = f"{gen}/entries-{salt}{i // _SHARD_SIZE:04d}.json"
        io.write_json(os.path.join(path, rel), {"entries": chunk})
        _SHARD_CACHE[(path, rel)] = chunk  # immutable: warm eagerly
        rec = {"name": rel, "count": len(chunk), **_shard_agg(chunk)}
        if bloom_policy:
            # this commit's sidecars are already on disk (built before
            # externalization), carried members' by policy induction
            rec["bloom"] = _bloom_shard_agg(io, path, chunk, bloom_policy)
            rec["bloomside"] = _bloom_shard_consolidated(
                io, path, rel, chunk, bloom_policy
            )
        shards.append(rec)
    return {"shards": shards}


def _version_files(version: dict, table_path: str) -> list[dict]:
    """The file entries of one committed version. Format-2 versions
    carry them inline; sharded versions (``files_ext``) resolve their
    immutable entry shards through the process cache; format-1
    versions (a bare generation directory) are normalized by listing
    the directory — names only, rows/stats filled lazily by
    :func:`_entry_rows` when a DML pass needs them."""
    ext = version.get("files_ext")
    if ext is not None:
        out: list[dict] = []
        for s in ext.get("shards", []):
            out.extend(_load_shard(table_path, s["name"]))
        return out
    if "files" in version:
        return version["files"]
    gen = version["generation"]
    return [
        {"name": f"{gen}/{b}", "rows": None, "stats": None}
        for b in _io(table_path).list_basenames(
            os.path.join(table_path, gen), "part-"
        )
        if not b.endswith(_BLOOM_SUFFIX)  # sidecars are never data
    ]


def _entry_rows(table_path: str, entry: dict) -> int:
    """Entry row count, footer-read (and cached) for normalized
    format-1 entries that don't carry it."""
    if entry.get("rows") is None:
        (
            entry["rows"], entry["stats"], entry["nulls"], entry["cols"]
        ) = _parquet_footer(os.path.join(table_path, entry["name"]))
    return entry["rows"]


def _live_state(
    path: str,
    shard_admits=None,
    carry_out: list | None = None,
) -> tuple[dict | None, list[dict], list[str], list[str]]:
    """ONE directory snapshot resolving the live table: ``(manifest,
    referenced file entries, loose append basenames, stale superseded
    basenames still on disk)``. Everything a rewrite reads AND the
    superseded list it commits derive from this single listing, so an
    append racing the rewrite either lands fully in the fold or stays a
    visible loose file — never marked superseded without its rows.

    Top-level files REFERENCED by the current manifest or a retained
    history version are not loose: :func:`convert_to_manifest` adopts a
    plain directory's files in place (zero rewrite), so referenced
    names can live at the table root.

    ``shard_admits`` (round 10, the scan path only) is a predicate
    over ROOT shard records: on a sharded table, entry shards it
    rejects are never loaded — a selective scan resolves O(touched
    shards), the Iceberg manifest-list model. Correctness carve-outs,
    both conservative: a rejected shard whose record shows (or, pre-
    r10 record, may show) TOP-LEVEL file names still loads, because
    the loose-append classifier needs those names to avoid double-
    scanning an adopted file as loose (``top`` in the record makes
    this free for the normal all-in-generation-dirs layout); and
    history versions load only their possibly-top-level shards, since
    history names feed nothing but that classifier.

    ``carry_out`` (round 10, selective DML) upgrades the resolve to
    the DML contract: rejected shards either load fully into
    ``entries`` or land in ``carry_out`` as verbatim-carry records —
    see :func:`_version_files_admitted`. Mixed-schema tables clear
    ``carry_out`` along with ``shard_admits`` (full load)."""
    man = _load_manifest(path)
    top = _top_level_part_files(path)
    if man is None:
        return None, [], top, []
    sup = set(man.get("superseded", []))
    if man.get("mixed_schema") and _recorded_schema(man) is None:
        # PRE-R11 mixed tables (no recorded unified schema): stats
        # pruning can drop every file that physically CARRIES an
        # evolved column, and the merged-footer read of the survivors
        # would lose the column from the scan schema — enforce the
        # carve-out HERE so no caller can trip it. With the unified
        # schema recorded in the root (round 11), BOTH the scan and
        # the DML resolve prune safely: reads supply the schema
        # explicitly (no footer merge, no schema loss), entry/shard
        # `cols` make absent columns a pruning fact, and every
        # schema-bearing consumer of the resolve (_table_schema) reads
        # the root record instead of needing all physical schemas.
        shard_admits = None
    if shard_admits is None:
        entries = _version_files(man, path)
        referenced = {e["name"] for e in entries}
        for h in man.get("history", []):
            referenced |= {e["name"] for e in _version_files(h, path)}
    else:
        entries, referenced = _version_files_admitted(
            man, path, shard_admits, carry_out
        )
        for h in man.get("history", []):
            referenced |= _version_top_names(h, path)
        if carry_out and not entries:
            # keep at least one shard loaded: _table_schema reads the
            # footer of entries[0] on a uniform table, and a
            # perfectly-carried resolve would leave it blind
            entries.extend(_load_shard(path, carry_out[-1]["name"]))
            carry_out.pop()
    loose = [f for f in top if f not in sup and f not in referenced]
    stale = sorted(sup & set(top))
    return man, entries, loose, stale


def _shard_carry_eligible(s: dict) -> bool:
    """May a DML commit carry this REJECTED root shard record verbatim,
    without ever loading its members? Requires: a post-r10 record with
    a known ``rows`` sum (the commit's row accounting adds it without
    enumerating members), zero TOP-LEVEL members (the loose-file
    classifier and the dropped-top retire set need top-level names by
    value), and a right-sized shard (undersized tails still load so
    the continual tail folding keeps its fragmentation bound)."""
    return (
        s.get("top", 1) == 0
        and isinstance(s.get("rows"), int)
        and s.get("count", 0) >= _SHARD_SIZE // 2
    )


def _version_files_admitted(
    version: dict, table_path: str, admits, carry_out: list | None = None
) -> tuple[list[dict], set[str]]:
    """Scan-path resolve of one version: ``(entries of admitted
    shards, referenced names)``. Shards rejected by ``admits`` are
    skipped without I/O when their record proves they hold no
    top-level names; otherwise they load for the name set only.

    ``carry_out`` switches to the DML resolve (round 10, selective
    DML): rejected shards that are :func:`_shard_carry_eligible`
    append their ROOT RECORD to ``carry_out`` — the commit will carry
    them into the next version verbatim, never loading their members —
    and every other rejected shard loads fully INTO the entry list
    (a DML commit must account for every live file either as an entry
    or as a carried shard record; the scan path's names-only load is
    not enough)."""
    ext = version.get("files_ext")
    if ext is None:
        entries = _version_files(version, table_path)
        return entries, {e["name"] for e in entries}
    entries: list[dict] = []
    referenced: set[str] = set()
    for s in ext.get("shards", []):
        if admits(s):
            got = _load_shard(table_path, s["name"])
            entries.extend(got)
            referenced |= {e["name"] for e in got}
        elif carry_out is not None:
            if _shard_carry_eligible(s):
                carry_out.append(s)
            else:
                got = _load_shard(table_path, s["name"])
                entries.extend(got)
                referenced |= {e["name"] for e in got}
        elif s.get("top", 1):
            referenced |= {
                e["name"] for e in _load_shard(table_path, s["name"])
            }
    return entries, referenced


def _carried_member_names(table_path: str, shards: list[dict]) -> set[str]:
    """Member names of a set of carried shard records — the rare-path
    enumeration both the lost-merge snapshot completion and the
    expiring-history dead-set proof share. Raises on a missing or
    unreadable shard object; each call site decides whether that is
    fatal (pre-commit: treat the race as non-rebaseable) or must be
    absorbed (post-commit: never let a committed write look failed)."""
    out: set[str] = set()
    for s in shards:
        out |= {e["name"] for e in _load_shard(table_path, s["name"])}
    return out


def _version_names_skip(
    version: dict, table_path: str, skip: set[str]
) -> set[str]:
    """A version's referenced file names, NOT enumerating members of
    shards named in ``skip``. Sound only when every skipped shard is
    carried verbatim into the commit being built: its members are then
    referenced by BOTH the old and the new version, so excluding them
    from both sides of every live/dead set difference cancels exactly
    — they can never be retired, dropped, or reported top-level. An
    inline ``files`` list wins: it is the resolved member list (the
    commit tail passes the version it is building that way, sharded or
    not, so its own fresh shards are never re-read)."""
    if "files" in version:
        return {e["name"] for e in version["files"]}
    ext = version.get("files_ext")
    if ext is None or not skip:
        return {e["name"] for e in _version_files(version, table_path)}
    out: set[str] = set()
    for s in ext.get("shards", []):
        if s["name"] in skip:
            continue
        out |= {e["name"] for e in _load_shard(table_path, s["name"])}
    return out


def _version_top_names(version: dict, table_path: str) -> set[str]:
    """A version's referenced names for the loose-file classifier,
    loading only shards that may hold TOP-LEVEL names (loose files are
    top-level by construction, so generation-dir names are dead weight
    here)."""
    ext = version.get("files_ext")
    if ext is None:
        return {e["name"] for e in _version_files(version, table_path)}
    out: set[str] = set()
    for s in ext.get("shards", []):
        if s.get("top", 1):
            out |= {e["name"] for e in _load_shard(table_path, s["name"])}
    return out


def live_files(path: str, version: int | None = None) -> list[str]:
    """Absolute paths of the files a reader must scan for the table at
    ``path``. Without a manifest: the plain parquet directory. With
    one: the committed file list plus any top-level files NOT
    superseded by that commit (i.e. appends landed after it).
    Superseded files are excluded even if a crashed cleanup left them
    on disk — that is what makes the commit atomic.

    ``version`` resolves a RETAINED snapshot's file list instead — the
    external-engine interop hook: any parquet reader (DuckDB, pyarrow,
    Trino) can scan a consistent snapshot by path list without
    understanding the manifest. CAVEAT: the list is the PHYSICAL
    files — if the version carries deletion vectors
    (``describe_history`` shows ``dv_rows > 0``), logically-deleted
    rows are visible to such a reader; materialize first (or use
    :func:`read_table`, which applies them)."""
    if version is not None:
        man = _load_manifest(path)
        if man is None:
            raise ValueError(f"no manifest at {path!r} — no versions")
        by_no = {h["gen_no"]: h for h in man.get("history", [])}
        by_no[man["gen_no"]] = man
        if version not in by_no:
            raise ValueError(
                f"version {version} not retained for {path!r}; "
                f"available: {sorted(by_no)}"
            )
        return [
            os.path.join(path, e["name"])
            for e in _version_files(by_no[version], path)
        ]
    man, entries, loose, _ = _live_state(path)
    if man is None:
        return [path]
    return [os.path.join(path, e["name"]) for e in entries] + [
        os.path.join(path, f) for f in loose
    ]


def _recorded_schema(version: dict):
    """The version's recorded unified StructType (round 11), or None.
    Parsed per call — cheap (a JSON dict, no I/O) and always coherent
    with the manifest object in hand."""
    raw = version.get("table_schema")
    if raw is None:
        return None
    try:
        import json as _json

        from pyspark.sql.types import StructType

        return StructType.fromJson(_json.loads(raw))
    except Exception:
        return None  # unparseable record: behave as if absent


def _table_schema(
    spark: SparkSession,
    man: dict | None,
    paths: list[str],
    table: str | None = None,
):
    """THE table-schema rule: the StructType every reader and writer of
    the manifest file set ``paths`` uses:

    - a mixed-schema table (``mixed_schema``: it took an evolving
      merge) with a recorded unified schema (round 11) uses that
      record — zero I/O;
    - a mixed table from before round 11 merges the footers of
      ``paths`` when ``table`` names the table, ``paths`` being its
      whole live set. The merge is cached per (table,
      ``schema_epoch``): the unified schema only widens on evolving
      commits, so a micro-batch ingest loop pays the merge job once
      per epoch. Without ``table`` (a subset read) it returns None:
      :func:`_read_files` merges the subset's footers as it reads;
    - no file and no record: None;
    - any other table reads ONE footer on the driver (pyarrow): Spark's
      schema inference over an explicit path list runs a one-task-per-
      file JOB (measured: 5.5 s across 2000 files before any data is
      read), which would tax every manifest read path linearly in file
      count. A type pyarrow can't convert falls back to Spark's
      inference over that one file."""
    if man is not None and man.get("mixed_schema"):
        schema = _recorded_schema(man)
        if schema is not None or not table:
            return schema
        key = (table, man.get("schema_epoch", 0))
        schema = _MIXED_SCHEMA_CACHE.get(key)
        if schema is None and paths:
            schema = spark.read.option("mergeSchema", "true").parquet(
                *[_io(p).spark_path(p) for p in paths]
            ).schema
            if len(_MIXED_SCHEMA_CACHE) >= 64:
                _MIXED_SCHEMA_CACHE.pop(next(iter(_MIXED_SCHEMA_CACHE)), None)
            _MIXED_SCHEMA_CACHE[key] = schema
        return schema
    if not paths:
        return None
    try:
        from pyspark.sql.pandas.types import from_arrow_schema

        return from_arrow_schema(
            _io(paths[0]).open_parquet(paths[0]).schema_arrow
        )
    except TypeError:  # a type pyarrow can't hand to Spark
        return spark.read.parquet(_io(paths[0]).spark_path(paths[0])).schema


def _read_files(
    spark: SparkSession, man: dict | None, paths: list[str]
) -> DataFrame:
    """Parquet read of an explicit manifest file list under
    :func:`_table_schema`, merging footers where it gives none (a
    subset of a pre-r11 mixed table). An explicit schema makes files
    carried BY REFERENCE with the pre-evolution physical schema
    reconcile against the evolved one (missing columns -> NULL, zero
    footer I/O) — the reason evolution costs zero rewrites — and keeps
    the schema even when data skipping pruned every file physically
    carrying an evolved column."""
    schema = _table_schema(spark, man, paths)
    spark_paths = [_io(p).spark_path(p) for p in paths]
    if schema is None:
        return spark.read.option("mergeSchema", "true").parquet(*spark_paths)
    return spark.read.schema(schema).parquet(*spark_paths)


def version_as_of(path: str, timestamp: float) -> int:
    """TIMESTAMP AS OF resolution: the latest retained version whose
    ``committed_at`` is <= ``timestamp`` (unix seconds). Raises when
    every known version is newer (the table did not exist then, or
    retention dropped the era) or when the candidates predate commit
    timestamps (pre-round-7 manifests). Metadata read only."""
    man = _load_manifest(path)
    if man is None:
        raise ValueError(f"no manifest at {path!r} — no version history")
    versions = list(man.get("history", [])) + [man]
    eligible = [
        v
        for v in versions
        if v.get("committed_at") is not None
        and v["committed_at"] <= timestamp
    ]
    if not eligible:
        known = [
            (v["gen_no"], v.get("committed_at")) for v in versions
        ]
        raise ValueError(
            f"no retained version of {path!r} at or before "
            f"timestamp {timestamp}; known (version, committed_at): "
            f"{known}"
        )
    return max(eligible, key=lambda v: v["gen_no"])["gen_no"]


def read_table(
    spark: SparkSession, path: str, version: int | None = None,
    as_of: float | None = None,
) -> DataFrame:
    """Read back a mart table, resolving through ``_manifest.json``
    when the table has been maintenance-rewritten (see
    :func:`staged_rewrite`). Plain ``spark.read.parquet(path)``
    remains correct only for never-rewritten tables.

    ``version`` time-travels to a retained snapshot: every commit
    records the complete live FILE LIST, so a snapshot read is just
    that list — no log replay, and (format 2) untouched files are
    shared between versions rather than copied. Requires the commit to
    have kept it (``retain_versions=k``); the live view
    (``version=None``) additionally folds in appends landed since the
    last commit. Unknown versions raise with the retained set named —
    a silently-empty time travel would read as data loss.

    ``as_of`` (unix seconds) is TIMESTAMP AS OF: the latest retained
    version committed at or before that instant
    (:func:`version_as_of`). Mutually exclusive with ``version``.
    """
    if version is not None and as_of is not None:
        raise ValueError("pass either version= or as_of=, not both")
    if as_of is not None:
        version = version_as_of(path, as_of)
    if version is None:
        man, entries, loose, _ = _live_state(path)
        if man is None:
            return spark.read.parquet(spark_path(path))
        rels = [e["name"] for e in entries] + list(loose)
        return _read_version(spark, man, path, rels, man.get("dv"))
    man = _load_manifest(path)
    if man is None:
        raise ValueError(
            f"no manifest at {path!r} — time travel needs at least one "
            "staged_rewrite with retain_versions > 0"
        )
    by_no = {h["gen_no"]: h for h in man.get("history", [])}
    by_no[man["gen_no"]] = man
    if version not in by_no:
        raise ValueError(
            f"version {version} not retained for {path!r}; available: "
            f"{sorted(by_no)} (raise retain_versions to keep more)"
        )
    ver = by_no[version]
    rels = [e["name"] for e in _version_files(ver, path)]
    # pass the VERSION dict, not the live manifest: only its
    # mixed_schema flag is consulted by the read path, and the flag is
    # per version (a later full rewrite clears the live one while this
    # snapshot still holds files of differing physical schemas)
    return _read_version(spark, ver, path, rels, ver.get("dv"))


def register_table(
    spark: SparkSession, name: str, path: str, version: int | None = None
) -> DataFrame:
    """Expose a manifest table (or a retained snapshot) to Spark SQL as
    a temp view, so ``spark.sql(f"SELECT ... FROM {name}")`` reads
    through the manifest resolution like every other path. Returns the
    underlying DataFrame."""
    df = read_table(spark, path, version=version)
    df.createOrReplaceTempView(name)
    return df


def table_versions(path: str) -> list[dict]:
    """Retained snapshots for the table at ``path``, oldest first:
    ``[{"gen_no": ..., "generation": ..., "rows": ...}, ...]`` — the
    current generation is the last entry. Empty for never-rewritten
    tables (metadata read only)."""
    man = _load_manifest(path)
    if man is None:
        return []
    keys = ("gen_no", "generation", "rows")
    out = [{k: h.get(k) for k in keys} for h in man.get("history", [])]
    out.append({k: man.get(k) for k in keys})
    return out


def describe_history(path: str) -> list[dict]:
    """DESCRIBE HISTORY analogue: the retained commit log, oldest
    first — ``[{"gen_no", "op", "rows", "committed_at", "n_files"},
    ...]`` ending at the current version. Metadata read only. ``op`` is
    the committing operation (compact / zorder / delete / merge /
    update / restore(N)); pre-round-7 commits lack op/committed_at and
    surface None."""
    man = _load_manifest(path)
    if man is None:
        return []
    out = []
    for ver in list(man.get("history", [])) + [man]:
        out.append(
            {
                "gen_no": ver.get("gen_no"),
                "op": ver.get("op"),
                "rows": ver.get("rows"),
                "committed_at": ver.get("committed_at"),
                "n_files": len(_version_files(ver, path)),
                "dv_rows": sum(_dv_map(ver).values()),
            }
        )
    return out


def verify_table(path: str, deep: bool = False) -> dict:
    """FSCK for a manifest table: one full-resolve consistency sweep
    that proves the invariants every fast path RELIES on but (by
    design) no longer re-checks per commit — the operational
    counterpart of the round-10 selective resolve, and the upgrade
    check for tables written by older code (e.g. pre-salt duplicate
    adopted basenames, which a selective DV commit can no longer
    detect at commit time). Driver-side metadata + existence probes,
    zero Spark jobs (``deep=True`` adds one footer read per live file
    to re-verify entry row counts). Checks:

    * every file referenced by the live version AND every retained
      snapshot exists on disk;
    * every index shard object exists and its root record's ``count``
      (and ``rows``/byte/``cols`` aggregates, when present) matches its
      members — ``cols`` is soundness-critical: an over-narrow record
      actively prunes (round 11); ``deep`` also re-verifies each
      entry's ``cols`` against the file's physical schema;
    * live basenames are UNIQUE (the deletion-vector keying invariant);
    * every DV target is a live file and every DV/CDC sidecar exists;
    * no superseded name is referenced by any retained version.

    Returns ``{"ok": bool, "errors": [...], "files_checked": n,
    "shards_checked": n, "versions_checked": n}`` — run it after
    upgrading table code, after a crash recovered by TTL vacuum, or on
    a schedule next to :func:`advise_maintenance`. NEVER raises: a
    root manifest too malformed to sweep at all comes back as one
    ``unverifiable:`` error."""
    try:
        return _verify_table_sweep(path, deep)
    except Exception as exc:  # the net under the net: report, not raise
        return {
            "ok": False,
            "errors": [f"unverifiable: {type(exc).__name__}: {exc}"],
            "files_checked": 0,
            "shards_checked": 0,
            "versions_checked": 0,
        }


def _verify_shard_bloom(
    io, path: str, sname: str, agg: dict, members: list[dict]
) -> list[str]:
    """Deep-FSCK leg for one shard's bloom aggregate: re-fold the
    member sidecars and prove the recorded filter COVERS them — for
    every column, the recorded bits must be a superset of the
    re-folded member bits, the recorded k must not exceed any
    member's k, the type class must agree, and every member must
    actually carry a sidecar record for the column (an aggregate over
    a sidecar-less member over-claims: that member's values are
    unknown and could be rejected). Any violation is a condition
    under which shard skipping could drop matching rows."""
    import base64 as _b64

    from . import bloom as B

    msgs: list[str] = []
    for cname, rec in (agg.get("cols") or {}).items():
        try:
            bits = rec["bits"]
            rec_bits = _b64.b64decode(bits) if isinstance(bits, str) else bytes(bits)
            rec_k = int(rec["k"])
            rec_t = rec["type"]
        except Exception:
            msgs.append(
                f"shard {sname} bloom[{cname}]: malformed record"
            )
            continue
        acc = 0
        for e in members:
            side = B.load_sidecar(io, path, e["name"])
            mrec = (side or {}).get("cols", {}).get(cname)
            if mrec is None:
                msgs.append(
                    f"shard {sname} bloom[{cname}]: member "
                    f"{e['name']} has no sidecar record — the "
                    "aggregate over-claims coverage"
                )
                break
            if mrec.get("type") != rec_t:
                msgs.append(
                    f"shard {sname} bloom[{cname}]: member type "
                    f"{mrec.get('type')!r} != aggregate {rec_t!r}"
                )
                break
            mbits = mrec["bits"]
            if isinstance(mbits, str):
                mbits = _b64.b64decode(mbits)
            if len(mbits) < 8:
                msgs.append(
                    f"shard {sname} bloom[{cname}]: member "
                    f"{e['name']} sidecar filter is truncated "
                    f"({len(mbits)} B) — the aggregate over-claims"
                )
                break
            if len(mbits) % max(len(rec_bits), 1):
                msgs.append(
                    f"shard {sname} bloom[{cname}]: member filter "
                    f"({len(mbits)} B) not foldable to the aggregate "
                    f"({len(rec_bits)} B)"
                )
                break
            if int(mrec.get("k", 0)) < rec_k:
                msgs.append(
                    f"shard {sname} bloom[{cname}]: aggregate probes "
                    f"k={rec_k} but member {e['name']} inserted only "
                    f"k={mrec.get('k')}"
                )
                break
            acc |= int.from_bytes(
                B.fold_bits(mbits, len(rec_bits)), "big"
            )
        else:
            if acc & ~int.from_bytes(rec_bits, "big"):
                msgs.append(
                    f"shard {sname} bloom[{cname}]: recorded bits "
                    "miss member bits — unsound rejects possible"
                )
    return msgs


def _verify_shard_consolidated(
    io, path: str, sname: str, cons_rel: str, members: list[dict]
) -> list[str]:
    """Deep-FSCK leg for one shard's CONSOLIDATED sidecar object
    (round 13): every payload it carries must be covered by the
    member's own sidecar — same type class, probe k not above the
    member's insert k, same filter size, and no member bit missing
    from the copy (a copy that LOST bits is a false-negative factory
    at O(shard) blast radius). A member name outside the shard's
    membership is an error too: its reject verdict would target a
    file this object has no authority over. Missing members/columns
    are NOT errors — the probe admits them (documented
    less-pruning-never-wrong degradation)."""
    import base64 as _b64

    from . import bloom as B

    msgs: list[str] = []
    # an FSCK must never crash on the corruption it exists to detect
    # (review finding): a truncated/garbage object or a non-dict
    # members shape is ONE reported error, not an aborted sweep
    try:
        raw = io.load_json(os.path.join(path, cons_rel))
    except Exception as exc:
        return [
            f"shard {sname}: unreadable consolidated object "
            f"{cons_rel}: {type(exc).__name__}"
        ]
    if raw is None:
        return [f"shard {sname}: missing consolidated object {cons_rel}"]
    membs = raw.get("members") if isinstance(raw, dict) else None
    if not isinstance(membs, dict):
        return [
            f"shard {sname}: malformed consolidated object {cons_rel}"
        ]
    names = {e["name"] for e in members}
    for mname, payload in membs.items():
        if mname not in names:
            msgs.append(
                f"shard {sname} consolidated: foreign member {mname}"
            )
            continue
        if not isinstance(payload, dict):
            msgs.append(
                f"shard {sname} consolidated[{mname}]: malformed payload"
            )
            continue
        side = B.load_sidecar(io, path, mname)
        for cname, rec in (payload or {}).get("cols", {}).items():
            try:
                bits = rec["bits"]
                c_bits = (
                    _b64.b64decode(bits)
                    if isinstance(bits, str) else bytes(bits)
                )
                c_k, c_t = int(rec["k"]), rec["type"]
            except Exception:
                msgs.append(
                    f"shard {sname} consolidated[{mname}.{cname}]: "
                    "malformed payload"
                )
                continue
            mrec = (side or {}).get("cols", {}).get(cname)
            if mrec is None:
                msgs.append(
                    f"shard {sname} consolidated[{mname}.{cname}]: "
                    "no member sidecar record to cover the copied "
                    "filter — unsound rejects possible"
                )
                continue
            mbits = mrec["bits"]
            if isinstance(mbits, str):
                mbits = _b64.b64decode(mbits)
            if mrec.get("type") != c_t:
                msgs.append(
                    f"shard {sname} consolidated[{mname}.{cname}]: "
                    f"type {c_t!r} != member {mrec.get('type')!r}"
                )
            elif len(mbits) != len(c_bits):
                msgs.append(
                    f"shard {sname} consolidated[{mname}.{cname}]: "
                    f"filter size {len(c_bits)} B != member "
                    f"{len(mbits)} B"
                )
            elif c_k > int(mrec.get("k", 0)):
                msgs.append(
                    f"shard {sname} consolidated[{mname}.{cname}]: "
                    f"probes k={c_k} but member inserted only "
                    f"k={mrec.get('k')}"
                )
            elif int.from_bytes(mbits, "big") & ~int.from_bytes(
                c_bits, "big"
            ):
                msgs.append(
                    f"shard {sname} consolidated[{mname}.{cname}]: "
                    "copy misses member bits — unsound rejects "
                    "possible"
                )
    return msgs


def _verify_table_sweep(path: str, deep: bool) -> dict:
    io = _io(path)
    errors: list[str] = []
    man = _load_manifest(path)
    if man is None:
        return {"ok": True, "errors": [],
                "files_checked": 0, "shards_checked": 0,
                "versions_checked": 0}
    # integrity reads must hit DISK, not the immutable-shard process
    # cache — a warm cache would mask exactly the on-disk corruption
    # (truncated shard JSON, partial write) this sweep exists to find
    for k in [k for k in _SHARD_CACHE if k[0] == path]:
        _SHARD_CACHE.pop(k, None)
    if deep:
        # same rule for the bloom sidecar cache: the aggregate
        # coverage check must read the sidecars on DISK
        from . import bloom as B

        for k in [
            k for k in B._SIDE_CACHE if k.startswith(path + os.sep)
        ]:
            B._SIDE_CACHE.pop(k, None)
        for k in [
            k for k in B._CONS_CACHE if k.startswith(path + os.sep)
        ]:
            B._CONS_CACHE.pop(k, None)
    versions = [man] + list(man.get("history", []))
    sup = set(man.get("superseded", []))
    # an FSCK must never crash on the corruption it exists to detect,
    # and versions SHARE objects by reference (shards, data files,
    # sidecars) — each distinct object is probed/loaded once, while
    # the per-RECORD structural checks (count/rows/bsum vs members)
    # run for every version's record (two versions can carry
    # DIFFERENT records naming one shard object; a forged history
    # record must not hide behind the live one). A missing/corrupt
    # object is one reported error, not an aborted sweep.
    member_cache: dict[str, list | None] = {}
    seen_files: set[str] = set()
    seen_sidecars: set[str] = set()
    man_entries: list[dict] = []
    live_fully_resolved = True
    for v in versions:
        tag = f"v{v.get('gen_no')}"
        entries: list[dict] = []
        ext = v.get("files_ext")
        if isinstance(ext, dict):
            shard_recs = ext.get("shards", [])
            if not isinstance(shard_recs, list):
                errors.append(f"{tag}: malformed files_ext.shards")
                shard_recs = []
            for s in shard_recs:
                sname = s.get("name") if isinstance(s, dict) else None
                if not isinstance(sname, str):
                    errors.append(
                        f"{tag}: malformed shard record {s!r:.80}"
                    )
                    if v is man:
                        live_fully_resolved = False
                    continue
                first = sname not in member_cache
                if first:
                    sp = os.path.join(path, sname)
                    if not io.exists(sp):
                        errors.append(
                            f"{tag}: missing index shard {sname}"
                        )
                        member_cache[sname] = None
                    else:
                        try:
                            member_cache[sname] = _load_shard(
                                path, sname
                            )
                        except Exception as exc:
                            errors.append(
                                f"{tag}: unreadable index shard "
                                f"{sname}: {type(exc).__name__}"
                            )
                            member_cache[sname] = None
                members = member_cache[sname]
                if members is None:
                    if v is man:
                        live_fully_resolved = False
                    continue
                entries.extend(members)
                if len(members) != s.get("count"):
                    errors.append(
                        f"{tag}: shard {sname} count "
                        f"{s.get('count')} != {len(members)} members"
                    )
                if isinstance(s.get("rows"), int):
                    got = sum(e.get("rows") or 0 for e in members)
                    if got != s["rows"]:
                        errors.append(
                            f"{tag}: shard {sname} rows "
                            f"{s['rows']} != {got} summed"
                        )
                if isinstance(s.get("bsum"), int):
                    got = sum(e.get("bytes") or 0 for e in members)
                    if got != s["bsum"]:
                        errors.append(
                            f"{tag}: shard {sname} bsum "
                            f"{s['bsum']} != {got} summed"
                        )
                if isinstance(s.get("cols"), list):
                    # soundness-critical (round 11): an over-narrow
                    # cols record ACTIVELY prunes — verify it is the
                    # exact union of member column lists
                    union: set[str] = set()
                    incomplete = False
                    for e in members:
                        mc = e.get("cols")
                        if mc is None:
                            incomplete = True
                            break
                        union |= set(mc)
                    if incomplete:
                        errors.append(
                            f"{tag}: shard {sname} records cols but a "
                            "member lacks its column list"
                        )
                    elif union != set(s["cols"]):
                        errors.append(
                            f"{tag}: shard {sname} cols != member "
                            f"union (record {sorted(s['cols'])}, "
                            f"members {sorted(union)})"
                        )
                if deep and isinstance(s.get("bloom"), dict) and v is man:
                    # soundness-critical (round 12): a shard bloom
                    # aggregate that MISSES bits a member filter set
                    # (or probes more positions than a member
                    # inserted) can unsoundly reject a present value
                    # and skip a whole shard of matching rows —
                    # re-fold the member sidecars and require the
                    # recorded aggregate to cover them. LIVE records
                    # only: they alone drive shard_admits, and a
                    # history-only record legitimately goes stale
                    # when a re-policy rebuilds still-live members'
                    # sidecars at a different fpp/k (review finding —
                    # flagging that would fail FSCK on a healthy
                    # table).
                    errors.extend(
                        f"{tag}: {msg}"
                        for msg in _verify_shard_bloom(
                            io, path, sname, s["bloom"], members
                        )
                    )
                if deep and s.get("bloomside") and v is man:
                    # same blast-radius argument for the consolidated
                    # object (round 13): a copied filter that lost
                    # bits rejects a whole file's matching rows
                    errors.extend(
                        f"{tag}: {msg}"
                        for msg in _verify_shard_consolidated(
                            io, path, sname, s["bloomside"], members
                        )
                    )
        else:
            if ext is not None:
                errors.append(f"{tag}: malformed files_ext record")
            try:
                entries = _version_files(v, path)
            except Exception as exc:
                errors.append(
                    f"{tag}: unresolvable file list: "
                    f"{type(exc).__name__}"
                )
                entries = []
                if v is man:
                    live_fully_resolved = False
        if v is man:
            man_entries = entries
        for e in entries:
            name = e["name"]
            if v is not man and name in sup:
                errors.append(
                    f"{tag}: retained version references superseded "
                    f"name {name}"
                )
            if name in seen_files:
                continue
            seen_files.add(name)
            p = os.path.join(path, name)
            if not io.exists(p):
                errors.append(f"{tag}: missing data file {name}")
            elif deep and e.get("rows") is not None:
                try:
                    ft = _parquet_footer(p)
                except Exception as exc:
                    errors.append(
                        f"{tag}: unreadable footer {name}: "
                        f"{type(exc).__name__}"
                    )
                else:
                    if ft[0] != e["rows"]:
                        errors.append(
                            f"{tag}: {name} footer rows {ft[0]} != "
                            f"manifest {e['rows']}"
                        )
                    if e.get("cols") is not None and set(
                        e["cols"]
                    ) != set(ft[3]):
                        errors.append(
                            f"{tag}: {name} entry cols != physical "
                            "schema (absence pruning would be unsound)"
                        )
        # by-reference CDC names are data files, checked above
        for rel in sorted(_cdc_sidecars(v) | _dv_names(v)):
            if rel in seen_sidecars:
                continue
            seen_sidecars.add(rel)
            if not io.exists(os.path.join(path, rel)) and not io.isdir(
                os.path.join(path, rel)
            ):
                errors.append(f"{tag}: missing sidecar {rel}")
    bases: dict[str, str] = {}
    for e in man_entries:
        b = os.path.basename(e["name"])
        if b in bases:
            errors.append(
                f"live basename collision: {bases[b]} vs {e['name']} — "
                "deletion-vector keying is ambiguous; compact the table"
            )
        bases[b] = e["name"]
    if man.get("mixed_schema"):
        # INVISIBLE-COLUMN invariant (round 11): on a mixed table with
        # a recorded unified schema, every live file's physical column
        # set must be covered by the record — a physical column the
        # recorded schema lacks is silently hidden from every
        # explicit-schema read (the bug class the stale-carry fix
        # closed; this sweep catches any other path to that state)
        rec = _recorded_schema(man)
        if rec is not None:
            known = {f.name.lower() for f in rec.fields}
            for e in man_entries:
                extra = [
                    c for c in (e.get("cols") or [])
                    if c.lower() not in known
                ]
                if extra:
                    errors.append(
                        f"live file {e['name']} carries columns "
                        f"{sorted(extra)} missing from the recorded "
                        "table_schema — those columns are invisible "
                        "to explicit-schema reads"
                    )
    if deep and man.get("bloom") and live_fully_resolved:
        # self-name integrity (round 13): the distributed probe only
        # honors a sidecar's content-embedded "self" when the sidecar
        # actually sits at that name (self-authenticating), so a
        # mis-selfed sidecar costs pruning, never soundness — this
        # sweep surfaces the integrity breakage that would otherwise
        # show up only as silently-lost pruning. Missing sidecars and
        # self-less legacy payloads are fine (admit direction). B is
        # bound by the deep-gated import at the sweep's top; threaded
        # prefetch first — one sequential GET per live file would
        # re-create the O(files x latency) loop this codebase keeps
        # removing.
        B.prefetch_sidecars(
            io, path, [e["name"] for e in man_entries]
        )
        for e in man_entries:
            side = B.load_sidecar(io, path, e["name"])
            sself = (side or {}).get("self")
            if sself is not None and sself != e["name"]:
                errors.append(
                    f"sidecar for {e['name']} declares self "
                    f"{sself!r} — the probe refuses mislocated "
                    "selves (sound), so this file's distributed "
                    "verdicts are silently lost until rebuilt"
                )
    live_names = {e["name"] for e in man_entries}
    if live_fully_resolved:
        # with a missing/unreadable live shard this check would emit a
        # derived false positive for every DV target inside it — the
        # shard error above is the root cause, already reported
        for rel in _dv_map(man):
            if rel not in live_names:
                errors.append(f"DV entry targets non-live file {rel}")
    return {
        "ok": not errors,
        "errors": errors,
        "files_checked": len(seen_files),
        "shards_checked": len(member_cache),
        "versions_checked": len(versions),
    }


def describe_detail(path: str, advise: bool = False) -> dict:
    """DESCRIBE DETAIL analogue: one metadata-priced dict for the LIVE
    table — version, file count/bytes, row count (DV-adjusted), pending
    loose appends, deletion-vector totals, constraints, schema-evolution
    state, retained-version count. The operational one-glance a
    maintenance scheduler keys off (e.g. "compact when small files or
    dv_rows grow past X"). With ``advise=True`` the result also carries
    ``maintenance`` = :func:`advise_maintenance`'s decisions, so a
    scheduler needs ONE call, not two (both are driver-side metadata;
    the merge costs one extra manifest parse)."""
    io = _io(path)
    # O(root) on a sharded table: shard records with a byte sum (bsum)
    # carry verbatim — file count, bytes and rows come from aggregates
    # (root rows is the committed DV-adjusted live count; loose appends
    # add their footers). Records without bsum load as usual.
    carried: list[dict] = []
    man, entries, loose, stale = _live_state(
        path,
        shard_admits=lambda s: not isinstance(s.get("bsum"), int),
        carry_out=carried,
    )
    if carried and not isinstance(man.get("rows"), int):
        carried = []
        man, entries, loose, stale = _live_state(path)
    if man is None:
        files = _top_level_part_files(path)
        out = {
            "format": "parquet(unmanaged)",
            "num_files": len(files),
            "size_bytes": sum(
                io.getsize(os.path.join(path, f)) for f in files
            ),
        }
        if advise:
            out["maintenance"] = advise_maintenance(path)
        return out
    dv_n = _dv_map(man)
    if carried:
        rows = man["rows"] + sum(
            _parquet_footer(os.path.join(path, f))[0] for f in loose
        )
    else:
        rows = _meta_row_count(path, entries, loose, dv_n)
    out = {
        "format": f"manifest(v{man.get('format', 1)})",
        "gen_no": man["gen_no"],
        "op": man.get("op"),
        "committed_at": man.get("committed_at"),
        "rows": rows,
        "num_files": len(entries) + sum(s["count"] for s in carried),
        "size_bytes": sum(_entry_bytes(path, e) for e in entries)
        + sum(s["bsum"] for s in carried),
        "loose_appends": len(loose),
        "dv_rows": sum(dv_n.values()),
        "dv_files": len(dv_n),
        "dv_sidecars": len(_dv_names(man)),
        "retained_versions": len(man.get("history", [])),
        "constraints": dict(man.get("constraints", {})),
        "bloom": dict(man.get("bloom", {})),
        "mixed_schema": bool(man.get("mixed_schema")),
        "stale_superseded_on_disk": len(stale),
        # streaming-ingest watermarks ({app_id: last_applied_version}) —
        # the exactly-once state a stream owner checks after a restart
        "txn": dict(man.get("txn", {})),
    }
    if advise:
        out["maintenance"] = advise_maintenance(path)
    return out


def advise_maintenance(
    path: str,
    target_bytes: int = 128 << 20,
    dv_rot_threshold: float = 0.5,
    loose_threshold: int = 8,
) -> dict:
    """Turn :func:`describe_detail`-grade metadata into CONCRETE
    maintenance decisions — the scheduler hook for routine table
    upkeep, all driver-side metadata (no Spark jobs):

    * ``compact`` — True when 2+ live files are under half the target
      size, or loose appends piled past ``loose_threshold`` (small
      files + unadopted appends are the two read-cost leaks);
    * ``materialize_dv`` — manifest-relative names whose DV'd deleted
      fraction exceeds ``dv_rot_threshold`` (scans of those files waste
      the anti-join; :func:`compact_small_files` folds them with the
      same knob);
    * ``vacuum`` — True when superseded files linger on disk (a crashed
      retire left dead bytes for the TTL collector).

    Run what it says with :func:`compact_small_files` /
    :func:`vacuum_staging`; re-running after is idempotent-cheap."""
    # same selective resolve as compact_small_files: shards whose byte
    # floor clears the small threshold hold no small files — their
    # records carry, the small count stays exact over the loaded rest.
    # DV rot needs per-member fractions, so tables with DV state load
    # fully (a rotten file can be right-sized and live anywhere).
    carried: list[dict] = []
    man, entries, loose, stale = _live_state(
        path,
        shard_admits=lambda s: not (
            isinstance(s.get("bmin"), int)
            and s["bmin"] >= target_bytes // 2
        ),
        carry_out=carried,
    )
    if carried and _dv_map(man):
        man, entries, loose, stale = _live_state(path)
    if man is None:
        return {
            "compact": False,
            "materialize_dv": [],
            "vacuum": False,
            "evidence": {
                "small_files": 0,
                "loose_appends": 0,
                "dv_rows": 0,
                "stale_superseded_on_disk": 0,
            },
        }
    small = [
        e for e in entries if _entry_bytes(path, e) < target_bytes // 2
    ]
    dv_n = _dv_map(man)
    by_name = {e["name"]: e for e in entries}
    rotten = [
        rel
        for rel, n in dv_n.items()
        if rel in by_name
        and n > dv_rot_threshold * max(1, _entry_rows(path, by_name[rel]))
    ]
    return {
        "compact": len(small) >= 2 or len(loose) > loose_threshold,
        "materialize_dv": sorted(rotten),
        "vacuum": bool(stale),
        "evidence": {
            "small_files": len(small),
            "loose_appends": len(loose),
            "dv_rows": sum(dv_n.values()),
            "stale_superseded_on_disk": len(stale),
        },
    }


def _retire(paths: list[str]) -> None:
    """Best-effort removal of files/dirs superseded by a committed
    manifest. Runs strictly AFTER the commit; a crash here leaves only
    dead bytes that every NEW reader already ignores (vacuum_staging
    collects them past the TTL).

    READER-CONCURRENCY CONTRACT: a reader that resolved the PREVIOUS
    manifest may still be scanning files this retire deletes — with
    ``retain_versions=0`` the files die at commit and that reader can
    fail mid-query with FileNotFoundError. Tables with concurrent
    readers should commit with ``retain_versions >= 1``: retained
    versions keep their files alive (shared by reference, zero write
    cost) and the TTL vacuum becomes the only deleter — the same
    reader-protection model as Delta/Iceberg's VACUUM grace, expressed
    through the retention knob. ``retain_versions=0`` is the ERASURE
    posture (takedowns must not outlive the commit)."""
    for p in paths:
        _io(p).delete_quiet(p)


def _retire_dead(
    path: str, dead: set[str], live: set[str], extra=(), bloom=False
) -> None:
    """THE post-commit retire every commit path shares: delete the
    ``dead`` manifest-relative names plus ``extra`` (superseded loose
    files) — with their per-file bloom companions on a bloomed table:
    sidecar liveness is derived from its data file, vacuum sweeps any
    stragglers — then the generation directories they drained."""
    dead_paths = [os.path.join(path, n) for n in set(dead) | set(extra)]
    if bloom:
        dead_paths += [p + _BLOOM_SUFFIX for p in list(dead_paths)]
    _retire(dead_paths)
    _cleanup_empty_gen_dirs(
        path, live, {n.split("/", 1)[0] for n in dead if "/" in n}
    )


def _cdc_names(version: dict) -> set[str]:
    """Relative paths of a version's CDC sidecar files/dirs."""
    cdc = version.get("cdc") or {}
    return {name for lst in cdc.values() for name in lst}


def _cdc_sidecars(version: dict) -> set[str]:
    """A version's cdc names that are REAL sidecar objects (cdc-insert
    / cdc-delete dirs). BY-REFERENCE entries — the pure-insert feed and
    adopted appends record the version's own DATA files as its insert
    list — are excluded: they are version members, already covered by
    member enumeration on both sides of the commit tail's live/dead
    difference. Re-adding them there is redundant on a full resolve
    and WRONG on a selective one (a carried shard's members are
    excluded from both sides by design; a cdc-by-reference copy on the
    old side only would retire a live file — caught by
    test_sharded_index_fragmentation_bounded when insert_into went
    selective)."""
    return {
        n for n in _cdc_names(version)
        if os.path.basename(n).startswith("cdc-")
    }


def _dv_map(version: dict | None) -> dict[str, int]:
    """Per-file deleted-row counts of a version's DELETION VECTORS,
    keyed by manifest-relative data-file name ({} when none). A file
    with a DV entry is physically intact on disk; ``n`` of its rows are
    logically deleted and filtered out at read time (merge-on-read)."""
    if not version:
        return {}
    return (version.get("dv") or {}).get("n", {})


def _dv_names(version: dict) -> set[str]:
    """Relative paths of a version's deletion-vector sidecar dirs."""
    return set((version.get("dv") or {}).get("data", []))


def _live_names(
    versions: list[dict],
    path: str,
    skip: set[str] = frozenset(),
    members: set[str] | None = None,
) -> set[str]:
    """Every object name the given versions keep alive — the ONE
    liveness rule the commit tail, rollback, vacuum and the lost-staging
    check share: data-file members (not enumerating shards named in
    ``skip`` — see :func:`_version_names_skip`), real CDC sidecars, DV
    sidecars, entry-list shards, and each shard's consolidated bloom
    object (``bloomside``). A data file's per-file bloom sidecar lives
    and dies with the file and is not listed. ``members``, when given,
    also collects the member names alone."""
    out: set[str] = set()
    for v in versions:
        names = _version_names_skip(v, path, skip)
        if members is not None:
            members |= names
        shards = (v.get("files_ext") or {}).get("shards", [])
        out |= names | _cdc_sidecars(v) | _dv_names(v)
        out |= {s["name"] for s in shards}
        out |= {s["bloomside"] for s in shards if s.get("bloomside")}
    return out


# the deletion-vector sidecar schema: data-file BASENAME + physical
# row index (written from _metadata.row_index, a LongType)
_DV_SCHEMA = "_file STRING, _pos BIGINT"


def _read_dv(spark: SparkSession, path: str, version: dict) -> DataFrame:
    """The version's deletion-vector row set: ``(_file, _pos)`` —
    data-file BASENAME plus physical row index. Patch-sized by
    protocol: any rewrite of a file materializes (drops) its DV, and
    the hybrid threshold in the DV-writing ops rewrites files whose
    deleted fraction grows past it."""
    rels = sorted(_dv_names(version))
    # the DV schema is PROTOCOL-FIXED — never infer it from the files.
    # Inference turns a racing winner's retire (sidecar dir emptied
    # mid-plan) into a path-less [UNABLE_TO_INFER_SCHEMA]
    # AnalysisException the stale-snapshot classifier cannot safely
    # recognize (caught live by the soak pair fuzz, seed 5000 round
    # 7); with the schema declared the same race surfaces as an empty
    # frame or a classified PATH_NOT_FOUND/FAILED_READ_FILE, and the
    # commit fence still rejects the stale pass either way.
    return spark.read.schema(_DV_SCHEMA).parquet(
        *[spark_path(os.path.join(path, r)) for r in rels]
    )


def _assert_unique_basenames(files: list[dict]) -> None:
    """DV rows key on data-file BASENAME (``_metadata.file_name`` —
    robust across URI schemes, unlike path-prefix stripping): a version
    that carries DVs must have basename-unique data files. Spark write
    UUIDs make collisions unreachable in practice; this guard turns
    'in practice' into a protocol invariant."""
    bases = [os.path.basename(e["name"]) for e in files]
    if len(bases) != len(set(bases)):
        dup = sorted({b for b in bases if bases.count(b) > 1})
        raise RuntimeError(
            f"deletion vectors need basename-unique data files; "
            f"duplicates: {dup[:5]}"
        )


def _read_version_keyed(
    spark: SparkSession,
    man: dict | None,
    path: str,
    rel_names: list[str],
    dv: dict | None,
) -> DataFrame:
    """DV-aware read of manifest-relative data files that RETAINS the
    position key: columns ``_file`` (basename), ``_pos`` (physical row
    index from parquet's ``_metadata``), then the data columns. Files
    carrying a DV entry are broadcast-anti-joined against the DV
    position set (DVs are patch-sized by protocol); files without one
    skip the join entirely. The DML identification/DV-write read."""
    from pyspark.sql import functions as F

    dv_n = (dv or {}).get("n", {})
    plain = [r for r in rel_names if r not in dv_n]
    dved = [r for r in rel_names if r in dv_n]

    def keyed(rels: list[str]) -> DataFrame:
        df = _read_files(spark, man, [os.path.join(path, r) for r in rels])
        clash = {"_file", "_pos"} & set(df.columns)
        if clash:
            raise ValueError(
                f"deletion vectors reserve column names {sorted(clash)}; "
                "rename the table columns or use copy-on-write DML"
            )
        return df.select(
            F.col("_metadata.file_name").alias("_file"),
            F.col("_metadata.row_index").alias("_pos"),
            *df.columns,
        )

    frames = []
    if plain:
        frames.append(keyed(plain))
    if dved:
        dvdf = spark.read.schema(_DV_SCHEMA).parquet(
            *[
                spark_path(os.path.join(path, r))
                for r in sorted(_dv_names({"dv": dv}))
            ]
        ).select("_file", "_pos")
        frames.append(
            keyed(dved).join(
                F.broadcast(dvdf), ["_file", "_pos"], "left_anti"
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def _read_version(
    spark: SparkSession,
    man: dict | None,
    path: str,
    rel_names: list[str],
    dv: dict | None,
) -> DataFrame:
    """DV-aware read of manifest-relative data files (data columns
    only). Without DVs this is exactly the plain :func:`_read_files`
    fast path — zero overhead for copy-on-write-only tables."""
    if not (dv or {}).get("n"):
        return _read_files(
            spark, man, [os.path.join(path, r) for r in rel_names]
        )
    return _read_version_keyed(spark, man, path, rel_names, dv).drop(
        "_file", "_pos"
    )


def _cleanup_empty_gen_dirs(
    path: str, live_names: set[str], touched: set[str]
) -> None:
    """Remove generation directories fully drained by a retire: no
    live-referenced files AND no data files left on disk. A dir that
    still holds data files but no live references is a crashed staging
    write — recovery material for ``vacuum_staging``'s TTL, not ours.
    A dir holding a ``_temporary`` marker is a CONCURRENT writer's
    in-flight Spark write (its part files don't exist until task
    commit): skip it — the writer's own commit or the TTL vacuum owns
    its fate, and deleting it here would kill the racing job with a
    FileNotFoundError instead of the fence's ConcurrentWriteError.
    The sweep considers ONLY directories named in ``touched`` — the
    generation dirs this retire actually drained — never every gen-*
    dir on disk: Spark's job setup creates a staging dir an instant
    before ``_temporary`` lands inside it, and the concurrent pair
    fuzz caught an any-dir sweep deleting a racing writer's
    just-created staging inside that window (the loser's write then
    died with a Py4J error no retry classifier knows). A foreign
    writer's staging is never in this commit's dead set, so scoping
    the sweep to ``touched`` closes the race exactly; crash-orphaned
    empties are TTL vacuum's job."""
    io = _io(path)
    live_dirs = {n.split("/", 1)[0] for n in live_names if "/" in n}
    for child in sorted(touched):
        cp = os.path.join(path, child)
        if (
            child.startswith("gen-")
            and child not in live_dirs
            and io.isdir(cp)
            and not io.exists(os.path.join(cp, "_temporary"))
            and not io.list_basenames(cp, "part-")
            and not io.list_basenames(cp, "adopted-")
            and not io.list_basenames(cp, "cdc-")
            and not io.list_basenames(cp, "dv-")
            and not io.list_basenames(cp, "entries-")
        ):
            io.delete_quiet(cp)


# bounded CAS attempts for a rebase-enabled commit: each retry is one
# manifest GET + conditional PUT (metadata-priced), so a short chain of
# disjoint winners costs requests, never re-staged bytes. Sized by the
# round-10 sustained-contention envelope (tools/dml_headroom.py
# --contention): at 8 writers x 25 continuous batches, 5 attempts
# exhausted on ~1-1.5% of commits even with jittered backoff; 8
# attempts measured zero exhaustion, and the extra headroom is three
# more metadata round trips on the worst-case tail only
_COMMIT_ATTEMPTS = 8

# full-jitter backoff window before a rebase re-read: uniform(0,
# min(CAP, BASE * 2^attempt)). The CAP must exceed the system's
# inter-commit gap or late attempts re-race inside a window where a
# competitor lands every time: with the r10 0.25 s cap the ETag-CAS
# fence (no lock queue — pure optimistic racing, and each cycle pays
# HTTP round trips) exhausted 10% of commits at 8 continuous writers;
# at 1.0 s the tail spreads across several commit intervals. The local
# lock fence queues writers at the lock, so it rarely reaches the cap.
# (With the in-process commit serializer below, backoff only engages
# against OTHER-process writers.)
_BACKOFF_BASE = 0.02
_BACKOFF_CAP = 1.0

# per-table in-process commit serializer — see the COMMIT TAIL block in
# _commit_generation. RLock: the forced-race tests (and any reentrant
# interleave) commit a winner inline from the loser's own thread.
# Bounded registry; eviction of an (unheld, long-idle) entry only
# costs fairness for one race, never correctness — the durable fence
# (the ETag CAS) still serializes all writers.
import contextlib as _contextlib  # noqa: E402  (stdlib, commit guard)
import threading as _threading  # noqa: E402  (stdlib, lock registry)

_TAIL_LOCKS: dict = {}
_TAIL_LOCKS_GUARD = _threading.Lock()


def _commit_tail_lock(path: str):
    with _TAIL_LOCKS_GUARD:
        lk = _TAIL_LOCKS.get(path)
        if lk is None:
            if len(_TAIL_LOCKS) >= 512:
                _TAIL_LOCKS.clear()
            lk = _threading.RLock()
            _TAIL_LOCKS[path] = lk
        return lk


@_contextlib.contextmanager
def _commit_guard(path: str):
    """The commit tail's full serialization stack (round 11): the
    OPTIONAL cross-process advisory coordinator (see
    :mod:`.coordinator` — Delta's external-commit-coordinator seam;
    default None keeps the measured round-10 behavior) outside, the
    in-process per-table RLock inside. Coordinator failures of any
    kind degrade to uncoordinated commits: the durable fence (lock
    file / ETag CAS) owns correctness, coordination only buys
    cross-process fairness under sustained multi-driver fire."""
    from .coordinator import get_commit_coordinator

    coord = get_commit_coordinator()
    token = None
    if coord is not None:
        try:
            token = coord.acquire(path)
        except Exception:
            token = None  # a raising lock service must not block commits
    try:
        with _commit_tail_lock(path):
            yield
    finally:
        if coord is not None and token is not None:
            try:
                coord.release(path, token)
            except Exception:
                pass  # release failure: TTL breaking reclaims the lock



def _drop_lost_staging(io, path: str, gen: str) -> None:
    """Remove a lost commit's staged generation — UNLESS the current
    manifest (or a retained version) references it, which means the
    "lost" CAS actually LANDED and its ack was misrecognized (the
    lost-ack writer-chain check in table_io is depth-bounded, so a
    long-enough burst of later commits can rotate this writer's token
    out). Deleting a referenced generation would turn a wrong error
    REPORT into real data loss; re-checking liveness here costs one
    manifest read. When liveness can't be verified, the staging is
    left for TTL vacuum, whose collection is liveness-checked too."""
    try:
        man = _load_manifest(path)
        if man is not None:
            versions = [man] + list(man.get("history", []))
            if any(v.get("generation") == gen for v in versions) or any(
                n.startswith(gen + "/") for n in _live_names(versions, path)
            ):
                return  # the commit landed: staging IS live data
    except Exception:
        return
    io.delete_quiet(os.path.join(path, gen))


class _TxnAlreadyApplied(Exception):
    """A rebase found this commit's txn (app_id, version) already at or
    below the winner's recorded watermark — a duplicate delivery of the
    same batch won the race. The caller reports 0 rows applied (the
    exactly-once contract) instead of committing a second copy."""


def _rebase_ok(
    man_base: dict,
    man2: dict | None,
    entries2: list[dict],
    loose2: list[str],
    *,
    dropped: set[str],
    loose_consumed: set[str],
    snapshot_names: set[str] = frozenset(),
    dv_targets: set[str] = frozenset(),
    dv_immaterial: bool = False,
    allow_added: bool = True,
) -> bool:
    """Can a lost commit be REBASED onto the winner's generation instead
    of re-running the whole DML pass? True only when the two commits are
    provably disjoint:

    * every file this commit drops/rewrites is still live under the
      winner (the winner didn't delete, rewrite, or compact any of
      them);
    * the winner left the merge-on-read (deletion-vector) state
      untouched — this commit's DV math was computed against it
      (``dv_immaterial`` waives this for the pure-append shape, which
      only mirrors the table's DV state by reference and re-reads it
      from the winner at rebase time);
    * table policy is unchanged (CHECK constraints the staged files
      were validated against; the mixed-schema mark the staged batch's
      schema gate keyed off);
    * every loose append this commit folded or adopted is still loose
      (the winner didn't consume it too — double-adoption would
      duplicate rows).

    The winner ADDING files (a concurrent insert) does NOT conflict
    for MATCHED-ONLY ops (delete/update/layout): the rebased commit
    carries the new files untouched — WriteSerializable isolation, the
    Delta default, where a predicate op serializes BEFORE a concurrent
    blind append even if the appended rows would have matched its
    predicate. It DOES conflict for ops that insert when a key is NOT
    matched (``allow_added=False``, merge_into): two concurrent merges
    of the same absent key would otherwise BOTH take their not-matched
    branch and commit duplicate rows — an outcome no serial order
    produces (whichever merge ran second would match and update), so
    the loser must re-run against the winner's rows instead. This is
    Delta's ConcurrentAppendException for read-dependent writers."""
    if man2 is None:
        return False
    live2 = {e["name"] for e in entries2}
    if not dropped <= live2:
        return False
    if not dv_targets <= live2:
        # this commit MARKS deletion vectors on files the winner
        # rewrote/compacted away — its position sets are against dead
        # bytes (found by the concurrent pair fuzz: a DV update racing
        # a compaction of its target file); must re-run, not rebase
        return False
    if not allow_added and not live2 <= snapshot_names:
        return False
    if not dv_immaterial and man2.get("dv") != man_base.get("dv"):
        return False
    if man2.get("bloom", {}) != man_base.get("bloom", {}):
        return False  # bloom policy changed under us: re-run, re-index
    if man2.get("constraints", {}) != man_base.get("constraints", {}):
        return False
    if bool(man2.get("mixed_schema")) != bool(man_base.get("mixed_schema")):
        return False
    if not loose_consumed <= set(loose2):
        return False
    return True


class _Dv(NamedTuple):
    """A commit's deletion-vector delta: ``n`` (per-file deleted-row
    counts, keyed by manifest-relative name) records the NEW version's
    merge-on-read state; ``df`` is the ``(_file, _pos)`` position set
    written as a sidecar under the new generation — or None with
    ``carry`` naming the previous version's sidecars to share BY
    REFERENCE when the position set is unchanged (with both, ``df`` is
    a DELTA appended beside the shared sidecars). All None (the
    default) clears DVs — any full rewrite materializes them."""

    df: DataFrame | None = None
    n: dict[str, int] | None = None
    carry: list[str] | None = None


class _Insert(NamedTuple):
    """The pure-append shape, :func:`insert_into`'s alone: the staged
    data files ARE the commit's insert feed (recorded by reference —
    zero extra bytes), ``txn`` is the ``(app_id, version)`` streaming
    watermark the commit advances, and ``observed`` — set on the
    single-pass path — reads the expected row count off the staging
    write's own Observation; an observed-empty batch commits nothing."""

    txn: tuple[str, int] | None = None
    observed: Callable[[], int] | None = None


@dataclasses.dataclass(frozen=True)
class Commit:
    """One manifest commit, planned against the base manifest ``man``
    and applied by :func:`_commit_generation`.

    ``keep`` are the entries carried BY REFERENCE, ``new_df`` the rows
    staged into the new generation (None: no data write — a pure DV
    commit rewrites zero data bytes), ``expected`` the row count the
    staged files must hold. ``loose`` are the snapshot's loose appends
    this commit consumes — folded into ``new_df`` or, when listed in
    ``adopt`` with their entries, byte-copied in beside it (an
    untouched append becomes a tracked file for the cost of its own
    bytes) — and ``stale`` the superseded names still on disk; both
    are retired after the commit. ``retain`` keeps that many previous
    versions readable.

    ``cdc`` maps {"insert": df|None, "delete": df|None}; a dict (even
    of Nones) RECORDS the commit's change-data-feed, so adjacent-
    version :func:`table_changes` skips the exceptAll scan; None means
    "changes unknown". Adopted appends join the recorded insert list
    by reference, and a commit that FOLDS loose rows into rewrites
    downgrades its feed to unknown (their row set was never captured).
    ``mixed_schema``: True marks the table as holding files of
    differing physical schemas and records ``table_schema``, the JSON
    StructType of the UNIFIED logical schema (the Delta model — schema
    lives in the log, not in footers: explicit-schema reads, no
    all-footers merge, data skipping on evolved tables); False clears
    the mark (a full rewrite unified them); None inherits. ``dv`` is the
    :class:`_Dv` delta; ``insert`` the :class:`_Insert` shape.

    ``carried`` (SELECTIVE DML): root shard records the caller's
    resolve proved untouched (see ``_live_state``'s ``carry_out``) —
    their members were never loaded and never will be: the commit
    carries the records verbatim, adds their ``rows`` aggregate to the
    row accounting, and excludes their members from BOTH sides of
    every live/dead set difference (sound because the shard object is
    referenced by both the old and the new version — the difference
    cancels member-by-member). A lost CAS resets to the full resolve
    (the winner may have rewritten a carried shard)."""

    man: dict | None
    op: str
    loose: list[str] = ()
    stale: list[str] = ()
    keep: list[dict] = ()
    new_df: DataFrame | None = None
    expected: int = 0
    retain: int = 0
    adopt: list[tuple[str, dict]] = ()
    cdc: dict | None = None
    mixed_schema: bool | None = None
    table_schema: str | None = None
    dv: _Dv = _Dv()
    carried: list[dict] = ()
    insert: _Insert | None = None

    @property
    def rebase(self) -> str:
        """The commit's COMMIT-LEVEL CONFLICT RECONCILIATION shape (see
        the commit-tail comment and :func:`_rebase_ok`): on a lost CAS,
        reload the winner's manifest and, when the two commits touched
        disjoint files, re-point the already-staged files at the new
        generation instead of raising. ``"append"`` (insert) is the
        pure-insert shape — empty read-set, always rebases unless the
        winner already applied this commit's txn version, which raises
        :class:`_TxnAlreadyApplied`; ``"merge"`` is the read-dependent
        inserter — it additionally refuses any winner that ADDED files,
        because a not-matched insert decided against the snapshot is
        invalidated by concurrent new rows (duplicate-key hazard);
        ``"auto"`` (every other op) is the MATCHED-ONLY predicate-DML /
        layout shape. A non-rebaseable lost race cleans its staged
        generation and raises for :func:`retry_on_conflict`."""
        return {"insert": "append", "merge": "merge"}.get(self.op, "auto")


# the feed of a commit that changes no logical row (layout passes,
# DV materialization): recorded EMPTY, so adjacent-version
# table_changes stays metadata-priced
_NO_ROW_CHANGE = {"insert": None, "delete": None}


def _version_state(version: dict) -> dict:
    """A version's own read state, as a root or a history entry carries
    it: its deletion vectors and, on a mixed-schema version, the mark
    with its schema epoch and unified schema — per VERSION, not
    table-global: a later full rewrite clears the live flag while an
    older snapshot still needs merged reads."""
    out = {}
    if version.get("dv") is not None:
        out["dv"] = version["dv"]
    if version.get("mixed_schema"):
        out["mixed_schema"] = True
        for k in ("schema_epoch", "table_schema"):
            if version.get(k) is not None:
                out[k] = version[k]
    return out


def _policy(
    man: dict | None, version: dict | None = None, txn=None, **change
) -> dict:
    """The non-file keys of a new root — the ONE place every commit
    path (the commit core, rollback, the metadata commits) takes them
    from. TABLE policy is carried from the live manifest ``man``:
    CHECK constraints, the bloom index policy and the streaming-txn
    idempotency map (Delta's txn action: ``{app_id:
    last_applied_version}``, advanced by ``txn`` atomically with the
    data). A restore of old data must not silently disarm any of
    them. VERSION state is :func:`_version_state` of ``version``
    (default ``man``). ``change`` replaces keys; None drops one."""
    man = man or {}
    out = {k: man[k] for k in ("constraints", "bloom") if man.get(k)}
    txns = dict(man.get("txn", {}))
    if txn is not None:
        txns[txn[0]] = txn[1]
    if txns:
        out["txn"] = txns
    out.update(_version_state(man if version is None else version))
    out.update(change)
    return {k: v for k, v in out.items() if v is not None}


def _staging_mismatch(
    io, path: str, man: dict | None, n_staged: int, expected: int
) -> None:
    """Raise for a staged row count that misses ``expected``. A winner
    that committed while this pass was STAGING may have retired (with
    retain_versions=0) the very files this rewrite was reading, and
    Spark's parallel file listing treats a vanished input as EMPTY (one
    WARN, zero rows) rather than raising FAILED_READ_FILE — so the race
    surfaces HERE, through the row-count validation, instead of through
    _is_stale_snapshot_error's exception shapes. Gen advance ALONE is
    not evidence (a concurrent pure append retires nothing, and a
    genuine row-loss bug coinciding with one must stay loud) — the race
    verdict additionally requires an input file of the staged-against
    snapshot to have VANISHED from disk. Then it is the lost writer race
    (:class:`ConcurrentWriteError`; retry_on_conflict re-runs against
    the winner's table); otherwise the loud RuntimeError. A systematic
    row-count bug re-raised on retry fails again on the fresh snapshot
    with nothing vanished — loudly."""
    cur = _load_manifest(path)
    if (
        man is not None
        and cur is not None
        and cur.get("gen_no", 0) != man.get("gen_no", 0)
    ):
        try:
            snap_files = _version_files(man, path)
        except Exception:
            # the snapshot's entry shards themselves are no longer
            # resolvable — the winner's retire beat us to them; that
            # IS the vanished-input evidence
            vanished = "<snapshot entry shards unresolvable>"
        else:
            # only files the winner RETIRED can have vanished: a
            # snapshot file still live in the current manifest exists
            # by the manifest invariant, so the existence probes run
            # only over the live-set difference — O(shards) metadata
            # reads instead of O(live files) object HEADs on a
            # 1M-file table's failure path
            try:
                cur_live = {e["name"] for e in _version_files(cur, path)}
            except Exception:
                cur_live = None  # unreadable: probe everything
            vanished = None
            for e in snap_files:
                if cur_live is not None and e["name"] in cur_live:
                    continue
                try:
                    if not io.exists(os.path.join(path, e["name"])):
                        vanished = e["name"]
                        break
                except Exception:
                    # a transient store error is NOT vanished-input
                    # evidence (folding it in would let throttling
                    # convert a genuine row-loss bug into a silent
                    # retry) — skip the file; err toward the loud error
                    continue
        if vanished is not None:
            raise ConcurrentWriteError(
                f"staged rewrite raced a concurrent commit at "
                f"{path!r}: snapshot gen {man.get('gen_no')} "
                f"superseded by {cur.get('gen_no')} and input "
                f"{vanished!r} vanished (staged {n_staged} != "
                f"expected {expected})"
            )
    raise RuntimeError(
        f"rewrite row-count mismatch: staged {n_staged} != expected "
        f"{expected}"
    )


def _enforce_checks(
    spark: SparkSession, path: str, man: dict | None, keep: list[dict],
    new_entries: list[dict],
) -> None:
    """CHECK enforcement is commit-time and staged-sized: carried files
    hold by induction (validated when their constraint was added or
    when they were last written), so only this commit's new files —
    including adopted appends, which bypassed every earlier gate — need
    the scan. SQL CHECK semantics: only a row where the expression is
    FALSE violates; NULL/UNKNOWN passes."""
    constraints = (man or {}).get("constraints") or {}
    if not constraints or not new_entries:
        return
    from pyspark.sql import functions as F

    # mergeSchema: staged files and adopted appends may differ during
    # schema evolution; the set is patch-sized either way
    check_df = spark.read.option("mergeSchema", "true").parquet(
        *[spark_path(os.path.join(path, e["name"])) for e in new_entries]
    )
    if keep:
        # an evolving commit may OMIT a constrained column from every
        # new file — NULL-extend to the carried schema so the CHECK
        # evaluates to its documented NULL-passes semantics instead of
        # an unresolved-column error
        carried = _read_files(
            spark, man, [os.path.join(path, keep[0]["name"])]
        ).columns
        for c in carried:
            if c not in check_df.columns:
                check_df = check_df.withColumn(c, F.lit(None))
    check = check_df.agg(
        *[
            F.count_if(~F.coalesce(F.expr(expr), F.lit(True))).alias(cname)
            for cname, expr in constraints.items()
        ]
    ).first()
    bad = {c: check[c] for c in constraints if check[c]}
    if bad:
        raise ValueError(
            f"CHECK constraint violated by this commit: "
            + ", ".join(
                f"{c} ({constraints[c]!r}): {n} rows"
                for c, n in bad.items()
            )
        )


def _commit_generation(
    spark: SparkSession, path: str, c: Commit
) -> tuple[int, dict, int]:
    """Apply one :class:`Commit` — the shared commit core of the
    manifest protocol. Steps (a crash between any two leaves a
    readable table):

    1. stage: write ``c.new_df``, the CDC frames and the DV position
       set into ``<path>/gen-<n>._<op>/`` (the data files at the top,
       the sidecars in subdirectories) — live table untouched. No write
       reads another's output, so each is its own Spark job, submitted
       together through :func:`session.spark_threads` and sharing the
       executors under Spark's FIFO scheduler. All are awaited; any
       failure removes the staging directory and raises the first
       error in submission order (data, CDC, DV). Every write uses mode
       ``append``: the directory is fresh, and an ``overwrite`` of the
       data would delete the ``_temporary`` directories the sidecar
       jobs create under it;
    2. validate the staged row count against ``c.expected`` (parquet
       FOOTER metadata only — no job, cheap at any scale);
    3. copy adopted appends in; enforce CHECK constraints and build
       bloom sidecars for the new files;
    4. commit: atomically replace ``_manifest.json`` (writer-fenced,
       see :func:`_commit_manifest`), rebasing a lost CAS in the shape
       ``c.rebase`` names;
    5. retire what neither the new manifest nor a retained history
       version keeps alive (:func:`_live_names`).

    Returns ``(gen_no, manifest, n_new_files)``."""
    import random as _random
    import time as _time
    import uuid

    io = _io(path)
    prev_no = c.man["gen_no"] if c.man else 0
    if c.dv.n and not (c.dv.carry or c.dv.df is not None):
        raise RuntimeError("DV counts without a position set or carry")
    # per-writer uniquifier: two racing writers must never share a
    # staging directory — the fence rejects the loser's COMMIT, but only
    # if its staged bytes didn't overwrite the winner's first
    gen = f"gen-{prev_no + 1:06d}._{c.op}-{uuid.uuid4().hex[:8]}"
    staging = os.path.join(path, gen)
    writes = [(c.new_df, gen)] if c.new_df is not None else []
    # a pure insert records its feed by reference to the data files
    cdc = c.cdc if c.insert is None else None
    for kind, frame in (cdc or {}).items():
        if frame is not None:
            # no leading underscore: Spark treats _-prefixed paths as
            # hidden metadata and refuses to read them back
            writes.append((frame, f"{gen}/cdc-{kind}"))
    dv_written: list[str] = []
    if c.dv.n and c.dv.df is not None:
        # with carry this is a DELTA append: previous sidecars are
        # shared by reference, only the new positions are written — DV
        # add cost is O(new positions), never O(total accumulated)
        dv_written = [f"{gen}/dv-deletes"]
        writes.append((c.dv.df, dv_written[0]))
    try:
        with spark_threads(spark) as submit:
            for frame, rel in writes:
                # append, never overwrite: see step 1 above
                submit(
                    frame.write.mode("append").parquet,
                    spark_path(os.path.join(path, rel)),
                )
    except BaseException:
        io.delete_quiet(staging)
        raise
    staged = (
        io.list_basenames(staging, "part-") if c.new_df is not None else []
    )
    new_entries = [_file_entry(path, f"{gen}/{b}") for b in staged]
    n_staged = sum(e["rows"] for e in new_entries)
    expected = c.expected
    if c.insert is not None and c.insert.observed is not None:
        # single-pass writers (insert_into's micro-batch fast path): the
        # expected count rides an Observation ON the staging write job
        # itself, so it resolves only after the write above completed —
        # still an independent check of the footers (the observation
        # counts rows the job SAW; the footers count rows the files
        # RETAINED)
        expected = int(c.insert.observed())
        if n_staged == 0 == expected:
            # observed-empty batch: drop the staged empty file and leave
            # the table untouched — no generation burned
            io.delete_quiet(staging)
            return prev_no, c.man, 0
    if n_staged != expected:
        io.delete_quiet(staging)
        _staging_mismatch(io, path, c.man, n_staged, expected)
    if c.adopt:
        # a pure-DV commit writes no data files, so the staging dir may
        # not exist yet — adoption still needs it
        io.makedirs(staging)
    adopted_rels: list[str] = []
    for name, entry in c.adopt:
        # uuid-salted: adopting the SAME loose name twice across a
        # table's life must not mint two live files with one basename —
        # deletion-vector position sets key on basenames, and the
        # selective-DML resolve (carried) relies on every NEW basename
        # being collision-free by construction
        rel = f"{gen}/adopted-{uuid.uuid4().hex[:8]}-{name}"
        io.copy_file(os.path.join(path, name), os.path.join(path, rel))
        new_entries.append({**entry, "name": rel})
        adopted_rels.append(rel)
    bloom_policy = (c.man or {}).get("bloom")
    try:
        _enforce_checks(spark, path, c.man, c.keep, new_entries)
        if bloom_policy and new_entries:
            # bloom sidecar build is commit-time and staged-sized, the
            # same induction as CHECK enforcement: carried files keep
            # their immutable sidecars by adjacency
            _write_bloom_sidecars(spark, path, bloom_policy, new_entries)
    except Exception:
        # any pre-commit failure (violation, analysis error, lost
        # executor) must not leak the staged generation until TTL
        io.delete_quiet(staging)
        raise
    cdc_rec = None
    if c.insert is not None:
        # a pure-insert commit's staged data files ARE its insert feed:
        # recorded BY REFERENCE (zero extra bytes)
        cdc_rec = {"insert": [f"{gen}/{b}" for b in staged], "delete": []}
    elif cdc is not None:
        cdc_rec = {
            kind: [] if frame is None else [f"{gen}/cdc-{kind}"]
            for kind, frame in cdc.items()
        }
    if cdc_rec is not None:
        # loose appends were never part of ANY version, so the rows of a
        # loose file this commit brings in are INSERTS of the v->v+1 hop:
        # adopted files join the insert list BY REFERENCE, while a commit
        # that FOLDS loose rows into rewritten files has no recorded row
        # set for them — its feed is marked unknown so table_changes /
        # the feed fall back to the snapshot diff instead of silently
        # reporting "no change" and losing the appended rows downstream.
        if set(c.loose) - {name for name, _ in c.adopt}:
            cdc_rec = None
        elif adopted_rels:
            cdc_rec["insert"] = cdc_rec.get("insert", []) + adopted_rels

    # COMMIT TAIL: build the manifest against the current snapshot and
    # CAS it in. On a lost race the commit reloads the winner's state
    # and — when the two commits are provably DISJOINT (see _rebase_ok)
    # — re-derives its carried file list and re-CASes the ALREADY-STAGED
    # files onto the new generation: no re-identification scan, no
    # re-staging, no batch-byte rewrite. This is the Delta/Iceberg
    # commit-level conflict reconciliation; without it,
    # retry_on_conflict re-runs the whole DML pass even when concurrent
    # writers touched disjoint files (parallel insert_into streams, or
    # a delete racing a compaction of other files). The staging
    # directory name keeps the ORIGINAL attempt's generation number
    # (cosmetic only — every consumer works off manifest-relative
    # names).
    skip = {s["name"] for s in c.carried}
    snapshot_names = (
        _version_names_skip(c.man, path, skip) if c.man else set()
    )
    dropped = snapshot_names - {e["name"] for e in c.keep}
    loose_consumed = set(c.loose) | {name for name, _ in c.adopt}
    # IN-PROCESS COMMIT SERIALIZER (round 10): threads of ONE driver
    # never CAS-race each other — they queue here and each commits
    # against a fresh winner state, so rebase attempts are spent only
    # on OTHER-process writers. This is Delta's S3SingleDriverLogStore
    # posture: raw conditional-PUT racing degrades under sustained
    # many-writer fire (measured: 7.5% attempt exhaustion at 8
    # in-process threads on the ETag-CAS fake before this lock, zero
    # after). REENTRANT by design: the forced-race tests commit a
    # winner inline from the loser's thread. Cross-process fairness
    # defaults to the fence's optimistic racing (docs/SCALE.md
    # operating guidance); deployments past that plug an advisory
    # coordinator into _commit_guard (see coordinator.py).
    with _commit_guard(path):
        for attempt in range(_COMMIT_ATTEMPTS):
            man = c.man
            base_no = man["gen_no"] if man else 0
            skip = {s["name"] for s in c.carried}
            files = list(c.keep) + new_entries
            # entry-list placement: inline below _SHARD_THRESHOLD;
            # external immutable shards past it (or while the previous
            # version is already sharded and hasn't shrunk back under
            # half the threshold — hysteresis so a table at the boundary
            # doesn't flip layouts every commit). A FIRST-EVER commit
            # this large shards too (man or {}); carried shards force
            # the external layout regardless of the LOADED count.
            ext_rec = None
            if c.carried or len(files) >= _SHARD_THRESHOLD or (
                man is not None
                and _shard_names(man)
                and len(files) >= _SHARD_THRESHOLD // 2
            ):
                ext_rec = _externalize_entries(
                    io, path, gen, man or {}, c.keep, new_entries,
                    attempt, carried_verbatim=c.carried,
                )
            dv_rec = None
            if c.dv.n:
                # loaded files only under a selective resolve — sound
                # inductively: carried shards' members (and their DV
                # entries) are untouched, every NEW basename is
                # collision-free by construction. KNOWN CARVE-OUT: a
                # table holding duplicate basenames minted by PRE-salt
                # code passes this partial check where the full one
                # raised — run verify_table() once after upgrading.
                _assert_unique_basenames(files)
                missing_dv = set(c.dv.n) - {e["name"] for e in files}
                if missing_dv and c.carried:
                    # names valid under the base version whose files
                    # this commit didn't drop live inside carried shards
                    missing_dv -= set(_dv_map(man)) - dropped
                if missing_dv:
                    io.delete_quiet(staging)
                    raise RuntimeError(
                        f"DV entries for files not in the version: {missing_dv}"
                    )
                dv_rec = {
                    "data": list(c.dv.carry or []) + dv_written,
                    "n": dict(c.dv.n),
                }
            history = list(man.get("history", [])) if man else []
            if man:
                history.append(_prev_version_snapshot(man, path))
            kept = (
                history[max(0, len(history) - c.retain):] if c.retain else []
            )
            manifest = {
                "format": 2,
                "generation": gen,
                "gen_no": base_no + 1,
                "rows": (
                    sum(_entry_rows(path, e) for e in files)
                    + sum(s["rows"] for s in c.carried)
                    - sum((c.dv.n or {}).values())
                ),
                "op": c.op,
                "committed_at": _commit_time(),
                "history": kept,
            }
            if ext_rec is not None:
                manifest["files_ext"] = ext_rec
            else:
                manifest["files"] = files
            if cdc_rec is not None:
                manifest["cdc"] = cdc_rec
            # the schema-epoch cache key is the uuid-salted generation
            # NAME, not the bare gen_no: gen numbers restart at 1 when a
            # table is dropped and recreated at the same path
            state = (man or {}) if c.mixed_schema is None else {
                "mixed_schema": c.mixed_schema,
                "schema_epoch": gen,
                "table_schema": c.table_schema,
            }
            manifest.update(_policy(
                man, {**state, "dv": dv_rec},
                c.insert.txn if c.insert is not None else None,
            ))
            # liveness BEFORE the CAS: top-level files adopted by
            # convert_to_manifest that THIS commit drops must enter
            # superseded, or a crashed retire would resurrect them as
            # loose appends. Member names seen only through HISTORY are
            # tracked apart: a history version indexes files under ITS
            # OWN partition, so a file still inside a carried shard can
            # surface there by a name the skip cancellation cannot
            # match — the retire below proves such names dead first
            live = _live_names(
                [{**manifest, "files": files}] + kept, path, skip
            )
            man_members: set[str] = set()
            hist_members: set[str] = set()
            old = _live_names(
                [man] if man else [], path, skip, man_members
            ) | _live_names(history, path, skip, hist_members)
            manifest["superseded"] = sorted(
                set(c.stale) | set(c.loose)
                | {n for n in old - live if "/" not in n}
            )
            try:
                _commit_manifest(path, manifest, expect_gen=base_no)
                break
            except ConcurrentWriteError:
                if man is None or attempt == _COMMIT_ATTEMPTS - 1:
                    # a lost race the caller must re-run: clean the
                    # staged generation eagerly — liveness-checked,
                    # because a "lost" CAS can be a LANDED commit whose
                    # ack was misrecognized (see _drop_lost_staging)
                    _drop_lost_staging(io, path, gen)
                    raise
                # FULL-JITTER exponential backoff BEFORE re-reading the
                # winner's state: the snapshot read below opens this
                # attempt's read-to-CAS window, so a sleep placed after
                # it widens the very window a competing commit kills.
                # Sleeping first desynchronizes the losers and then
                # races the shortest possible window (sized by
                # tools/dml_headroom.py --contention, docs/SCALE.md).
                _time.sleep(
                    _random.uniform(
                        0.0, min(_BACKOFF_CAP, _BACKOFF_BASE * 2 ** attempt)
                    )
                )
                try:
                    man2, entries2, loose2, stale2 = _live_state(path)
                except Exception:
                    # reload racing a winner's retire: clean up, let
                    # retry_on_conflict's stale-snapshot path re-run
                    _drop_lost_staging(io, path, gen)
                    raise
                txn = c.insert.txn if c.insert is not None else None
                if txn is not None and man2 is not None:
                    last = man2.get("txn", {}).get(txn[0])
                    if last is not None and txn[1] <= last:
                        # the winner (a duplicate delivery of this very
                        # batch) already applied this txn version — the
                        # exactly-once contract says drop ours
                        _drop_lost_staging(io, path, gen)
                        raise _TxnAlreadyApplied() from None
                if c.carried and c.rebase == "merge":
                    # the not-matched isolation check below compares
                    # live2 against the FULL base name set — complete it
                    # from the carried records (loads only here, on the
                    # lost-CAS rare path). A load failure means the
                    # winner re-pooled and retired a carried shard: the
                    # snapshot can't be reconstructed, so the race is
                    # non-rebaseable.
                    try:
                        snapshot_names |= _carried_member_names(
                            path, c.carried
                        )
                    except Exception:
                        _drop_lost_staging(io, path, gen)
                        raise ConcurrentWriteError(
                            f"lost race at {path!r}: winner retired a "
                            "carried index shard before the snapshot "
                            "could be completed; re-run the operation"
                        ) from None
                pure_append = c.rebase == "append" and c.dv.df is None
                if not _rebase_ok(
                    man, man2, entries2, loose2,
                    dropped=dropped, loose_consumed=loose_consumed,
                    snapshot_names=snapshot_names,
                    dv_targets=(
                        set(c.dv.n) if c.dv.n and not pure_append else set()
                    ),
                    dv_immaterial=pure_append,
                    # merge takes its NOT-MATCHED branch against the
                    # snapshot — a winner that ADDED rows invalidates it
                    allow_added=c.rebase != "merge",
                ):
                    _drop_lost_staging(io, path, gen)
                    raise
                # disjoint: rebase the staged commit onto the winner's
                # generation — carried files re-derived from the
                # WINNER's full resolve (it may have compacted or
                # appended files this commit never touched, or rewritten
                # a carried shard: the carry resets), everything staged
                # reused as-is. Predicate ops consumed the snapshot's
                # loose files; anything landed since stays loose and
                # visible. The pure append only mirrors the table's
                # merge-on-read state: it re-reads it from the winner.
                dv2 = man2.get("dv")
                c = dataclasses.replace(
                    c,
                    man=man2,
                    stale=stale2,
                    keep=[e for e in entries2 if e["name"] not in dropped],
                    carried=[],
                    loose=c.loose if c.rebase == "append" else [
                        f for f in loose2 if f in loose_consumed
                    ],
                    dv=(
                        c.dv if not pure_append
                        else _Dv(None, dict(dv2["n"]), list(dv2["data"]))
                        if dv2 else _Dv()
                    ),
                )

    # retire: previously-referenced names and superseded loose files
    # kept alive by neither the new manifest nor a retained version
    dead = old - live
    # suspects: names seen ONLY through history versions. Names the
    # base version itself enumerated are partition-proven (a version's
    # index partitions its files, so a name from an ADMITTED shard is
    # never also a carried member) — and the base snapshot always sits
    # in `history`, so without this subtraction every commit's own
    # drops would trigger the carried-member load and void the skip.
    suspects = dead & (hist_members - man_members) if c.carried else set()
    if suspects:
        # prove death by loading the carried members once (process-
        # cache-warm; object-store cost only on commits that actually
        # expire a version). POST-COMMIT POSTURE: the CAS already landed
        # — nothing here may raise, or a COMMITTED write would surface
        # as a retryable failure and retry_on_conflict would re-apply it
        # (double insert). If a racing process retired a carried shard
        # object first, skip retiring the unprovable names — dead bytes
        # are TTL vacuum's job, double-applied rows are forever.
        try:
            dead -= _carried_member_names(path, c.carried)
        except Exception:
            dead -= suspects
    _retire_dead(
        path, dead, live, set(c.stale) | set(c.loose),
        bool(manifest.get("bloom")),
    )
    return manifest["gen_no"], manifest, len(staged)


def _meta_row_count(
    path: str,
    entries: list[dict],
    loose: list[str],
    dv_n: dict[str, int] | None = None,
) -> int:
    """Live row count from manifest entries + loose-file footers, minus
    deletion-vector counts — driver-side metadata only, zero Spark
    jobs."""
    n = sum(_entry_rows(path, e) for e in entries)
    for f in loose:
        n += _parquet_footer(os.path.join(path, f))[0]
    return n - sum((dv_n or {}).values())


def _prev_version_snapshot(man: dict, path: str) -> dict:
    """The history entry for the version being superseded: identity
    keys, the resolved file list, and its CDC/DV records (shared, not
    copied). One audited implementation for every commit path."""
    prev = {
        k: man[k]
        for k in ("gen_no", "generation", "rows", "op", "committed_at")
        if k in man
    }
    if man.get("files_ext") is not None:
        # sharded version: history shares the immutable shard OBJECTS,
        # not an inlined copy (inlining 100k entries into the root per
        # retained version would defeat the sharding)
        prev["files_ext"] = man["files_ext"]
    else:
        prev["files"] = _version_files(man, path)
    if man.get("cdc") is not None:
        prev["cdc"] = man["cdc"]
    prev.update(_version_state(man))
    return prev


def _dv_mark_split(
    path: str,
    entries: list[dict],
    touched_rel: set[str],
    per_file: dict[str, int],
    old_dv_n: dict[str, int],
    threshold: float,
) -> set[str]:
    """The hybrid DV/rewrite decision, shared by the three DV-writing
    DML ops: a touched REFERENCED file is DV-marked while its
    cumulative deleted fraction stays within ``threshold``, else
    rewritten (materialized). Touched LOOSE files never DV-mark — they
    join the manifest at this commit under a new (adopted) name, which
    would orphan position keys recorded against the loose name."""
    by_name = {e["name"]: e for e in entries}
    dv_mark: set[str] = set()
    for rel in touched_rel & set(by_name):
        frac = (old_dv_n.get(rel, 0) + per_file[rel]) / max(
            1, _entry_rows(path, by_name[rel])
        )
        if frac <= threshold:
            dv_mark.add(rel)
    return dv_mark


# fan-in bound on deletion-vector delta sidecars: pure DV adds append a
# delta (O(patch) bytes) until this many sidecars accumulate, then one
# compacting rewrite folds them — amortized O(patch) per commit with a
# bounded number of sidecar reads per scan
_DV_MAX_SIDECARS = 16


def _dv_add(
    spark: SparkSession,
    path: str,
    man: dict | None,
    rewrite_rel: set[str],
    new_pos: DataFrame,
    add_n: dict[str, int],
) -> _Dv:
    """DV bookkeeping for a commit ADDING deleted positions (``new_pos``
    = the new ``(_file, _pos)`` rows, ``add_n`` = per-file added
    counts) while rewriting ``rewrite_rel``, as a :class:`_Dv`. A pure
    add appends a
    DELTA sidecar and shares every previous one by reference — the
    per-commit DV cost is O(new positions), NOT O(total accumulated
    positions), which is what keeps a high-frequency CDC stream from
    rewriting its whole position set every microbatch. Dropping a DV'd
    file, or exceeding the :data:`_DV_MAX_SIDECARS` fan-in bound,
    triggers one compacting filtered rewrite instead (this is also
    what keeps stale positions of dropped files out of the sidecars —
    the invariant that every sidecar row references a file in
    ``dv_n``)."""
    from pyspark.sql import functions as F

    old = _dv_map(man)
    surv = {f: n for f, n in old.items() if f not in rewrite_rel}
    dv_n = dict(surv)
    for rel, n in add_n.items():
        dv_n[rel] = dv_n.get(rel, 0) + n
    prev = sorted(_dv_names(man)) if man else []
    if set(surv) == set(old) and len(prev) < _DV_MAX_SIDECARS:
        return _Dv(new_pos.coalesce(1), dv_n, prev)
    frames = [new_pos]
    if surv:
        frames.append(
            _read_dv(spark, path, man).where(
                F.col("_file").isin([os.path.basename(f) for f in surv])
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return _Dv(out.coalesce(1), dv_n, None)


def _dv_after_drop(
    spark: SparkSession, path: str, man: dict | None, dropped_rel: set[str]
) -> _Dv:
    """DV bookkeeping for a commit that rewrites ``dropped_rel`` (their
    deletions materialize into the rewrite) and carries every other
    file, as a :class:`_Dv`.
    Unchanged position sets are shared BY REFERENCE (zero bytes); a
    shrunken set is rewritten filtered (DV sidecars are patch-sized by
    protocol, so this is metadata-priced)."""
    old = _dv_map(man)
    new_n = {f: n for f, n in old.items() if f not in dropped_rel}
    if not new_n:
        return _Dv()
    if set(new_n) == set(old):
        return _Dv(None, new_n, sorted(_dv_names(man)))
    from pyspark.sql import functions as F

    keep = [os.path.basename(f) for f in new_n]
    dv_df = (
        _read_dv(spark, path, man)
        .where(F.col("_file").isin(keep))
        .coalesce(1)
    )
    return _Dv(dv_df, new_n, None)


class _Snap(NamedTuple):
    """One live-state resolve for a file-granular commit: the manifest,
    the loaded entries, loose and stale names (see :func:`_live_state`)
    and the shard records carried verbatim."""

    man: dict | None
    entries: list[dict]
    loose: list[str]
    stale: list[str]
    carried: list[dict]


def _resolve(path: str, shard_admits=None) -> _Snap:
    """:func:`_live_state` under the DML contract: shards
    ``shard_admits`` rejects are carried verbatim when eligible."""
    carried: list[dict] = []
    man, entries, loose, stale = _live_state(
        path, shard_admits=shard_admits, carry_out=carried
    )
    return _Snap(man, entries, loose, stale, carried)


class _Rewrite(NamedTuple):
    """A planned file-granular rewrite (:func:`_plan_rewrite`): the
    partial ``commit`` (all but ``new_df``, ``expected`` and ``cdc``),
    ``rows`` — every live row of the rewritten files (None: none
    rewritten) — ``marked``, the matched preimages in DV-marked files,
    ``pre``, the preimages of every matched row, ``n_keep``, the
    rewritten files' unmatched live rows, and ``n_files``, how many
    files are rewritten."""

    commit: Commit
    rows: DataFrame | None
    marked: DataFrame | None
    pre: DataFrame | None
    n_keep: int
    n_files: int


@_contextlib.contextmanager
def _plan_rewrite(
    spark: SparkSession,
    path: str,
    snap: _Snap,
    loose_entries: list[tuple[str, dict]],
    per_file: dict[str, int],
    op: str,
    match=None,
    deletion_vectors: bool = False,
    threshold: float = 0.5,
    retain: int = 0,
):
    """THE file-granular rewrite planner: "rewrite the files named in
    ``per_file`` (with their matched-row counts), carry the rest".
    Makes every decision the DML ops and the file-granular maintenance
    passes share: the hybrid DV/rewrite split (``deletion_vectors``,
    see :func:`_dv_mark_split`), the carried/adopted/rewritten file
    sets — touched loose appends fold into the rewrite, untouched ones
    in ``loose_entries`` are adopted — the expected-row accounting, the
    DV bookkeeping, and the keyed read of the DV-marked files'
    ``match``-ed rows, persisted and filled for the commit (sidecar
    positions and CDC preimages, staged concurrently, both read it) and
    unpersisted on exit. Yields a
    :class:`_Rewrite`; the caller supplies the row transform and the
    CDC frames and applies the commit inside the ``with``."""
    man = snap.man
    dv = (man or {}).get("dv")
    old_dv_n = _dv_map(man)
    touched = set(per_file)
    dv_mark: set[str] = set()
    if deletion_vectors and touched:
        dv_mark = _dv_mark_split(
            path, snap.entries, touched, per_file, old_dv_n, threshold
        )
    rewrite = touched - dv_mark
    rw = [
        e for e in snap.entries + [e for _, e in loose_entries]
        if e["name"] in rewrite
    ]
    rows = (
        _read_version(spark, man, path, [e["name"] for e in rw], dv)
        if rw else None
    )
    n_keep = sum(
        _entry_rows(path, e) - old_dv_n.get(e["name"], 0)
        - per_file[e["name"]]
        for e in rw
    )
    keyed = marked = None
    try:
        if dv_mark:
            # matched rows in DV-marked files: positions go to the
            # sidecar, preimages to the CDC feed — file bytes untouched.
            # Filled here, so the two concurrent staging writes do not
            # each fill the cache
            keyed = fill_cache(match(
                _read_version_keyed(spark, man, path, sorted(dv_mark), dv)
            ).persist())
            marked = keyed.drop("_file", "_pos")
            dvd = _dv_add(
                spark, path, man, rewrite, keyed.select("_file", "_pos"),
                {rel: per_file[rel] for rel in dv_mark},
            )
        else:
            # rewritten files' deletions materialize; carried keep DVs
            dvd = _dv_after_drop(spark, path, man, rewrite)
        frames = [match(rows)] if rows is not None and match else []
        if marked is not None:
            frames.append(marked)
        pre = frames[0] if frames else None
        for f in frames[1:]:
            pre = pre.unionByName(f, allowMissingColumns=True)
        yield _Rewrite(
            commit=Commit(
                man=man,
                op=op,
                loose=snap.loose,
                stale=snap.stale,
                keep=[e for e in snap.entries if e["name"] not in rewrite],
                retain=retain,
                adopt=[(f, e) for f, e in loose_entries if f not in rewrite],
                dv=dvd,
                carried=snap.carried,
            ),
            rows=rows,
            marked=marked,
            pre=pre,
            n_keep=n_keep,
            n_files=len(rw),
        )
    finally:
        if keyed is not None:
            keyed.unpersist()


def staged_rewrite(
    spark: SparkSession,
    path: str,
    layout_fn,
    suffix: str,
    retain_versions: int = 0,
) -> int:
    """Full-table rewrite protocol for the layout-maintenance passes
    (`compact_parquet`, `operators/layout.zorder_compact`): read the
    live file set (one frozen directory snapshot — appends racing the
    rewrite stay visible loose files), write ``layout_fn(df)`` to a new
    generation, validate the staged row count against the MANIFEST
    metadata count (no source scan), and commit atomically via
    :func:`_commit_generation`. Layout passes rewrite everything by
    design — that is their job; the file-granular paths are
    :func:`delete_where` / :func:`merge_into`.

    ``retain_versions=k`` keeps the last ``k`` superseded versions
    readable (:func:`read_table` ``version=``); format 2 versions are
    file lists, so retention shares untouched files between versions —
    still zero extra write amplification. Concurrent rewrites are
    fenced: the loser raises :class:`ConcurrentWriteError` at its
    commit point. Returns the new generation's file count.
    """
    man, entries, loose, stale = _live_state(path)
    rels = [e["name"] for e in entries] + list(loose)
    df = (
        _read_version(spark, man, path, rels, (man or {}).get("dv"))
        if rels
        else spark.read.parquet(spark_path(path))
    )
    if rels:
        n_want = _meta_row_count(path, entries, loose, _dv_map(man))
    else:
        # no manifest and no top-level part files (e.g. a hive-
        # partitioned directory read by the fallback): the metadata
        # count would be 0 and spuriously abort the rewrite — count the
        # DataFrame instead (one columnless scan, this cold path only)
        n_want = df.count()
    _, _, n_files = _commit_generation(spark, path, Commit(
        man=man,
        op=suffix.strip("._"),
        loose=loose,
        stale=stale,
        new_df=layout_fn(df),
        expected=n_want,
        retain=retain_versions,
        cdc=_NO_ROW_CHANGE,
        # a full rewrite lands every row in one schema again
        mixed_schema=False,
    ))
    return n_files


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_files: int,
    sort_col: str | None = None,
    retain_versions: int = 0,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into
    ``target_files`` files (optionally range-sorted on ``sort_col`` so
    parquet row-group min/max stats enable data skipping on that
    column). Streaming appends and per-batch mart writes accumulate
    small files; compaction restores scan efficiency — at object-store
    scale, file count is a first-order read-cost driver. Swap protocol
    and caveats: :func:`staged_rewrite`.
    """

    def layout(df):
        if sort_col is not None:
            return df.repartitionByRange(
                target_files, sort_col
            ).sortWithinPartitions(sort_col)
        return df.repartition(target_files)

    return staged_rewrite(
        spark, path, layout, "._compact", retain_versions=retain_versions
    )


# cap on rows per rewrite-output file, used to size partial-rewrite
# writes: a DML rewrite of k touched files should emit ~k files again
# (plus enough for a huge bulk insert), not one file per upstream
# partition of the patch
_ROWS_PER_REWRITE_FILE = 4_000_000


def _rewrite_partitions(n_rows: int, n_touched: int) -> int:
    return max(1, n_touched, -(-n_rows // _ROWS_PER_REWRITE_FILE))


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 << 20,
    min_file_bytes: int | None = None,
    retain_versions: int = 0,
    dv_rot_threshold: float | None = 0.5,
) -> dict:
    """Incremental OPTIMIZE (the file-granular sibling of
    :func:`compact_parquet`): fold only the files SMALLER than
    ``min_file_bytes`` (default ``target_bytes // 2``) into
    ~``target_bytes`` outputs, carrying every right-sized file into the
    new manifest BY REFERENCE. Streaming appends and per-batch DML
    leave a long tail of small files; at 100 TB the full rewrite that
    :func:`compact_parquet` performs is a non-starter as routine
    maintenance, while this pass writes bytes proportional to the small
    tail only — the Delta ``OPTIMIZE`` contract. Right-sized LOOSE
    append files are left loose (still visible; a later pass adopts
    them when they gain siblings to fold with).

    DELETION-VECTOR ROT is retired here too: a right-sized file whose
    DV'd deleted fraction exceeds ``dv_rot_threshold`` (default 0.5 —
    the same knob the DV-writing DML ops use) joins the rewrite, so its
    logical deletes materialize and its readers drop the anti-join
    during ROUTINE maintenance instead of waiting for an explicit
    :func:`materialize_deletion_vectors` pass; ``None`` disables.
    Returns ``{"rewritten", "carried", "files_written",
    "dv_materialized"}``; no-op (no commit burned) when fewer than two
    small files exist and nothing is rotten.
    """
    if min_file_bytes is None:
        min_file_bytes = target_bytes // 2
    # SELECTIVE RESOLVE (round 10): a shard whose byte FLOOR (bmin,
    # the smallest member's size) clears the fold threshold provably
    # contributes nothing to this pass — carried verbatim, members
    # never loaded, so routine OPTIMIZE against a mostly-right-sized
    # sharded table is O(small-tail shards). DV-rot retirement needs
    # per-member deleted fractions and a DV'd name's shard membership
    # is unknown without loading, so merge-on-read tables fall back to
    # the full resolve below.
    snap = _resolve(
        path,
        lambda s: not (
            isinstance(s.get("bmin"), int) and s["bmin"] >= min_file_bytes
        ),
    )
    if snap.carried and dv_rot_threshold is not None and _dv_map(snap.man):
        snap = _resolve(path)
    man, entries, loose = snap.man, snap.entries, snap.loose

    def _size(name: str) -> int:
        return _io(path).getsize(os.path.join(path, name))

    # referenced entries carry their size in the manifest (recorded at
    # commit); only LOOSE appends need a stat — the steady state pays
    # zero per-referenced-file IO here, and footers are read only for
    # the small loose files that actually fold
    small_ref = [
        e for e in entries if _entry_bytes(path, e) < min_file_bytes
    ]
    big_ref = [
        e for e in entries if _entry_bytes(path, e) >= min_file_bytes
    ]
    small_loose_names = [f for f in loose if _size(f) < min_file_bytes]
    n_big_loose = len(loose) - len(small_loose_names)
    small_loose = [(f, _file_entry(path, f)) for f in small_loose_names]
    fold = small_ref + [e for _, e in small_loose]
    # DV-rot retirement folded into routine maintenance: a RIGHT-SIZED
    # file whose deleted fraction grew past the threshold joins the
    # rewrite (its DV materializes), so merge-on-read tables don't need
    # a separate REORG pass to stop paying the anti-join on rotten
    # files. Metadata-priced decision: manifest row counts vs dv counts.
    old_dv_n = _dv_map(man)
    rotten: list[dict] = []
    if dv_rot_threshold is not None and old_dv_n:
        folded_names = {e["name"] for e in fold}
        rotten = [
            e
            for e in big_ref
            if e["name"] not in folded_names
            and old_dv_n.get(e["name"], 0)
            > dv_rot_threshold * max(1, _entry_rows(path, e))
        ]
        big_ref = [e for e in big_ref if e not in rotten]
        fold = fold + rotten
    n_carried_shard = sum(s["count"] for s in snap.carried)
    if len(fold) < 2 and not rotten:
        return {
            "rewritten": 0,
            "carried": len(big_ref) + n_big_loose + n_carried_shard,
            "files_written": 0,
            "dv_materialized": 0,
        }
    total_bytes = sum(_entry_bytes(path, e) for e in fold)
    n_out = max(1, -(-total_bytes // target_bytes))
    # big loose files stay loose: neither folded nor adopted
    with _plan_rewrite(
        spark, path,
        snap._replace(
            entries=small_ref + rotten + big_ref,
            loose=[f for f, _ in small_loose],
        ),
        small_loose, {e["name"]: 0 for e in fold}, "compact",
        retain=retain_versions,
    ) as p:
        _, _, n_written = _commit_generation(spark, path, dataclasses.replace(
            p.commit, new_df=p.rows.coalesce(n_out), expected=p.n_keep,
            cdc=_NO_ROW_CHANGE,
        ))
    return {
        "rewritten": len(fold),
        "carried": len(big_ref) + n_big_loose + n_carried_shard,
        "files_written": n_written,
        "dv_materialized": len(rotten),
    }


def convert_to_manifest(spark: SparkSession, path: str) -> int:
    """Adopt a plain parquet directory into the manifest protocol with
    ZERO rewrite — the CONVERT TO DELTA analogue: every existing part
    file is footer-read into a stats-carrying manifest entry IN PLACE
    (at 100 TB, rewriting a table just to start managing it is a
    non-starter; this is a pure metadata commit). After conversion the
    full protocol applies: file-granular DML touches only matched
    files and leaves untouched ORIGINALS where they are, appends land
    loose as before, and the first full rewrite migrates the data into
    generation directories naturally. No-op (returns the current
    gen_no) if the table already has a manifest. ``spark`` is unused —
    kept for call-shape symmetry with the other table ops."""

    man = _load_manifest(path)
    if man is not None:
        return man["gen_no"]
    top = _top_level_part_files(path)
    if not top:
        raise ValueError(f"no part files to convert at {path!r}")
    entries = [_file_entry(path, f) for f in top]
    manifest = {
        "format": 2,
        "generation": None,  # adopted in place, no directory written
        "gen_no": 1,
        "rows": sum(e["rows"] for e in entries),
        "op": "convert",
        "committed_at": _commit_time(),
        "superseded": [],
        "history": [],
    }
    if len(entries) >= _SHARD_THRESHOLD:
        # a 100k-file adoption should not mint a 20 MB inline root only
        # for the first DML commit to re-shard it — externalize now,
        # under a convert-owned index directory
        import uuid as _uuid

        manifest["files_ext"] = _externalize_entries(
            _io(path), path, f"gen-000001._convert-{_uuid.uuid4().hex[:8]}",
            {}, entries, [], 0,
        )
    else:
        manifest["files"] = entries
    _commit_manifest(path, manifest, expect_gen=0)
    return 1


def _roll_metadata_commit(
    path: str, man: dict, op: str, shards: list[dict] | None = None,
    **change,
) -> None:
    """Commit a metadata-only version (constraints, bloom policy): the
    same file list (``shards`` replaces the root shard records), the
    table policy of :func:`_policy` with ``change`` applied, the
    previous version RETAINED in history — its file list is identical,
    so retention is free, and dropping it would punch holes in version
    addressability and the CDC feed chain — and an EMPTY feed (no rows
    changed)."""

    new_man = {
        k: man[k]
        for k in ("format", "generation", "rows", "superseded", "files",
                  "files_ext")
        if k in man
    }
    if shards is not None:
        new_man["files_ext"] = {**man["files_ext"], "shards": shards}
    new_man.update(
        gen_no=man["gen_no"] + 1,
        op=op,
        committed_at=_commit_time(),
        history=list(man.get("history", []))
        + [_prev_version_snapshot(man, path)],
        cdc={"insert": [], "delete": []},
        **_policy(man, **change),
    )
    _commit_manifest(path, new_man, expect_gen=man["gen_no"])


def _write_bloom_sidecars(
    spark: SparkSession,
    path: str,
    policy: dict,
    entries: list[dict],
    skip_existing: bool = False,
) -> int:
    """Build one bloom sidecar per entry for the policy's columns (see
    :mod:`.bloom`): ONE distributed job over the files — each task
    accumulates per-(file, column) partial filters across its Arrow
    batches and emits them once, the driver ORs partials and writes
    ``<file>.bloom.json`` beside each data file. Values canonicalize
    SPARK-SIDE (``cast(col as string)``), so executor-side pandas
    dtype coercion (nullable int64 -> float64, the classic false-
    negative factory) can never corrupt a hash. Returns the number of
    sidecars written. ``skip_existing`` is the backfill mode."""
    import base64 as _b64

    from pyspark.sql import functions as F

    from . import bloom as B

    cols = list(policy.get("cols", []))
    fpp = float(policy.get("fpp", 0.01))
    io = _io(path)

    def covers(e: dict) -> bool:
        # backfill skip is keyed on the sidecar's CONTENT, not its
        # existence (round-12 advice fix): re-applying a policy with a
        # different column set or fpp must REBUILD, else pre-existing
        # files are never indexed for the new columns and their point
        # lookups silently lose all pruning
        try:
            raw = io.load_json(B.sidecar_path(path, e["name"]))
            if float(raw.get("fpp", -1.0)) != fpp:
                return False
            return set(cols) <= set(raw.get("cols") or {})
        except Exception:
            return False  # missing/corrupt: rebuild

    eligible = [
        e for e in entries
        if e.get("cols") is None or any(c in e["cols"] for c in cols)
    ]
    if skip_existing and eligible:
        # CONCURRENT adequacy reads (review finding): a sequential
        # GET per file made the idempotent re-policy O(files x
        # object-store latency) — the exact pattern prefetch_sidecars
        # exists to kill on the probe side
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(
            max_workers=min(16, len(eligible))
        ) as ex:
            covered = list(ex.map(covers, eligible))
        targets = [e for e, c in zip(eligible, covered) if not c]
    else:
        targets = eligible
    if not targets:
        return 0
    sizing = {
        os.path.basename(e["name"]): B.params(e.get("rows") or 0, fpp)
        for e in targets
    }
    src = [os.path.join(path, e["name"]) for e in targets]
    df = spark.read.option("mergeSchema", "true").parquet(
        *[spark_path(p) for p in src]
    )
    have = [c for c in cols if c in df.columns]
    if not have:
        return 0
    # record each column's canonical type class from the TABLE schema;
    # unsupported types were rejected at set_bloom_columns time, but a
    # post-policy evolution could add e.g. a float column of the same
    # name — skip such columns rather than hash an unstable form
    tclass: dict[str, str] = {}
    for f in df.schema.fields:
        if f.name not in have:
            continue
        t = f.dataType.simpleString()
        if t in ("tinyint", "smallint", "int", "bigint"):
            tclass[f.name] = "int"
        elif t == "string":
            tclass[f.name] = "str"
    have = [c for c in have if c in tclass]
    if not have:
        return 0
    sel = df.select(
        F.input_file_name().alias("_f"),
        *[F.col(c).cast("string").alias(c) for c in have],
    )
    have_b, sizing_b = list(have), dict(sizing)

    def build(batches):
        import pandas as pd

        acc: dict = {}
        for pdf in batches:
            if pdf.empty:
                continue
            bases = pdf["_f"].map(lambda u: u.rsplit("/", 1)[-1])
            for base, grp in pdf.groupby(bases):
                mk = sizing_b.get(base)
                if mk is None:
                    continue
                m, k = mk
                for c in have_b:
                    vals = grp[c].dropna().tolist()
                    if not vals:
                        continue
                    bits = acc.get((base, c))
                    if bits is None:
                        bits = bytearray(m // 8)
                        acc[(base, c)] = bits
                    B.add_values(bits, k, vals)
        rows = [
            (b, c, _b64.b64encode(bytes(bits)).decode())
            for (b, c), bits in acc.items()
        ]
        yield pd.DataFrame(rows, columns=["base", "col", "bits"])

    partials = sel.mapInPandas(
        build, "base string, col string, bits string"
    ).collect()
    merged: dict[tuple[str, str], int] = {}
    for r in partials:
        key = (r["base"], r["col"])
        merged[key] = merged.get(key, 0) | int.from_bytes(
            _b64.b64decode(r["bits"]), "big"
        )
    def _emit(e: dict) -> None:
        base = os.path.basename(e["name"])
        m, k = sizing[base]
        payload_cols: dict = {}
        for c in have:
            bits = bytearray(
                merged.get((base, c), 0).to_bytes(m // 8, "big")
            )
            payload_cols[c] = (tclass[c], k, bits)
        io.write_json(
            B.sidecar_path(path, e["name"]),
            B.encode_sidecar(fpp, payload_cols, self_rel=e["name"]),
        )
        B._SIDE_CACHE.pop(B.sidecar_path(path, e["name"]), None)

    # CONCURRENT sidecar PUTs (round 12): one JSON per file written
    # sequentially was the last O(files x object-store latency) loop
    # on this surface — same treatment as the probe prefetch and the
    # adequacy reads. Any write failure aborts the commit as before
    # (the executor re-raises on result consumption).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(16, len(targets))) as ex:
        list(ex.map(_emit, targets))
    return len(targets)


def set_bloom_columns(
    spark: SparkSession,
    path: str,
    cols: list[str],
    fpp: float = 0.01,
) -> int:
    """Record a BLOOM FILTER INDEX policy on the table (the Delta
    bloom-index analogue) and backfill a sidecar per existing live
    file: point lookups (``col = x``, ``col IN (...)``) on the policy
    columns then prune files the filter proves cannot match — the
    lookup shape [min, max] stats cannot serve on a column the table
    is not sorted by (takedown-by-fingerprint, the LLM-corpus case).
    Columns must be integer- or string-typed (canonical hashing;
    float canonicalization across dialects is a false-negative
    hazard). Policy is table policy, carried by every later commit —
    each builds sidecars for its own new files, patch-priced like
    CHECK enforcement. Returns the number of sidecars backfilled."""
    from . import bloom as B  # noqa: F401  (documented companion)

    man = _load_manifest(path)
    if man is None:
        raise ValueError(
            f"no manifest at {path!r} — convert_to_manifest first"
        )
    if not cols:
        raise ValueError("set_bloom_columns needs at least one column")
    if not 0 < fpp < 1:
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    entries = _version_files(man, path)
    schema = _table_schema(
        spark, man, [os.path.join(path, e["name"]) for e in entries], path
    )
    ok_types = ("tinyint", "smallint", "int", "bigint", "string")
    for c in cols if schema is not None else []:
        if c not in schema.names:
            raise ValueError(f"bloom column {c!r} not in table schema")
        if schema[c].dataType.simpleString() not in ok_types:
            raise ValueError(
                f"bloom column {c!r} has type "
                f"{schema[c].dataType.simpleString()!r}; only integer "
                "and string columns index soundly"
            )
    policy = {"cols": sorted(cols), "fpp": float(fpp)}
    n = _write_bloom_sidecars(
        spark, path, policy, entries, skip_existing=True
    )
    ext = (man.get("files_ext") or {}).get("shards")
    new_shards = None
    if ext:
        # shard-grain aggregates land NOW, in the same commit that set
        # the policy (round 12): a 1M-file table gets O(touched shards)
        # point lookups immediately instead of waiting for each shard
        # to be rewritten. Members are loaded through the shard cache
        # and the sidecars were just built above — this is the one
        # O(files) pass the backfill already paid for.
        io = _io(path)
        new_shards = []
        for s in ext:
            members = _load_shard(path, s["name"])
            new_shards.append({
                **{
                    k: v for k, v in s.items()
                    if k not in ("bloom", "bloomside")
                },
                "bloom": _bloom_shard_agg(io, path, members, policy),
                # consolidated object (round 13): rewritten in place on
                # a policy re-apply — sound, the members are immutable
                # and the new payloads describe the same value sets
                "bloomside": _bloom_shard_consolidated(
                    io, path, s["name"], members, policy
                ),
            })
    _roll_metadata_commit(
        path, man, f"set_bloom_columns({','.join(sorted(cols))})",
        new_shards, bloom=policy,
    )
    return n


def drop_bloom_columns(path: str) -> None:
    """Remove the bloom policy (metadata-only commit). Existing
    sidecars stop being consulted immediately and are collected by
    retire/vacuum alongside their data files; shard-grain aggregates
    are stripped from the root records in the same commit (they would
    stay TRUE — member files are immutable — but consultation must
    visibly stop with the policy)."""
    man = _load_manifest(path)
    if man is None or not man.get("bloom"):
        raise ValueError(f"no bloom policy on {path!r}")
    ext = (man.get("files_ext") or {}).get("shards")
    _roll_metadata_commit(
        path, man, "drop_bloom_columns",
        [
            {k: v for k, v in s.items() if k not in ("bloom", "bloomside")}
            for s in ext
        ] if ext else None,
        bloom=None,
    )


def set_check_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> None:
    """ALTER TABLE ADD CONSTRAINT ... CHECK analogue: validate the FULL
    live table once, now (one aggregate scan — the only full-table cost
    this feature ever pays), then record the constraint in the
    manifest. Every later commit validates only ITS OWN new files
    (staged rewrite output + adopted appends) against all recorded
    constraints and aborts before the commit point on violation —
    carried files hold by induction, so enforcement stays
    patch-priced. SQL CHECK semantics: a row violates only when the
    expression is FALSE; NULL passes. Requires a manifest
    (:func:`convert_to_manifest` a plain directory first)."""
    from pyspark.sql import functions as F

    man = _load_manifest(path)
    if man is None:
        raise ValueError(
            f"no manifest at {path!r} — convert_to_manifest first"
        )
    n_bad = (
        read_table(spark, path)
        .agg(
            F.count_if(~F.coalesce(F.expr(expr), F.lit(True))).alias("n")
        )
        .first()["n"]
    )
    if n_bad:
        raise ValueError(
            f"cannot add CHECK {name!r} ({expr!r}): {n_bad} existing "
            "rows violate it"
        )
    _roll_metadata_commit(
        path, man, f"add_constraint({name})",
        constraints={**man.get("constraints", {}), name: expr},
    )


def drop_check_constraint(spark: SparkSession, path: str, name: str) -> None:
    """Remove a recorded CHECK constraint (metadata-only commit)."""
    man = _load_manifest(path)
    if man is None or name not in man.get("constraints", {}):
        raise ValueError(f"no CHECK constraint {name!r} on {path!r}")
    _roll_metadata_commit(
        path, man, f"drop_constraint({name})",
        constraints={
            k: v for k, v in man["constraints"].items() if k != name
        } or None,
    )


def _unified_schema_json(base, upd_schema) -> str:
    """JSON StructType of a table's POST-EVOLUTION unified logical
    schema: the existing schema ``base`` (:func:`_table_schema`)
    extended with the update batch's new columns, every field forced
    nullable (old rows are NULL in new columns and vice versa). A common
    column keeps the table's type: the merge stores the batch's values
    at it (store assignment)."""
    import json as _json

    from pyspark.sql.types import StructField, StructType

    names = set(base.names)
    fields = [StructField(f.name, f.dataType, True) for f in base] + [
        StructField(f.name, f.dataType, True)
        for f in upd_schema.fields if f.name not in names
    ]
    return _json.dumps(StructType(fields).jsonValue())


def _store_assign(value, dtype, name: str):
    """``value`` (a Column) as stored into the table column ``name`` of
    type ``dtype``: SQL store assignment, the cast an UPDATE or MERGE
    into a typed table applies. ANSI whatever ``spark.sql.ansi.enabled`` says:
    a non-NULL value the type cannot hold ('x' into bigint, an
    overflow) raises where the row is evaluated — the staging write or
    the identification scan, so before the commit point."""
    from pyspark.sql import functions as F

    cast = value.try_cast(dtype)
    bad = F.raise_error(F.concat(
        F.lit("value '"), value.try_cast("string"),
        F.lit(f"' does not fit column {name} {dtype.simpleString()}"),
    ))
    return F.when(value.isNotNull() & cast.isNull(), bad).otherwise(cast)


def _rel_file(uri: str, table_path: str) -> str:
    """Spark-reported file URI (``input_file_name()``) -> manifest-
    relative file name, via the table's IO seam (the Spark data plane
    may address the table under a mapped scheme/root)."""
    return _io(table_path).rel_file(uri, table_path)


# the identification read's provenance column: no table column can
# clash with it (unlike ``_file``, which only DV tables reserve)
_PROV = "__prov_file__"


def _tagged_read(
    spark: SparkSession, man: dict | None, path: str, scan: list[dict]
):
    """The DML identification read — DV-aware, shared by
    :func:`_matched_files` and :func:`merge_into`: the ``scan`` files'
    live rows with a :data:`_PROV` provenance column, plus the map from
    a provenance value back to the manifest-relative file name. Rows
    already deletion-vector-deleted never appear, so they can't count
    as matches."""
    from pyspark.sql import functions as F

    dv = (man or {}).get("dv")
    if any(e["name"] in (dv or {}).get("n", {}) for e in scan):
        base_to_rel = {os.path.basename(e["name"]): e["name"] for e in scan}
        if len(base_to_rel) != len(scan):
            raise RuntimeError(
                "basename collision in DV identification scan — "
                "compact the table to restore unique data-file names"
            )
        keyed = _read_version_keyed(
            spark, man, path, [e["name"] for e in scan], dv
        )
        return (
            keyed.drop("_pos").withColumnRenamed("_file", _PROV),
            base_to_rel.__getitem__,
        )
    # provenance FIRST, filter second: input_file_name() is only
    # defined inside the scan stage — a predicate that Catalyst rewrites
    # into a join (delete_keys' bulk IN-subquery becomes a semi join)
    # would otherwise evaluate it past an exchange and return ''
    src = _read_files(
        spark, man, [os.path.join(path, e["name"]) for e in scan]
    )
    return (
        src.select(F.input_file_name().alias(_PROV), "*"),
        lambda uri: _rel_file(uri, path),
    )


def _matched_files(
    spark: SparkSession,
    man: dict | None,
    path: str,
    cand: list[dict],
    predicate: str,
    bloom_probes=None,
) -> tuple[dict[str, int], int]:
    """The shared DML identification scan: per-file matched-row counts
    ``{rel_name: n}`` for files containing a row matching ``predicate``,
    plus the total. Footer stats prune the candidate list first (a file
    whose [min, max] disproves the predicate can't contain a match —
    possibly to an empty scan, i.e. ZERO Spark jobs); the scan itself
    reads predicate columns only, with parquet row-group pushdown
    inside each file (:func:`_tagged_read`)."""
    from pyspark.sql import functions as F

    from .data_skipping import prune_entries  # lazy: avoids module cycle

    scan = prune_entries(
        cand, predicate, path, man, spark, extra_probes=bloom_probes
    )
    if not scan:
        return {}, 0
    src, rel_of = _tagged_read(spark, man, path, scan)
    hits = (
        src.where(F.coalesce(F.expr(predicate), F.lit(False)))
        .groupBy(_PROV)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    per = {rel_of(r[_PROV]): r["n"] for r in hits}
    return per, sum(per.values())


def delete_where(
    spark: SparkSession,
    path: str,
    predicate: str,
    retain_versions: int = 0,
    deletion_vectors: bool = False,
    dv_rewrite_threshold: float = 0.5,
    _bloom_probes=None,
) -> int:
    """Row-level DELETE on a parquet table — the takedown/right-to-be-
    forgotten operation an LLM corpus store needs as a first-class
    maintenance pass (retract documents by id list, license filter,
    contaminated-source purge). ``DELETE FROM t WHERE predicate``
    semantics: rows where the predicate is TRUE are removed; rows where
    it is FALSE **or NULL** are kept (ANSI DELETE null handling — a
    bare ``filter(~p)`` would silently drop the NULL rows too).

    FILE-GRANULAR (format 2): one identification scan — predicate
    columns only, with parquet footer stats skipping row groups — maps
    matched rows to their files; only files that actually contain a
    match are rewritten, every other file is carried into the new
    manifest BY REFERENCE. Bytes written per delete are proportional to
    the touched files plus the CDC sidecar (the deleted rows
    themselves), never the table — at 100 TB a targeted takedown
    rewrites megabytes, not the corpus. Atomicity unchanged: readers
    see the pre-delete table until the single fenced manifest commit.

    ERASURE CAVEAT, loudly: with ``retain_versions > 0`` the retained
    snapshots still reference the deleted rows (that is what time
    travel means), and the commit's CDC sidecar ALSO holds a copy of
    the deleted rows for change-feed consumers. For actual erasure run
    with ``retain_versions=0`` and vacuum past the TTL; the sidecar
    dies with its version. Note DV erasure semantics: a deletion-vector
    delete leaves the row BYTES in the data file (only unreadable) —
    for physical erasure use ``deletion_vectors=False`` or compact
    afterward. Returns the number of rows deleted.

    DELETION VECTORS (``deletion_vectors=True``): instead of rewriting
    a touched file, record the matched rows' positions in a sidecar
    and filter them at read time (merge-on-read) — bytes written drop
    from touched-FILE-size to deleted-ROW-positions, the Delta DV
    write path. Hybrid: a file whose cumulative deleted fraction would
    exceed ``dv_rewrite_threshold`` is rewritten anyway (reads pay the
    anti-join; letting a file rot to mostly-deleted makes every scan
    of it wasted I/O), and touched LOOSE appends always take the
    rewrite path (they join the manifest at this commit). Any later
    rewrite of a DV'd file (compact/update/merge/z-order) materializes
    its deletions.
    """
    from pyspark.sql import functions as F

    from .data_skipping import _scan_admits  # lazy: avoids module cycle

    # SELECTIVE RESOLVE (round 10): on a sharded table, index shards
    # whose aggregate [min, max] disproves the predicate are never
    # loaded — their root records ride through to the commit verbatim,
    # so a targeted takedown on a 1M-file table is O(touched shards)
    # end to end, identification AND commit
    snap = _resolve(path, _scan_admits(predicate, _bloom_probes))
    loose_entries = [(f, _file_entry(path, f)) for f in snap.loose]
    cand = snap.entries + [e for _, e in loose_entries]
    if not cand:
        return 0
    per_file, n_del = _matched_files(
        spark, snap.man, path, cand, predicate, bloom_probes=_bloom_probes
    )
    if not per_file:
        return 0  # no-op: don't burn a generation rewriting anything
    pred = F.coalesce(F.expr(predicate), F.lit(False))
    with _plan_rewrite(
        spark, path, snap, loose_entries, per_file, "delete",
        lambda df: df.where(pred), deletion_vectors, dv_rewrite_threshold,
        retain_versions,
    ) as p:
        _commit_generation(spark, path, dataclasses.replace(
            p.commit,
            new_df=None if p.rows is None else p.rows.where(~pred),
            expected=p.n_keep,
            cdc={
                "insert": None,
                "delete": p.pre.coalesce(_rewrite_partitions(n_del, 0)),
            },
        ))
    return n_del


_DELETE_KEYS_LITERAL_CAP = 1000
# bulk delete_keys collects up to this many distinct keys for the
# bloom side-channel probe (~10 MB of md5 strings at the cap); bigger
# batches delete correctly but unpruned
_BLOOM_PROBE_KEYS_CAP = 100_000


def delete_keys(
    spark: SparkSession,
    path: str,
    keys,
    col: str,
    retain_versions: int = 0,
    deletion_vectors: bool = False,
    dv_rewrite_threshold: float = 0.5,
) -> int:
    """Bulk keyed DELETE — the takedown-LIST shape (`retract these
    100k document fingerprints`) as a first-class API instead of a
    hand-built predicate. ``keys`` is a Python sequence of int/str
    values or a single-column DataFrame; rows whose ``col`` equals any
    key are deleted with exactly :func:`delete_where`'s semantics,
    atomicity, CDC feed, and deletion-vector option (this IS
    delete_where under the hood — one code path, one soundness
    surface).

    Two regimes, chosen by distinct-key count:

    * **metadata-sized** (≤ ``_DELETE_KEYS_LITERAL_CAP``): the keys
      inline as an ``IN (...)`` literal list — the pruning grammar
      parses it, so footer stats, shard aggregates, AND the bloom
      index all engage; a takedown list that matches nothing
      identifies zero files with zero Spark jobs.
    * **bulk**: the keys register as a temp view and the predicate
      becomes ``col BETWEEN lo AND hi AND col IN (SELECT ...)`` —
      Catalyst plans the IN-subquery as a (broadcast) semi join for
      the identification scan, while the BETWEEN band (computed with
      one small aggregate over the keys) keeps file- and shard-level
      range pruning parseable, the same banding ``merge_into`` uses.
      The distinct keys ALSO ride a side channel into the bloom
      sidecar probe (round 12, up to ``_BLOOM_PROBE_KEYS_CAP``), so
      the index serves exactly the workload it was built for — a
      100k-fingerprint takedown against an unsorted hash column the
      band cannot prune. Size the policy's fpp for the batch: probing
      V keys admits a non-matching file with probability
      1-(1-fpp)^V, so bulk-takedown tables want fpp << 1/V (e.g.
      1e-6 for 100k-key batches).

    Only int/string key values are accepted, and one call's keys must
    all share one type (the same canonical-form rule as the bloom
    index; float equality deletes are a correctness trap — write the
    predicate explicitly if you really mean it). A bare string is one
    key, not a character sequence. Returns the number of rows
    deleted."""
    def _delete(pred: str, probes=None) -> int:
        return delete_where(
            spark, path, pred,
            retain_versions=retain_versions,
            deletion_vectors=deletion_vectors,
            dv_rewrite_threshold=dv_rewrite_threshold,
            _bloom_probes=probes,
        )

    return _keyed_batch_op(spark, path, keys, col, "delete_keys", _delete)


def update_keys(
    spark: SparkSession,
    path: str,
    keys,
    col: str,
    assignments: dict[str, str],
    retain_versions: int = 0,
    deletion_vectors: bool = False,
    dv_rewrite_threshold: float = 0.5,
) -> int:
    """Bulk keyed UPDATE — the relabel-LIST shape (`mark these 100k
    document fingerprints quarantined`) as a first-class API,
    completing the key-batch triad (:func:`delete_keys`, the keyed
    :func:`merge_into`, and this). ``keys``/``col`` select rows
    exactly like :func:`delete_keys` (same two regimes, same
    literal/bulk cap, same bloom key-batch probe, one shared
    machinery — :func:`_keyed_batch_op`); ``assignments`` apply with
    exactly :func:`update_where`'s semantics, CDC feed, row-count
    validation, and deletion-vector option. Unlike MERGE this never
    inserts: an absent key simply matches nothing — the right
    semantics for policy relabels where inventing rows would be a
    bug. Returns the number of rows updated."""
    def _update(pred: str, probes=None) -> int:
        return update_where(
            spark, path, assignments, pred,
            retain_versions=retain_versions,
            deletion_vectors=deletion_vectors,
            dv_rewrite_threshold=dv_rewrite_threshold,
            _bloom_probes=probes,
        )

    return _keyed_batch_op(spark, path, keys, col, "update_keys", _update)


def _keyed_batch_op(
    spark: SparkSession, path: str, keys, col: str, api: str, run
) -> int:
    """The shared key-batch regime machinery behind :func:`delete_keys`
    and :func:`update_keys`: validate/canonicalize the keys, choose the
    literal or bulk regime, and call ``run(predicate, bloom_probes)``
    — so every keyed DML shares one regime-selection surface exactly
    as every DML shares delete_where/update_where's identification."""
    import uuid

    from pyspark.sql import functions as F

    def _lit(v) -> str:
        if isinstance(v, bool) or not isinstance(v, (int, str)):
            raise ValueError(
                f"{api} accepts int/str keys, got {type(v).__name__}"
                " — use the predicate API with an explicit predicate"
            )
        if isinstance(v, int):
            return str(v)
        return "'" + v.replace("'", "''") + "'"

    def _bulk(kdf: DataFrame, key_vals=None) -> int:
        # band + IN-subquery over a temp view: the BETWEEN conjunct
        # keeps range pruning parseable, Catalyst plans the subquery
        # as a (broadcast) semi join for the identification scan.
        # When the keys arrived as a PYTHON LIST, the band and the
        # probe batch are computed driver-side — two fewer Spark jobs
        # than deriving them back out of the frame (round 12).
        view = f"_keyed_op_{uuid.uuid4().hex[:12]}"
        kdf.createOrReplaceTempView(view)
        try:
            if key_vals is not None:
                lo, hi = min(key_vals), max(key_vals)
            else:
                agg = kdf.agg(
                    F.min(col).alias("lo"), F.max(col).alias("hi")
                ).first()
                lo, hi = agg["lo"], agg["hi"]
                if lo is None:
                    return 0  # all-NULL keys frame
            # the bloom index must serve EXACTLY this workload — a
            # 100k-fingerprint takedown against an unsorted column,
            # where the BETWEEN band spans the hash space and range
            # pruning is useless (round-12 fix: the IN-subquery is
            # invisible to the pruning grammar, so the distinct keys
            # ride a side channel into the same sidecar probe the
            # literal regime gets). Batches past the cap skip the
            # probe: identification stays correct, just unpruned.
            probes = None
            if key_vals is None:
                head = kdf.limit(_BLOOM_PROBE_KEYS_CAP + 1).collect()
                if len(head) <= _BLOOM_PROBE_KEYS_CAP:
                    key_vals = [r[0] for r in head]
            if key_vals is not None and len(key_vals) <= _BLOOM_PROBE_KEYS_CAP:
                probes = [(col, list(key_vals))]
            return run(
                f"{col} BETWEEN {_lit(lo)} AND {_lit(hi)} AND "
                f"{col} IN (SELECT {col} FROM {view})",
                probes,
            )
        finally:
            spark.catalog.dropTempView(view)

    if isinstance(keys, DataFrame):
        if len(keys.columns) != 1:
            raise ValueError(
                f"keys frame must have exactly one column, got "
                f"{keys.columns}"
            )
        # persist around the regime probe / band agg / identification:
        # a derived keys frame would otherwise re-run its upstream job
        # three-plus times
        kdf = keys.select(
            F.col(keys.columns[0]).alias(col)
        ).where(F.col(col).isNotNull()).distinct().persist()
        try:
            head = kdf.limit(_DELETE_KEYS_LITERAL_CAP + 1).collect()
            if len(head) > _DELETE_KEYS_LITERAL_CAP:
                return _bulk(kdf)
            vals = [r[0] for r in head]
        finally:
            # delete_where fully materializes before returning, so
            # the unpersist here never strands an in-flight plan
            kdf.unpersist()
    else:
        if isinstance(keys, str):
            keys = [keys]  # one key, not a character sequence
        if isinstance(keys, (bytes, bytearray)):
            raise ValueError(
                f"{api} accepts int/str keys, got bytes"
            )
        vals = [v for v in keys if v is not None]
    vals = sorted(set(vals), key=_lit)
    if not vals:
        return 0
    classes = {("int" if isinstance(v, int) else "str") for v in vals}
    if len(classes) > 1:
        raise ValueError(
            f"{api} needs one key type per call, got mixed "
            "int and str values"
        )
    if len(vals) > _DELETE_KEYS_LITERAL_CAP:
        # a big PYTHON list routes to the same bulk regime a big
        # frame does — an unbounded IN literal would cost a multi-MB
        # expression parse plus O(keys x candidate files) driver-side
        # pruning work. The list is already distinct and in hand, so
        # the band and probe batch skip their Spark jobs.
        return _bulk(
            spark.createDataFrame([(v,) for v in vals], [col]),
            key_vals=vals,
        )
    return run(f"{col} IN ({', '.join(_lit(v) for v in vals)})", None)


def update_where(
    spark: SparkSession,
    path: str,
    assignments: dict[str, str],
    predicate: str,
    retain_versions: int = 0,
    deletion_vectors: bool = False,
    dv_rewrite_threshold: float = 0.5,
    _bloom_probes=None,
) -> int:
    """Row-level UPDATE on a manifest table — ``UPDATE t SET col =
    expr, ... WHERE predicate`` — completing the DML quad (layout,
    DELETE, MERGE, UPDATE). Rows where the predicate is TRUE get every
    assignment applied (expressions may reference any column, evaluated
    against the PRE-update row, SQL UPDATE semantics); FALSE-or-NULL
    rows are untouched. Row count is always preserved and validated.

    FILE-GRANULAR like its siblings: the shared identification scan
    (footer-stat pruning + one predicate-column pass) maps matched rows
    to files; only those files are rewritten with the assignments
    applied conditionally, everything else carries BY REFERENCE. The
    commit records a CDC feed of preimages (delete) and postimages
    (insert), so incremental consumers see the update as the standard
    delete+insert pair.

    ``deletion_vectors=True`` is the merge-on-read UPDATE: matched
    rows' PREIMAGES are deletion-vector-marked in place and their
    POSTIMAGES land as the commit's new data files — bytes written are
    proportional to the updated rows, not the touched files, the same
    contract as the DV delete/merge (same hybrid threshold; touched
    LOOSE appends always rewrite). Returns the number of rows updated.

    Types: each assignment is cast to its column's type
    (:func:`_table_schema`) by SQL store assignment, ANSI, as SQL
    UPDATE does: ``{"v": "42"}`` on a string column stores ``'42'``,
    and a value the column type cannot hold (``'x'`` into bigint)
    raises before the commit point.
    """
    from pyspark.sql import functions as F

    from .data_skipping import _scan_admits  # lazy: avoids module cycle

    # selective resolve, same contract as delete_where: predicate-
    # rejected index shards carry verbatim, never loaded
    snap = _resolve(path, _scan_admits(predicate, _bloom_probes))
    loose_entries = [(f, _file_entry(path, f)) for f in snap.loose]
    cand = snap.entries + [e for _, e in loose_entries]
    if not cand:
        return 0
    schema = _table_schema(
        spark, snap.man, [os.path.join(path, e["name"]) for e in cand], path
    )
    missing = [c for c in assignments if c not in schema.names]
    if missing:
        raise ValueError(
            f"UPDATE assigns to unknown columns {missing}; table has "
            f"{sorted(schema.names)}"
        )
    per_file, n_upd = _matched_files(
        spark, snap.man, path, cand, predicate, bloom_probes=_bloom_probes
    )
    if not per_file:
        return 0
    pred = F.coalesce(F.expr(predicate), F.lit(False))
    # each value is stored in its column's type, as SQL UPDATE does
    new = {
        c: _store_assign(F.expr(e), schema[c].dataType, c)
        for c, e in assignments.items()
    }

    def post(df, cond=None):
        # all assignments evaluate against the PRE-update row: build
        # every new value in ONE projection so `SET a = b, b = a`
        # swaps correctly (``cond`` limits them to the matched rows)
        return df.select(*[
            (new[c] if cond is None
             else F.when(cond, new[c]).otherwise(F.col(c)))
            .alias(c) if c in new else F.col(c)
            for c in df.columns
        ])

    with _plan_rewrite(
        spark, path, snap, loose_entries, per_file, "update",
        lambda df: df.where(pred), deletion_vectors, dv_rewrite_threshold,
        retain_versions,
    ) as p:
        # rewritten files keep every row, matched ones updated in place;
        # DV-marked files' postimages are the new data files
        frames = [post(p.rows, pred)] if p.rows is not None else []
        if p.marked is not None:
            frames.append(post(p.marked))
        new_df = frames[0]
        for f in frames[1:]:
            new_df = new_df.unionByName(f)
        expected = p.n_keep + n_upd
        _commit_generation(spark, path, dataclasses.replace(
            p.commit,
            new_df=new_df.coalesce(_rewrite_partitions(expected, p.n_files)),
            expected=expected,
            cdc={
                "insert": post(p.pre).coalesce(_rewrite_partitions(n_upd, 0)),
                "delete": p.pre.coalesce(_rewrite_partitions(n_upd, 0)),
            },
        ))
    return n_upd


def materialize_deletion_vectors(
    spark: SparkSession, path: str, retain_versions: int = 0
) -> int:
    """Rewrite ONLY the files carrying deletion vectors, folding their
    logical deletes into physical bytes and clearing the table's
    merge-on-read state — the REORG TABLE ... APPLY (PURGE) analogue.
    Two reasons to run it: PHYSICAL ERASURE (a DV delete leaves row
    bytes in the file; after this pass + vacuum TTL they are gone) and
    read-path reset (scans of the rewritten files drop the anti-join).
    Bytes written are proportional to the DV'd files only — every
    clean file carries BY REFERENCE, so this is cheaper than a full
    compaction by exactly the clean fraction of the table. No-op
    (returns 0, no commit burned) when the table has no DVs. Returns
    the number of files rewritten."""
    snap = _resolve(path)
    old_dv_n = _dv_map(snap.man)
    if not old_dv_n:
        return 0
    # loose appends never carry DVs: adopted as they are
    with _plan_rewrite(
        spark, path, snap,
        [(f, _file_entry(path, f)) for f in snap.loose],
        {e["name"]: 0 for e in snap.entries if e["name"] in old_dv_n},
        "materialize", retain=retain_versions,
    ) as p:
        _commit_generation(spark, path, dataclasses.replace(
            p.commit,
            new_df=p.rows.coalesce(
                _rewrite_partitions(p.n_keep, p.n_files)
            ),
            expected=p.n_keep,
            cdc=_NO_ROW_CHANGE,
        ))
    return p.n_files


def insert_into(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    retain_versions: int = 0,
    txn: tuple[str, int] | None = None,
) -> int:
    """Atomic INSERT INTO a manifest table: the batch lands as a new
    generation's files, every existing file carries BY REFERENCE, and
    the commit records the rows as the version's CDC insert feed —
    everything :func:`append_table` (a bare directory write) does not
    give: atomicity, a version, a change feed, CHECK enforcement, and
    writer fencing. Bytes written are the batch only.

    Types: the batch must carry exactly the table's column names and
    types (:func:`_table_schema`), else ``insert schema mismatch`` is
    raised before any write — no cast, so a mistyped append fails
    loudly, as the DDL types of a SQL table would make it. Schema
    evolution goes through ``merge_into(evolve_schema=True)``.

    ``txn=(app_id, version)`` is the STREAMING IDEMPOTENCY marker
    (Delta's txn action): the manifest carries ``{app_id:
    last_applied_version}``, updated atomically with the data, and an
    insert whose version is <= the recorded watermark is SKIPPED
    (returns 0) — which turns foreachBatch's at-least-once replay into
    exactly-once table effects (:func:`..streaming.stream_append_table`
    is the stream wrapper). The staged files double as the commit's
    CDC insert feed BY REFERENCE, so the batch bytes are written
    exactly once. Empty batches are skipped without burning a
    generation (a zero-row insert is idempotent under replay). Loose
    ``append_table`` files stay loose and untouched. Returns the
    number of rows inserted.
    """
    # pure append, empty read-set: NOTHING needs its members loaded —
    # every carry-eligible index shard rides through verbatim, so a
    # micro-batch insert into a sharded 1M-file table resolves by
    # reading the root plus the undersized tail, not the whole index
    # (the resolve keeps one shard loaded as the schema witness)
    snap = _resolve(path, lambda s: False)
    man, entries = snap.man, snap.entries
    if man is None:
        raise ValueError(
            f"no manifest at {path!r} — convert_to_manifest first (or "
            "use append_table for unmanaged directories)"
        )
    if txn is not None:
        last = man.get("txn", {}).get(txn[0])
        if last is not None and txn[1] <= last:
            return 0  # replayed batch: already applied, exactly-once
    # NAME AND TYPE check: a same-named differently-typed batch would
    # commit files every later read of the table's schema fails on
    tbl_schema = _table_schema(
        spark, man,
        [os.path.join(path, e["name"]) for e in entries]
        + [os.path.join(path, f) for f in snap.loose],
        path,
    )
    if tbl_schema is not None:
        want = {f.name: f.dataType for f in tbl_schema}
        got = {f.name: f.dataType for f in df.schema}
        if want != got:
            raise ValueError(
                f"insert schema mismatch: table has {want}, batch has "
                f"{got} (schema evolution goes through "
                "merge_into(evolve_schema=True))"
            )
    we_persisted = False
    obs = None
    n = 0
    if not df.is_cached and df.rdd.getNumPartitions() == 1:
        # SINGLE-PASS fast path (r13 optimization; guide §1.2 "fewer
        # passes", §5 "don't cache what you don't reuse"): a
        # one-partition batch — the micro-batch / filtered-file-scan
        # common case — stages exactly one part file, which is the same
        # file count the pre-count path's coalesce(_rewrite_partitions)
        # yields for ANY n on a one-partition input (coalesce only ever
        # shrinks). So the pre-count's two remaining jobs — the
        # expected-rows validation and the empty-batch skip — ride the
        # staging write itself as an Observation: ONE action over the
        # batch instead of two, and no whole-batch persist (at scale:
        # no cache memory pressure, one pass instead of two).
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        new_df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    else:
        # persist only when the CALLER hasn't (pre-r13 guard, restored):
        # unconditionally persisting here would set we_persisted on a
        # caller-cached batch and the finally block would unpersist the
        # caller's cache out from under it
        if not df.is_cached:
            df = df.persist()
            we_persisted = True
    try:
        if obs is None:
            n = df.count()
            if n == 0:
                # replay-safe skip: inserting zero rows is idempotent, so
                # the watermark needn't advance — don't burn a generation
                # (and an empty data file) on a quiet microbatch
                return 0
            new_df = df.coalesce(_rewrite_partitions(n, 0))
        try:
            # loose appends stay loose and visible; carried files keep
            # their DVs by reference (nothing rewritten). A lost race
            # against ANY disjoint winner rebases the staged batch —
            # concurrent insert streams each write their bytes once
            _commit_generation(spark, path, Commit(
                man=man,
                op="insert",
                stale=snap.stale,
                keep=entries,
                new_df=new_df,
                expected=n,
                retain=retain_versions,
                dv=_dv_after_drop(spark, path, man, set()),
                carried=snap.carried,
                insert=_Insert(
                    txn,
                    (lambda: int(obs.get["n"])) if obs is not None else None,
                ),
            ))
        except _TxnAlreadyApplied:
            # a duplicate delivery of this very (app_id, version) won
            # the race mid-commit — exactly-once says this copy drops
            return 0
        if obs is not None:
            n = int(obs.get["n"])
        return n
    finally:
        if we_persisted:
            df.unpersist()


def rollback(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    retain_versions: int | None = None,
    as_of: float | None = None,
) -> int:
    """RESTORE the table to a retained snapshot — metadata-only: the
    new manifest simply points at the retained version's file list, no
    data is copied or rewritten. The rolled-back-FROM version moves
    into the history (still readable by version until it falls off the
    retention window), so a rollback is itself reversible. Loose
    appends landed since the last commit are superseded — restore means
    "the table equals snapshot N", and those rows are in no snapshot —
    but their files are left for ``vacuum_staging``'s TTL rather than
    retired immediately (a mistaken restore stays recoverable for the
    grace period; merge them back explicitly if they must survive).

    ``retain_versions`` trims the history to the last ``k`` entries at
    this commit (files of dropped versions are retired); ``None`` (the
    default) keeps the existing history plus the rolled-from version.
    CHECK constraints are table policy and survive the restore — but a
    restore is metadata-only, so rows of the restored snapshot are NOT
    re-validated against constraints added after it; run
    ``set_check_constraint`` again to force a full revalidation.
    ``as_of`` (unix seconds) is RESTORE ... TIMESTAMP AS OF — the
    latest retained version committed at or before that instant
    (mutually exclusive with ``version``). Returns the new current
    ``gen_no``.
    """
    if (version is None) == (as_of is None):
        raise ValueError("pass exactly one of version= or as_of=")
    if as_of is not None:
        version = version_as_of(path, as_of)
    man = _load_manifest(path)
    if man is None:
        raise ValueError(f"no manifest at {path!r} — nothing to roll back")
    if version == man["gen_no"]:
        return version  # already there
    targets = {h["gen_no"]: h for h in man.get("history", [])}
    if version not in targets:
        raise ValueError(
            f"version {version} not retained for {path!r}; available: "
            f"{sorted(targets) + [man['gen_no']]}"
        )
    target = targets[version]
    # the one directory snapshot, with _live_state's referenced-name
    # exclusion: top-level files REFERENCED by any version (tables
    # adopted in place by convert_to_manifest) are LIVE DATA, not loose
    # appends — superseding them here would let a later retire/vacuum
    # delete the restored version's own files
    _, _, loose, stale = _live_state(path)
    # previous current becomes history; the restored version STAYS in
    # history under its own number (format 2 shares files between
    # versions, so this costs nothing) — dropping it would break time
    # travel to that number and punch a hole in the CDC feed chain
    history = list(man.get("history", []))
    history.append(_prev_version_snapshot(man, path))
    dropped: list[dict] = []
    if retain_versions is not None:
        cut = max(0, len(history) - retain_versions)
        dropped, history = history[:cut], history[cut:]

    manifest = {
        "format": 2,
        "generation": target.get("generation"),
        "gen_no": man["gen_no"] + 1,
        "rows": target["rows"],
        "op": f"restore({version})",
        "committed_at": _commit_time(),
        "superseded": sorted(set(stale) | set(loose)),
        "history": history,
        # no "cdc" key: the row-level diff of a restore is not tracked,
        # so table_changes falls back to the snapshot diff
    }
    if target.get("files_ext") is not None:
        # sharded snapshot: restore shares its immutable shards by
        # reference, same as history retention does
        manifest["files_ext"] = target["files_ext"]
    else:
        manifest["files"] = _version_files(target, path)
    # restore means the snapshot's read state (a later rewrite may have
    # cleared the live mixed-schema flag; the snapshot's files still
    # differ) — but CHECK constraints, txn watermarks and the bloom
    # policy are table policy and survive it
    manifest.update(_policy(man, target))
    _commit_manifest(path, manifest, expect_gen=man["gen_no"])
    if dropped:
        live = _live_names([manifest] + history, path)
        _retire_dead(
            path, _live_names(dropped, path) - live, live,
            bloom=bool(manifest.get("bloom")),
        )
    return manifest["gen_no"]


def table_changes(
    spark: SparkSession, path: str, v_from: int, v_to: int | None = None
) -> DataFrame:
    """Row-level diff between two retained snapshots (``v_to=None`` =
    the live view): the change-data-feed a downstream incremental
    consumer replays instead of re-reading the whole table. Output is
    the table schema plus ``_change_type`` ∈ {'insert', 'delete'} — an
    update appears as delete+insert, the classic CDF encoding when rows
    carry no identity column.

    ADJACENT versions (``v_to == v_from + 1``) whose commit recorded a
    CDC sidecar are metadata-priced: the answer is a plain read of the
    sidecar files the DML pass already wrote — zero shuffles, zero
    table scans, and the plan contains no exceptAll. Version gaps,
    live-view diffs with pending appends, and commits without CDC
    (e.g. a rollback) fall back to the snapshot diff: multiset
    ``exceptAll`` per direction (two scans + one shuffle pair each),
    bounded by table size, never history length. Semantics note: the
    sidecar path reports the OPERATION log (a matched-key update whose
    new row equals the old one still appears as delete+insert); the
    snapshot diff reports the net row difference — they agree whenever
    updates actually change rows.
    """
    from pyspark.sql import functions as F

    man = _load_manifest(path)
    v_to_resolved = v_to
    if v_to is None and man is not None:
        _, _, loose, _ = _live_state(path)
        if not loose:  # live view IS the current version
            v_to_resolved = man["gen_no"]
    if man is not None and v_to_resolved == v_from + 1:
        by_no = {h["gen_no"]: h for h in man.get("history", [])}
        by_no[man["gen_no"]] = man
        ver = by_no.get(v_to_resolved)
        if ver is not None and ver.get("cdc") is not None:
            frames = []
            for kind in ("insert", "delete"):
                rel = ver["cdc"].get(kind, [])
                if rel:
                    frames.append(
                        spark.read.parquet(
                            *[
                                spark_path(os.path.join(path, r))
                                for r in rel
                            ]
                        ).withColumn("_change_type", F.lit(kind))
                    )
            if not frames:
                # schema resolve only on this cold path — the hot
                # incremental-consumer path never pays it
                schema = read_table(
                    spark, path, version=v_to_resolved
                ).schema
                empty = spark.createDataFrame([], schema)
                return empty.withColumn("_change_type", F.lit(""))
            out = frames[0]
            for f in frames[1:]:
                out = out.unionByName(f, allowMissingColumns=True)
            return out
    old = read_table(spark, path, version=v_from)
    new = (
        read_table(spark, path)
        if v_to is None
        else read_table(spark, path, version=v_to)
    )
    if set(old.columns) != set(new.columns):
        # schema evolved between the versions: NULL-extend both sides
        # to the union schema so the multiset diff is well-defined
        old = old.unionByName(new.limit(0), allowMissingColumns=True)
        new = new.unionByName(old.limit(0), allowMissingColumns=True)
        new = new.select(*old.columns)
    inserts = new.exceptAll(old).withColumn("_change_type", F.lit("insert"))
    deletes = old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
    return inserts.unionByName(deletes)


def table_changes_feed(
    spark: SparkSession, path: str, v_from: int, v_to: int | None = None
) -> DataFrame:
    """Multi-hop CDC REPLAY from the recorded sidecars: the union of
    every commit's insert/delete row sets for versions
    ``v_from+1 .. v_to``, tagged with ``_change_type`` and
    ``_commit_version`` — the Delta CDF shape a downstream incremental
    consumer applies in version order. Unlike :func:`table_changes`
    (net row diff between two snapshots), the feed preserves
    intermediate operations: a row inserted in v2 and deleted in v3
    appears twice, and consumers replaying in ``_commit_version`` order
    land on the v_to state. Metadata-priced: plain parquet reads of the
    sidecar files, no table scan, no shuffle, regardless of the hop
    count. Raises naming the versions whose commit recorded no feed
    (rollbacks, pre-format-2 history, commits that folded loose appends
    into rewrites) — fall back to :func:`table_changes` for those."""
    from pyspark.sql import functions as F

    man = _load_manifest(path)
    if man is None:
        raise ValueError(f"no manifest at {path!r} — no change feed")
    know = {h["gen_no"]: h for h in man.get("history", [])}
    know[man["gen_no"]] = man
    if v_to is None:
        v_to = man["gen_no"]
    missing = [
        v
        for v in range(v_from + 1, v_to + 1)
        if v not in know or know[v].get("cdc") is None
    ]
    if missing:
        raise ValueError(
            f"no change feed recorded for versions {missing} of {path!r} "
            "(rollback or pre-format-2 commit) — use table_changes for "
            "a snapshot diff instead"
        )
    frames = []
    for v in range(v_from + 1, v_to + 1):
        for kind in ("insert", "delete"):
            rel = know[v]["cdc"].get(kind, [])
            if rel:
                frames.append(
                    spark.read.parquet(
                        *[spark_path(os.path.join(path, r)) for r in rel]
                    )
                    .withColumn("_change_type", F.lit(kind))
                    .withColumn("_commit_version", F.lit(v).cast("long"))
                )
    if not frames:
        schema = read_table(spark, path, version=v_to).schema
        return (
            spark.createDataFrame([], schema)
            .withColumn("_change_type", F.lit(""))
            .withColumn("_commit_version", F.lit(0).cast("long"))
        )
    out = frames[0]
    for f in frames[1:]:
        # sidecars of evolving commits differ in schema: NULL-extend
        out = out.unionByName(f, allowMissingColumns=True)
    return out


def _merge_frames(
    old,
    updates,
    keys: list[str],
    broadcast_updates: bool,
    allow_missing: bool = False,
):
    """The MERGE plan: old rows not matched on ``keys``, plus every
    update row. With ``broadcast_updates`` the anti-join broadcasts the
    update batch, so the big side is never shuffled — the right plan
    when merging a metadata-sized patch into a 100 TB table.
    ``allow_missing`` is the schema-evolution union: columns present on
    only one side come through as NULL on the other."""
    from pyspark.sql import functions as F

    right = F.broadcast(updates) if broadcast_updates else updates
    return old.join(right, keys, "left_anti").unionByName(
        updates, allowMissingColumns=allow_missing
    )


def _admits_keys(
    entry: dict, key_col: str, k_lo, k_hi, keys_sorted
) -> bool:
    """Can this file's footer stats on ``key_col`` admit any patch key?
    False ONLY when provably disjoint — missing stats or incomparable
    types always admit (pruning is an optimization, never a correctness
    gate). Null counts participate: an all-NULL key column can match no
    (non-NULL) patch key, and such files carry no [min, max] at all, so
    the range test alone would always admit them."""
    nulls = entry.get("nulls") or {}
    rows = entry.get("rows")
    n = nulls.get(key_col)
    if n is not None and rows is not None and 0 < rows <= n:
        return False  # all-NULL key column: no patch key can match
    span = (entry.get("stats") or {}).get(key_col)
    if span is None:
        return True
    try:
        if keys_sorted:
            import bisect

            i = bisect.bisect_left(keys_sorted, span[0])
            return i < len(keys_sorted) and keys_sorted[i] <= span[1]
        if k_lo is None:
            return True
        return not (span[1] < k_lo or span[0] > k_hi)
    except TypeError:
        return True


def merge_into(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    retain_versions: int = 0,
    broadcast_updates: bool = False,
    evolve_schema: bool = False,
    deletion_vectors: bool = False,
    dv_rewrite_threshold: float = 0.5,
) -> dict:
    """MERGE (upsert) into a parquet table: rows matching ``updates``
    on ``keys`` are replaced, the rest inserted — ``WHEN MATCHED THEN
    UPDATE SET * WHEN NOT MATCHED THEN INSERT *`` semantics, completing
    the manifest-table DML triad (compact/z-order layout,
    :func:`delete_where`, merge). The query-shaped twin is the
    ``customer_upsert`` registry row; this is the TABLE-level op with
    the same fenced atomic manifest commit.

    FILE-GRANULAR (format 2) and exactly TWO Spark actions before the
    staged write:

    1. one aggregate over the (persisted) update batch — count,
       key-uniqueness over non-NULL-keyed rows, key min/max, and (for
       broadcast batches) the sorted key set used for footer pruning;
    2. one key-column identification scan: candidate files whose footer
       [min, max] admits a patch key, semi-joined (broadcast) against
       the patch keys, ``rollup``-aggregated to per-file matched counts
       plus the global matched-rows/matched-keys in a single job.

    Only files containing a matched key are rewritten (anti-join +
    union, table side never shuffled when ``broadcast_updates``); all
    other files carry into the new manifest BY REFERENCE, so a
    metadata-sized patch writes patch-proportional bytes into a 100 TB
    table. A pure-insert batch (no matches) rewrites NOTHING — the new
    generation is just the inserted rows.

    Guards: ``updates`` must be key-unique over rows whose keys are all
    non-NULL (two source rows matching one target row is the
    ambiguous-merge error lakehouse engines reject; NULL-keyed rows can
    never match and are inserted as-is, so they cannot make a MERGE
    ambiguous) and must carry exactly the table's columns. If the
    TARGET holds several rows with one key, MERGE collapses them to
    the single update row — reported via ``matched_rows`` vs
    ``updated`` and a warning, the documented replacement semantics.

    Types: a merge that does not evolve the schema casts the batch to
    the table's column types (:func:`_table_schema`) by SQL store
    assignment, ANSI: a batch
    ``v bigint`` into a ``v string`` table stores ``7`` as ``'7'``,
    and a value the column type cannot hold (``'x'`` into bigint, an
    overflow) raises before the commit point. The rewrite, the DV-
    marked upsert and the CDC insert feed all stage the cast batch, so
    a merge never changes a column's type. Key columns are the
    exception: the batch's key values prune files before the table
    schema is known, so a key must have the table's type (an integer
    key may have any integer type). Uniqueness is checked on the
    batch's own key values.

    ``evolve_schema=True`` is the Delta ``autoMerge`` analogue: the
    update batch may ADD columns (carried files keep their old physical
    schema and cost zero rewrite — reads reconcile via parquet schema
    merging, old rows surface NULL) or OMIT columns (inserted rows get
    NULL). The manifest marks the table ``mixed_schema`` and records
    the unified schema; the next full rewrite unifies the physical
    schema and clears the mark. Key columns must exist in both schemas.
    Common columns are stored at the table's types as above, so an
    evolving merge changes no column's type either; an added column
    keeps the batch's type.

    ``deletion_vectors=True`` is the merge-on-read MERGE: matched
    target rows are deletion-vector-marked (their positions go to a
    sidecar; the data file's bytes are untouched) and the update batch
    lands as the commit's only new data files — bytes written become
    patch-proportional even when the matched rows live in huge files.
    The same ``dv_rewrite_threshold`` hybrid as :func:`delete_where`
    rewrites files whose cumulative deleted fraction would grow past
    it, and touched LOOSE appends always rewrite.

    Returns ``{"updated": <distinct keys matched>, "inserted": ...,
    "matched_rows": <target rows replaced>}``.
    """
    import warnings
    from functools import reduce

    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegralType

    # source-side key sanity BEFORE any job or table I/O (the table-
    # side half of the check runs after the resolve below)
    missing_keys = [k for k in keys if k not in updates.columns]
    if missing_keys:
        raise ValueError(
            f"merge keys {missing_keys} must exist on both sides"
        )
    nn = reduce(
        lambda a, b: a & b, [F.col(k).isNotNull() for k in keys]
    )
    k0 = keys[0]
    aggs = [
        F.count(F.lit(1)).alias("n_upd"),
        F.count_if(nn).alias("n_matchable"),
        F.count_distinct(F.when(nn, F.struct(*keys))).alias("n_keys"),
        F.min(F.when(nn, F.col(k0))).alias("k_lo"),
        F.max(F.when(nn, F.col(k0))).alias("k_hi"),
    ]
    if broadcast_updates:
        # the patch is declared metadata-sized: fold the sorted key set
        # into the SAME aggregate for exact footer pruning — no extra job
        aggs.append(
            F.sort_array(F.collect_set(F.when(nn, F.col(k0)))).alias("ks")
        )
    # persist only if the caller hasn't: Spark caching is not
    # refcounted, and unpersisting a caller-owned cache would silently
    # deoptimize their later reuse of the same patch
    we_persisted = not updates.is_cached
    if we_persisted:
        updates = updates.persist()
    try:
        pre = updates.agg(*aggs).first()  # pre-write action 1 of 2
        n_upd = pre["n_upd"]
        if pre["n_keys"] != pre["n_matchable"]:
            raise ValueError(
                f"updates are not unique on {keys} — one target row "
                "would match several source rows (ambiguous MERGE)"
            )
        keys_sorted = (
            list(pre["ks"])
            if broadcast_updates and pre["ks"] is not None
            else None
        )
        # SELECTIVE RESOLVE (round 10): the patch's key facts — exact
        # sorted set when broadcast, [k_lo, k_hi] otherwise — prune the
        # INDEX, not just the file list: shards whose aggregate key
        # range disproves every patch key are carried verbatim, never
        # loaded. Sound for the NOT-MATCHED branch too: a rejected
        # shard provably contains no patch key, so it cannot turn an
        # insert into an update. (The resolve needs the patch facts,
        # so schema/key validation against the table runs after this
        # one aggregation job — fail-fast on the SOURCE side happened
        # before any job, above.)
        admits = None
        if pre["n_matchable"] > 0 and pre["k_lo"] is not None:
            from .data_skipping import (  # lazy: avoids module cycle
                shard_admits as _mk_shard_admits,
            )

            atoms = (
                [("in", k0, tuple(keys_sorted))]
                if keys_sorted
                else [("between", k0, pre["k_lo"], pre["k_hi"])]
            )
            admits = _mk_shard_admits(atoms)
        snap = _resolve(path, admits)
        man = snap.man
        src = [os.path.join(path, e["name"]) for e in snap.entries] + [
            os.path.join(path, f) for f in snap.loose
        ]
        tbl_schema = _table_schema(spark, man, src, path)
        if tbl_schema is None:  # no live file: infer over the directory
            tbl_schema = spark.read.parquet(spark_path(path)).schema
        old_cols = tbl_schema.names
        if not evolve_schema and set(updates.columns) != set(old_cols):
            raise ValueError(
                f"merge schema mismatch: table has {sorted(old_cols)}, "
                f"updates have {sorted(updates.columns)} "
                "(pass evolve_schema=True to add/omit columns)"
            )
        missing_keys = [k for k in keys if k not in old_cols]
        if missing_keys:
            raise ValueError(
                f"merge keys {missing_keys} must exist on both sides"
            )
        evolving = evolve_schema and set(updates.columns) != set(old_cols)
        # store assignment: every frame staged from the batch (the
        # rewrite, the DV keys, the CDC inserts) holds the table's
        # column types, so the commit can't change a column's type; a
        # column the batch adds keeps its own type
        types = {f.name: f.dataType for f in tbl_schema}
        cast = {
            f.name: _store_assign(F.col(f.name), types[f.name], f.name)
            for f in updates.schema
            if f.name in types and f.dataType != types[f.name]
        }
        # the key facts above prune files in the batch's key types:
        # sound only for a cast that keeps every key value
        if any(
            not isinstance(t, IntegralType)
            for k in keys if k in cast
            for t in (types[k], updates.schema[k].dataType)
        ):
            raise ValueError(
                f"merge keys {keys} must have the table's types (an "
                "integer key may have any integer type)"
            )
        if n_upd == 0:
            # empty patch: a no-op — but only AFTER the schema/key
            # validation above, so a malformed caller still fails loud
            return {"updated": 0, "inserted": 0, "matched_rows": 0}
        uni_schema = (
            _unified_schema_json(tbl_schema, updates.schema)
            if evolving
            else None
        )
        batch = updates.withColumns(cast) if cast else updates
        loose_entries = [(f, _file_entry(path, f)) for f in snap.loose]
        cand = snap.entries + [e for _, e in loose_entries]
        clash = {"_file", "_pos"} & set(updates.columns)
        if clash and (_dv_map(man) or deletion_vectors):
            # commit-time guard: evolving these names INTO a DV table
            # would make every later (keyed) read raise — brick the
            # table. The read-time guard can't catch it; this can.
            raise ValueError(
                f"deletion vectors reserve column names {sorted(clash)}; "
                "rename the update columns or merge without DVs"
            )
        scan = (
            [
                e
                for e in cand
                if _admits_keys(
                    e, k0, pre["k_lo"], pre["k_hi"], keys_sorted
                )
            ]
            if pre["n_matchable"] > 0
            else []
        )
        if scan and keys_sorted:
            # keyed upsert on a bloom-policied table (round 12): the
            # broadcast patch's exact key set probes the sidecars the
            # same way delete_keys' batches do, so a fingerprint-keyed
            # merge against an UNSORTED key column identifies only the
            # files that can hold a patch key instead of scanning the
            # table ([min, max] spans the hash space there). Sound for
            # multi-column keys too: a file disproven for k0 cannot
            # hold a full-key match, and a rejected file cannot turn
            # an insert into an update. Shard grain already engaged —
            # the selective resolve's ("in", k0, keys) atom probes the
            # root aggregates through shard_admits.
            from .data_skipping import prune_entries as _prune

            scan = _prune(
                scan, "", path, man, spark,
                extra_probes=[(k0, keys_sorted)],
            )
        per_file: dict[str, int] = {}
        matched_rows = matched_keys = 0
        if scan:
            ukeys = batch.where(nn).select(*keys)
            if broadcast_updates:
                # metadata-sized patch: the identification semi-join
                # broadcasts it; a bulk patch shuffles instead of
                # betting the driver on a broadcast
                ukeys = F.broadcast(ukeys)
            src_df, rel_of = _tagged_read(spark, man, path, scan)
            m = src_df.select(_PROV, *keys).join(ukeys, keys, "left_semi")
            # pre-write action 2 of 2: ROLLUP gives per-file matched
            # counts AND the global matched-rows/keys totals in one job
            roll = m.rollup(_PROV).agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count_distinct(F.struct(*keys)).alias("n_keys"),
            ).collect()
            for r in roll:
                if r[_PROV] is None:
                    matched_rows, matched_keys = r["n_rows"], r["n_keys"]
                else:
                    per_file[rel_of(r[_PROV])] = r["n_rows"]
        if matched_rows > matched_keys:
            warnings.warn(
                f"merge_into: target holds duplicate keys — "
                f"{matched_rows} rows matched {matched_keys} distinct "
                "keys; MERGE collapses each matched key to the single "
                "update row",
                stacklevel=2,
            )
        ukeys_b = batch.select(*keys)
        if broadcast_updates:
            ukeys_b = F.broadcast(ukeys_b)
        with _plan_rewrite(
            spark, path, snap, loose_entries, per_file, "merge",
            lambda df: df.join(ukeys_b, keys, "left_semi"),
            deletion_vectors, dv_rewrite_threshold, retain_versions,
        ) as p:
            # a pure insert / pure DV-mark rewrites NOTHING: the batch
            # is the new generation
            new_df = batch if p.rows is None else _merge_frames(
                p.rows, batch, keys, broadcast_updates,
                allow_missing=evolve_schema,
            )
            expected = p.n_keep + n_upd
            # size the rewrite output to the touched-file count, not the
            # patch's upstream partitioning (a 1k-row patch union would
            # otherwise emit one near-empty file per shuffle partition);
            # coalesce, not repartition — no exchange, the table side
            # stays unshuffled and per-touched-file parallelism is kept
            _commit_generation(spark, path, dataclasses.replace(
                p.commit,
                new_df=new_df.coalesce(
                    _rewrite_partitions(expected, p.n_files)
                ),
                expected=expected,
                cdc={
                    "insert": batch.coalesce(
                        _rewrite_partitions(n_upd, 0)
                    ),
                    "delete": None if p.pre is None else p.pre.coalesce(
                        _rewrite_partitions(matched_rows, 0)
                    ),
                },
                mixed_schema=True if evolving else None,
                table_schema=uni_schema,
            ))
        return {
            "updated": matched_keys,
            "inserted": n_upd - matched_keys,
            "matched_rows": matched_rows,
        }
    finally:
        if we_persisted:
            updates.unpersist()


def _is_stale_snapshot_error(exc: Exception) -> bool:
    """Did this pass die reading files a CONCURRENT commit retired?
    With ``retain_versions=0`` a winner's post-commit retire deletes
    the exact files a racing DML pass is scanning (the documented
    reader-concurrency hazard of zero retention) — the loser surfaces
    Spark's FAILED_READ_FILE (executor-side scan) or a Python
    FileNotFoundError (the driver-side pyarrow footer/schema reads)
    instead of ever reaching the commit fence. Semantically that IS a
    lost writer race (the Delta analogue is
    ConcurrentDeleteReadException), so the retry loop classifies it as
    retryable.

    A Python FileNotFoundError — or Spark's analysis-time
    ``[PATH_NOT_FOUND]`` (the same race caught at DataFrame
    CONSTRUCTION instead of execution; surfaced by the concurrent
    pair fuzz) — only counts when the MISSING PATH is one of the
    protocol's own data objects (``gen-*/`` generation members,
    top-level ``part-*`` appends, DV/CDC sidecars) — a retire can only
    ever delete those. A genuinely missing/typo'd table path raises
    these too, and blanket-retrying it would silently re-run the whole
    op ``attempts`` times before surfacing the real error."""
    msg = str(exc)
    protocol_obj = any(
        tok in msg for tok in ("gen-", "part-", "dv-", "adopted-", "cdc-")
    )
    if isinstance(exc, FileNotFoundError):
        return protocol_obj
    if "FAILED_READ_FILE" in msg or "FileNotFoundException" in msg:
        return True
    return "PATH_NOT_FOUND" in msg and protocol_obj


def retry_on_conflict(fn, attempts: int = 3):
    """Optimistic-concurrency wrapper for manifest commits: run ``fn``
    (a zero-arg closure over delete_where/merge_into/staged_rewrite),
    and when it loses a writer race, re-run it against the table's NEW
    state — the Delta-style retry loop. Two conflict shapes retry: the
    fence's :class:`ConcurrentWriteError` (lost the commit CAS/lock),
    and a stale-snapshot read failure (the winner's retire deleted
    files this pass was scanning — only reachable with
    ``retain_versions=0``; see :func:`_retire`'s reader-concurrency
    contract). Safe because every DML op here re-reads the live
    manifest at entry, so a retry computes against the winner's table
    rather than replaying a stale plan. The last failure propagates
    after ``attempts`` tries.

    This is the OUTER, whole-pass loop — since round 9 it is the
    fallback, not the common path: commits first try COMMIT-LEVEL
    reconciliation inside :func:`_commit_generation` (:attr:`Commit.rebase`),
    which re-CASes the already-staged files when the racing commits
    touched disjoint files. Only an overlapping conflict (the winner
    rewrote/DV'd a file this pass read, consumed the same loose
    append, or changed table policy) reaches this re-run."""
    last: Exception | None = None
    for _ in range(max(1, attempts)):
        try:
            return fn()
        except ConcurrentWriteError as exc:
            last = exc
        except Exception as exc:
            if not _is_stale_snapshot_error(exc):
                raise
            last = exc
    raise last


def run_scoped_path(base: str, run_id: str | int) -> str:
    """K4/K5: the reference uploads every run under
    ``{prefix}/{epoch_ms}/`` (reference upload_to_s3.py:10-24,
    main.py:368-380); the run id is the idempotency unit — a retried run
    overwrites its own prefix, never a previous run's.
    """
    return os.path.join(base, str(run_id))


_STAGING_SUFFIXES = ("._old", "._compact", "._zorder")


def vacuum_staging(
    base_dir: str,
    ttl_seconds: float = 24 * 3600,
    now: float | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Remove crash-orphaned rewrite leftovers (the VACUUM step of the
    maintenance family: compaction fixes file count, z-order fixes
    pruning, vacuum fixes the dead bytes a crashed rewrite leaves
    behind). Four kinds of leftovers, all TTL-gated (mtime-based,
    default 24h — fresh leftovers may belong to an in-flight rewrite):

    * **manifest tables**: generation directories sharing NO file with
      any live version (an uncommitted staging write, or a retired
      version whose cleanup crashed) are removed whole; inside LIVE
      generation directories, individual data files referenced by no
      version (format-2 partial rewrites leave per-file deads) are
      removed file-by-file. Loose files the manifest lists as
      superseded are collected; un-superseded appends never are.
    * **legacy sibling dirs** (pre-manifest protocol): ``<table>._old``
      / ``<table>._compact`` / ``<table>._zorder`` beside the table —
      but ONLY when the live table directory still exists. If it does
      not (the old swap crashed between its two renames), those dirs
      are the SOLE remaining copy of the data, not orphans: skip and
      warn, never delete.
    * **hidden staging files** (``storage.is_hidden_tmp``): a local
      ``put_bytes`` or ``copy`` killed between its fill and its rename,
      in ``base_dir``, each table and live generation directory, and
      each non-manifest child (the ledger, a run-scoped mart) and its
      ``run=<id>`` partitions.

    Pass ``now`` explicitly in tests. Returns the removed paths;
    ``dry_run=True`` returns what WOULD be removed without deleting
    anything (the operator's pre-flight). Driver-side metadata work
    only — listdir + stat per candidate, never a data scan.
    """
    import time as _time
    import warnings

    io = _io(base_dir)
    clock = _time.time() if now is None else now
    removed: list[str] = []

    def expired(p: str) -> bool:
        return clock - io.getmtime(p) >= ttl_seconds

    def sweep_hidden_tmp(d: str) -> None:
        for name in io.list_basenames(d, "."):
            p = os.path.join(d, name)
            if _storage.is_hidden_tmp(name) and io.isfile(p) and expired(p):
                if not dry_run:
                    io.remove_file(p)
                removed.append(p)

    sweep_hidden_tmp(base_dir)
    for name in io.listdir(base_dir):
        p = os.path.join(base_dir, name)
        if not io.isdir(p):
            continue
        sweep_hidden_tmp(p)
        man = _load_manifest(p)
        if man is None:
            for part in io.list_basenames(p, "run="):
                sweep_hidden_tmp(os.path.join(p, part))
        else:
            live = _live_names([man] + list(man.get("history", [])), p)
            live_dirs = {n.split("/", 1)[0] for n in live if "/" in n}
            superseded = set(man.get("superseded", []))
            for child in io.listdir(p):
                cp = os.path.join(p, child)
                if child.startswith("gen-") and io.isdir(cp):
                    if (
                        child not in live_dirs
                        and expired(cp)
                        # _temporary = a Spark job writing RIGHT NOW; a
                        # long-running staging job can outlive any TTL
                        # (the dir mtime is its creation time), and
                        # killing it here would bypass the fence
                        and not io.exists(os.path.join(cp, "_temporary"))
                    ):
                        if not dry_run:
                            io.delete_quiet(cp)
                        removed.append(cp)
                    elif child in live_dirs:
                        # live dir: collect its per-file deads only
                        sweep_hidden_tmp(cp)
                        for base in sorted(
                            io.list_basenames(cp, "part-")
                            + io.list_basenames(cp, "adopted-")
                            + io.list_basenames(cp, "entries-")
                        ):
                            sub = os.path.join(cp, base)
                            rel = f"{child}/{base}"
                            if rel not in live and rel.endswith(
                                _BLOOM_SUFFIX
                            ):
                                # a per-file bloom sidecar's liveness is
                                # its DATA FILE's: never collect one
                                # whose file is live, always one whose
                                # isn't (a shard's live consolidated
                                # object is live by name)
                                rel = rel[: -len(_BLOOM_SUFFIX)]
                            if rel not in live and expired(sub):
                                if not dry_run:
                                    io.remove_file(sub)
                                removed.append(sub)
                        for base in sorted(
                            io.list_basenames(cp, "cdc-")
                            + io.list_basenames(cp, "dv-")
                        ):
                            sub = os.path.join(cp, base)
                            rel = f"{child}/{base}"
                            if rel not in live and expired(sub):
                                if not dry_run:
                                    io.delete_quiet(sub)
                                removed.append(sub)
                elif (
                    child in superseded
                    and io.isfile(cp)
                    and expired(cp)
                ):
                    if not dry_run:
                        io.remove_file(cp)
                    removed.append(cp)
                elif (
                    child.startswith(_MANIFEST + ".tmp")
                    and io.isfile(cp)
                    and expired(cp)
                ):
                    # staged manifest bytes leaked by an aborted commit
                    if not dry_run:
                        io.remove_file(cp)
                    removed.append(cp)
            continue
        if not name.endswith(_STAGING_SUFFIXES):
            continue
        live_tbl = p.rsplit("._", 1)[0]
        if not io.isdir(live_tbl):
            warnings.warn(
                f"vacuum_staging: keeping {p} — live table {live_tbl} is "
                "missing, so this dir is recovery material, not an "
                "orphan (restore it manually: move it to the live path)",
                stacklevel=2,
            )
            continue
        if expired(p):
            if not dry_run:
                io.delete_quiet(p)
            removed.append(p)
    return removed
