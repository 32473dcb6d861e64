"""Stats-based data skipping over manifest tables (round 7).

Format-2 manifests (:mod:`.sinks`) carry per-file footer [min, max]
stats. This module turns them into a FILE-SKIPPING read path: a
predicate like ``event_date >= '2024-01-01' AND source = 'web'`` prunes
the file list on the driver — metadata only, zero Spark jobs — before
the scan is even planned, the same trick Delta/Iceberg data skipping
plays on top of parquet's own row-group pushdown. At 100 TB / 100k
files, a selective query reads the dozen files whose ranges admit the
predicate instead of opening every footer.

Round 8 adds NULL-COUNT skipping on top of the ranges: manifests
record per-file, per-column null counts (footer-derived, recorded only
when every row group reports one), so ``col IS NULL`` prunes files with
zero nulls, ``col IS NOT NULL`` prunes all-NULL files, and every
comparison prunes all-NULL files too — the one file shape [min, max]
can never speak to, since all-NULL columns carry no min/max at all.

Soundness rule: pruning may only REMOVE files that provably contain no
matching row. The predicate grammar understood here is deliberately
small (AND-conjunctions of ``col op literal``, ``col IN (...)``,
``col BETWEEN a AND b``, ``col IS [NOT] NULL``); any clause outside it
prunes nothing, and the
full predicate is ALWAYS applied to the scan afterwards — parsing
failures cost speed, never correctness. Parquet footer min/max are
bounds (writers may truncate, but truncation keeps them valid bounds),
so interval tests against them stay sound.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from . import bloom as _bloom
from .sinks import _io as _sinks_io
from .sinks import _live_state, _read_files, _read_version
from .storage import spark_path

_TOKEN = re.compile(
    r"""\s*(?:
        (?P<str>'(?:[^']|'')*')            # 'string literal'
      | (?P<num>-?\d+(?:\.\d+)?)           # numeric literal
      | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)  # bare identifier / keyword
      | (?P<op><=|>=|<>|!=|=|<|>)          # comparison
      | (?P<punc>[(),])                    # punctuation
    )""",
    re.VERBOSE,
)


def _lex(predicate: str) -> list[tuple[str, object]] | None:
    """Tokenize or give up (None) — an unlexable predicate prunes
    nothing."""
    out: list[tuple[str, object]] = []
    pos = 0
    while pos < len(predicate):
        m = _TOKEN.match(predicate, pos)
        if m is None:
            return None if predicate[pos:].strip() else out
        pos = m.end()
        if m.lastgroup == "str":
            out.append(("lit", m.group("str")[1:-1].replace("''", "'")))
        elif m.lastgroup == "num":
            raw = m.group("num")
            out.append(("lit", float(raw) if "." in raw else int(raw)))
        elif m.lastgroup == "ident":
            word = m.group("ident")
            kw = word.upper()
            if kw in ("AND", "OR", "NOT", "IN", "BETWEEN", "IS", "NULL",
                      "TRUE", "FALSE", "LIKE"):
                out.append(("kw", kw))
            else:
                out.append(("col", word))
        elif m.lastgroup == "op":
            out.append(("op", m.group("op")))
        else:
            out.append(("punc", m.group("punc")))
    return out


def _split_conjuncts(tokens: list) -> list[list] | None:
    """Split a token stream on top-level ANDs (respecting parens and the
    AND that belongs to BETWEEN). A top-level OR/NOT defeats pruning of
    the whole predicate — conservative, correct."""
    parts: list[list] = [[]]
    depth = 0
    between_pending = 0
    for tok in tokens:
        kind, val = tok
        if kind == "punc" and val == "(":
            depth += 1
        elif kind == "punc" and val == ")":
            depth -= 1
            if depth < 0:
                return None
        if depth == 0 and kind == "kw":
            if val == "OR":
                return None
            if val == "NOT":
                # NOT is pruning-defeating EXCEPT inside IS NOT NULL
                if not (parts[-1] and parts[-1][-1] == ("kw", "IS")):
                    return None
            if val == "BETWEEN":
                between_pending += 1
            elif val == "AND":
                if between_pending:
                    between_pending -= 1
                else:
                    parts.append([])
                    continue
        parts[-1].append(tok)
    return parts if depth == 0 else None


def _parse_clause(tokens: list) -> tuple | None:
    """One conjunct -> a pruning atom, or None (clause prunes nothing).

    Recognized: ``col op lit``, ``lit op col``, ``col IN (lits)``,
    ``col BETWEEN lit AND lit``, ``col IS [NOT] NULL``.
    """
    while (
        len(tokens) >= 2
        and tokens[0] == ("punc", "(")
        and tokens[-1] == ("punc", ")")
    ):
        inner = _split_conjuncts(tokens[1:-1])
        if inner is None or len(inner) != 1:
            return None
        tokens = inner[0]
    kinds = [t[0] for t in tokens]
    if kinds == ["col", "op", "lit"]:
        return ("cmp", tokens[0][1], tokens[1][1], tokens[2][1])
    if kinds == ["lit", "op", "col"]:
        flip = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}
        op = tokens[1][1]
        return ("cmp", tokens[2][1], flip.get(op, op), tokens[0][1])
    if (
        len(tokens) >= 4
        and kinds[0] == "col"
        and tokens[1] == ("kw", "IN")
        and tokens[2] == ("punc", "(")
        and tokens[-1] == ("punc", ")")
    ):
        vals = []
        for t in tokens[3:-1]:
            if t[0] == "lit":
                vals.append(t[1])
            elif t != ("punc", ","):
                return None
        return ("in", tokens[0][1], vals) if vals else None
    if (
        len(tokens) == 5
        and kinds == ["col", "kw", "lit", "kw", "lit"]
        and tokens[1] == ("kw", "BETWEEN")
        and tokens[3] == ("kw", "AND")
    ):
        return ("between", tokens[0][1], tokens[2][1], tokens[4][1])
    if (
        len(tokens) == 3
        and kinds == ["col", "kw", "kw"]
        and tokens[1] == ("kw", "IS")
        and tokens[2] == ("kw", "NULL")
    ):
        return ("isnull", tokens[0][1])
    if (
        len(tokens) == 4
        and kinds == ["col", "kw", "kw", "kw"]
        and tokens[1] == ("kw", "IS")
        and tokens[2] == ("kw", "NOT")
        and tokens[3] == ("kw", "NULL")
    ):
        return ("notnull", tokens[0][1])
    return None


def pruning_atoms(predicate: str) -> list[tuple]:
    """The provable file-skipping atoms of ``predicate`` (possibly
    empty). Only atoms are returned — residual clauses are simply not
    represented, which is the conservative direction."""
    tokens = _lex(predicate)
    if not tokens:
        return []
    conjuncts = _split_conjuncts(tokens)
    if conjuncts is None:
        return []
    atoms = []
    for c in conjuncts:
        atom = _parse_clause(c)
        if atom is not None:
            atoms.append(atom)
    return atoms


def _span_admits(span: list | None, atom: tuple) -> bool:
    """Can a file with column range ``span`` contain a row satisfying
    ``atom``? Missing stats or incomparable types admit."""
    if span is None:
        return True
    lo, hi = span
    try:
        if atom[0] == "cmp":
            _, _, op, v = atom
            if op == "=":
                return lo <= v <= hi
            if op == "<":
                return lo < v
            if op == "<=":
                return lo <= v
            if op == ">":
                return hi > v
            if op == ">=":
                return hi >= v
            return True  # <> / != : a range can't disprove inequality
        if atom[0] == "in":
            return any(lo <= v <= hi for v in atom[2])
        if atom[0] == "between":
            _, _, a, b = atom
            return not (hi < a or lo > b)
    except TypeError:
        return True
    return True


def _entry_admits(entry: dict, atom: tuple) -> bool:
    """Can this file contain a row satisfying ``atom``, given its
    footer [min, max] spans AND null counts? Missing evidence admits.

    Null-count facts (round 8): ``IS NULL`` is disproved by
    ``nulls[col] == 0``; ``IS NOT NULL`` by ``nulls[col] == rows``
    (all-NULL column); and EVERY comparison/IN/BETWEEN is disproved by
    an all-NULL column too (SQL comparisons with NULL are never TRUE) —
    which is exactly the file shape [min, max] can't speak to, since
    all-NULL columns carry no min/max.

    Physical-absence facts (round 11, mixed-schema tables): entries
    record their file's physical top-level column list (``cols``; for
    shard records, the UNION over members). A column absent from the
    list is all-NULL in the file by schema-evolution semantics (the
    read backfills NULL — Delta's autoMerge model), so ``IS NULL``
    admits and every other atom rejects. Entries committed before the
    list was recorded carry no ``cols`` and admit — conservative."""
    col = atom[1]
    cols = entry.get("cols")
    if cols is not None and col not in cols:
        # case-insensitive second look before REJECTING: Spark resolves
        # identifiers case-insensitively by default, so "SCORE" in a
        # predicate matches a physical "score" — only a name absent
        # under either comparison is provably absent. (The stats/nulls
        # lookups below don't need this: their miss direction is
        # admit, which is always safe.)
        low = col.lower()
        if not any(c.lower() == low for c in cols):
            return atom[0] == "isnull"
    nulls = entry.get("nulls") or {}
    rows = entry.get("rows")
    n = nulls.get(col)
    if atom[0] == "isnull":
        return n is None or n > 0
    if atom[0] == "notnull":
        return n is None or rows is None or n < rows
    if n is not None and rows is not None and 0 < rows <= n:
        return False  # all-NULL column: no comparison can be TRUE
    stats = entry.get("stats") or {}
    if col not in stats:
        return True  # no span recorded: always a candidate
    return _span_admits(stats[col], atom)


# driver-side bloom probe budget: (probe values x candidate files)
# pairs — past this, the distributed probe is the right shape. Two
# tiers (round 12): the raised tier applies only when the vectorized
# kernel can plausibly engage (numpy importable, batch-sized values —
# ~35 ms per file at 100k keys, so the worst in-budget probe is ~3 s,
# comparable to one Spark job's floor without the job); everything
# else keeps the pure-Python-loop budget. Residual carve-out: an
# r11-era non-pow2 sidecar still falls back to the loop per file
# inside the raised tier — bounded at ~8M*k bitops once, and gone at
# the table's next sidecar rebuild.
_DRIVER_PROBE_BUDGET = 2_000_000
_DRIVER_PROBE_BUDGET_VECTOR = 8_000_000


def _probe_budget(probes) -> int:
    """Pair budget for ``probes`` ([(col, values), ...]). The raised
    vector tier is keyed on the LARGEST single atom's value count, not
    the sum (r12 advice #3): `_batch_rejects` engages per atom, so a
    probe list of many sub-batch atoms would run the whole raised
    budget through the pure-Python loop — a driver stall the tier
    exists to prevent."""
    biggest = max((len(v) for _, v in probes), default=0)
    if biggest >= _bloom._BATCH_PROBE_MIN:
        try:
            import numpy  # noqa: F401

            return _DRIVER_PROBE_BUDGET_VECTOR
        except Exception:
            pass
    return _DRIVER_PROBE_BUDGET
# shard-record bloom probing is pure driver CPU over root metadata;
# key batches beyond this skip the shard grain (file grain still runs)
_SHARD_PROBE_VALUES = 1_000
# past this many candidates, a session-holding caller routes the
# consolidated probe through the distributed job instead of the
# driver loop (same O(shards) GETs; the job's parallel CPU beats the
# driver's ~10-20 us/member loop past a few seconds of work)
_CONS_DRIVER_MAX_FILES = 200_000


def _bloom_probe_list(
    atoms: list[tuple], policy_cols, extra_probes
) -> list[tuple[str, list]]:
    """Probeable (col, values) pairs: parsed equality/IN atoms plus
    the side-channel key batches bulk ``delete_keys`` supplies (its
    >1000-key regime is an IN-subquery the grammar can't see)."""
    probes = _bloom.eq_atoms(atoms, policy_cols)
    for c, vals in extra_probes or ():
        if c in policy_cols and vals:
            probes.append((c, list(vals)))
    return probes


def prune_entries(
    entries: list[dict],
    predicate: str,
    table_path: str | None = None,
    man: dict | None = None,
    spark=None,
    extra_probes=None,
) -> list[dict]:
    """Drop manifest file entries whose footer stats PROVE the predicate
    matches no row in the file. Driver-side, metadata only.

    With ``table_path``/``man`` (round 11), equality and IN atoms on
    the table's BLOOM-POLICY columns additionally probe the per-file
    bloom sidecars (see :mod:`.bloom`) AFTER range pruning — the point
    lookup on an unsorted column that [min, max] can never prune.
    ``extra_probes`` (round 12) adds programmatic (col, values)
    batches to the same probe — the bulk ``delete_keys`` regime, whose
    IN-subquery predicate the pruning grammar cannot parse. Up to
    ``bloom.PROBE_CAP`` candidates probe driver-side (concurrent
    cached sidecar GETs) within a value-count budget; past either
    bound, CONSOLIDATED per-shard sidecar objects (round 13) give the
    driver full per-file verdicts at O(shards) GETs when the pair
    budget still fits, and the remainder goes to callers that pass
    ``spark`` as the DISTRIBUTED probe (one ``binaryFile`` job —
    over exactly the O(shards) consolidated objects under full
    coverage, else the per-file sidecar listing; reject verdicts
    anti-joined in Spark, only ADMITTED names collected — the
    1M-file path). Callers without a session skip what neither
    driver path covers. Every bloom miss direction admits —
    advisory, never a correctness gate."""
    atoms = pruning_atoms(predicate)
    if not atoms and not extra_probes:
        return entries
    out = [
        e for e in entries if all(_entry_admits(e, a) for a in atoms)
    ]
    policy = (man or {}).get("bloom") if table_path else None
    if policy and out:
        probes = _bloom_probe_list(
            atoms, set(policy.get("cols", [])), extra_probes
        )
        n_vals = sum(len(v) for _, v in probes)
        if not probes:
            return out
        budget = _probe_budget(probes)
        if (
            len(out) <= _bloom.PROBE_CAP
            and n_vals * len(out) <= budget
        ):
            io = _sinks_io(table_path)
            _bloom.prefetch_sidecars(
                io, table_path, [e["name"] for e in out]
            )
            out = [
                e for e in out
                if _bloom.entry_admits(io, table_path, e, probes)
            ]
        else:
            # past the candidate cap (or pair budget): consolidated
            # shard objects first (round 13 — O(shards) GETs for full
            # per-file verdicts), then the distributed job for
            # whatever they don't cover
            ext = (man.get("files_ext") or {}).get("shards") or []
            cons = [s["bloomside"] for s in ext if s.get("bloomside")]
            full_cov = bool(ext) and all(
                s.get("bloomside") for s in ext
            )
            rest, kept, cov_ran = out, [], False
            if cons and n_vals * len(out) <= budget and (
                spark is None or len(out) <= _CONS_DRIVER_MAX_FILES
            ):
                # same CPU budget as the per-file path — the GET count
                # is what changed (O(shards), threaded): the selective
                # point lookup on a 1M-file table resolves driver-side.
                # With a session AND a very large candidate list the
                # distributed consolidated plan below wins instead:
                # the driver loop costs ~10-20 us per member verdict,
                # so past ~200k candidates a Spark job's floor beats
                # it while reading the same O(shards) objects
                admitted, covered = _bloom.consolidated_admits(
                    _sinks_io(table_path), table_path, ext, probes,
                    [e["name"] for e in rest],
                )
                if covered:
                    cov_ran = True
                    kept = [
                        e for e in rest
                        if e["name"] in covered and e["name"] in admitted
                    ]
                    rest = [e for e in rest if e["name"] not in covered]
            if rest:
                if (
                    len(rest) <= _bloom.PROBE_CAP
                    and n_vals * len(rest) <= budget
                ):
                    io = _sinks_io(table_path)
                    _bloom.prefetch_sidecars(
                        io, table_path, [e["name"] for e in rest]
                    )
                    rest = [
                        e for e in rest
                        if _bloom.entry_admits(io, table_path, e, probes)
                    ]
                elif spark is not None:
                    admitted = _bloom.distributed_admits(
                        spark, table_path, probes,
                        [e["name"] for e in rest],
                        # the consolidated objects only help the job
                        # when their members are still IN `rest` (the
                        # driver pass didn't run); after a driver pass
                        # every remaining candidate is uncovered
                        consolidated=(
                            (cons, full_cov) if not cov_ran else None
                        ),
                    )
                    if admitted is not None:
                        rest = [e for e in rest if e["name"] in admitted]
            keep = {e["name"] for e in kept} | {e["name"] for e in rest}
            out = [e for e in out if e["name"] in keep]
    return out


def shard_admits(atoms: list[tuple], extra_probes=None):
    """Predicate over ROOT manifest shard records (round 10): each
    record carries the same ``rows``/``stats``/``nulls`` shape as a
    file entry, aggregated over its members by ``sinks._shard_agg``,
    so :func:`_entry_admits` evaluates it verbatim at shard
    granularity. Records without the aggregate (pre-r10) admit.

    Round 12: records may also carry a shard-grain BLOOM aggregate
    (``rec["bloom"]``, the OR-fold of member sidecars — see
    ``bloom.aggregate_payloads``); equality/IN atoms and bounded
    ``extra_probes`` key batches probe it with the same verdict
    kernel as every other granularity, so a point lookup skips whole
    shards before any entry shard is read. Records without the
    aggregate (pre-r12, saturated, or policy-less) admit."""
    probes_cache: dict[frozenset, list] = {}

    def admits(rec: dict) -> bool:
        if not all(_entry_admits(rec, a) for a in atoms):
            return False
        agg = rec.get("bloom")
        if agg:
            pcols = frozenset(agg.get("cols", {}))
            probes = probes_cache.get(pcols)
            if probes is None:
                probes = [
                    (c, v)
                    for c, v in _bloom_probe_list(
                        atoms, pcols, extra_probes
                    )
                    if len(v) <= _SHARD_PROBE_VALUES
                ]
                probes_cache[pcols] = probes
            if probes and _bloom.payload_rejects(agg, probes):
                return False
        return True

    return admits


def _prunable(man: dict) -> bool:
    """May this table's SCANS use stats pruning? Uniform tables always.
    Mixed-schema tables only once the unified logical schema is
    recorded in the root manifest (round 11, set by the evolving
    commit): reads then supply the schema explicitly, so pruning every
    file that physically carries an evolved column can no longer lose
    the column from the scan schema, and per-entry/per-shard ``cols``
    make physical absence a pruning fact. A pre-r11 evolved table
    (flag without schema) keeps the conservative full resolve until
    its next evolving commit or full rewrite. Parse-checked, not
    key-presence-checked: a corrupt record must degrade, not prune."""
    from .sinks import _recorded_schema

    return not man.get("mixed_schema") or _recorded_schema(man) is not None


def _scan_admits(predicate: str | None, extra_probes=None):
    """The shard filter for one scan, or None when no provable atoms
    exist. PRE-R11 mixed-schema tables (no recorded unified schema)
    are carved out inside ``_live_state`` itself — see
    :func:`_prunable`."""
    atoms = pruning_atoms(predicate) if predicate else []
    if not atoms and not extra_probes:
        return None
    return shard_admits(atoms, extra_probes)


def scan_table(
    spark: SparkSession,
    path: str,
    predicate: str | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Read a manifest table with FILE-LEVEL data skipping: files whose
    footer stats disprove ``predicate`` never enter the scan (on top of
    Spark's own row-group pushdown inside the files that do). The
    predicate is still applied to the result, so an unparseable or
    partially-parseable predicate costs pruning, never rows. Loose
    append files (no stats yet) are always scanned. Falls back to the
    plain resolved read for never-rewritten tables.

    SHARDED tables (round 10) additionally skip at INDEX granularity:
    the root's per-shard aggregate stats are tested first, and entry
    shards whose aggregate range disproves the predicate are never
    loaded at all — a selective scan of a 1M-file table resolves by
    reading the root plus O(touched shards), not the whole index.
    Mixed-schema tables participate once their unified schema is
    recorded in the root (round 11); pre-r11 evolved tables keep the
    full resolve (see :func:`_prunable`)."""
    man, entries, loose, _ = _live_state(
        path, shard_admits=_scan_admits(predicate)
    )
    if man is None:
        df = spark.read.parquet(spark_path(path))
    else:
        all_entries = entries  # pre-prune list: schema source below
        if predicate and _prunable(man):
            entries = prune_entries(entries, predicate, path, man, spark)
        rels = [e["name"] for e in entries] + list(loose)
        if not rels:
            # everything pruned: an empty frame with the table schema
            # (no second _live_state — one directory snapshot per scan)
            src = [os.path.join(path, e["name"]) for e in all_entries]
            ext = man.get("files_ext") or {}
            if not src and ext.get("shards"):
                # even the index shards were skipped: ONE shard load
                # recovers a schema-bearing file (a genuinely EMPTY
                # table — zero entries, zero shards — falls through to
                # _read_files([]), the pre-r10 behavior for that shape)
                from .sinks import _load_shard

                first = ext["shards"][0]
                src = [os.path.join(
                    path, _load_shard(path, first["name"])[0]["name"]
                )]
            df = _read_files(spark, man, src).limit(0)
        else:
            # DV-aware: deletion-vector-deleted rows never surface
            df = _read_version(spark, man, path, rels, man.get("dv"))
    if predicate:
        df = df.where(predicate)
    if columns:
        df = df.select(*columns)
    return df


def files_scanned(
    path: str, predicate: str | None = None, spark=None
) -> int:
    """How many manifest files ``scan_table`` would read for
    ``predicate`` — the observable for pruning tests and capacity
    planning (metadata only). On tables whose shards carry
    consolidated sidecar objects (round 13) the count is EXACT even
    past ``bloom.PROBE_CAP`` with no session — the driver gets full
    file-grain verdicts at O(shards) GETs (pinned report == scan by
    tests/test_manifest_s3.py::test_consolidated_probe_request_budget).
    Pass ``spark`` to also include the DISTRIBUTED probe for whatever
    consolidation doesn't cover (pre-r13 shards, loose appends past
    the cap) — without a session that residual leg is skipped and the
    count is an upper bound for exactly those files."""
    man, entries, loose, _ = _live_state(path)
    if man is None:
        return -1  # unmanaged table: directory scan, count unknown
    if predicate and _prunable(man):
        entries = prune_entries(entries, predicate, path, man, spark)
    return len(entries) + len(loose)


def explain_skipping(
    path: str, predicate: str | None = None, spark=None
) -> dict:
    """One operator-facing report of WHY a predicate prunes (or
    doesn't) on a manifest table — the debugging twin of
    ``files_scanned``/``shards_loaded`` (round 12). Metadata-only
    (plus the distributed bloom probe when ``spark`` is passed and
    the candidate list is past the cap):

    ``atoms``            provable conjuncts the grammar extracted —
                         an empty list on a non-trivial predicate
                         means the predicate shape defeats pruning
                         (OR at the top level, function-wrapped
                         column, unparseable literal);
    ``shards_loaded``    (loaded, total) index shards at resolve;
    ``files_scanned``    files the scan would read;
    ``files_total``      live file count;
    ``bloom_policy``     the table's indexed columns (None without a
                         policy);
    ``bloom_probes``     (col, n_values) pairs the bloom stage would
                         probe — empty when no equality/IN atom hits
                         a policy column;
    ``prunable``         False when the table is a pre-r11 mixed-
                         schema layout that forces the full resolve.

    A 100 TB operator reads this instead of guessing: "my takedown
    scans everything" resolves to either no-policy, a non-atom
    predicate, or a genuinely-everywhere key in one call. One full
    index resolve total (`shards_loaded` evaluates root records
    only, no shard bodies)."""
    man, entries, loose, _ = _live_state(path)
    atoms = pruning_atoms(predicate) if predicate else []
    if man is None:
        return {
            "atoms": atoms, "shards_loaded": (0, 0),
            "files_scanned": -1, "files_total": -1,
            "bloom_policy": None, "bloom_probes": [],
            "bloom_consolidated_shards": (0, 0),
            "prunable": False,
        }
    policy = man.get("bloom") or None
    pcols = sorted((policy or {}).get("cols") or [])
    # the CANONICAL probe-list computation — the same helper the
    # planner's bloom stage uses, so this report can never drift
    # from what prune_entries actually probes
    probes = _bloom_probe_list(atoms, set(pcols), None) if policy else []
    scanned = entries
    if predicate and _prunable(man):
        scanned = prune_entries(entries, predicate, path, man, spark)
    ext = (man.get("files_ext") or {}).get("shards") or []
    return {
        "atoms": atoms,
        "shards_loaded": shards_loaded(path, predicate),
        "files_scanned": len(scanned) + len(loose),
        "files_total": len(entries) + len(loose),
        "bloom_policy": pcols if policy else None,
        "bloom_probes": [(c, len(v)) for c, v in probes],
        # round 13: shards carrying a consolidated sidecar object —
        # full coverage means point lookups stay exact at O(shards)
        # GETs no matter how far past PROBE_CAP the table grows
        "bloom_consolidated_shards": (
            sum(1 for s in ext if s.get("bloomside")), len(ext)
        ),
        "prunable": _prunable(man),
    }


def shards_loaded(path: str, predicate: str | None = None) -> tuple[int, int]:
    """``(index shards scan_table would load, total distinct shards)``
    for a sharded table under ``predicate`` — the round-10 observable:
    no shard bodies are read, only root shard records are evaluated.
    Counts the WHOLE resolve, mirroring ``_live_state`` exactly:
    live-version shards load when admitted or possibly-top-level, and
    RETAINED HISTORY versions load their possibly-top-level shards for
    the loose-file classifier (pre-r10 history records lack ``top``
    and load conservatively — a table upgraded from r9 keeps paying
    O(history shards) until those snapshots age out of retention or
    re-shard, and this counter makes that visible instead of reporting
    a flattering live-only number). History shards carried by
    reference from the live version count once. ``(total, total)``
    when shard skipping doesn't apply (inline table, no provable
    atoms, pre-r11 mixed schema with no recorded unified schema)."""
    from .sinks import _load_manifest

    man = _load_manifest(path)
    if man is None:
        return 0, 0
    live = (man.get("files_ext") or {}).get("shards", [])
    history = man.get("history", [])
    all_names = {s["name"] for s in live}
    hist_top: set[str] = set()
    for h in history:
        for s in (h.get("files_ext") or {}).get("shards", []):
            all_names.add(s["name"])
            if s.get("top", 1):
                hist_top.add(s["name"])
    admits = _scan_admits(predicate) if _prunable(man) else None
    if admits is None:
        return len(all_names), len(all_names)
    loaded = {
        s["name"] for s in live if admits(s) or s.get("top", 1)
    } | hist_top
    return len(loaded), len(all_names)


def dml_shards_loaded(
    path: str, predicate: str | None = None
) -> tuple[int, int]:
    """``(index shards a DELETE/UPDATE with ``predicate`` would load,
    total distinct shards)`` — the capacity-planning twin of
    :func:`shards_loaded` for the round-10 SELECTIVE DML resolve.
    Differs from the scan counter in the carry rules: a rejected shard
    is skipped only when its record is verbatim-carry ELIGIBLE (known
    rows sum, zero top-level members, right-sized — see
    ``sinks._shard_carry_eligible``); every other rejected shard loads
    fully, because a DML commit must account for each live file as an
    entry or a carried record. Root records only, no shard bodies
    read. ``(total, total)`` when selectivity doesn't apply (inline
    table, no provable atoms, pre-r11 mixed schema — round 11 keeps
    DML selective on mixed tables whose unified schema is recorded,
    same as the scan path)."""
    from .sinks import _load_manifest, _shard_carry_eligible

    man = _load_manifest(path)
    if man is None:
        return 0, 0
    live = (man.get("files_ext") or {}).get("shards", [])
    history = man.get("history", [])
    all_names = {s["name"] for s in live}
    hist_top: set[str] = set()
    for h in history:
        for s in (h.get("files_ext") or {}).get("shards", []):
            all_names.add(s["name"])
            if s.get("top", 1):
                hist_top.add(s["name"])
    admits = _scan_admits(predicate) if _prunable(man) else None
    if admits is None:
        return len(all_names), len(all_names)
    loaded = {
        s["name"]
        for s in live
        if admits(s) or not _shard_carry_eligible(s)
    } | hist_top
    if len(loaded) == 0 and live:
        loaded = {live[-1]["name"]}  # the schema-witness shard
    return len(loaded), len(all_names)
