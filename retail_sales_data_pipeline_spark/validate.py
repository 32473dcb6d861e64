"""Per-file schema validation and quarantine routing (SURVEY.md §2.5 W1, §2.3 F1).

The reference probes each CSV's header, computes
``set(mandatory) - set(actual)``, and moves files with missing mandatory
columns to an error folder before any data is read
(reference: src/main/transformations/jobs/main.py:136-176). Extra columns
are fine — they are folded later by ``schema.conform``.

This stays a *driver-side* decision on purpose: at 100 TB the fact data
never moves through the driver — only file names and header lines do,
and the accepted set is then read by executors in one distributed
``spark.read.csv([paths])`` pass. Each header probe
(``sources.files.read_csv_header``) is a bounded read of the file's first
line through its Hadoop ``FileSystem``, tokenized on the driver with
Spark's header rules: no Spark job per file.

Every path resolves through :mod:`.storage`: the probe opens
``storage.spark_path(path)``, the path Spark reads, and the moves,
listings and deletes go through ``storage.for_path``. No function here
takes a backend; a deployment registers one per URI scheme.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from .schema import MANDATORY_COLUMNS, missing_mandatory
from .sources.files import read_csv_header
from .storage import for_path, spark_path


@dataclass
class ValidationReport:
    """Outcome of validating one batch of files."""

    accepted: list[str] = field(default_factory=list)
    # path -> missing mandatory columns that caused rejection
    rejected: dict[str, set[str]] = field(default_factory=dict)
    # path -> probed header columns, for every accepted file: downstream
    # steps that need the header (exact-vs-wide schema routing in the
    # pipeline) MUST reuse these instead of re-probing — each probe is a
    # sequential driver-side open + first-line read of the file (~4 ms
    # locally, one object-store GET remotely), so a second pass at 10^5
    # daily files adds minutes of driver time (docs/SCALE.md)
    columns: dict[str, list[str]] = field(default_factory=dict)


def validate_files(
    spark: SparkSession,
    paths: list[str],
    mandatory: list[str] | None = None,
) -> ValidationReport:
    """Split ``paths`` into accepted / rejected by the mandatory-column
    contract (reference main.py:146-153). Header-probe only — no data
    rows are read for rejected files. The probed headers of accepted
    files are carried in ``report.columns`` so the batch is read with
    exactly ONE header probe per file end-to-end.
    """
    mandatory = mandatory if mandatory is not None else MANDATORY_COLUMNS
    report = ValidationReport()
    for path in paths:
        try:
            cols = read_csv_header(spark, spark_path(path))
        except Exception as ex:
            # the gate's own job: an unreadable file (gone, a name
            # Spark's file index hides, a header Spark can't tokenize)
            # is quarantine material, not a batch-killer; one bad file
            # must not abort validation of the rest
            report.rejected[path] = {f"<unreadable: {type(ex).__name__}>"}
            continue
        missing = missing_mandatory(cols, mandatory)
        if missing:
            report.rejected[path] = missing
        else:
            report.accepted.append(path)
            report.columns[path] = cols
    return report


def _move_into(paths: list[str], dir_path: str) -> list[str]:
    """Move each file into ``dir_path`` under its own name through the
    directory's backend (an object store copies, then deletes)."""
    backend = for_path(dir_path)
    backend.makedirs(dir_path)
    moved = []
    for path in paths:
        dst = os.path.join(dir_path, os.path.basename(path))
        backend.move(path, dst)
        moved.append(dst)
    return moved


def quarantine_files(paths: list[str], error_dir: str) -> list[str]:
    """Move rejected files into ``error_dir`` (reference main.py:159-176).
    Returns the new locations.
    """
    return _move_into(paths, error_dir)


def archive_files(paths: list[str], processed_dir: str) -> list[str]:
    """Move successfully processed files to the processed prefix
    (reference main.py:394-399; on S3 a copy+delete, move_files.py:26-62).
    Returns the new locations.
    """
    return _move_into(paths, processed_dir)


def cleanup_local_dir(dir_path: str, missing_ok: bool = False) -> list[str]:
    """F3: delete every file/subdirectory inside ``dir_path`` (the
    directory itself stays) — the post-upload staging cleanup step
    (reference src/main/delete/local_file_delete.py:5-19). Unlike the
    reference, errors propagate instead of being logged-and-reraised
    after printing a traceback. Returns the deleted paths.

    A MISSING location raises (local parity — a typo'd staging prefix
    must not read as "cleanup succeeded"). On object stores an emptied
    prefix is indistinguishable from an absent one (no empty
    directories exist), so a rerunnable emptying flow — cleanup after
    a crash, a quiet run that staged nothing — should pass
    ``missing_ok=True`` to get the no-op instead of the guard.
    """
    backend = for_path(dir_path)
    if not backend.is_dir(dir_path) and not backend.exists(dir_path):
        if missing_ok:
            return []
        raise FileNotFoundError(dir_path)
    deleted = []
    for item in backend.list(dir_path):
        backend.delete(item)
        deleted.append(item)
    return deleted


def delete_objects(paths: list[str]) -> list[str]:
    """F4: delete individual data objects by full path — the
    object-store delete analogue (reference
    src/main/delete/aws_delete.py:11-23 ``S3Deleter.delete_file``;
    unused even by the reference's own main flow, kept for parity).
    Missing objects are skipped (object-store deletes are idempotent);
    other errors propagate. Returns the paths actually deleted.
    """
    deleted = []
    for path in paths:
        backend = for_path(path)
        if backend.exists(path):
            backend.delete(path)
            deleted.append(path)
    return deleted


def dq_rule_report(rules):
    """Row-level data-quality report: one output row per named rule.

    ``rules`` is a list of ``(rule_name, df, violation_predicate)``;
    each produces ``(rule, n_checked, n_violations)`` via a single
    full-scan aggregate (count + conditional sum — map-side combined,
    no shuffle beyond the final single-row exchange). Rules over
    referential integrity pass a pre-joined ``df`` whose predicate
    checks the null-extended side.

    Extends the reference's file-level schema gate (main.py:146-153)
    with the row-level constraint checks a warehouse runs after load;
    each rule stays an independent scan so Spark can schedule them in
    parallel and a hot rule can't starve the rest.

    NULL semantics, stated: a predicate that evaluates NULL on a row
    counts as NON-violation (SQL CHECK convention — only a provable
    TRUE violates). Write ``isNull``/``coalesce`` into the predicate
    when NULL itself is the defect being hunted.
    """
    from pyspark.sql import functions as F

    if not rules:
        raise ValueError("dq_rule_report needs at least one rule")
    parts = [
        df.agg(
            F.lit(name).alias("rule"),
            F.count(F.lit(1)).alias("n_checked"),
            F.coalesce(F.sum(pred.cast("long")), F.lit(0)).alias("n_violations"),
        )
        for name, df, pred in rules
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
