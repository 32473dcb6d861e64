"""table_dml: one client runs a fixed, seeded op sequence against one
multi-file manifest table.

A batch is one block of :data:`inputs.DML_BLOCK`: ``merge_into``,
``update_where``, ``delete_where(deletion_vectors=True)``,
``insert_into(txn=...)``, ``merge_into(deletion_vectors=True)``,
``delete_where``, then ``compact_small_files``; after every second commit
one read, alternating a full ``read_table`` aggregate and a selective
``scan_table``. Keys are skewed toward the newest ids (see
:func:`inputs.dml_ops`). A plain pandas model replays every op in lock
step (untimed) and checks each read; the final table is compared with
the model and ``verify_table(deep=True)`` must be ok.

Sizes: 300,000 base rows in 12 files; 1,000-row merge/insert batches,
1,000-id update windows, 500-id delete windows. A commit takes ~0.3-2.5 s
and a block ~8 s, so ``batch_s`` (commits, reads and compaction together)
sums many operations and ``write_s_p50`` is a median of 14 commits. A
merge-on-read change that makes writes cheaper and reads dearer moves
``batch_s`` too.
"""

from __future__ import annotations

import os
import shutil
import time

import pandas as pd

from . import inputs
from .harness import du, snapshot, written_bytes

N_ROWS, N_FILES, BATCH_ROWS = 300_000, 12, 1000
WARM_ROWS, WARM_FILES, WARM_BATCH = 20_000, 4, 200
MAX_BLOCKS = 40


def wraps():
    from retail_sales_data_pipeline_spark import data_skipping, sinks, table_io

    return [
        (sinks, "merge_into", "sinks.merge_into"),
        (sinks, "update_where", "sinks.update_where"),
        (sinks, "delete_where", "sinks.delete_where"),
        (sinks, "insert_into", "sinks.insert_into"),
        (sinks, "compact_small_files", "sinks.compact_small_files"),
        (sinks, "read_table", "sinks.read_table.resolve"),
        (data_skipping, "scan_table", "data_skipping.scan_table.resolve"),
        (table_io.LocalTableIO, "commit_manifest", "table_io.commit_manifest"),
        (table_io.LocalTableIO, "load_json", "table_io.load_json"),
    ]


def _keyed(df: pd.DataFrame) -> pd.DataFrame:
    """The model frame, indexed (unnamed) by its ``id`` column."""
    df.index = df["id"].to_numpy()
    return df


class _Table:
    """One manifest table plus its lock-step model."""

    def __init__(self, ctx, name: str, n_rows: int, n_files: int, batch_rows: int, block: list):
        from retail_sales_data_pipeline_spark import sinks

        self.path = os.path.join(ctx.work, name, "table")
        base_bytes = inputs.write_dml_base(ctx.seed, self.path, n_rows, n_files)
        self.row_bytes = base_bytes / n_rows
        self.model = _keyed(pd.concat(
            [pd.read_parquet(os.path.join(self.path, f)) for f in sorted(os.listdir(self.path))]
        ))
        sinks.convert_to_manifest(ctx.spark, self.path)
        # one base file: compaction folds the small DML outputs (under half
        # a base file) and never the base files or their rewrites
        self.target_bytes = base_bytes // n_files
        self.ops = inputs.dml_ops(ctx.seed, n_rows, n_files, MAX_BLOCKS, batch_rows, block)
        self.reads = inputs.dml_reads(ctx.seed, n_rows, 4 * MAX_BLOCKS)
        self.n_reads = 0

    # -- the model ---------------------------------------------------------

    def apply(self, op: dict) -> int:
        """Replay ``op`` on the model; returns the rows it changes."""
        m = self.model
        kind = op["kind"]
        if kind in ("merge", "insert"):
            rows = _keyed(op["rows"].to_pandas())
            self.model = pd.concat([m.drop(rows.index, errors="ignore"), rows])
            return len(rows)
        if kind == "update":
            hit = (m["id"] >= op["lo"]) & (m["id"] <= op["hi"])
            m.loc[hit, "amount"] = m.loc[hit, "amount"] + op["add"]
            return int(hit.sum())
        if kind == "delete":
            hit = (m["id"] >= op["lo"]) & (m["id"] <= op["hi"]) & (m["grp"] != op["grp"])
            self.model = m[~hit]
            return int(hit.sum())
        return 0

    # -- the ops -----------------------------------------------------------

    def commit(self, ctx, op: dict) -> tuple[float, object]:
        from retail_sales_data_pipeline_spark import sinks

        spark, kind, dv = ctx.spark, op["kind"], op["dv"]
        df = spark.createDataFrame(op["rows"].to_pandas()) if "rows" in op else None
        with ctx.op(f"client.{kind}"):
            t0 = time.perf_counter()
            if kind == "merge":
                out = sinks.merge_into(spark, self.path, df, keys=["id"], deletion_vectors=dv)
            elif kind == "update":
                out = sinks.update_where(
                    spark, self.path, {"amount": f"amount + {op['add']}"}, op["predicate"],
                    deletion_vectors=dv,
                )
            elif kind == "delete":
                out = sinks.delete_where(spark, self.path, op["predicate"], deletion_vectors=dv)
            elif kind == "insert":
                out = sinks.insert_into(spark, self.path, df, txn=op["txn"])
            else:
                out = sinks.compact_small_files(spark, self.path, target_bytes=self.target_bytes)
            return time.perf_counter() - t0, out

    def read(self, ctx) -> tuple[float, str | None]:
        """One interleaved read; returns (seconds, error or None)."""
        from pyspark.sql import functions as F

        from retail_sales_data_pipeline_spark import data_skipping, sinks

        spark, full = ctx.spark, self.n_reads % 2 == 0
        lo, hi = self.reads[self.n_reads]
        self.n_reads += 1
        agg = [F.count(F.lit(1)).alias("n"), F.sum("amount").alias("s")]
        with ctx.op("client.read_table" if full else "client.scan_table"):
            t0 = time.perf_counter()
            if full:
                df = sinks.read_table(spark, self.path)
            else:
                df = data_skipping.scan_table(spark, self.path, f"id >= {lo} AND id < {hi}")
            got = df.agg(*agg).collect()[0]
            dt = time.perf_counter() - t0
        m = self.model if full else self.model[(self.model["id"] >= lo) & (self.model["id"] < hi)]
        want_s = float(m["amount"].sum())
        if got["n"] != len(m) or abs((got["s"] or 0.0) - want_s) > 1e-6 * max(1.0, abs(want_s)):
            return dt, f"read ({got['n']}, {got['s']}) != model ({len(m)}, {want_s})"
        return dt, None

    def final_check(self, ctx) -> list[str]:
        from retail_sales_data_pipeline_spark import sinks

        errors = []
        have = sinks.read_table(ctx.spark, self.path).toPandas()
        have = have.sort_values("id").reset_index(drop=True)
        want = self.model.sort_values("id").reset_index(drop=True)[list(have.columns)]
        if len(have) != len(want) or not have.astype(want.dtypes).equals(want):
            errors.append(f"final table ({len(have)} rows) differs from the op-sequence model ({len(want)} rows)")
        v = sinks.verify_table(self.path, deep=True)
        if not v["ok"]:
            errors.append(f"verify_table: {v['errors'][:3]}")
        return errors


def _size(path: str) -> int:
    """Bytes of a file, or of everything under a directory."""
    return os.path.getsize(path) if os.path.isfile(path) else du(path)


def _commit_stats(path: str, before: set, before_dv: set) -> dict:
    """Files carried / replaced and bytes staged by the last commit, from
    the manifest diff (the ``tools/dml_headroom.py`` accounting)."""
    from retail_sales_data_pipeline_spark import sinks as S

    man = S._load_manifest(path)
    after = {e["name"] for e in S._version_files(man, path)}
    cdc = [n for lst in (man.get("cdc") or {}).values() for n in lst]
    dv_new = [n for n in (man.get("dv") or {}).get("data", []) if n not in before_dv]
    return {
        "files_carried": len(before & after),
        "files_rewritten": len(before - after),
        "bytes_staged": sum(_size(os.path.join(path, n)) for n in after - before),
        "cdc_bytes": sum(_size(os.path.join(path, n)) for n in cdc),
        "dv_bytes": sum(_size(os.path.join(path, n)) for n in dv_new),
    }


def _manifest_names(path: str) -> tuple[set, set]:
    from retail_sales_data_pipeline_spark import sinks as S

    man = S._load_manifest(path)
    return {e["name"] for e in S._version_files(man, path)}, set((man.get("dv") or {}).get("data", []))


def _block(ctx, t: _Table, block: int) -> dict:
    from retail_sales_data_pipeline_spark import data_skipping

    ops = [op for op in t.ops if op["block"] == block]
    rec = {"write_s": [], "read_s": [], "written_bytes": 0, "input_bytes": 0,
           "attempted": 0, "failed": 0, "errors": [], "commit_stats": [], "skipped_frac": []}
    traced = ctx.tracer is not None and ctx.tracer.enabled
    t_block = time.perf_counter()
    n_commits = 0
    for op in ops:
        before = snapshot(t.path)
        if traced:
            ctx.tracer.enabled = False
            names, dvs = _manifest_names(t.path)
            ctx.tracer.enabled = True
        rec["attempted"] += 1
        try:
            dt, _ = t.commit(ctx, op)
        except Exception as ex:  # a failed op is counted, the run goes on
            rec["failed"] += 1
            rec["errors"].append(f"{op['kind']}: {type(ex).__name__}: {ex}"[:300])
            continue
        rec["write_s"].append(dt)
        changed = t.apply(op)
        rec["written_bytes"] += written_bytes(before, snapshot(t.path))
        rec["input_bytes"] += changed * t.row_bytes
        if traced:
            ctx.tracer.enabled = False
            rec["commit_stats"].append(_commit_stats(t.path, names, dvs))
            ctx.tracer.enabled = True
        n_commits += 1
        if op["kind"] != "compact" and n_commits % 2 == 0:
            rec["attempted"] += 1
            full = t.n_reads % 2 == 0
            lo, hi = t.reads[t.n_reads]
            dt, err = t.read(ctx)
            rec["read_s"].append(dt)
            if err:
                rec["failed"] += 1
                rec["errors"].append(err)
            if traced and not full:
                ctx.tracer.enabled = False
                total = data_skipping.files_scanned(t.path, spark=ctx.spark)
                kept = data_skipping.files_scanned(t.path, f"id >= {lo} AND id < {hi}", spark=ctx.spark)
                rec["skipped_frac"].append(1.0 - kept / max(total, 1))
                ctx.tracer.enabled = True
    rec["batch_s"] = time.perf_counter() - t_block
    return rec


def setup(ctx) -> None:
    """A small table through the warm-up block (every op kind once, two
    reads, the final check), removed afterwards; then the real table."""
    warm = _Table(ctx, "warm", WARM_ROWS, WARM_FILES, WARM_BATCH, inputs.WARM_BLOCK)
    rec = _block(ctx, warm, 0)
    errors = rec["errors"] + warm.final_check(ctx)
    if errors:
        raise RuntimeError(f"table_dml warm-up failed: {errors[:3]}")
    shutil.rmtree(os.path.dirname(warm.path))
    ctx.state["table"] = _Table(ctx, "dml", N_ROWS, N_FILES, BATCH_ROWS, inputs.DML_BLOCK)


def batch(ctx, i: int) -> dict:
    return _block(ctx, ctx.state["table"], i)


def final_check(ctx) -> list[str]:
    return ctx.state["table"].final_check(ctx)


def space_amp(ctx) -> float:
    """Table bytes on disk per live-data byte: each live file's size
    scaled by the share of its rows not deleted by a deletion vector."""
    from retail_sales_data_pipeline_spark import sinks as S

    path = ctx.state["table"].path
    man = S._load_manifest(path)
    deleted = S._dv_map(man)
    live = 0.0
    for e in S._version_files(man, path):
        rows = e.get("rows") or 0
        keep = 1.0 - deleted.get(e["name"], 0) / rows if rows else 1.0
        live += os.path.getsize(os.path.join(path, e["name"])) * keep
    return du(path) / max(live, 1.0)
