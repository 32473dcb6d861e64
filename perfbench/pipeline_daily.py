"""pipeline_daily: the paper's job, ``pipeline.run_pipeline``, one new
day per batch, with real parquet sinks and a persistent ``Ledger``.

A batch (closed loop, one client): land the day's CSV drop (untimed) →
``run_pipeline`` (timed: the write op) → a consumer reads the day's
partitions of the marts back (timed: three read ops) → DuckDB checks
(untimed) → delete the day's run-scoped outputs (untimed). The ledger
and the two mart tables persist across batches, as in production.

Sizes (per day): 12 CSV files x 4,000 rows; 2 files miss a mandatory
column, 1 is zero bytes, 1 is wide. 20,000 customers, 8 stores, 40
sellers. Why this size: a day takes ~7-9 s on 4 cores, of which the
per-file driver path (discover, 12 header probes, quarantine, archive,
ledger) takes ~45% and the sink path (scan, broadcast join, window marts,
five writes) ~33%, and a run (session start, warm-up day, two days)
fits the run budget of ~50 s. Larger drops (hundreds of files, millions
of rows) cost minutes per day on this machine.
"""

from __future__ import annotations

import datetime
import os
import shutil
import time

import duckdb

from . import inputs
from .harness import snapshot, written_bytes

N_FILES = 12
ROWS_PER_FILE = 4000
N_CUSTOMERS = 20_000
WARM_FILES, WARM_ROWS = N_FILES, 1000  # every per-file path as often as a real day


def wraps():
    """(owner, attribute, span name) for the traced run — each at the
    name its caller looks up."""
    from retail_sales_data_pipeline_spark import ledger, pipeline, validate

    return [
        (pipeline, "run_pipeline", "pipeline.run_pipeline"),
        (pipeline, "discover_csv_files", "sources.files.discover"),
        (pipeline, "validate_files", "validate.validate_files"),
        (validate, "read_csv_header", "validate.header_probe"),
        (pipeline, "quarantine_files", "validate.quarantine"),
        (pipeline, "archive_files", "validate.archive"),
        (ledger.Ledger, "active_files", "ledger.active_files"),
        (ledger.Ledger, "mark_active", "ledger.mark"),
        (ledger.Ledger, "mark_done", "ledger.mark"),
        (pipeline, "read_csv_full", "schema.conform_union"),
        (pipeline, "conform", "schema.conform_union"),
        (pipeline, "union_conformed", "schema.conform_union"),
        (pipeline, "enrich_with_dims", "pipeline.derive_marts"),
        (pipeline, "derive_customer_mart", "pipeline.derive_marts"),
        (pipeline, "derive_sales_mart", "pipeline.derive_marts"),
        (pipeline, "write_parquet", "sinks.write_parquet"),
        (pipeline, "write_partitioned_parquet", "sinks.write_partitioned_parquet"),
        (pipeline, "append_table_run_scoped", "sinks.append_table_run_scoped"),
    ]


def _dirs(ctx, name: str) -> dict[str, str]:
    base = os.path.join(ctx.work, name)
    d = {k: os.path.join(base, k) for k in ("source", "error", "processed", "out", "ledger")}
    os.makedirs(d["source"], exist_ok=True)
    return d


def setup(ctx) -> None:
    """Dims, then one small warm-up day through the full code path
    (planted files included) in its own directories, then removed."""
    from retail_sales_data_pipeline_spark.ledger import Ledger

    paths = inputs.write_dims(ctx.seed, os.path.join(ctx.work, "inputs", "dims"), N_CUSTOMERS)
    ctx.state["dim_paths"] = paths
    ctx.state["dims"] = {k: ctx.spark.read.parquet(p) for k, p in paths.items()}
    warm = _dirs(ctx, "warm")
    _day(ctx, warm, Ledger(warm["ledger"]), day=0, n_files=WARM_FILES, rows=WARM_ROWS, run_id="warm")
    shutil.rmtree(os.path.dirname(warm["source"]))
    ctx.state["dirs"] = _dirs(ctx, "daily")
    ctx.state["ledger"] = Ledger(ctx.state["dirs"]["ledger"])


def batch(ctx, i: int) -> dict:
    return _day(
        ctx, ctx.state["dirs"], ctx.state["ledger"], day=1 + i,
        n_files=N_FILES, rows=ROWS_PER_FILE, run_id=f"d{1 + i:04d}",
    )


def _day(ctx, d, ledger, day: int, n_files: int, rows: int, run_id: str) -> dict:
    from pyspark.sql import functions as F

    from retail_sales_data_pipeline_spark import pipeline

    spark = ctx.spark
    man = inputs.write_day(ctx.seed, day, d["source"], n_files, rows, N_CUSTOMERS)
    month = (inputs.FIRST_DAY + datetime.timedelta(days=day)).strftime("%Y-%m")
    store = inputs.STORE_IDS[day % len(inputs.STORE_IDS)]
    before = snapshot(d["out"], d["ledger"])
    with ctx.op("client.write"):
        t0 = time.perf_counter()
        res = pipeline.run_pipeline(
            spark, d["source"], d["error"], d["processed"], d["out"],
            ctx.state["dims"], ledger=ledger, run_id=run_id,
        )
        t_write = time.perf_counter() - t0
    # the consumer: three reads of today's marts (both run-scoped mart
    # tables, and the partitioned mart pruned to one month and store)
    reads, t_read = [], []
    for table, where in (
        ("customer_mart_table", F.col("run") == run_id),
        ("sales_mart_table", F.col("run") == run_id),
        ("sales_mart_partitioned", (F.col("sales_month") == month) & (F.col("store_id") == store)),
    ):
        with ctx.op("client.read"):
            t0 = time.perf_counter()
            got = (
                spark.read.parquet(res.outputs[table]).where(where)
                .agg(F.count(F.lit(1)).alias("n"), F.sum("total_sales").alias("total"))
                .collect()[0]
            )
            t_read.append(time.perf_counter() - t0)
        reads.append((got["n"], got["total"]))
    written = written_bytes(before, snapshot(d["out"], d["ledger"]))
    errors = check_day(ctx, d, man, res, reads, month, store)
    shutil.rmtree(os.path.join(d["out"], run_id), ignore_errors=True)
    for sub in ("processed", "error"):
        shutil.rmtree(d[sub], ignore_errors=True)
    return {
        "batch_s": t_write + sum(t_read),
        "write_s": [t_write],
        "read_s": t_read,
        "written_bytes": written,
        "input_bytes": man["accepted_bytes"],
        "attempted": 4,
        "failed": min(len(errors), 4),
        "errors": errors,
    }


def check_day(ctx, d, man, res, reads, month: str, store: int) -> list[str]:
    """DuckDB recomputation of both marts from the day's accepted CSVs
    and the dims; quarantine set == planted set; every accepted file's
    latest ledger event is ``I``; the consumer read matches the mart."""
    errors = []
    planted = set(man["quarantine"])
    got_q = {os.path.basename(p) for p in res.quarantined}
    if got_q != planted:
        errors.append(f"quarantine {sorted(got_q)} != planted {sorted(planted)}")
    accepted = sorted(set(man["files"]) - planted)
    if sorted(os.path.basename(p) for p in res.accepted) != accepted:
        errors.append("accepted set differs from the unplanted files")
        return errors
    con = duckdb.connect()
    con.execute(f"SET threads = {ctx.cores}")
    files = ", ".join(f"'{os.path.join(d['processed'], f)}'" for f in accepted)
    con.execute(
        f"""CREATE VIEW fact AS SELECT * FROM read_csv([{files}], header = true,
        union_by_name = true, types = {{'customer_id': 'INTEGER', 'store_id': 'INTEGER',
        'sales_person_id': 'INTEGER', 'sales_date': 'DATE', 'total_cost': 'DOUBLE'}})"""
    )
    dims = ctx.state["dim_paths"]
    money = "round(sum(total_cost::DECIMAL(18,4)), 2)::DOUBLE"
    month_of = "strftime(sales_date, '%Y-%m')"
    want_c = set(con.execute(
        f"SELECT customer_id, {month_of}, {money} FROM fact "
        f"JOIN read_parquet('{dims['customer']}') USING (customer_id) GROUP BY ALL"
    ).fetchall())
    have_c = set(con.execute(
        "SELECT customer_id, sales_date_month, total_sales FROM "
        f"read_parquet('{res.outputs['customer_mart']}/*.parquet')"
    ).fetchall())
    if want_c != have_c:
        errors.append(f"customer mart: {len(have_c ^ want_c)} rows differ")
    want_s = set(con.execute(
        f"SELECT store_id, sales_person_id, {month_of}, {money} FROM fact "
        f"JOIN read_parquet('{dims['store']}') s ON store_id = s.id "
        f"JOIN read_parquet('{dims['sales_team']}') t ON sales_person_id = t.id GROUP BY ALL"
    ).fetchall())
    have_s = set(con.execute(
        "SELECT store_id, sales_person_id, sales_month, total_sales FROM "
        f"read_parquet('{res.outputs['sales_mart']}/*.parquet')"
    ).fetchall())
    if want_s != have_s:
        errors.append(f"sales mart: {len(have_s ^ want_s)} rows differ")
    names = ", ".join(f"'{f}'" for f in accepted)
    status = con.execute(
        f"""SELECT status, count(*) FROM (SELECT file_name, status, row_number() OVER
        (PARTITION BY file_name ORDER BY event_time DESC, seq DESC) AS rn
        FROM read_parquet('{d['ledger']}/*.parquet')) WHERE rn = 1 AND file_name IN ({names})
        GROUP BY status"""
    ).fetchall()
    if status != [("I", len(accepted))]:
        errors.append(f"ledger latest status {status}, want all {len(accepted)} 'I'")
    want = [
        (len(want_c), sum(t for *_, t in want_c)),
        (len(want_s), sum(t for *_, t in want_s)),
        (
            sum(1 for r in want_s if r[0] == store and r[2] == month),
            sum(r[3] for r in want_s if r[0] == store and r[2] == month),
        ),
    ]
    for (n, total), (wn, wt) in zip(reads, want):
        if n != wn or abs((total or 0.0) - wt) > 0.005 * max(1, n):
            errors.append(f"consumer read ({n}, {total}) != ({wn}, {wt})")
    return errors
