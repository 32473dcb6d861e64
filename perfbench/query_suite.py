"""query_suite: a fixed list of r14 headline queries over seeded
TPC-H-shaped tables, each materialised to the ``noop`` sink. Runnable
with ``--workload query_suite``; not in ``BENCHMARK.json`` (see README:
the run budget holds two workloads).

A batch is one pass over :data:`QUERIES` in order. The list is fixed
here (not imported from ``bench.py``) and is a subset of the headline
set: the full 30-query pass takes ~29 s on 4 cores at any scale (per-
query overhead dominates). The subset keeps one query per layer the
suite exists to exercise:

- star join / window marts: ``customer_monthly_mart``
- Python worker and the LSH kernel: ``ann_lsh_banded_topk``
- state store (``applyInPandasWithState``): ``streaming_sessionize``
- manifest commits and reads: ``corpus_ingest_exactly_once`` — the
  suite's one write query (its ``write_s_p50``); the rest are reads.

No query goes through validate, ledger or the DML commit core: this is
the "prediction: no change" leg for pipeline and DML levers and the
claim leg for the LSH-kernel and sessionize work.

Correctness (untimed, once per run, as the warm-up pass): every query's
collected result must match its ``oracle_sql()`` twin run in DuckDB over
the same files (row count + order-insensitive value hash, as in
``tools/drive_contract.py``).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

from . import inputs
from .harness import du, snapshot, written_bytes

QUERIES = [
    "customer_monthly_mart",
    "ann_lsh_banded_topk",
    "streaming_sessionize",
    "corpus_ingest_exactly_once",
]
WRITE_QUERIES = {"corpus_ingest_exactly_once"}
SF = 0.01


def wraps():
    return []


def _registry():
    from retail_sales_data_pipeline_spark.plans import all_oracle_sql, all_queries

    return all_queries(), all_oracle_sql()


def setup(ctx) -> None:
    """The tables, then the warm-up pass, which is also the correctness
    check: every query runs once with ``collect()`` and is compared with
    its oracle. (A separate noop warm-up pass plus a check pass after
    timing would cost a second pass of ~10 s per run; the run budget
    of 22 runs per workload cannot carry it.)"""
    ctx.state["data"] = os.path.join(ctx.work, "inputs", "sf")
    inputs.write_query_tables(ctx.seed, ctx.state["data"], SF)
    ctx.state["errors"] = check(ctx)


def batch(ctx, i: int) -> dict:
    return _pass(ctx, ctx.state["data"])


def _pass(ctx, data: str) -> dict:
    from retail_sales_data_pipeline_spark.caching import release_persisted

    queries, _ = _registry()
    tmp = os.environ["TMPDIR"]
    before = snapshot(tmp)
    rec = {"write_s": [], "read_s": [], "attempted": 0, "failed": 0, "errors": [], "per_query": {}}
    for name in QUERIES:
        rec["attempted"] += 1
        try:
            with ctx.op(f"plans.{name}"):
                t0 = time.perf_counter()
                queries[name](ctx.spark, data).write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
        except Exception as ex:  # counted as a failed op; the pass goes on
            rec["failed"] += 1
            rec["errors"].append(f"{name}: {type(ex).__name__}: {ex}"[:300])
            continue
        finally:
            release_persisted()
        rec["per_query"][name] = dt
        rec["write_s" if name in WRITE_QUERIES else "read_s"].append(dt)
    rec["batch_s"] = sum(rec["per_query"].values())
    rec["written_bytes"] = written_bytes(before, snapshot(tmp))
    rec["input_bytes"] = du(data)
    return rec


def _norm(v) -> str:
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return repr(v) if isinstance(v, str) else str(v)


def value_hash(rows, cols) -> str:
    """Order-insensitive hash of a result: columns in name order, floats
    to 6 decimals, rows sorted (the ``tools/drive_contract.py`` rule)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def final_check(ctx) -> list[str]:
    """The oracle comparison ran as the warm-up pass (see :func:`setup`)."""
    return ctx.state["errors"]


def check(ctx) -> list[str]:
    from retail_sales_data_pipeline_spark.caching import release_persisted
    from retail_sales_data_pipeline_spark.sources.tables import TABLE_NAMES

    queries, oracles = _registry()
    data = ctx.state["data"]
    con = duckdb.connect()
    con.execute(f"SET threads = {ctx.cores}")
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    errors = []
    for name in QUERIES:
        t0 = time.perf_counter()
        try:
            sdf = queries[name](ctx.spark, data)
            rows, cols = [tuple(r) for r in sdf.collect()], sdf.columns
        finally:
            release_persisted()
        o = con.execute(oracles[name])
        o_cols = [d[0] for d in o.description]
        o_rows = o.fetchall()
        if (
            len(rows) != len(o_rows)
            or sorted(cols) != sorted(o_cols)
            or value_hash(rows, cols) != value_hash(o_rows, o_cols)
        ):
            errors.append(f"{name}: spark {len(rows)} rows != oracle {len(o_rows)} rows or values differ")
        print(f"# check {name}: {time.perf_counter() - t0:.2f}s", file=sys.stderr)
    return errors
