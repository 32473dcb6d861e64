"""perfbench: the repo's benchmark. One command per workload:

    python3 perfbench/run.py --workload pipeline_daily --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. It generates the workload's inputs from
``--seed`` (setup), runs closed-loop batches for ``--seconds`` (at least
``MIN_BATCHES`` calm ones, see ``STEAL_LIMIT``), checks every result, and
prints ONE JSON object as the
last stdout line: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same loop with every other batch traced and reports the per-layer
metrics (plus the tracing overhead), writing the spans to
``.perfbench/spans-<workload>-s<seed>.json``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time

WORKLOADS = ("pipeline_daily", "table_dml", "query_suite")
MIN_BATCHES = {"pipeline_daily": 2, "table_dml": 2, "query_suite": 2}
# A batch during which more than this share of the machine's CPU time was
# stolen by the hypervisor ran on a contended host (calm batches measure
# 0.01-0.06; batches at 0.13-0.16 ran ~40% slower). The untraced loop runs
# up to EXTRA_BATCHES more batches to collect MIN_BATCHES calm ones.
STEAL_LIMIT = 0.08
EXTRA_BATCHES = 2
MAX_CORES = 4
HEAP = "2g"

END_TO_END = {
    "setup_s": "s",
    "batch_s": "s",
    "write_s_p50": "s",
    "write_amp": "B/B",
    "peak_rss_mb": "MB",
}

# per-layer metric -> the span name whose wall time it sums
SPAN_TIME = {
    "sources.files.discover_s": "sources.files.discover",
    "validate.validate_files_s": "validate.validate_files",
    "validate.quarantine_s": "validate.quarantine",
    "validate.archive_s": "validate.archive",
    "ledger.active_files_s": "ledger.active_files",
    "ledger.mark_s": "ledger.mark",
    "schema.conform_union_s": "schema.conform_union",
    "pipeline.derive_marts_s": "pipeline.derive_marts",
    "sinks.write_parquet_s": "sinks.write_parquet",
    "sinks.write_partitioned_parquet_s": "sinks.write_partitioned_parquet",
    "sinks.append_table_run_scoped_s": "sinks.append_table_run_scoped",
    "sinks.merge_into_s": "sinks.merge_into",
    "sinks.update_where_s": "sinks.update_where",
    "sinks.delete_where_s": "sinks.delete_where",
    "sinks.insert_into_s": "sinks.insert_into",
    "sinks.compact_small_files_s": "sinks.compact_small_files",
    "table_io.commit_manifest_s": "table_io.commit_manifest",
    "sinks.read_table_s": "client.read_table",
    "data_skipping.scan_table_s": "client.scan_table",
}
SPAN_COUNT = {
    "validate.header_probes": "validate.header_probe",
    "table_io.commit_attempts": "table_io.commit_manifest",
    "table_io.load_json_calls": "table_io.load_json",
}
# Spark SQL-operator metrics summed over every traced span
SQL_COUNTERS = {
    "operators.star_join.broadcast_build_s": ("broadcast_build_s", "s"),
    "operators.marts.sort_s": ("sort_s", "s"),
    "operators.marts.spill_bytes": ("sort_spill_bytes", "B"),
    "python.bytes_to_worker": ("python_bytes_to_worker", "B"),
    "python.bytes_from_worker": ("python_bytes_from_worker", "B"),
    "python.eval_s": ("python_eval_s", "s"),
}
SINK_COUNTERS = {
    "sinks.job_commit_s": ("job_commit_s", "s"),
    "sinks.files_written": ("files_written", "count"),
    "sinks.bytes_written": ("bytes_written", "B"),
}
COMMIT_STATS = {
    "sinks.files_carried": "count",
    "sinks.files_rewritten": "count",
    "sinks.bytes_staged": "B",
    "sinks.dv_bytes": "B",
    "sinks.cdc_bytes": "B",
}
SPARK_COUNTERS = {
    "spark.jobs": ("jobs", "count"),
    "spark.tasks": ("tasks", "count"),
    "spark.scan_bytes": ("scan_bytes", "B"),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", "B"),
    "spark.spill_bytes": ("spill_bytes", "B"),
    "spark.executor_run_s": ("executor_run_s", "s"),
    "spark.executor_cpu_s": ("executor_cpu_s", "s"),
}
LAYERS = [
    "client", "pipeline", "sources.files", "validate", "ledger", "schema",
    "sinks", "table_io", "data_skipping", "plans",
]
STREAM = {
    "stream.batches": "count",
    "stream.add_batch_s": "s",
    "state.commit_s": "s",
    "state.rows_total": "count",
    "state.memory_bytes": "B",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    from perfbench.query_suite import QUERIES

    units = {m: "s" for m in SPAN_TIME}
    units.update({m: "count" for m in SPAN_COUNT})
    units["validate.probe_s_per_file"] = "s"
    units["ledger.jobs"] = "count"
    units["pipeline.self_s"] = "s"
    units.update({m: u for m, (_, u) in SQL_COUNTERS.items()})
    units.update({m: u for m, (_, u) in SINK_COUNTERS.items()})
    units.update(COMMIT_STATS)
    units["data_skipping.files_skipped_frac"] = "1"
    units["client.read_s_p50"] = "s"
    units["table.commit_s_p90"] = "s"
    units["table.space_amp"] = "B/B"
    units.update({f"plans.{q}_s": "s" for q in QUERIES})
    units.update(STREAM)
    units.update({m: u for m, (_, u) in SPARK_COUNTERS.items()})
    units["spark.core_util"] = "1"
    units["driver.gap_s"] = "s"
    units.update({f"self.{layer}_s": "s" for layer in LAYERS})
    units["process.cpu_s"] = "s"
    units["host.steal_frac"] = "1"
    units["trace.batch_s_traced"] = "s"
    units["trace.batch_s_untraced"] = "s"
    units["trace.overhead_frac"] = "1"
    return units


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str, cores: int) -> dict[str, str]:
    """Keep every byte the run writes inside the checkout, and pin the
    session width. Returns the extra Spark conf."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_DRIVER_MEMORY": HEAP,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
            # stream checkpoints go to TMPDIR, not /dev/shm (outside the checkout)
            "SPARK_GRAFT_NO_SHM_CKPT": "1",
            # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
    )
    return {
        # a fixed-size heap: peak RSS then does not depend on when G1
        # decides to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Dderby.system.home={work}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
    }


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        importlib.import_module("retail_sales_data_pipeline_spark")
    except ImportError as ex:
        print(f"perfbench: package under test not importable from {root}: {ex}", file=sys.stderr)
        return 2
    cores = min(len(os.sched_getaffinity(0)), MAX_CORES)
    out_dir = os.path.join(root, ".perfbench")
    work = os.path.join(out_dir, "work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    conf = _environment(work, cores)
    if args.trace:
        # the traced run reads every job back from the status store
        conf.update({
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
        })
    spark = None
    try:
        from retail_sales_data_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=conf)
        session_s = time.perf_counter() - t0
        result = run(spark, args, work, out_dir, cores, session_s)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _stop(spark) -> None:
    """Stop Spark, then end its JVM (it exits when its stdin closes) and
    wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(spark, args, work: str, out_dir: str, cores: int, session_s: float) -> dict:
    from perfbench.harness import (
        Ctx, cpu_seconds, median, peak_rss_mb, reset_between_batches, steal_ticks,
    )
    from perfbench.trace import StreamProgress, Tracer

    wl = importlib.import_module(f"perfbench.{args.workload}")
    ctx = Ctx(spark, work, args.seed, cores)
    t0 = time.perf_counter()
    wl.setup(ctx)
    reset_between_batches(spark)
    setup_s = session_s + (time.perf_counter() - t0)
    print(f"# {args.workload}: setup {setup_s:.2f}s (session {session_s:.2f}s)", file=sys.stderr)

    tracer = Tracer(spark, f"{args.workload}-s{args.seed}") if args.trace else None
    stream = StreamProgress() if args.trace else None
    batches: list[dict] = []
    n_min = MIN_BATCHES[args.workload]
    deadline = time.perf_counter() + args.seconds

    def more() -> bool:
        if len(batches) < n_min * (1 + args.trace) or time.perf_counter() < deadline:
            return True
        calm = sum(b["steal_frac"] <= STEAL_LIMIT for b in batches)
        return not args.trace and calm < n_min and len(batches) < n_min + EXTRA_BATCHES

    while more():
        traced = bool(args.trace) and len(batches) % 2 == 0
        ctx.tracer = tracer if traced else None
        listener = None
        if traced:
            for owner, attr, name in wl.wraps():
                tracer.wrap(owner, attr, name)
            listener = stream.listener()
            spark.streams.addListener(listener)
            n_events = len(stream.batches)
        cpu0, (st0, tot0) = cpu_seconds(spark), steal_ticks()
        try:
            with ctx.op("batch"):
                rec = wl.batch(ctx, len(batches))
        finally:
            if traced:
                tracer.restore()
                spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
                spark.streams.removeListener(listener)
        st1, tot1 = steal_ticks()
        rec["cpu_s"] = cpu_seconds(spark) - cpu0
        rec["steal_frac"] = (st1 - st0) / max(tot1 - tot0, 1)
        if traced:
            rec["stream"] = stream.batches[n_events:]
        rec["traced"] = traced
        batches.append(rec)
        detail = {k: round(x, 2) for k, x in rec.get("per_query", {}).items()}
        print(f"# batch {len(batches)}{' (traced)' if traced else ''}: {rec['batch_s']:.3f}s"
              f" cpu {rec['cpu_s']:.2f}s steal {rec['steal_frac']:.3f} {detail or ''}"
              f"{' ERRORS ' + str(rec['errors'][:2]) if rec['errors'] else ''}", file=sys.stderr)
        reset_between_batches(spark)

    errors = [e for b in batches for e in b["errors"]]
    attempted = sum(b["attempted"] for b in batches)
    failed = sum(b["failed"] for b in batches)
    if hasattr(wl, "final_check"):  # one more checked operation
        final = wl.final_check(ctx)
        errors += final
        attempted += 1
        failed += bool(final)
    for e in errors:
        print(f"# FAILED: {e}", file=sys.stderr)

    if args.trace:
        metrics = layer_metrics(ctx, tracer, batches, cores, args, out_dir)
    else:
        # bytes from the first n_min batches: the same work in every run
        written = sum(b["written_bytes"] for b in batches[:n_min])
        inp = sum(b["input_bytes"] for b in batches[:n_min])
        # timings from the calm batches, or the least-stolen n_min of them
        calm = [b for b in batches if b["steal_frac"] <= STEAL_LIMIT]
        if len(calm) < n_min:
            calm = sorted(batches, key=lambda b: b["steal_frac"])[:n_min]
        values = {
            "setup_s": setup_s,
            "batch_s": median([b["batch_s"] for b in calm]),
            "write_s_p50": median([x for b in calm for x in b["write_s"]]),
            "write_amp": written / max(inp, 1),
            "peak_rss_mb": peak_rss_mb(spark),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": not errors, "attempted": attempted, "failed": failed, "metrics": metrics}


def layer_metrics(ctx, tracer, batches, cores, args, out_dir) -> dict:
    """Per-layer numbers from the traced batches, each averaged per
    traced batch, plus the tracing overhead vs the untraced batches."""
    from perfbench.harness import median, percentile
    from perfbench.query_suite import QUERIES
    from perfbench.trace import merged_length, self_times, spark_counters

    spans = tracer.spans
    traced = [b for b in batches if b["traced"]]
    n = max(len(traced), 1)
    by_id = {s.id: s for s in spans}
    selfs = self_times(spans)
    counters = {int(g.split("-", 1)[1]): c for g, c in spark_counters(ctx.spark).items()}

    def names_up(sid):
        """Span names from ``sid`` up to the root (each name once)."""
        seen = []
        while sid is not None:
            s = by_id[sid]
            if s.name not in seen:
                seen.append(s.name)
            sid = s.parent
        return seen

    incl: dict[str, dict] = {}  # span name -> Spark counters, inclusive
    for sid, c in counters.items():
        for name in names_up(sid):
            agg = incl.setdefault(name, {})
            for k, v in c.items():
                if k == "job_intervals":
                    agg.setdefault(k, []).extend(v)
                else:
                    agg[k] = agg.get(k, 0) + v

    def wall(name):
        return sum(s.wall for s in spans if s.name == name)

    def count(name):
        return sum(1 for s in spans if s.name == name)

    def sum_prefix(key, prefix=""):
        return sum(c.get(key, 0) for sid, c in counters.items()
                   if any(nm.startswith(prefix) for nm in names_up(sid)))

    v: dict[str, float] = {m: wall(s) / n for m, s in SPAN_TIME.items()}
    v.update({m: count(s) / n for m, s in SPAN_COUNT.items()})
    probes = count("validate.header_probe")
    v["validate.probe_s_per_file"] = wall("validate.header_probe") / probes if probes else 0.0
    v["ledger.jobs"] = sum(incl.get(k, {}).get("jobs", 0) for k in ("ledger.mark", "ledger.active_files")) / n
    v["pipeline.self_s"] = sum(selfs[s.id] for s in spans if s.name == "pipeline.run_pipeline") / n
    v.update({m: sum_prefix(k) / n for m, (k, _) in SQL_COUNTERS.items()})
    v.update({m: sum_prefix(k, "sinks.") / n for m, (k, _) in SINK_COUNTERS.items()})
    stats = [st for b in traced for st in b.get("commit_stats", [])]
    v.update({m: sum(st[m.split(".", 1)[1]] for st in stats) / n for m in COMMIT_STATS})
    skipped = [x for b in traced for x in b.get("skipped_frac", [])]
    v["data_skipping.files_skipped_frac"] = median(skipped) if skipped else 0.0
    v["client.read_s_p50"] = median([x for b in batches for x in b["read_s"]])
    commits = [x for b in batches for x in b["write_s"]] if args.workload == "table_dml" else []
    v["table.commit_s_p90"] = percentile(commits, 90) if commits else 0.0
    space = getattr(importlib.import_module(f"perfbench.{args.workload}"), "space_amp", None)
    v["table.space_amp"] = space(ctx) if space else 0.0
    v.update({f"plans.{q}_s": wall(f"plans.{q}") / n for q in QUERIES})
    events = [e for b in traced for e in b.get("stream", [])]
    v["stream.batches"] = len(events) / n
    v["stream.add_batch_s"] = sum(e["add_batch_s"] for e in events) / n
    v["state.commit_s"] = sum(e["state_commit_s"] for e in events) / n
    v["state.rows_total"] = max((e["state_rows"] for e in events), default=0)
    v["state.memory_bytes"] = max((e["state_memory_bytes"] for e in events), default=0)
    top = incl.get("batch", {})
    v.update({m: top.get(k, 0) / n for m, (k, _) in SPARK_COUNTERS.items()})
    batch_spans = [s for s in spans if s.name == "batch"]
    busy = sum(s.wall for s in batch_spans)
    v["spark.core_util"] = top.get("executor_run_s", 0) / (busy * cores) if busy else 0.0
    ivals = top.get("job_intervals", [])
    v["driver.gap_s"] = sum(s.wall - merged_length(ivals, s.start, s.end) for s in batch_spans) / n
    for layer in LAYERS:
        v[f"self.{layer}_s"] = sum(
            selfs[s.id] for s in spans if s.name == layer or s.name.startswith(layer + ".")
        ) / n
    v["process.cpu_s"] = sum(b["cpu_s"] for b in traced) / n
    v["host.steal_frac"] = sum(b["steal_frac"] for b in traced) / n
    t_on = [b["batch_s"] for b in batches if b["traced"]]
    t_off = [b["batch_s"] for b in batches if not b["traced"]]
    v["trace.batch_s_traced"] = median(t_on)
    v["trace.batch_s_untraced"] = median(t_off) if t_off else 0.0
    v["trace.overhead_frac"] = median(t_on) / median(t_off) - 1.0 if t_off else 0.0

    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spans-{args.workload}-s{args.seed}.json")
    tracer.dump(path, {
        "workload": args.workload,
        "spark_counters": {str(k): {kk: vv for kk, vv in c.items() if kk != "job_intervals"}
                           for k, c in counters.items()},
        "batches": [{k: b[k] for k in ("batch_s", "traced", "write_s", "read_s")} for b in batches],
    })
    print(f"# spans written to {path}", file=sys.stderr)
    return {m: {"value": float(v[m]), "unit": u} for m, u in per_layer_units().items()}


if __name__ == "__main__":
    sys.exit(main())
