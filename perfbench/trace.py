"""Spans for the traced run, recorded from the benchmark's own side.

The tracer wraps package functions AT THE NAME THE CALLER LOOKS UP
(``pipeline.validate_files``, not ``validate.validate_files``: the
pipeline module imported the name, so patching its home would miss the
call), records one :class:`Span` per call, and tags the Spark jobs each
span starts with a job group named after the span id. After the run the
Spark side is read back from the in-process status stores (this works
with ``spark.ui.enabled=false``): per-job stage counters, and per-SQL-
execution operator metrics. Every wrapped attribute is put back to the
identical original object by :meth:`Tracer.restore`.

Nothing here runs in an untraced run: end-to-end metrics are measured
without any wrapper installed.
"""

from __future__ import annotations

import functools
import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float  # epoch seconds (comparable with Spark's job times)
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


def merged_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span id: its wall minus the part of its interval
    covered by its direct children (children may overlap each other)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.wall - merged_length(kids.get(s.id, []), s.start, s.end)
        for s in spans
    }


class Tracer:
    """Records spans in memory; :meth:`dump` writes them out at the end."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.enabled = True

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, self.run_id, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench-{sp.id}", name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"perfbench-{parent.id}", parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    # -- wrapping ----------------------------------------------------------

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module function or a class's plain
        method) by a span-recording wrapper; :meth:`restore` undoes it."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        if not callable(raw):
            raise TypeError(f"{owner!r}.{attr} is not a plain function")
        tracer = self

        @functools.wraps(raw)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return raw(*args, **kwargs)

        self._patched.append((owner, attr, raw))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        while self._patched:
            owner, attr, raw = self._patched.pop()
            setattr(owner, attr, raw)

    # -- output ------------------------------------------------------------

    def dump(self, path: str, extra: dict | None = None) -> None:
        selfs = self_times(self.spans)
        rows = [dict(asdict(s), self_s=selfs[s.id]) for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": rows, **(extra or {})}, fh)


# -- Spark's own counters ----------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str | None) -> float:
    """A rendered SQL metric (``'1.2 s'``, ``'5.8 KiB'``, ``'1,000'``, or
    the multi-line ``'total (min, med, max ...)\\n57 ms (...)'`` form) as
    a number in base units (seconds / bytes / count)."""
    if not text:
        return 0.0
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    val = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return val * _SIZE.get(unit, _TIME.get(unit, 1.0))


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


# SQL operator metrics kept per span: (node-name prefix, metric) -> key
SQL_METRICS = {
    ("BroadcastExchange", "time to build"): "broadcast_build_s",
    ("Sort", "sort time"): "sort_s",
    ("Sort", "spill size"): "sort_spill_bytes",
    ("Window", "spill size"): "sort_spill_bytes",
    ("Execute InsertIntoHadoopFsRelationCommand", "job commit time"): "job_commit_s",
    ("Execute InsertIntoHadoopFsRelationCommand", "number of written files"): "files_written",
    ("Execute InsertIntoHadoopFsRelationCommand", "written output"): "bytes_written",
    ("", "data sent to Python workers"): "python_bytes_to_worker",
    ("", "data returned from Python workers"): "python_bytes_from_worker",
    ("", "time to run Python workers"): "python_eval_s",
}


def spark_counters(spark) -> dict[str, dict]:
    """Per job group (``perfbench-<span id>``): Spark's stage counters and
    the SQL operator metrics above, read from the status stores after
    the listener bus has drained. Jobs outside any group are skipped."""
    from py4j.protocol import Py4JJavaError

    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out: dict[str, dict] = {}
    job_group: dict[int, str] = {}
    seen_stages: set[int] = set()
    for job in _seq(store.jobsList(None)):
        group = _opt(job.jobGroup())
        if not group or not group.startswith("perfbench-"):
            continue
        job_group[job.jobId()] = group
        c = out.setdefault(group, {"jobs": 0, "job_intervals": []})
        c["jobs"] += 1
        sub, done = _opt(job.submissionTime()), _opt(job.completionTime())
        if sub is not None and done is not None:
            c["job_intervals"].append((sub.getTime() / 1e3, done.getTime() / 1e3))
        for sid in _seq(job.stageIds()):
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran: nothing to add
                continue
            for key, val in (
                ("tasks", st.numCompleteTasks()),
                ("executor_run_s", st.executorRunTime() / 1e3),
                ("executor_cpu_s", st.executorCpuTime() / 1e9),
                ("scan_bytes", st.inputBytes()),
                ("output_bytes", st.outputBytes()),
                ("shuffle_write_bytes", st.shuffleWriteBytes()),
                ("spill_bytes", st.memoryBytesSpilled() + st.diskBytesSpilled()),
            ):
                c[key] = c.get(key, 0) + val
    sql = spark._jsparkSession.sharedState().statusStore()
    for ex in _seq(sql.executionsList()):
        jobs = _seq(ex.jobs().keys().toSeq())
        groups = {job_group[j] for j in jobs if j in job_group}
        if not groups:
            continue
        c = out[min(groups)]
        eid = ex.executionId()
        values = sql.executionMetrics(eid)
        for node in _seq(sql.planGraph(eid).allNodes()):
            nname = node.name()
            for m in _seq(node.metrics()):
                for (prefix, mname), key in SQL_METRICS.items():
                    if m.name() == mname and nname.startswith(prefix):
                        c[key] = c.get(key, 0.0) + parse_metric(_opt(values.get(m.accumulatorId())))
    return out


class StreamProgress:
    """Collects micro-batch progress from a ``StreamingQueryListener``
    attached for the traced run (state-store and batch-duration numbers
    of the suite's streaming drains)."""

    def __init__(self):
        self.batches: list[dict] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self.batches

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ops = p.stateOperators or []
                sink.append(
                    {
                        "add_batch_s": (p.durationMs or {}).get("addBatch", 0) / 1e3,
                        "state_commit_s": sum(o.commitTimeMs for o in ops) / 1e3,
                        "state_rows": sum(o.numRowsTotal for o in ops),
                        "state_memory_bytes": sum(o.memoryUsedBytes for o in ops),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()
