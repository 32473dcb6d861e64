"""Shared plumbing for the workloads: the run context, byte accounting
over directory snapshots, peak RSS, and the untimed between-batch reset."""

from __future__ import annotations

import contextlib
import gc
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class Ctx:
    """One benchmark run: its Spark session, fresh work directory, seed,
    and (traced run only) the tracer."""

    spark: object
    work: str
    seed: int
    cores: int
    tracer: object | None = None
    state: dict = field(default_factory=dict)

    def op(self, name: str):
        """A client-operation span in a traced batch; a no-op otherwise."""
        if self.tracer is not None and self.tracer.enabled:
            return self.tracer.span(name)
        return contextlib.nullcontext()


def snapshot(*roots: str) -> dict[str, tuple[int, int]]:
    """``{path: (size, mtime_ns)}`` for every file under ``roots``."""
    out = {}
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_bytes(before: dict, after: dict) -> int:
    """Bytes of files that are new or rewritten between two snapshots."""
    return sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))


def du(*roots: str) -> int:
    return sum(sz for sz, _ in snapshot(*roots).values())


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of this Python driver plus its JVM."""
    jvm = spark.sparkContext._gateway.proc.pid
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm)) / 1024.0


def cpu_seconds(spark) -> float:
    """CPU time (user + system) used so far by this Python driver and its JVM."""
    t = os.times()
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return t.user + t.system + (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole machine so far (/proc/stat)."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:9]]
    return vals[7], sum(vals)


def reset_between_batches(spark) -> None:
    """Untimed: drop cached frames and collect garbage on both sides, so
    no batch inherits the previous one's cache or GC debt."""
    from retail_sales_data_pipeline_spark.caching import release_persisted

    release_persisted()
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    vals = sorted(values)
    k = max(0, min(len(vals) - 1, int(round(q / 100.0 * len(vals) + 0.5)) - 1))
    return vals[k]


def median(values: list[float]) -> float:
    return statistics.median(values)
