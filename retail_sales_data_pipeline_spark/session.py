"""SparkSession factory, and ``spark_threads``: the one way this package
runs independent Spark jobs at the same time (the pipeline's sinks, a
manifest commit's staging writes).

The reference creates a session at import time as a side effect
(reference: src/main/utility/spark_session.py:18) and then re-creates it
mid-run (src/main/transformations/jobs/main.py:130-132). This module
fixes both: sessions are only built on explicit request, and the factory
is idempotent (``getOrCreate``).

Scale posture: AQE is enabled so shuffle partition counts, skew joins,
and broadcast conversions are re-planned at runtime from real sizes —
the same config is correct on ``local[32]`` and on a 1000-executor
cluster; only ``master`` and the memory knobs change.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"


@contextmanager
def spark_threads(spark: SparkSession):
    """Yield ``submit(fn, *args) -> Future``: each call runs on a pool
    thread with the caller's job group, description, scheduler pool,
    local properties and tags, captured when it is submitted (so no two
    threads share one local-properties object). Leaving the block waits
    for every submitted call; if the block itself returned, the first
    failed call's error is raised, in submission order.

    Refuses up front when PySpark's pinned-thread mode is off: then
    ``inheritable_thread_target`` is a no-op and the calls' jobs would
    escape the caller's job group (and its cancellation)."""
    if inheritable_thread_target(spark) is spark:
        raise RuntimeError(
            "concurrent Spark jobs need PySpark's pinned-thread mode: the "
            "worker threads inherit the caller's job group and local "
            "properties through inheritable_thread_target, which is a "
            "no-op when PYSPARK_PIN_THREAD=false — unset it or set it to "
            "true"
        )
    futures = []
    with ThreadPoolExecutor(thread_name_prefix="spark_threads") as pool:

        def submit(fn, *args):
            futures.append(
                pool.submit(inheritable_thread_target(spark)(fn), *args)
            )
            return futures[-1]

        yield submit
    for f in futures:
        f.result()


def get_spark(
    app_name: str = "retail_sales_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    - ``master`` defaults to ``$SPARK_MASTER`` or ``local[*]``; on a real
      cluster the submit environment supplies it and this arg is ignored.
    - UTC session timezone so date/timestamp derivations (month keys) are
      deterministic across environments.
    - Arrow enabled: pandas interchange and pandas UDFs use columnar
      batches instead of per-row pickling.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = os.environ.get("SPARK_MASTER") or (
            f"local[{cpus}]" if cpus else "local[*]"
        )
    if shuffle_partitions is None:
        shuffle_partitions = cpus or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # read INT64 TIMESTAMP(NANOS) parquet columns as long (converted
        # to micro-precision timestamps in sources.tables, matching
        # DuckDB's silent nanos→micros truncation)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # allow Python DataSources (sources/pydatasource.py) to push
        # filters into generation/scan
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # spill posture: 128 MB scan splits and ~64 MB post-shuffle
        # partitions keep per-task state well inside executor memory at
        # any SF; AQE coalesces up from these floors at runtime
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # manifest tables read EXPLICIT file lists; above this many
        # paths Spark switches driver-side listing to a distributed
        # one-task-per-path job (default threshold 32 — measured ~6 s
        # of pure job overhead at 2000 files on local[4]). Driver
        # listing handles thousands of getFileStatus calls in ms;
        # beyond 10k paths the distributed listing is genuinely right
        # (object-store latency), so cap rather than disable
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            "10000",
        )
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "67108864")
        # shuffle codec (r14, guide §2.3): parameterised, NOT silently
        # changed — zstd measured 2.14x fewer shuffle bytes (1.77 vs
        # 3.79 GB on the 500k-doc text harness) at a local wall-clock
        # wash (0-6% slower; local shuffle "disk" is page cache, so
        # byte savings buy nothing here). Local default stays lz4 to
        # keep driver benches comparable; on a real cluster where
        # shuffle crosses NICs/disks, set SPARK_GRAFT_IO_CODEC=zstd —
        # the 2x byte cut is the operative number (docs/SCALE.md r14).
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
