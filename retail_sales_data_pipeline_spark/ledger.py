"""Ingestion ledger: the reference's A/I file lifecycle (SURVEY.md §2.1 S7,
§2.2 K6/K7) re-expressed as an append-only event log over parquet.

Reference protocol (src/main/transformations/jobs/main.py):
- pre-run probe: ``SELECT DISTINCT file_name FROM product_staging_table
  WHERE file_name IN (...) AND status='A'`` → a hit means the previous
  run died mid-flight (main.py:46-61);
- per accepted file: ``INSERT ... status='A'`` (main.py:184-213);
- on success: ``UPDATE ... SET status='I', updated_date=...``
  (main.py:417-447).

Parquet is immutable, so UPDATE becomes *append a new event*; the
current status of a file is its latest event. That is the idiomatic
distributed design anyway (same shape as a Delta/iceberg commit log):
appends are cheap and conflict-free from many writers, and the snapshot
is one window query over a tiny metadata table — at 100 TB of fact data
the ledger still holds one row per *file*, i.e. millions at most.

The ledger is addressed like every other path of the job. An append
runs no Spark job: the driver serializes its few rows with
``pyarrow.parquet`` and puts them as one new ``part-<uuid>`` object
through ``storage.for_path(path)``, the way a Delta log entry is one
small object put by the driver. The put is all-or-nothing (an S3 PUT,
a rename on a local disk), so a reader never sees part of an event
file. The events are read with Spark at ``storage.spark_path(path)``,
and the ledger's existence and ``reconcile``'s processed prefix are
checked through ``storage.for_path``, so a ledger under ``s3://``
(mapped to ``s3a://``), ``file://``, a plain path or any other
registered scheme works the same way.

SURVEY.md §7.4 notes the reference's protocol is not transactional with
the data writes (mart append can land while the status flip fails ⇒
duplicate appends on rerun). The observable protocol is preserved, and
so is that hole. The run-scoped sinks (``sinks.run_scoped_path`` and
the mart tables' ``run=<id>`` partitions) overwrite only their own
run, so they remove a duplicate only when the retry reuses the crashed
run's id. ``run_pipeline`` never tells a retry that id: a retry under
a new id, or two concurrent runs over one landing prefix, append the
same files twice (20 mart rows where one run gives 10) and end with
every file ``I``. Run-id claims in the ledger (ROADMAP direction 1)
are the planned fix.
"""

from __future__ import annotations

import io
import os
import time
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .storage import for_path, spark_path

STATUS_ACTIVE = "A"
STATUS_INACTIVE = "I"

LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("file_name", T.StringType(), False),
        T.StructField("file_location", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("event_time", T.TimestampType(), False),
        T.StructField("seq", T.LongType(), False),
    ]
)


@dataclass
class Ledger:
    """Append-only ledger at ``path`` (a parquet directory)."""

    path: str

    def _now(self) -> datetime:
        """Naive UTC wall clock; :meth:`_append` says how it is stored."""
        return datetime.now(tz=timezone.utc).replace(tzinfo=None)

    def _append(self, files: dict[str, str], status: str, seq: int) -> None:
        """Append one event per file as one new parquet object, written
        on the driver with ``pyarrow.parquet``: no Spark job. Its
        physical schema is the one Spark writes for ``LEDGER_SCHEMA``
        (required columns but ``file_location``, ``event_time`` as
        INT96), so events from either writer read as one table in Spark
        and in DuckDB.

        Stored-instant convention, kept for compatibility with ledgers
        already written: ``event_time`` holds the naive UTC wall clock
        of :meth:`_now` read as the driver's LOCAL time (``time.mktime``,
        exactly what ``TimestampType.toInternal`` does for the naive
        datetimes the earlier row-list writer passed). Under a non-UTC
        ``TZ`` that is not the true instant, but old and new events
        order consistently, so the snapshot's latest-event rule holds
        across the writer change.
        """
        import pyarrow as pa
        import pyarrow.parquet as pq

        now = self._now()
        micros = int(time.mktime(now.timetuple())) * 1_000_000 + now.microsecond
        n = len(files)
        cols = {
            "file_name": pa.array(list(files), pa.string()),
            "file_location": pa.array(list(files.values()), pa.string()),
            "status": pa.array([status] * n, pa.string()),
            "event_time": pa.array([micros] * n, pa.timestamp("us", tz="UTC")),
            "seq": pa.array([seq] * n, pa.int64()),
        }
        # nullability from LEDGER_SCHEMA: a non-nullable column is a
        # `required` parquet column, as Spark writes it
        table = pa.Table.from_arrays(
            [cols[f.name] for f in LEDGER_SCHEMA.fields],
            schema=pa.schema(
                [pa.field(f.name, cols[f.name].type, f.nullable) for f in LEDGER_SCHEMA.fields]
            ),
        )
        buf = io.BytesIO()
        pq.write_table(
            table,
            buf,
            compression="snappy",
            use_deprecated_int96_timestamps=True,
            store_schema=False,
        )
        obj = os.path.join(self.path, f"part-{uuid.uuid4()}.snappy.parquet")
        for_path(self.path).put_bytes(obj, buf.getvalue())

    def _events(self, spark: SparkSession) -> DataFrame | None:
        # a missing ledger is "not created yet", checked through the
        # path's storage backend (a Spark read of a missing path logs a
        # stack trace before its PATH_NOT_FOUND); every read failure
        # (corrupt footer, permissions, store throttle) raises instead
        # of reading as an empty ledger and disabling crash detection
        if not for_path(self.path).exists(self.path):
            return None
        return spark.read.schema(LEDGER_SCHEMA).parquet(spark_path(self.path))

    def mark_active(self, spark: SparkSession, files: dict[str, str], seq: int = 0) -> None:
        """K6: record accepted files as in-flight (reference main.py:184-213)."""
        self._append(files, STATUS_ACTIVE, seq)

    def mark_done(self, spark: SparkSession, files: dict[str, str], seq: int = 1) -> None:
        """K7: flip files to inactive on success (reference main.py:417-447).
        ``seq`` breaks ties when both events share a timestamp tick.
        """
        self._append(files, STATUS_INACTIVE, seq)

    def snapshot(self, spark: SparkSession) -> DataFrame:
        """Latest event per file (the reference's mutable-row view of
        ``product_staging_table``). One window over a metadata-sized
        table; never touches fact data.
        """
        events = self._events(spark)
        if events is None:
            return spark.createDataFrame([], LEDGER_SCHEMA).drop("seq")
        w = Window.partitionBy("file_name").orderBy(
            F.col("event_time").desc(), F.col("seq").desc()
        )
        return (
            events.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "seq")
        )

    def active_files(self, spark: SparkSession, among: list[str] | None = None) -> list[str]:
        """S7/W2: crash-detection probe — files currently 'A', optionally
        restricted to an IN-list (reference main.py:46-61). Returns file
        names; non-empty ⇒ a previous run died mid-flight.
        """
        snap = self.snapshot(spark).filter(F.col("status") == STATUS_ACTIVE)
        if among is not None:
            snap = snap.filter(F.col("file_name").isin(among))
        return [r.file_name for r in snap.select("file_name").collect()]

    def reconcile(self, spark: SparkSession, processed_dir: str) -> list[str]:
        """Operator recovery for the archive/mark-done crash window: a
        run that died AFTER moving its files to ``processed_dir`` but
        BEFORE flipping the ledger leaves them 'A' forever (the source
        file is gone, so no later run can complete them). This pass
        flips every active file that demonstrably made it to the
        processed prefix — presence there IS proof the run finished its
        data work. Returns the file names reconciled. Driver-side
        metadata only; safe to run any time (idempotent). Presence is
        checked through the prefix's :mod:`.storage` backend, the one
        ``validate.archive_files`` moved the files with."""
        done = {}
        for name in self.active_files(spark):
            dst = os.path.join(processed_dir, name)
            if for_path(dst).exists(dst):
                done[name] = dst
        if done:
            self.mark_done(spark, done, seq=2)  # seq 2: after the crash
        return sorted(done)
