"""End-to-end retail pipeline runner (SURVEY.md §3.1).

Reproduces the reference driver's flow
(src/main/transformations/jobs/main.py, 450 lines of straight-line
script) as one orchestration function over the library layers:

discover → crash-detect (ledger 'A' probe) → validate headers →
quarantine rejects → ledger mark-active → conform+union accepted files →
star-join dims → derive customer + sales marts as grouped sums → cache
and fill the two marts → fan-out sinks: three Spark writes (parquet,
partitioned parquet), each writing its mart at the cache's measured
size, and two publishes that copy each mart's parquet files into its
mart table → archive processed files → ledger mark-done.

Steps that do not depend on each other run at the same time: several
jobs submitted from separate driver threads share one SparkContext
(Spark's "scheduling within an application"). Each run submits them
through ``session.spark_threads``:

- the crash probe starts as soon as discovery returns, beside
  validation and planning (conform, union, the star join, the mart
  definitions), which starts no job: every accepted file is read with
  an explicit schema built from its probed header;
- mark-active runs in the background as soon as validation has produced
  the accepted set (it waits for the probe first);
- the two mart caches are filled, one job each, as soon as the marts
  are defined, beside the probe, quarantine and mark-active;
- the three Spark writes (K1 per mart, K2 for the sales mart) start
  together once the 'A' events are durable and both caches are full,
  and share the executors; the mart row counts ride the two K1 writes
  as ``Observation``s. Each K1 write's thread then publishes its mart's
  K3 table partition by copying the files K1 wrote
  (``sinks.publish_run_scoped``): two publishes, no third write of
  the same rows.

Orderings kept despite the overlap: probe → quarantine and 'A' events
(a failing probe moves no file and marks nothing) → any output byte →
archive → 'I' events, and each publish follows its own K1 write. A
fill writes no output byte, so it may run anywhere before the sinks. A
failing fill or sink raises only after every job the run submitted has
returned, so no job of the run outlives it, no cache outlives it, and
the files stay 'A'.

Paths: the five prefixes (source, error, processed, output, ledger)
may be plain paths or URIs of any scheme with a registered backend.
Lists, moves and existence checks go through ``storage.for_path``, and
every Spark read or write through ``storage.spark_path``. A source,
error or processed prefix whose scheme has no registered backend
raises ``ValueError`` before any file is read, moved or marked.

Deliberate fixes over the reference, all flagged in SURVEY.md §4/§7.4:
- each mart is cached, filled once by one job, and feeds its 2-3
  sinks; the reference recomputes the conform+union+join subtree for
  every one of its ≥8 actions. The joined fact is not cached: each
  mart reads it once, through a map-side partial aggregate (eager
  aggregation, Yan & Larson, VLDB 1995), so its exchange carries
  partial sums at the mart's grain, not fact rows, and nothing is
  sorted but the rank;
- output file counts follow the mart's size: every sink of a mart
  writes ``ceil(cached bytes / spark.sql.adaptive.advisoryPartitionSizeInBytes)``
  files (at least one), never more than the mart's partitions. A small
  day is one file per sink (per partition directory for K2), where one
  file per shuffle partition was written before;
- wide files (extra columns) are read with an explicit schema, not
  inferred (the reference infers every file, main.py:239-242): extra
  fields reach ``additional_column`` verbatim (``007`` stays ``007``),
  and a malformed canonical value is NULL under its canonical type,
  where inference widened that column's type for the whole batch;
- a mart's total is the SUM over its full grain, attributes included.
  Where a dim key is duplicated (two customer rows for one id with
  different phones, say), each attribute row totals the fact rows that
  joined it — the customer's actual spend — where the reference's
  window SUM over (id, month) repeats the fan-out total on every row.
  With unique dim keys, as ``table_scripts.sql`` declares them, the
  two are identical;
- sink failures raise (reference swallows JDBC errors);
- outputs are run-scoped (``{out}/{run_id}/…``) so a retried run
  overwrites itself — idempotent where the reference double-appends.

Scale: the only driver-side per-file work is header probing and ledger
bookkeeping (metadata-sized). All accepted files with one header are
read in ONE ``spark.read.csv(paths)`` with an explicit schema (the
canonical files are one such group) — a single distributed scan, not
the reference's per-file read-then-union loop (main.py:239-258), which
at 100 TB would serialize scheduling on the driver. Semantics are
identical because conform+union is a projection.
"""

from __future__ import annotations

import math
import time
from concurrent.futures import wait
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .caching import cached_bytes, fill_cache
from .functions.scalars import full_name, month_key
from .ledger import Ledger
from .operators.marts import grouped_sum, rank_incentive
from .operators.star_join import Dim, star_join
from .schema import MANDATORY_COLUMNS, SALES_SCHEMA, conform, union_conformed
from .session import spark_threads
from .sinks import (
    append_table_run_scoped,  # noqa: F401 - perfbench's span list wraps it here
    publish_run_scoped,
    run_scoped_path,
    write_parquet,
    write_partitioned_parquet,
)
from .sources.files import discover_csv_files, read_csv_full
from .storage import for_path, spark_path
from .validate import archive_files, quarantine_files, validate_files


@dataclass
class PipelineResult:
    run_id: str
    accepted: list[str] = field(default_factory=list)
    quarantined: list[str] = field(default_factory=list)
    crashed_files: list[str] = field(default_factory=list)
    customer_mart_rows: int = 0
    sales_mart_rows: int = 0
    outputs: dict[str, str] = field(default_factory=dict)


def derive_customer_mart(enriched: DataFrame) -> DataFrame:
    """Customer monthly mart (reference
    customer_mart_sql_tranform_write.py:9-23): the SUM per
    (customer_id, month), carrying the customer attributes and the
    NULL-propagating full_name concat as grouping columns. One grouped
    sum: a partial aggregate below one hash exchange, no sort.
    """
    df = enriched.select(
        "customer_id",
        full_name("first_name", "last_name").alias("full_name"),
        "address",
        "phone_number",
        month_key("sales_date").alias("sales_date_month"),
        F.col("total_cost").cast("decimal(18,4)").alias("_cost"),
    )
    return grouped_sum(
        df,
        ["customer_id", "sales_date_month", "full_name", "address", "phone_number"],
        F.col("_cost"),
        "total_sales",
    )


def derive_sales_mart(enriched: DataFrame) -> DataFrame:
    """Sales-team monthly mart with top-seller incentive (reference
    sales_mart_sql_transform_write.py:8-33): the SUM per (store,
    seller, month) as one grouped sum, then rank() over (store_id,
    month) by total desc — ties all take rank 1 and each earns the 1%
    incentive. The rank is the plan's one window.
    """
    df = enriched.select(
        "store_id",
        "sales_person_id",
        full_name("sales_person_first_name", "sales_person_last_name").alias(
            "full_name"
        ),
        month_key("sales_date").alias("sales_month"),
        F.col("total_cost").cast("decimal(18,4)").alias("_cost"),
    )
    step1 = grouped_sum(
        df,
        ["store_id", "sales_person_id", "sales_month", "full_name"],
        F.col("_cost"),
        "total_sales",
    )
    return rank_incentive(step1, ["store_id", "sales_month"], "total_sales")


def enrich_with_dims(
    fact: DataFrame,
    customer: DataFrame,
    store: DataFrame,
    sales_team: DataFrame,
) -> DataFrame:
    """The reference's three-hop star join (dimension_tables_join.py:4-55)
    with its exact keep/rename discipline. All three dims are broadcast —
    they are genuinely small in the reference (25/4/10 rows) and
    dimension-sized (not fact-sized) at any scale.
    """
    return star_join(
        fact,
        [
            Dim(
                customer,
                on=("customer_id", "customer_id"),
                keep=["first_name", "last_name", "address", "pincode", "phone_number"],
                broadcast=True,
            ),
            Dim(
                store,
                on=("store_id", "id"),
                keep=["address", "store_manager_name"],
                rename={"address": "store_address"},
                broadcast=True,
            ),
            Dim(
                sales_team,
                on=("sales_person_id", "id"),
                keep=["first_name", "last_name", "manager_id", "is_manager"],
                rename={
                    "first_name": "sales_person_first_name",
                    "last_name": "sales_person_last_name",
                },
                broadcast=True,
            ),
        ],
    )


def _conformed_fact(
    spark: SparkSession, accepted: list[str], columns: dict[str, list[str]]
) -> DataFrame:
    """Conform + union the accepted files (reference main.py:223-258).
    Files are read with an explicit schema built from the header probed
    during validation (``columns``): one driver-side metadata read per
    file end-to-end, and no schema-inference job. Canonical columns take
    their ``SALES_SCHEMA`` types and extra columns are strings, so a
    malformed canonical value reads as NULL and an extra field keeps its
    text (``007`` stays ``007``). Files with the same header are read in
    one distributed pass; the canonical 8-column files are one group.
    """
    types = {
        f.name: f.dataType
        for f in SALES_SCHEMA.fields
        if f.name != "additional_column"
    }
    by_header: dict[tuple[str, ...], list[str]] = {}
    for p in accepted:
        by_header.setdefault(tuple(columns[p]), []).append(spark_path(p))
    frames = []
    for header, group in by_header.items():
        schema = T.StructType(
            [T.StructField(c, types.get(c, T.StringType()), True) for c in header]
        )
        df = read_csv_full(spark, group, schema=schema)
        # a caller-narrowed `mandatory` admits files missing canonical
        # columns: NULL-extend them (typed) so conform's projection —
        # and the whole batch with it — can't blow up on one such file
        df = df.withColumns(
            {c: F.lit(None).cast(t) for c, t in types.items() if c not in header}
        )
        frames.append(conform(df, list(types)))
    return union_conformed(frames)


def _write_partitions(spark: SparkSession, mart: DataFrame) -> int:
    """Files each sink writes of a filled mart cache: its measured size
    over the session's AQE target partition size
    (``spark.sql.adaptive.advisoryPartitionSizeInBytes``, read as Spark
    reads it, so ``64m`` is a size), and at least one."""
    sql_conf = spark.sparkContext._jvm.org.apache.spark.sql.internal.SQLConf
    advisory = spark._jsparkSession.sessionState().conf().getConf(
        sql_conf.ADVISORY_PARTITION_SIZE_IN_BYTES()
    )
    return max(1, math.ceil(cached_bytes(mart) / advisory))


def run_pipeline(
    spark: SparkSession,
    source_dir: str,
    error_dir: str,
    processed_dir: str,
    output_dir: str,
    dims: dict[str, DataFrame],
    ledger: Ledger | None = None,
    run_id: str | None = None,
    mandatory: list[str] | None = None,
) -> PipelineResult:
    """One pipeline run over every CSV in ``source_dir``. Independent
    Spark work is submitted at the same time; the module docstring says
    what overlaps and which orderings hold."""
    run_id = run_id if run_id is not None else str(int(time.time() * 1000))
    result = PipelineResult(run_id=run_id)
    mandatory = mandatory if mandatory is not None else MANDATORY_COLUMNS

    # the control-plane backends resolve first, so an unregistered
    # scheme fails the run before any file moves or ledger event
    for d in (error_dir, processed_dir):
        for_path(d)

    # 1. discover (reference main.py:66-97 S3 list+download → local dir)
    paths = discover_csv_files(source_dir)
    if not paths:
        return result  # clean no-op, reference aborts (main.py:75-77)

    # the background work of a run is joined on every exit path; the
    # block refuses PySpark's non-pinned thread mode before any file
    # moves or ledger event
    with spark_threads(spark) as submit:
        # 2. crash detection (reference main.py:41-64), beside 3 and 5-8
        probe = None
        if ledger is not None:
            names = [p.rsplit("/", 1)[-1] for p in paths]
            probe = submit(ledger.active_files, spark, names)

        # 3. validate (reference main.py:136-153)
        report = validate_files(spark, paths, mandatory)
        result.accepted = report.accepted

        # 4. ledger mark-active (reference main.py:184-213), in the
        # background: it waits for the probe, which must not read this
        # run's own 'A' events
        accepted_named = {p.rsplit("/", 1)[-1]: p for p in report.accepted}
        marked = None
        if ledger is not None and report.accepted:

            def mark_active_after_probe():
                probe.result()
                ledger.mark_active(spark, accepted_named, seq=0)

            marked = submit(mark_active_after_probe)

        customer_mart = sales_mart = None
        fills = []
        try:
            # 5-8. conform + union, star join, marts: side-effect free,
            # so they run while the ledger works. The marts are cached
            # (fixes recomputation, SURVEY.md §3.1): each feeds 2-3
            # sinks, and the scan, join and sum (+rank) must not
            # recompute per write. The joined fact is read once per mart
            # and is not cached. Each cache is filled now, by one job,
            # beside the probe, quarantine and mark-active: a fill
            # writes no output byte.
            if report.accepted:
                fact = _conformed_fact(spark, report.accepted, report.columns)
                enriched = enrich_with_dims(
                    fact, dims["customer"], dims["store"], dims["sales_team"]
                )
                customer_mart = derive_customer_mart(enriched).cache()
                sales_mart = derive_sales_mart(enriched).cache()
                fills = [submit(fill_cache, m) for m in (customer_mart, sales_mart)]

            # 3b. quarantine (reference main.py:159-176), only once the
            # probe has returned: a failing probe moves no file
            if probe is not None:
                result.crashed_files = probe.result()
            result.quarantined = quarantine_files(list(report.rejected), error_dir)
            if not report.accepted:
                return result

            # 9. fan-out sinks (reference main.py:313-380, K1/K2/K3):
            # the three Spark writes at once, and only once the 'A'
            # events are durable. Each K1 write's thread then publishes
            # the files it wrote as its mart table's run=<id> partition
            # (K3), so a retried run OVERWRITES its own partition
            # instead of double-appending. The mart row counts ride the
            # K1 writes as Observations, so no extra count() job runs.
            # Each write writes its mart at the filled cache's size.
            if marked is not None:
                marked.result()
            for fill in fills:
                fill.result()
            customer_out, sales_out = (
                m.coalesce(_write_partitions(spark, m))
                for m in (customer_mart, sales_mart)
            )
            out = run_scoped_path(output_dir, run_id)
            result.outputs = {
                "customer_mart": f"{out}/customer_data_mart",
                "sales_mart": f"{out}/sales_team_data_mart",
                "sales_mart_partitioned": f"{out}/sales_partitioned_data_mart",
                "customer_mart_table": f"{output_dir}/tables/customers_data_mart",
                "sales_mart_table": f"{output_dir}/tables/sales_team_data_mart",
            }
            customer_rows, sales_rows = Observation(), Observation()
            n = F.count(F.lit(1)).alias("n")

            def write_and_publish(mart, rows, key, table_key):
                write_parquet(mart.observe(rows, n), result.outputs[key])
                publish_run_scoped(
                    result.outputs[key], result.outputs[table_key], run_id
                )

            # sink failures raise (the first, in submission order) once
            # every write and publish has returned
            with spark_threads(spark) as sink:
                sink(
                    write_and_publish,
                    customer_out,
                    customer_rows,
                    "customer_mart",
                    "customer_mart_table",
                )
                sink(
                    write_and_publish,
                    sales_out,
                    sales_rows,
                    "sales_mart",
                    "sales_mart_table",
                )
                sink(
                    write_partitioned_parquet,
                    sales_out,
                    result.outputs["sales_mart_partitioned"],
                    ["sales_month", "store_id"],
                )
            # only now: Observation.get blocks forever if its write failed
            result.customer_mart_rows = customer_rows.get["n"]
            result.sales_mart_rows = sales_rows.get["n"]

            # 10. finalize (reference main.py:394-447), after every write
            # and publish
            archive_files(report.accepted, processed_dir)
            if ledger is not None:
                ledger.mark_done(spark, accepted_named, seq=1)
        finally:
            # sink and fill failures raise by design — the caches must
            # not outlive the run when they do, and a fill still running
            # must return before its cache is dropped
            wait(fills)
            for df in (sales_mart, customer_mart):
                if df is not None:
                    df.unpersist()
    return result
