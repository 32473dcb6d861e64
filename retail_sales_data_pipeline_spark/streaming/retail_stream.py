"""Streaming mode for the retail pipeline (SURVEY.md §2.10's mapping).

The reference's operational loop — daily file drops, per-file
validation, the A/I ledger for at-least-once bookkeeping — is exactly
what a Structured Streaming file source + checkpoint gives for free:
the source tracks processed files in the checkpoint (replacing the
ledger's crash detection), ``trigger(availableNow=True)`` drains
everything present and stops (the daily-batch shape), and
``foreachBatch`` runs the existing conform→join→mart derivation and
appends to the mart tables with exactly-once file tracking.

Schema posture: a stream needs a fixed schema up front, so streaming
ingestion reads the canonical 8 columns (+ ``_corrupt_record`` is not
needed — extra columns in a wider file are simply not read; a file
missing mandatory columns yields NULLs that the batch validator would
have quarantined — use the batch pipeline for quarantine semantics,
the stream for conforming steady-state feeds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..pipeline import derive_customer_mart, derive_sales_mart, enrich_with_dims
from ..schema import SALES_SCHEMA
from ..sinks import append_table_run_scoped
from ..storage import spark_path

STREAM_INPUT_SCHEMA = T.StructType(
    [f for f in SALES_SCHEMA.fields if f.name != "additional_column"]
)


def stream_retail_pipeline(
    spark: SparkSession,
    source_dir: str,
    dims: dict[str, DataFrame],
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> dict[str, int]:
    """Drain all CSVs currently in ``source_dir`` through the mart
    derivation, appending to ``{output_dir}/tables/*``. Returns batch
    counts. Rerunning with the same checkpoint skips already-processed
    files — the streaming replacement for the A/I ledger protocol.
    """
    reader = (
        spark.readStream.schema(STREAM_INPUT_SCHEMA)
        .option("header", "true")
        .option("pathGlobFilter", "*.csv")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.csv(spark_path(source_dir)).withColumn(
        "additional_column", F.lit(None).cast("string")
    )

    counts = {"customer_mart_rows": 0, "sales_mart_rows": 0, "batches": 0}

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return
        enriched = enrich_with_dims(
            batch_df, dims["customer"], dims["store"], dims["sales_team"]
        )
        # each mart is one grouped sum written once, so nothing is
        # cached; the row counts ride the writes as Observations
        customer_rows, sales_rows = Observation(), Observation()
        n = F.count(F.lit(1)).alias("n")
        # run-scoped by BATCH id: foreachBatch is at-least-once, and
        # a replayed batch must overwrite its own partition rather
        # than double-append the marts
        append_table_run_scoped(
            derive_customer_mart(enriched).observe(customer_rows, n),
            f"{output_dir}/tables/customers_data_mart",
            f"b{batch_id}",
        )
        append_table_run_scoped(
            derive_sales_mart(enriched).observe(sales_rows, n),
            f"{output_dir}/tables/sales_team_data_mart",
            f"b{batch_id}",
        )
        counts["customer_mart_rows"] += customer_rows.get["n"]
        counts["sales_mart_rows"] += sales_rows.get["n"]
        counts["batches"] += 1

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", spark_path(checkpoint_dir))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return counts
