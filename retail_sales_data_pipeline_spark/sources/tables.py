"""Parquet table catalog for the test star schema.

Storage-agnostic replacement for the reference's JDBC dimension reads
(reference: src/main/read/database_read.py:6-10): each table is a parquet
dataset under a scale-factor directory. At cluster scale the same call
reads ``s3a://…`` paths; nothing else changes.

Column pruning: pass ``columns`` so the projection reaches the parquet
scan (`ReadSchema` in `.explain`). At 100 TB reading 4 of 11 lineitem
columns is the difference between scanning ~35 TB and ~100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..storage import dataset_stat

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# Per-process parquet schema cache (r13 optimization, guide §6: schema
# lives in metadata, not in per-query footer inference). Every
# spark.read.parquet() without an explicit schema pays a driver-side
# footer-inference pass (~115 ms measured on this box); a bench/contract
# session builds hundreds of load_table frames over the same immutable
# fixture files. Keyed by (path, storage.dataset_stat fingerprint,
# nanosAsLong conf), so a rewrite of any file in the dataset, at any
# partition depth, re-infers; non-statable paths (object stores) are
# never cached — their catalog analogue is a metastore schema, which is
# exactly what this cache emulates.
_SCHEMA_CACHE: dict = {}


def dataset_schema(spark: SparkSession, path: str):
    """Inferred-once parquet schema for ``path`` (the same
    fingerprint-keyed cache ``load_table`` uses) — for callers that
    need a schema object without building the frame (e.g. the
    streaming file source, which requires an explicit schema).

    The inferred schema depends on ``nanosAsLong`` at inference time,
    so that conf value is part of the key (r13 advice): a schema
    inferred under one setting is never served to a session running
    the other."""
    stat = dataset_stat(path)
    fp = stat[1] if stat is not None else None
    nanos_conf = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    key = (path, fp, nanos_conf)
    schema = _SCHEMA_CACHE.get(key) if fp is not None else None
    if schema is None:
        schema = spark.read.parquet(path).schema
        if fp is not None:
            if len(_SCHEMA_CACHE) >= 256:
                _SCHEMA_CACHE.pop(next(iter(_SCHEMA_CACHE)), None)
            _SCHEMA_CACHE[key] = schema
    return schema


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    columns: list[str] | None = None,
) -> DataFrame:
    """Load one catalog table; optionally project immediately.

    The early ``select`` is declarative — Catalyst turns it into parquet
    column pushdown, so only the requested columns are decoded.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; catalog: {TABLE_NAMES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(dataset_schema(spark, path)).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) read as long nanos; truncate to micros like
        # DuckDB does so both engines see identical timestamps. Built as
        # TIMESTAMP_NTZ (epoch-anchored, session-tz-independent) — the
        # same type Spark 4 infers for plain parquet timestamp[us]
        # columns, so downstream operators see one timestamp type
        # regardless of how the fixture was written.
        from pyspark.sql import functions as F

        # integer division — float division loses precision above 2^53 ns
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000, "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    return df.select(*columns) if columns else df
