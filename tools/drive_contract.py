"""Driver-contract harness: mimics what the grading driver does.

Puts its own checkout first on sys.path, so `__spark_entry__` imports
the package as the driver would. Smoke: entry(spark) at sf0.001. Correctness: each
queries()[name] at sf0.01 vs oracle_sql()[name] in DuckDB —
row count, sorted-column schema, order-insensitive value hash.
"""
import hashlib
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as e
from retail_sales_data_pipeline_spark.caching import release_persisted

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.driver.memory", "8g")
    .appName("verify")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

# --- smoke -----------------------------------------------------------------
df = e.entry(spark)
rows = df.count()
print(f"SMOKE entry(): {rows} rows, schema={[f.name for f in df.schema.fields]}")
assert rows >= 0

# --- correctness vs duckdb oracle at sf0.01 --------------------------------
import os as _os

from retail_sales_data_pipeline_spark.sources.tables import TABLE_NAMES

SF = _os.environ.get("SPARK_GRAFT_CONTRACT_SF", "/root/testdata/sf0.01")
TABLES = list(TABLE_NAMES)  # ONE catalog — a new table gets its view free
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")


def norm_cell(v):
    # repr-wrapped so the string 'NULL' and a None cell, or a cell
    # containing the delimiter, can never collide in the joined line
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return repr(v) if isinstance(v, str) else str(v)


def value_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    # \x1f (unit separator) can't appear in norm_cell's repr'd strings
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


qs, oracles = e.queries(), e.oracle_sql()
only = set(sys.argv[1:])
fails = []
# a misspelled name must FAIL loudly, not vacuously "ALL PASS"
unknown = only - set(qs)
if unknown:
    print(f"UNKNOWN query names: {sorted(unknown)}")
    fails.extend(sorted(unknown))
for name, fn in qs.items():
    if only and name not in only:
        continue
    try:
        sdf = fn(spark, SF)
        s_rows = [tuple(r) for r in sdf.collect()]
        s_cols = sdf.columns
    except Exception as ex:  # keep going — one broken query must not hide the rest
        print(f"ERROR {name}: {type(ex).__name__}: {str(ex).splitlines()[0][:200]}")
        fails.append(name)
        continue
    finally:
        # ALWAYS drop this query's tracked caches (ADVICE r4) — a
        # failing collect must not leak its persists into later queries
        release_persisted()
    if name not in oracles:
        print(f"ROWS-ONLY {name}: {len(s_rows)} rows (no oracle)")
        continue
    try:
        o = con.execute(oracles[name])
        o_cols = [d[0] for d in o.description]
        o_rows = o.fetchall()
    except Exception as ex:  # a broken ORACLE must not kill the harness
        print(f"ERROR {name} (oracle): {type(ex).__name__}: "
              f"{str(ex).splitlines()[0][:200]}")
        fails.append(name)
        continue
    ok_n = len(s_rows) == len(o_rows)
    ok_c = sorted(s_cols) == sorted(o_cols)
    ok_h = ok_n and ok_c and value_hash(s_rows, s_cols) == value_hash(o_rows, o_cols)
    status = "OK" if ok_h else "MISMATCH"
    print(f"{status} {name}: spark={len(s_rows)} oracle={len(o_rows)} "
          f"cols_match={ok_c} hash_match={ok_h}")
    if not ok_h:
        fails.append(name)
        if not ok_c:
            print(f"   spark cols: {sorted(s_cols)}\n   oracle cols: {sorted(o_cols)}")

print("RESULT:", "ALL PASS" if not fails else f"FAILED: {fails}")
sys.exit(1 if fails else 0)
