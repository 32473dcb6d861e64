"""Unit tests for the conform/fold/union layer (SURVEY.md §2.4, §2.8) and
the CSV header probe that feeds it."""

from __future__ import annotations

import gzip
import random

import pytest
from pyspark.sql import functions as F

from retail_sales_data_pipeline_spark.schema import (
    MANDATORY_COLUMNS,
    SALES_SCHEMA,
    conform,
    missing_mandatory,
    union_conformed,
)
from retail_sales_data_pipeline_spark.sources.files import read_csv_header


def test_missing_mandatory_detects_absent_columns():
    cols = [c for c in MANDATORY_COLUMNS if c != "store_id"]
    assert missing_mandatory(cols) == {"store_id"}
    assert missing_mandatory(MANDATORY_COLUMNS) == set()
    # extra columns never trigger rejection
    assert missing_mandatory(MANDATORY_COLUMNS + ["payment_mode"]) == set()


def test_conform_folds_extras(spark):
    df = spark.createDataFrame(
        [(1, "a", "cash", "web")], ["id", "name", "payment_mode", "channel"]
    )
    out = conform(df, canonical=["id", "name"])
    assert out.columns == ["id", "name", "additional_column"]
    assert out.collect()[0].additional_column == "cash, web"


def test_conform_null_skipping_fold(spark):
    # concat_ws skips NULLs (reference uses concat_ws, main.py:248)
    df = spark.createDataFrame(
        [(1, "a", None, "web")], "id int, name string, pm string, ch string"
    )
    out = conform(df, canonical=["id", "name"])
    assert out.collect()[0].additional_column == "web"


def test_conform_without_extras_yields_null(spark):
    df = spark.createDataFrame([(1, "a")], ["id", "name"])
    out = conform(df, canonical=["id", "name"])
    row = out.collect()[0]
    assert row.additional_column is None


def test_union_conformed_matches_whole(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    parts = [
        conform(li.filter(F.col("l_linenumber") == n), canonical=li.columns)
        for n in range(1, 8)
    ]
    whole = conform(li, canonical=li.columns)
    assert union_conformed(parts).count() == whole.count()


def test_sales_schema_shape():
    assert [f.name for f in SALES_SCHEMA] == MANDATORY_COLUMNS + ["additional_column"]


# --- header probe: the driver-side reader against Spark's own probe ---

# name -> (file bytes, the columns Spark 4.1.2's header probe returns)
HEADER_CASES = {
    "plain": (b"a,b,c\n1,2,3\n", ["a", "b", "c"]),
    "crlf": (b"a,b,c\r\n1,2,3\r\n", ["a", "b", "c"]),
    "bom": (b"\xef\xbb\xbfa,b,c\n", ["a", "b", "c"]),
    "no_newline": (b"a,b,c", ["a", "b", "c"]),
    "cr_only": (b"a,b\r1,2\r", ["a", "b"]),
    "quoted": (b'"a","b,x",c\n', ["a", "b,x", "c"]),
    "spaces": (b" a , b,c \n", [" a ", " b", "c "]),
    "hash": (b"#a,b\n", ["#a", "b"]),
    "unicode": ("ä,ß,c\n".encode(), ["ä", "ß", "c"]),
    "empty_tok": (b"a,,c\n", ["a", "_c1", "c"]),
    "trailing_comma": (b"a,b,\n", ["a", "b", "_c2"]),
    "dups": (b"a,A,b,a\n", ["a0", "A1", "b", "a3"]),
    "blank_lead": (b"\n\n  \na,b", ["a", "b"]),
    "ws_only": (b"   \n  \n", []),
    "zero": (b"", []),
    # univocity STOP_AT_DELIMITER: a doubled quote followed by more text
    # keeps the raw token; a backslash-escaped quote is unescaped
    "dq": (b'"a""b",c\n', ['"a""b"', "c"]),
    "bs": (b'"a\\"b",c\n', ['a"b', "c"]),
    # beyond the plain rules: tab lines are not blank, a BOM on a later
    # line is dropped, malformed UTF-8 decodes the Java way
    "tab_line": (b"\t\na,b", ["\t"]),
    "late_bom": (b"\n\xef\xbb\xbfa,b", ["a", "b"]),
    "surrogate": (b"\xed\xa0\x80a,b", ["\ufffda", "b"]),
    "unclosed": (b'"a\\",b', ['a",b']),
}


def _spark_header_probe(spark, path):
    """The reference: Spark's own header-only read (one job per file)."""
    return spark.read.option("header", "true").csv(path).limit(0).columns


def test_read_csv_header_matches_spark_probe(spark, tmp_path):
    for name, (data, expected) in HEADER_CASES.items():
        path = str(tmp_path / f"{name}.csv")
        with open(path, "wb") as f:
            f.write(data)
        got = read_csv_header(spark, path)
        assert got == expected, name
        assert got == _spark_header_probe(spark, path), name


def test_read_csv_header_fuzz_matches_spark_probe(spark, tmp_path):
    """Seeded random headers over the tokenizer's special characters,
    line ends, BOMs and long blank leads (past the 4 KB read chunk)."""
    rnd = random.Random(7)
    alphabet = [b"a", b"A", b",", b'"', b"\\", b" ", b"\t", b"\n", b"\r",
                b"\r\n", b"#", b"\xef\xbb\xbf", b"\xc3\xa4", b"\xff", b"\x00"]
    for i in range(30):
        data = b"".join(rnd.choice(alphabet) for _ in range(rnd.randint(1, 12)))
        if i % 10 == 0:
            data = b" " * 5000 + b"\n" + data
        path = str(tmp_path / f"f{i}.csv")
        with open(path, "wb") as f:
            f.write(data)
        assert read_csv_header(spark, path) == _spark_header_probe(spark, path), data


def test_read_csv_header_paths_like_spark(spark, tmp_path):
    """URI paths and compressed files read as Spark reads them; names
    Spark's file index hides, and over-wide headers, fail (or read
    empty) as Spark's probe did, so the validator still quarantines
    them."""
    gz = str(tmp_path / "z.csv.gz")
    with gzip.open(gz, "wb") as f:
        f.write(b"\n g,h\n1,2\n")
    (tmp_path / "p.csv").write_bytes(b"x,y\n")
    (tmp_path / "_metadata.csv").write_bytes(b"a,b\n")
    for path in (gz, f"file://{tmp_path}/p.csv", str(tmp_path / "_metadata.csv")):
        assert read_csv_header(spark, path) == _spark_header_probe(spark, path), path
    for hidden in ("_x.csv", ".x.csv", "x.csv._COPYING_"):
        path = tmp_path / hidden
        path.write_bytes(b"a,b\n")
        with pytest.raises(Exception):
            _spark_header_probe(spark, str(path))
        with pytest.raises(FileNotFoundError):
            read_csv_header(spark, str(path))
    # one column past Spark's maxColumns (20480) fails both probes
    wide = tmp_path / "wide.csv"
    wide.write_bytes(b",".join([b"x"] * 20481))
    with pytest.raises(Exception):
        _spark_header_probe(spark, str(wide))
    with pytest.raises(ValueError):
        read_csv_header(spark, str(wide))
