"""File discovery and CSV readers (SURVEY.md §2.1 S1/S2/S5/S6).

The reference lists an S3 prefix with boto3, downloads each object to a
local staging dir, and reads files one by one
(reference: src/main/read/aws_read.py:7-22,
src/main/download/aws_file_download.py:12-25). Spark reads object
stores natively, so discovery here is a driver-side listing through
:mod:`..storage` used only for *per-file* validation/quarantine
decisions; the data path itself is ``spark.read.csv`` over
``storage.spark_path`` of the same URIs.
"""

from __future__ import annotations

import re

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession

from ..storage import for_path


def discover_csv_files(directory: str, suffix: str = ".csv") -> list[str]:
    """List data files under ``directory`` (non-recursive), sorted.

    Driver-side analogue of the reference's S3 listing (aws_read.py:7-22,
    including the skip-directories and suffix checks, main.py:41,110-114),
    through the directory's :mod:`..storage` backend in one listing that
    reports each entry's kind (on an object store, one LIST for any
    number of files). A missing or empty directory lists nothing; an
    unregistered scheme raises.
    """
    try:
        names = for_path(directory).list_files(directory)
    except (FileNotFoundError, NotADirectoryError):
        return []
    return [p for p in names if p.endswith(suffix)]


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` through the session's Hadoop
    configuration: the same resolution ``spark.read`` uses, so plain
    paths and every URI scheme the cluster mounts (``file://``,
    ``hdfs://``, ``s3a://``) work. Driver-side; starts no Spark job.
    Only :func:`read_csv_header` uses it, because it must open a file
    exactly as Spark does (Hadoop codecs); every other list, stat and
    move of the job goes through :mod:`..storage`.
    """
    jpath = _jclass(spark, "org.apache.hadoop.fs.Path")(path)
    return jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), jpath


def _jclass(spark: SparkSession, name: str) -> JavaClass:
    """A JVM class by full name in one gateway call (``sc._jvm.a.b.C``
    spends a reflection round trip on every package segment)."""
    return JavaClass(name, spark.sparkContext._gateway._gateway_client)


_HEADER_CHUNK = 4096
_MAX_COLUMNS = 20480  # Spark's CSV ``maxColumns`` default
_LINE_END = re.compile(rb"[\r\n]")


def _first_nonblank_line(stream) -> bytes | None:
    """Bytes of the first line that is not all spaces, or None.

    Lines end at ``\\r\\n``, ``\\r`` or ``\\n`` (Hadoop's line reader),
    and the file's leading UTF-8 BOM is dropped. A line counts as blank
    when only ``' '`` remains after trimming, as in Spark's CSV schema
    inference (SQL ``trim``, not Java's whitespace trim: a tab line is a
    header). Reads ``_HEADER_CHUNK`` bytes at a time and stops at the end
    of that line.
    """
    buf = bytes(stream.readNBytes(_HEADER_CHUNK))
    if buf.startswith(b"\xef\xbb\xbf"):
        buf = buf[3:]
    start = 0
    while True:
        end = _LINE_END.search(buf, start)
        if end is None:
            chunk = bytes(stream.readNBytes(_HEADER_CHUNK))
            if chunk:  # short only at end of stream
                buf += chunk
                continue
        line = buf[start : end.start() if end else len(buf)]
        if line.strip(b" "):
            return line
        if end is None:
            return None
        start = end.end()


def _decode_java(raw: bytes) -> str:
    """UTF-8 decode with Java's replacement rule: like Python's
    ``'replace'``, except that a UTF-8-encoded surrogate (``ED A0..BF``
    plus a continuation byte) becomes ONE U+FFFD instead of three."""
    out, i = [], 0
    while True:
        try:
            out.append(raw[i:].decode("utf-8"))
            return "".join(out)
        except UnicodeDecodeError as e:
            out.append(raw[i : i + e.start].decode("utf-8"))
            j = i + e.start
            if raw[j] == 0xED and j + 1 < len(raw) and 0xA0 <= raw[j + 1] <= 0xBF:
                step = 3 if j + 2 < len(raw) and 0x80 <= raw[j + 2] <= 0xBF else 2
            else:
                step = e.end - e.start
            out.append("\ufffd")
            i = j + step


class _EOL(Exception):
    """End of the header line (the tokenizer's EOF)."""


class _HeaderTokenizer:
    """Spark 4.1's CSV header tokenizer for one line, in Python.

    A port of univocity-parsers 2.9.1 ``CsvParser`` (single-char
    delimiter path) under the settings Spark's ``CSVOptions`` give it
    for ``header=true`` and no other option: delimiter ``,``, quote
    ``"``, quote escape and escape-escape ``\\``, no whitespace trimming,
    ``STOP_AT_DELIMITER`` for unescaped quotes. State names follow the
    Java (``ch``, ``prev``, ``unescaped``, the value appender), because
    the unescaped-quote rules are only defined by that code: ``"a""b"``
    stays ``"a""b"`` while ``"a\\"b"`` becomes ``a"b``, which Python's
    ``csv`` module does not reproduce. Empty values come back as ``""``;
    Spark names them ``_c<i>`` whether univocity gave null or empty.
    """

    D, Q, E, NUL = ",", '"', "\\", "\0"

    def __init__(self, line: str):
        if line.startswith("\ufeff"):  # univocity drops one leading BOM
            line = line[1:] or self.NUL
        self.line, self.pos = line, 0
        self.ch = self.prev = self.NUL
        self.unescaped = False
        self.value: list[str] = []
        self.values: list[str] = []

    def next_char(self) -> str:
        if self.pos >= len(self.line):
            raise _EOL
        self.pos += 1
        return self.line[self.pos - 1]

    def append_until(self, ch: str, stops: str) -> str:
        while ch not in stops:
            self.value.append(ch)
            ch = self.next_char()
        return ch

    def emit(self) -> None:
        self.values.append("".join(self.value))
        self.value = []

    def tokens(self) -> list[str]:
        try:
            self.ch = self.next_char()
            self._record()
        except _EOL:
            self._at_eol()
        return self.values

    def _record(self) -> None:
        D, Q = self.D, self.Q
        while True:  # the line holds no newline: only _EOL ends it
            if self.ch == D:
                self.emit()
            else:
                self.unescaped, self.prev = False, self.NUL
                if self.ch == Q:
                    self._quoted()
                else:
                    self.ch = self.append_until(self.ch, D)
                self.emit()
            self.ch = self.next_char()

    def _quoted(self) -> None:
        D, Q, E = self.D, self.Q, self.E
        if self.prev != self.NUL:  # after an unescaped quote
            self.value.insert(0, Q)
            self.ch = self.next_char()
            self.ch = self.append_until(self.ch, D)
            return
        self.ch = self.next_char()
        while not (self.prev == Q and (self.ch <= " " or self.ch == D)):
            if self.ch != Q and self.ch != E:
                if self.prev == Q:
                    self._unescaped_quote()
                    return
                if self.prev == E:
                    self.value.append(E)
                self.ch = self.append_until(self.ch, Q + E)
                self.prev = self.ch
                self.ch = self.next_char()
            else:
                self._quote_escape()
                self.prev = self.ch
                self.ch = self.next_char()
                if self.unescaped and self.ch == D:
                    return
        if self.ch != D and self.ch <= " ":  # whitespace after the quote
            ws = []
            while True:
                ws.append(self.ch)
                self.ch = self.next_char()
                if not (self.ch <= " " and self.ch != D):
                    break
            if self.ch != D:
                self.value += [Q, *ws, self.ch]
                self.prev = self.ch
                self._quoted()

    def _quote_escape(self) -> None:
        Q, E = self.Q, self.E
        if self.ch == E and self.prev == E:
            self.value.append(E)
            self.ch = self.NUL
        elif self.prev == E:
            if self.ch == Q:
                self.value.append(Q)
                self.ch = self.NUL
            else:
                self.value.append(E)
        elif self.ch == Q and self.prev == Q:
            self.value.append(Q)
        elif self.prev == Q:  # '"' then '\\': unescaped, read on as unquoted
            self.value.append(Q)
            self.prev = self.ch
            self._unquoted_with_escapes()

    def _unquoted_with_escapes(self) -> None:
        Q, E = self.Q, self.E
        while self.ch != self.D:
            if self.ch != Q and self.ch != E:
                if self.prev == Q:
                    self.value.append(Q)
                    self.prev = self.ch
                    self._unquoted_with_escapes()
                    return
                self.value.append(self.ch)
            else:
                self._quote_escape()
            self.prev = self.ch
            self.ch = self.next_char()

    def _unescaped_quote(self) -> None:
        self.unescaped = True
        self.value += [self.Q, self.ch]
        self.prev = self.ch
        self._quoted()

    def _at_eol(self) -> None:
        """univocity's ``consumeValueOnEOF`` + ``handleEOF``: an open
        quote is kept, and the line's last value is always emitted."""
        if self.ch == self.Q and self.prev != self.Q and not self.unescaped:
            self.value.append(self.Q)
        self.emit()


def _safe_header(row: list[str], case_sensitive: bool) -> list[str]:
    """Spark's ``CSVUtils.makeSafeHeader``: an empty name becomes
    ``_c<i>``; a name that repeats (case-insensitively unless
    ``spark.sql.caseSensitive``) gets its position appended."""
    fold = (lambda s: s) if case_sensitive else str.lower
    seen: dict[str, int] = {}
    for v in row:
        if v:
            seen[fold(v)] = seen.get(fold(v), 0) + 1
    return [
        f"_c{i}" if not v else f"{v}{i}" if seen[fold(v)] > 1 else v
        for i, v in enumerate(row)
    ]


def read_csv_header(spark: SparkSession, path: str) -> list[str]:
    """Header-probe scan (S1): the column names Spark would give
    ``spark.read.option("header", "true").csv(path)``, without a Spark job.

    The reference reads the file with header=true and takes ``.columns``
    (main.py:139-141). Here the driver reads only the file's first bytes
    through the path's Hadoop ``FileSystem`` (any scheme Spark reads;
    compressed files through their Hadoop codec) and applies Spark 4.1's
    header rules in Python: first non-blank line, univocity tokenizing,
    ``makeSafeHeader``. ``path`` names one file. A name Spark's file
    index hides (``.x``, ``_x``, ``*._COPYING_``) raises like Spark's
    probe did; ``_metadata*`` files read as header-less, as in Spark.
    """
    name = path.rstrip("/").rsplit("/", 1)[-1]
    hidden = name.startswith(".") or (name.startswith("_") and "=" not in name)
    if (hidden or name.endswith("._COPYING_")) and not name.startswith(
        ("_common_metadata", "_metadata")
    ):
        raise FileNotFoundError(f"hidden from Spark's file index: {path}")
    if hidden:
        return []
    fs, jpath = hadoop_fs(spark, path)
    codec = _jclass(spark, "org.apache.hadoop.io.compress.CompressionCodecFactory")(
        spark.sparkContext._jsc.hadoopConfiguration()
    ).getCodec(jpath)
    stream = fs.open(jpath)
    try:
        if codec is not None:
            stream = codec.createInputStream(stream)
        raw = _first_nonblank_line(stream)
    finally:
        stream.close()
    if raw is None:
        return []
    row = _HeaderTokenizer(_decode_java(raw)).tokens()
    if len(row) > _MAX_COLUMNS:
        raise ValueError(f"{path}: header has more than {_MAX_COLUMNS} columns")
    case_sensitive = spark.conf.get("spark.sql.caseSensitive", "false") == "true"
    return _safe_header(row, case_sensitive)


def read_csv_permissive(
    spark: SparkSession,
    path: str | list[str],
    schema,
) -> tuple[DataFrame, DataFrame]:
    """Row-level validation: PERMISSIVE CSV parse routing malformed rows
    to a rejects frame instead of failing the file.

    The reference validates at FILE granularity only (missing columns ⇒
    quarantine the file, main.py:146-176); at corpus scale a single bad
    row must not reject a 10 GB file. Returns ``(good, rejects)`` where
    rejects carries the raw line in ``_corrupt_record``.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    full = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    df = (
        spark.read.option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(full)
        .csv(path)
    )
    good = df.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    # Rejects come from a SECOND pass: a plain text scan re-parsed with
    # from_csv. Two reasons this beats caching the parsed frame (the
    # previous implementation): (1) Spark disallows a raw-CSV query
    # whose references are only the corrupt column (analysis-time
    # UNSUPPORTED_FEATURE, measured to fire even when the filter touches
    # data columns), and the cache() workaround pins the full payload in
    # executor memory — at corpus scale an extra pass over the source is
    # far cheaper; (2) the passes are independent scans, so neither
    # blocks the other's pushdowns.
    #
    # Header lines (skipped positionally by the schema'd read above)
    # must be excluded here, where the text scan has no position info.
    # Exclusion is PARSE-AWARE, not a literal string match: the line is
    # CSV-split and each token unquoted/trimmed/case-folded before
    # comparing against the schema's field names, so a real header
    # written as `A, "b"` is still recognized (a literal match against
    # ','.join(names) was not — it sent such headers to rejects).
    # Residual blind spots, documented: a MID-FILE corrupt line whose
    # tokens equal the column names is indistinguishable from a header
    # without position and is excluded too; quoted commas/newlines
    # inside the header are out of scope like the rest of this pass.
    ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in full.fields
    )
    expected = F.array(*[F.lit(f.name.lower()) for f in schema.fields])
    n_exp = len(schema.fields)
    tokens = F.transform(
        F.split(F.col("value"), ","),
        lambda x: F.lower(F.trim(F.regexp_replace(F.trim(x), '^"|"$', ""))),
    )
    # a TRAILING delimiter on the header ("...,total_cost,", the classic
    # Excel-export artifact) adds empty tail tokens; the schema'd read
    # still skips that line positionally, so requiring an exact token
    # match here would phantom-reject it — accept the header when the
    # first n tokens match and everything after them is empty
    is_header = (F.slice(tokens, 1, n_exp) == expected) & F.forall(
        F.slice(
            tokens,
            n_exp + 1,
            F.greatest(F.size(tokens) - n_exp, F.lit(0)),
        ),
        lambda x: x == "",
    )
    parsed = spark.read.text(path).select(
        F.col("value"),
        F.from_csv(
            "value",
            ddl,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("_p"),
    )
    rejects = (
        parsed.where(
            F.col("_p._corrupt_record").isNotNull() & ~is_header
        )
        .select(F.col("value").alias("_corrupt_record"))
    )
    return good, rejects


def read_json_permissive(
    spark: SparkSession,
    path: str | list[str],
    schema,
) -> tuple[DataFrame, DataFrame]:
    """JSON-lines reader with the same row-level validation contract as
    :func:`read_csv_permissive`: returns ``(good, rejects)``, where a
    malformed line lands in the rejects frame's ``_corrupt_record``
    instead of failing the file. An explicit schema is required — at
    corpus scale a sampling ``inferSchema`` pass over the input is a
    full extra read (and drifts when new files add fields).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    full = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    # persist_tracked, not a bare cache(): Spark requires caching to
    # filter on the corrupt column, but a 10 GB JSON input pinned in
    # executor memory for the session's life is exactly the leak the
    # CSV sibling's two-pass rewrite avoids — tracked caches are
    # released by the caller/harness via caching.release_persisted
    from ..caching import persist_tracked

    df = persist_tracked(
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(full)
        .json(path)
    )
    good = df.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    rejects = df.where(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")
    return good, rejects


def read_orc(
    spark: SparkSession,
    path: str | list[str],
    columns: list[str] | None = None,
) -> DataFrame:
    """ORC scan. ORC carries its own schema and column statistics, so
    like parquet there is no permissive/infer split — the format-level
    reader plus an optional projection (which reaches the scan as
    column pruning, same as the parquet path in ``sources/tables.py``).
    """
    df = spark.read.orc(path)
    return df.select(*columns) if columns else df


def read_csv_full(
    spark: SparkSession,
    path: str,
    schema=None,
    infer: bool = False,
) -> DataFrame:
    """Full CSV scan (S2).

    The reference always infers (main.py:239-242) which costs an extra
    pass per file; callers here should pass an explicit ``schema`` and
    keep ``infer`` for parity tests only.
    """
    reader = spark.read.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)
