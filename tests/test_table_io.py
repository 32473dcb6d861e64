"""Local tables through the one table-IO class: the behaviour a POSIX
table keeps whichever backend class serves it — manifest-relative file
names under relative and symlinked paths, listing and vacuum contracts,
quiet retires, metadata-preserving copies and native footer reads."""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq
import pytest

import retail_sales_data_pipeline_spark.sinks as S
from retail_sales_data_pipeline_spark import table_io
from tests.test_maintenance import _sorted_table


def _delete_and_merge(spark, path):
    """One file-granular delete and one copy-on-write merge on ``path``;
    both name the files they touch through ``_rel_file``."""
    _sorted_table(spark, path, n=2000, files=4)
    assert S.delete_where(spark, path, "id BETWEEN 10 AND 12") == 3
    patch = spark.createDataFrame(
        [(5, 0.0, "p"), (5000, 1.0, "new")], "id long, v double, tag string"
    )
    res = S.merge_into(spark, path, patch, keys=["id"])
    assert (res["updated"], res["inserted"]) == (1, 1)
    rows = S.read_table(spark, path)
    assert rows.count() == 2000 - 3 + 1
    assert {r.tag for r in rows.where("id IN (5, 5000)").collect()} == {"p", "new"}
    assert S.verify_table(path)["ok"]


def test_dml_on_relative_table_path(spark, tmp_path):
    """A table reached by a path relative to the working directory (the
    Python process's and the JVM's) names its files like an absolute
    one."""
    assert spark._jvm.System.getProperty("user.dir") == os.getcwd()
    _delete_and_merge(spark, os.path.relpath(tmp_path / "tbl"))


def test_dml_through_symlinked_directory(spark, tmp_path):
    """A table under a symlinked directory: Spark's file report and the
    table path resolve to the same real files."""
    (tmp_path / "real").mkdir()
    os.symlink(tmp_path / "real", tmp_path / "link")
    _delete_and_merge(spark, str(tmp_path / "link" / "tbl"))


def test_vacuum_staging_empty_vs_missing_base(tmp_path):
    """An existing empty base directory has nothing to vacuum; a missing
    one (a typo'd base) raises instead of reading as clean."""
    (tmp_path / "base").mkdir()
    assert S.vacuum_staging(str(tmp_path / "base")) == []
    with pytest.raises(FileNotFoundError):
        S.vacuum_staging(str(tmp_path / "absent"))


def test_quiet_delete_swallows_local_oserrors(tmp_path, monkeypatch):
    """A post-commit retire is best effort: a missing path, a path under
    a file, or an ``OSError`` from the filesystem is not an error."""
    io = table_io.for_path(str(tmp_path))
    f = tmp_path / "f.bin"
    f.write_bytes(b"x")
    io.delete_quiet(str(tmp_path / "absent"))
    io.delete_quiet(str(f / "child"))
    real_remove = os.remove

    def busy(p, *a, **k):
        if str(p) == str(f):
            raise PermissionError(13, "busy", str(p))
        return real_remove(p, *a, **k)

    monkeypatch.setattr(os, "remove", busy)
    io.delete_quiet(str(f))
    monkeypatch.undo()
    assert f.exists()
    io.delete_quiet(str(f))
    assert not f.exists()


def test_copy_keeps_file_metadata(tmp_path):
    """An adoption copy keeps the source's mtime (``shutil.copy2``)."""
    src, dst = tmp_path / "a.parquet", tmp_path / "b.parquet"
    src.write_bytes(b"payload")
    old = time.time() - 3600
    os.utime(src, (old, old))
    table_io.for_path(str(tmp_path)).copy_file(str(src), str(dst))
    assert dst.read_bytes() == b"payload"
    assert os.path.getmtime(dst) == os.path.getmtime(src)


def test_local_footer_reads_are_native(spark, tmp_path, monkeypatch):
    """A local parquet footer is opened by path, so pyarrow's native
    reader serves it (no Python-level ranged reads)."""
    path = str(tmp_path / "tbl")
    spark.range(100).coalesce(1).write.parquet(path)
    name = table_io.for_path(path).list_basenames(path, "part-")[0]
    sources = []
    real = pq.ParquetFile

    def recording(source, *a, **k):
        sources.append(source)
        return real(source, *a, **k)

    monkeypatch.setattr(pq, "ParquetFile", recording)
    pf = table_io.for_path(path).open_parquet(os.path.join(path, name))
    assert pf.metadata.num_rows == 100
    assert sources == [os.path.join(path, name)]
