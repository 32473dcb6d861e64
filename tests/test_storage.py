"""Storage seam: local backend semantics, scheme resolution, and real
dependency injection of an object-store backend into fetch_media."""

from __future__ import annotations

import os
import sys
import threading

import pytest

from retail_sales_data_pipeline_spark import storage as S


def test_local_storage_roundtrip(tmp_path):
    loc = S.LocalStorage()
    p = tmp_path / "a.bin"
    p.write_bytes(b"payload")
    assert loc.read_bytes(str(p)) == b"payload"
    assert loc.read_bytes(f"file://{p}") == b"payload"
    assert loc.exists(str(p)) and not loc.exists(str(tmp_path / "nope"))
    assert loc.list(str(tmp_path)) == [str(p)]
    loc.makedirs(str(tmp_path / "sub"))  # idempotent
    loc.makedirs(str(tmp_path / "sub"))
    loc.move(str(p), str(tmp_path / "sub" / "a.bin"))
    assert loc.exists(str(tmp_path / "sub" / "a.bin")) and not p.exists()
    loc.delete(str(tmp_path / "sub"))  # recursive dir delete
    assert not loc.is_dir(str(tmp_path / "sub"))


def test_local_conditional_put_race_has_one_winner(tmp_path):
    """Writers put with the same ``if_match`` ETag at once (more writers
    than cores, a short switch interval): exactly one write lands, every
    other fails its precondition, and no lock or temp file is left."""
    loc = S.LocalStorage()
    p = str(tmp_path / "obj.json")
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for round_no in range(10):
            etag = loc.put_bytes(p, f"v{round_no}".encode())
            bodies = [f"r{round_no}-w{i}".encode() for i in range(8)]
            barrier = threading.Barrier(len(bodies))
            results: dict[bytes, object] = {}

            def put(body: bytes) -> None:
                barrier.wait()
                try:
                    results[body] = loc.put_bytes(p, body, if_match=etag)
                except S.PreconditionFailed as e:
                    results[body] = e

            threads = [threading.Thread(target=put, args=(b,)) for b in bodies]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=30)
            assert not any(t.is_alive() for t in threads)
            won = [b for b, r in results.items() if isinstance(r, str)]
            lost = [r for r in results.values() if isinstance(r, S.PreconditionFailed)]
            assert len(won) == 1 and len(lost) == len(bodies) - 1, results
            assert loc.read_bytes_meta(p) == (won[0], results[won[0]])
            assert os.listdir(tmp_path) == ["obj.json"]
    finally:
        sys.setswitchinterval(interval)


def test_local_put_and_copy_never_show_a_partial_file(tmp_path, monkeypatch):
    """A thread listing a directory while an unconditional put or a copy
    into it is paused halfway through its bytes sees no partial file
    under a name a reader opens: the bytes are staged under a name that
    starts with ``.``, then renamed in whole, as Spark's committer puts
    table and ledger files in place."""
    import shutil

    loc = S.LocalStorage()
    body = b"x" * 100_000
    src = tmp_path / "src.parquet"
    src.write_bytes(body)
    out = tmp_path / "out"
    out.mkdir()
    paused, resume = threading.Event(), threading.Event()

    def halfway_write(path, data):
        with open(path, "wb") as f:
            f.write(data[: len(data) // 2])
            f.flush()
            paused.set()
            assert resume.wait(30)
            f.write(data[len(data) // 2:])

    def halfway_copyfile(s, d, **_):
        with open(s, "rb") as f:
            halfway_write(d, f.read())
        return d

    monkeypatch.setattr(S, "_write", halfway_write)
    monkeypatch.setattr(shutil, "copyfile", halfway_copyfile)
    seen: list[dict[str, int]] = []

    def lister():
        assert paused.wait(30)
        seen.append({
            n: os.path.getsize(out / n)
            for n in os.listdir(out) if not n.startswith((".", "_"))
        })
        resume.set()

    for op in (
        lambda: loc.put_bytes(str(out / "put.parquet"), body),
        lambda: loc.copy(str(src), str(out / "copy.parquet")),
    ):
        paused.clear()
        resume.clear()
        t = threading.Thread(target=lister)
        t.start()
        op()
        t.join(timeout=30)
        assert not t.is_alive()
    assert len(seen) == 2
    assert all(size == len(body) for listing in seen for size in listing.values()), seen
    assert sorted(os.listdir(out)) == ["copy.parquet", "put.parquet"]
    assert (out / "put.parquet").read_bytes() == body
    assert (out / "copy.parquet").read_bytes() == body


def test_for_path_resolution():
    assert S.for_path("/plain/path") is S.LOCAL
    assert S.for_path("file:///x/y") is S.LOCAL
    with pytest.raises(ValueError, match="boto3"):
        S.for_path("s3://bucket/key")
    with pytest.raises(ValueError, match="register"):
        S.for_path("weird://x")


class DictStore:
    """In-memory object store; cloudpickled into task closures."""

    def __init__(self, objects: dict[str, bytes]):
        self.objects = objects

    def read_bytes(self, path: str) -> bytes:
        if path not in self.objects:
            raise FileNotFoundError(path)
        return self.objects[path]


def test_registry_injection_driver_side(tmp_path):
    store = DictStore({"obj://b/k": b"v"})
    S.register("obj", store)
    try:
        assert S.for_path("obj://b/k") is store
        assert S.for_path("obj://b/k").read_bytes("obj://b/k") == b"v"
    finally:
        S._REGISTRY.pop("obj", None)


def test_fetch_media_through_injected_backend(spark):
    """An object-store backend passed to fetch_media reaches the Arrow
    workers via the task closure — obj:// pointers fetch REAL bytes
    with zero operator changes, and a missing key is a dead pointer."""
    from pyspark.sql import Row

    from retail_sales_data_pipeline_spark.operators.multimodal import fetch_media

    store = DictStore(
        {
            "obj://media/1.bin": b"\x00\x01one",
            "obj://media/2.bin": b"two",
        }
    )
    rows = [
        Row(media_id=1, media_type="image", uri="obj://media/1.bin", n_bytes=5),
        Row(media_id=2, media_type="audio", uri="obj://media/2.bin", n_bytes=3),
        Row(media_id=3, media_type="video", uri="obj://media/gone.bin", n_bytes=9),
    ]
    df = spark.createDataFrame(rows)
    out = {
        r.media_id: r.content
        for r in fetch_media(df, fake=False, storage=store).collect()
    }
    assert bytes(out[1]) == b"\x00\x01one"
    assert bytes(out[2]) == b"two"
    assert out[3] is None


def test_unregistered_scheme_fails_loudly_in_worker(spark):
    from pyspark.sql import Row
    from pyspark.sql.utils import PythonException

    from retail_sales_data_pipeline_spark.operators.multimodal import fetch_media

    rows = [Row(media_id=1, media_type="image", uri="s3://b/k.bin", n_bytes=1)]
    with pytest.raises(PythonException, match="boto3"):
        fetch_media(spark.createDataFrame(rows), fake=False).collect()
