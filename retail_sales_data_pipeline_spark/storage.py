"""The one path seam: how the engine reaches a path, decided per URI scheme.

The reference talks to S3 directly with boto3 (listing
``src/main/read/aws_read.py:7-22``, download
``src/main/download/aws_file_download.py:12-25``, upload
``src/main/upload/upload_to_s3.py:10-24``, move
``src/main/move/move_files.py:26-62``). Here every path the paper's job
touches resolves through this module, in two halves:

- the CONTROL plane (:func:`for_path`): every list, existence check,
  move and delete that ``pipeline.run_pipeline``, :mod:`.validate` and
  :class:`.ledger.Ledger` make, the manifest-table commits
  (:mod:`.table_io`) and the media pointer fetch;
- the DATA plane (:func:`spark_path`): every ``spark.read``/``write``
  of those paths, so Spark addresses the same bytes through the
  cluster's Hadoop filesystem (``s3://`` -> ``s3a://`` by default).

:func:`register` and :func:`register_spark_path` are the only injection
points; no pipeline function takes a backend argument. A
dependency-free S3 adapter ships in :mod:`.storage_s3` (stdlib
``urllib`` + real SigV4 signing, pinned against AWS's published test
vectors and an in-process S3-compatible server):

    from retail_sales_data_pipeline_spark import storage
    from retail_sales_data_pipeline_spark.storage_s3 import S3Storage

    storage.register("s3", S3Storage(endpoint_url="http://minio:9000"))

Paths carry their backend as a URI scheme (``s3://bucket/key``);
scheme-less paths and ``file://`` resolve to :class:`LocalStorage`.
Unknown schemes raise ``ValueError`` naming ``storage.register``: a
``gs://`` landing prefix with no backend fails the run instead of
reading as an empty drop.

Scale note: every method here is a METADATA-sized driver-side operation
(list/move/delete of file names) or a single-object read used inside an
executor task. Bulk data never flows through this seam — the fact path
is always a distributed ``spark.read``/``write`` against paths the
storage backend merely names.

Implementations must be picklable: ``read_bytes`` is called inside
Arrow-batch workers (``operators/multimodal.fetch_media``), so a
backend holding live clients should create them lazily per process
(the standard boto3-in-worker pattern).
"""

from __future__ import annotations

import os
import shutil
from typing import Protocol, runtime_checkable


class PreconditionFailed(Exception):
    """A conditional write (``If-Match`` / ``If-None-Match``) was
    rejected by the store — the object changed under the writer. The
    manifest commit protocol (:mod:`.table_io`) turns this into
    ``ConcurrentWriteError``; it is the object-store-native writer
    fence (HTTP 412)."""


@runtime_checkable
class Storage(Protocol):
    """Minimal object-store surface the engine's control plane needs."""

    def read_bytes(self, path: str) -> bytes: ...

    def list(self, dir_path: str) -> list[str]: ...

    def exists(self, path: str) -> bool: ...

    def is_dir(self, path: str) -> bool: ...

    def makedirs(self, dir_path: str) -> None: ...

    def move(self, src: str, dst: str) -> None: ...

    def delete(self, path: str) -> None: ...


class LocalStorage:
    """Local/mounted filesystem backend (NFS, FUSE-mounted buckets,
    alluxio — anything path-addressable from driver and executors)."""

    @staticmethod
    def _strip(path: str) -> str:
        return path[len("file://"):] if path.startswith("file://") else path

    def read_bytes(self, path: str) -> bytes:
        with open(self._strip(path), "rb") as f:
            return f.read()

    def put_bytes(self, path: str, data: bytes) -> None:
        """Write one object (upload parity with ``storage_s3`` — kept
        off the :class:`Storage` protocol: the engine's data path
        writes through Spark, this is control-plane only)."""
        p = self._strip(path)
        os.makedirs(os.path.dirname(p) or ".", exist_ok=True)
        with open(p, "wb") as f:
            f.write(data)

    def list(self, dir_path: str) -> list[str]:
        """Entries directly under ``dir_path``, named in the caller's
        form (a ``file://`` listing yields ``file://`` entries)."""
        d = self._strip(dir_path)
        return sorted(os.path.join(dir_path, n) for n in os.listdir(d))

    def exists(self, path: str) -> bool:
        return os.path.exists(self._strip(path))

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(self._strip(path))

    def makedirs(self, dir_path: str) -> None:
        os.makedirs(self._strip(dir_path), exist_ok=True)

    def move(self, src: str, dst: str) -> None:
        shutil.move(self._strip(src), self._strip(dst))

    def delete(self, path: str) -> None:
        p = self._strip(path)
        if os.path.isdir(p):
            shutil.rmtree(p)
        else:
            os.remove(p)


LOCAL = LocalStorage()

_REGISTRY: dict[str, Storage] = {"file": LOCAL, "": LOCAL}


def register(scheme: str, backend: Storage) -> None:
    """Install a backend for a URI scheme (``s3``, ``gs``, ``obj``...)."""
    _REGISTRY[scheme.lower()] = backend


def scheme_of(path: str) -> str:
    head, sep, _ = path.partition("://")
    return head.lower() if sep else ""


def for_path(path: str) -> Storage:
    """Resolve the backend for a path; unknown schemes fail loudly with
    the client they need rather than silently treating the URI as a
    relative local path."""
    scheme = scheme_of(path)
    backend = _REGISTRY.get(scheme)
    if backend is None:
        raise ValueError(
            f"no storage backend registered for {scheme!r} URI {path!r}; "
            "install/register a client (e.g. boto3 for s3://) via "
            "storage.register(scheme, backend)"
        )
    return backend


def dataset_stat(path: str) -> tuple[int, tuple] | None:
    """``(total bytes, fingerprint)`` of a local dataset: one file, or
    every file at any depth under a directory (hive partitions
    included). The fingerprint is the sorted ``(relative path,
    mtime_ns, size)`` of each file, so an in-place rewrite anywhere in
    the tree changes it. ``None`` when the path cannot be stated:
    missing, vanishing mid-walk, or a non-local scheme."""
    if scheme_of(path) not in ("", "file"):
        return None
    root = LocalStorage._strip(path)
    if os.path.isdir(root):
        paths = [os.path.join(d, n) for d, _, names in os.walk(root) for n in names]
    else:
        paths = [root]
    try:
        stats = [os.stat(p) for p in paths]
    except OSError:
        return None
    files = tuple(sorted(
        (os.path.relpath(p, root), st.st_mtime_ns, st.st_size)
        for p, st in zip(paths, stats)
    ))
    return sum(st.st_size for st in stats), files


# -- Spark data-plane path mapping -------------------------------------
#
# The engine's CONTROL plane (manifest commits, sidecar IO, listings)
# talks to an object store through this seam; the DATA plane is always a
# distributed spark.read/write, which addresses the same bytes through
# the CLUSTER's Hadoop filesystem. These two views of one table root are
# related by a per-scheme path mapping: by default ``s3://bucket/key``
# maps to ``s3a://bucket/key`` (the hadoop-aws connector's scheme — the
# standard production pairing). Tests register a mapping onto the
# disk-backed fake object store's root, which stands in for S3A over the
# same bytes.

def _default_spark_map(uri: str) -> str:
    scheme = scheme_of(uri)
    if scheme == "s3":
        return "s3a://" + uri.partition("://")[2]
    return uri


_SPARK_MAPS: dict[str, object] = {}


def register_spark_path(scheme: str, mapper) -> None:
    """Install ``mapper(control_uri) -> spark_path`` for a scheme —
    how Spark executors address the bytes this seam's control plane
    manages (e.g. an alluxio/FUSE mount, a non-default hadoop scheme,
    or a test double)."""
    _SPARK_MAPS[scheme.lower()] = mapper


def spark_path_mapper(scheme: str):
    return _SPARK_MAPS.get(scheme.lower(), _default_spark_map)


def spark_path(uri: str) -> str:
    """The Spark-visible (data-plane) path for a URI — per-scheme
    mapping with NO backend resolution: pure data-plane writes
    (``hdfs://``, ``s3a://``, ``abfss://`` ...) need no registered
    control-plane client and must pass straight through to the
    cluster's Hadoop filesystem."""
    return spark_path_mapper(scheme_of(uri))(uri)
