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

import hashlib
import os
import re
import shutil
import time
import uuid
from typing import Protocol, runtime_checkable

# how long a conditional-put lock may be held before a new writer breaks
# it (a lock is held for one metadata write — an older one belongs to a
# crashed writer); and how long a writer polls a young HELD lock before
# giving up (near-simultaneous committers resolve in milliseconds —
# raising instantly would force retry_on_conflict to re-run an entire
# DML pass for a contention a 50 ms sleep absorbs)
_LOCK_TTL_SECONDS = 60.0
_LOCK_WAIT_SECONDS = 2.0


class PreconditionFailed(Exception):
    """A conditional write (``If-Match`` / ``If-None-Match``) was
    rejected — the object changed under the writer (HTTP 412 from an
    object store; the lock-fenced check of :class:`LocalStorage` on
    POSIX). The manifest commit protocol (:mod:`.table_io`) turns this
    into ``ConcurrentWriteError``."""


@runtime_checkable
class Storage(Protocol):
    """Minimal object-store surface the engine's control plane needs.

    ``put_bytes`` and ``copy`` must each be all-or-nothing (an S3 PUT or
    server-side copy; a hidden temp file renamed into place on a local
    disk): the ledger's appends are puts, the mart tables' ``run=<id>``
    partitions are published by copy, and the manifest commits
    (:mod:`.table_io`) use the conditional puts."""

    def read_bytes(self, path: str) -> bytes: ...

    def put_bytes(
        self,
        path: str,
        data: bytes,
        *,
        if_match: str | None = None,
        if_none_match: bool = False,
    ) -> str: ...

    def copy(self, src: str, dst: str) -> None: ...

    def list(self, dir_path: str) -> list[str]: ...

    def list_files(self, dir_path: str) -> list[str]: ...

    def exists(self, path: str) -> bool: ...

    def is_dir(self, path: str) -> bool: ...

    def makedirs(self, dir_path: str) -> None: ...

    def move(self, src: str, dst: str) -> None: ...

    def delete(self, path: str) -> None: ...


def _etag(data: bytes) -> str:
    """A local object's ETag: the md5 of its bytes (S3's simple-PUT
    definition). A content hash, not an inode or mtime, so neither
    inode reuse nor a same-second rewrite can fake an unchanged file."""
    return hashlib.md5(data).hexdigest()


def _write(path: str, data: bytes) -> None:
    with open(path, "wb") as f:
        f.write(data)


def _hidden_tmp(p: str) -> str:
    """A per-writer staging name beside ``p`` that starts with ``.``:
    Spark's and Hadoop's file listings skip such names, so a staged
    file is never read as part of a table or ledger directory."""
    d, name = os.path.split(p)
    return os.path.join(d, f".{name}.{uuid.uuid4().hex}.tmp")


_HIDDEN_TMP = re.compile(r"\..+\.[0-9a-f]{32}\.tmp")


def is_hidden_tmp(name: str) -> bool:
    """Whether a basename is one of :func:`_hidden_tmp`'s staging names.
    A writer killed between its fill and its rename leaves one behind;
    ``sinks.vacuum_staging`` removes them by this rule."""
    return _HIDDEN_TMP.fullmatch(name) is not None


def _replace_into(p: str, fill) -> None:
    """Put a whole file at ``p`` in one step: ``fill(tmp)`` writes the
    bytes under a hidden staging name, then ``os.replace`` renames it
    over ``p`` (atomic on POSIX), so a reader sees the old file or the
    complete new one, never part of one. A failed fill leaves no file."""
    tmp = _hidden_tmp(p)
    try:
        fill(tmp)
        os.replace(tmp, p)
    except BaseException:
        try:
            os.remove(tmp)
        except OSError:
            pass
        raise


class LocalStorage:
    """Local/mounted filesystem backend (NFS, FUSE-mounted buckets,
    alluxio — anything path-addressable from driver and executors)."""

    @staticmethod
    def _strip(path: str) -> str:
        return path[len("file://"):] if path.startswith("file://") else path

    def read_bytes(self, path: str) -> bytes:
        with open(self._strip(path), "rb") as f:
            return f.read()

    def read_bytes_meta(self, path: str) -> tuple[bytes, str]:
        """``(body, etag)`` — the read half of a compare-and-swap."""
        data = self.read_bytes(path)
        return data, _etag(data)

    def read_range(self, path: str, start: int, length: int) -> bytes:
        with open(self._strip(path), "rb") as f:
            f.seek(start)
            return f.read(length)

    def input_file(self, path: str) -> str:
        """What pyarrow opens for random-access reads (parquet footers):
        the file's own path, so pyarrow's native reader serves it."""
        return self._strip(path)

    def stat(self, path: str) -> dict:
        """``{"size", "mtime"}`` of a file or directory (no body read)."""
        st = os.stat(self._strip(path))
        return {"size": st.st_size, "mtime": st.st_mtime}

    def head(self, path: str) -> dict:
        """:meth:`stat` plus the ETag :meth:`put_bytes` returned."""
        return {**self.stat(path), "etag": _etag(self.read_bytes(path))}

    def put_bytes(
        self,
        path: str,
        data: bytes,
        *,
        if_match: str | None = None,
        if_none_match: bool = False,
    ) -> str:
        """Write one object and return its ETag, with ``storage_s3``'s
        conditional-write contract: ``if_none_match`` succeeds only if
        no file exists at ``path``, ``if_match`` only if the current
        file's ETag still equals it; a rejected precondition raises
        :class:`PreconditionFailed`. Either put is atomic, like an S3
        PUT: an unconditional one is :func:`_replace_into`, a
        conditional one is :meth:`_fenced_replace`."""
        p = self._strip(path)
        os.makedirs(os.path.dirname(p) or ".", exist_ok=True)
        if if_match is None and not if_none_match:
            _replace_into(p, lambda tmp: _write(tmp, data))
        else:
            self._fenced_replace(p, data, if_match, if_none_match)
        return _etag(data)

    @staticmethod
    def _fenced_replace(
        p: str, data: bytes, if_match: str | None, if_none_match: bool
    ) -> None:
        """POSIX compare-and-swap: write a temp file and ``os.replace``
        it over ``p`` (rename-over is atomic, so readers see the old
        bytes or the new, never a mix), with the precondition checked
        inside an ``O_CREAT|O_EXCL`` lock file ``<p>.lock`` carrying
        this writer's token — rename-over alone cannot express "replace
        only if unchanged".

        A lock older than ``_LOCK_TTL_SECONDS`` belongs to a crashed
        writer and is broken (once); a younger one is polled for up to
        ``_LOCK_WAIT_SECONDS``. Two breakers can race the break itself
        (the second ``remove`` can delete the first breaker's FRESH
        lock), so the token is re-read immediately before the replace:
        a writer whose lock was stolen fails loudly instead of
        double-writing, and never removes the thief's lock. The
        residual window is the microseconds between that check and the
        replace."""
        lock = p + ".lock"
        token = uuid.uuid4().hex
        deadline = time.monotonic() + _LOCK_WAIT_SECONDS
        broke = False
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                try:
                    os.write(fd, token.encode())
                finally:
                    os.close(fd)
                break  # acquired
            except FileExistsError:
                try:
                    age = time.time() - os.path.getmtime(lock)
                except OSError:
                    continue  # lock vanished between attempts — retry now
                if age >= _LOCK_TTL_SECONDS and not broke:
                    broke = True
                    try:
                        os.remove(lock)  # crashed holder — break the lock
                    except OSError:
                        pass
                    continue
                if time.monotonic() >= deadline:
                    raise PreconditionFailed(
                        f"another writer holds the commit lock for {p!r} "
                        f"(lock age {age:.1f}s; waited "
                        f"{_LOCK_WAIT_SECONDS:.0f}s)"
                    ) from None
                # young held lock: metadata writes clear in milliseconds
                time.sleep(0.05)
        stolen = False
        # tmp is TOKEN-SUFFIXED: with a shared tmp name, a stalled writer
        # that loses the stale-lock race could overwrite the winner's
        # staged bytes between the winner's write and replace — the
        # fence would then install the LOSER's bytes under the winner's
        # write. Per-writer tmp names make that impossible.
        tmp = f"{p}.tmp.{token}"
        try:
            if if_none_match and os.path.exists(p):
                raise PreconditionFailed(f"{p!r} already exists")
            if if_match is not None:
                try:
                    with open(p, "rb") as f:
                        cur = _etag(f.read())
                except FileNotFoundError:
                    cur = None
                if cur != if_match:
                    raise PreconditionFailed(
                        f"{p!r} changed under this writer (ETag "
                        f"{if_match} is no longer current)"
                    )
            _write(tmp, data)
            try:
                with open(lock) as fh:
                    holder = fh.read()
            except OSError:
                holder = ""
            if holder != token:
                stolen = True
                raise PreconditionFailed(
                    f"commit lock for {p!r} was broken by another writer "
                    "mid-commit (stale-lock TTL race); aborting this write"
                )
            os.replace(tmp, p)
        finally:
            try:
                os.remove(tmp)  # aborted write: don't leak staged bytes
            except OSError:
                pass
            if not stolen:  # never remove a lock that is no longer ours
                try:
                    os.remove(lock)
                except OSError:
                    pass

    def list(self, dir_path: str) -> list[str]:
        """Entries directly under ``dir_path``, named in the caller's
        form (a ``file://`` listing yields ``file://`` entries)."""
        d = self._strip(dir_path)
        return sorted(os.path.join(dir_path, n) for n in os.listdir(d))

    def list_files(self, dir_path: str) -> list[str]:
        """The entries of :meth:`list` that are not directories, each
        entry's kind read from the same directory scan."""
        with os.scandir(self._strip(dir_path)) as it:
            return sorted(
                os.path.join(dir_path, e.name) for e in it if not e.is_dir()
            )

    def exists(self, path: str) -> bool:
        return os.path.exists(self._strip(path))

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(self._strip(path))

    def makedirs(self, dir_path: str) -> None:
        os.makedirs(self._strip(dir_path), exist_ok=True)

    def copy(self, src: str, dst: str) -> None:
        """Copy one file, creating ``dst``'s directory; atomic like
        :meth:`put_bytes` (and like an S3 server-side copy)."""
        d = self._strip(dst)
        os.makedirs(os.path.dirname(d) or ".", exist_ok=True)
        _replace_into(d, lambda tmp: shutil.copy2(self._strip(src), tmp))

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
