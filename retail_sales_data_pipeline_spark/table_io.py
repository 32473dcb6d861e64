"""Table-IO seam: the manifest protocol's control-plane IO, one class for
every URI scheme.

:class:`StorageTableIO` runs every manifest read, fenced commit, sidecar
write, listing and retire through the path's :mod:`.storage` backend —
``LocalStorage`` for plain and ``file://`` paths, the registered client
(``S3Storage`` for ``s3://``) otherwise. The commit fence is one
protocol everywhere, the **ETag compare-and-swap**: read the current
manifest with its ETag, verify the expected generation, put the new
manifest with ``if_match=<etag>`` (``if_none_match`` for the creating
commit). A concurrent committer moved the ETag, the put fails its
precondition, and the loser raises :class:`ConcurrentWriteError`.

Each backend supplies the conditional put its store can give:

* object stores send ``If-Match`` / ``If-None-Match: *`` and the store
  answers 412 — no lock object, no TTL heuristic (the public S3
  conditional-write protocol: AWS S3, GCS, MinIO, R2);
* POSIX has no "replace only if unchanged", so ``LocalStorage`` checks
  the ETag (an md5 of the bytes) inside an ``O_CREAT|O_EXCL`` lock file
  ``_manifest.json.lock`` and ``os.replace``-s a temp file into place,
  with the stale-lock TTL break and the stolen-lock re-check (see
  ``LocalStorage._fenced_replace``).

This is Delta Lake's cut (Armbrust et al., *Delta Lake*, VLDB 2020):
one commit protocol over a per-store "put if absent / if unchanged"
primitive, with a lock only where the store cannot give that.

DATA-PLANE NOTE: Spark itself addresses the table through the cluster's
Hadoop filesystem (``s3a://`` + hadoop-aws on a real deployment), not
through this seam — bulk bytes never flow driver-side. Each scheme maps
its control-plane URI to the Spark-visible path via
:func:`..storage.spark_path` (default: ``s3://`` -> ``s3a://``); tests
map onto a disk-backed fake S3 whose object tree doubles as the
Spark-readable directory, standing in for S3A over the same bytes.

Everything here is metadata-priced: manifest JSON, parquet FOOTERS
(native reads locally, ranged GETs on a store), one-level listings,
single-object copies/deletes. See ``sinks.py`` for the protocol that
drives it.
"""

from __future__ import annotations

import json
import os

from . import storage as _storage

_MANIFEST = "_manifest.json"


class ConcurrentWriteError(RuntimeError):
    """Two writers raced a manifest commit; exactly one wins, the loser
    gets this instead of silently orphaning the winner's rows."""


class StorageTableIO:
    """The manifest protocol's IO over a :mod:`..storage` backend.

    Required backend surface (``LocalStorage`` and
    :class:`..storage_s3.S3Storage` provide all of it): ``read_bytes``,
    ``put_bytes(path, data, *, if_match=None, if_none_match=False)``,
    ``read_bytes_meta`` (returns ``(bytes, etag)``), ``stat`` (returns
    ``{"size", "mtime"}``), ``input_file`` (what pyarrow opens for a
    footer read), ``list``, ``exists``, ``is_dir``, ``delete``,
    ``copy`` and ``makedirs``."""

    def __init__(self, backend, spark_mapper):
        self._b = backend
        self._map = spark_mapper

    def spark_path(self, uri: str) -> str:
        return self._map(uri)

    def rel_file(self, spark_uri: str, table_path: str) -> str:
        """Spark-reported file URI -> manifest-relative name: both the
        report and the table root are normalized to scheme-less paths
        (the mapping preserves the key tree under the mapped root, so
        relative names agree between the control and data planes).
        Filesystem paths are resolved (``realpath``), so a table
        reached through a relative path or a symlinked directory names
        its files as Spark's resolved report does."""
        from urllib.parse import unquote, urlparse

        def norm(u: str) -> str:
            parsed = urlparse(u)
            if not parsed.scheme:  # a plain path, not a URI: no unquoting
                return os.path.realpath(u)
            path = unquote(parsed.path)
            # s3a://bucket/key reduces to bucket/key: the bucket stays
            # part of the key space when the scheme carries one
            return (parsed.netloc + "/" + path.lstrip("/")).rstrip("/") \
                if parsed.netloc else os.path.realpath(path)
        return os.path.relpath(norm(spark_uri), norm(self.spark_path(table_path)))

    # -- manifest ------------------------------------------------------

    def load_json(self, uri: str) -> dict | None:
        try:
            return json.loads(self._b.read_bytes(uri))
        except FileNotFoundError:
            return None

    def write_json(self, uri: str, obj: dict) -> None:
        """Unfenced JSON sidecar write (manifest entry shards): staged
        pre-commit under a generation directory, invisible until the
        ROOT manifest references it — atomicity rides the root CAS."""
        self._b.put_bytes(uri, json.dumps(obj).encode())

    def commit_manifest(
        self, path: str, manifest: dict, expect_gen: int | None = None
    ) -> None:
        """THE atomic commit point of the rewrite protocol, an ETag
        compare-and-swap (see module docstring): one read (current
        manifest + ETag), one conditional put. A failed precondition
        IS the fence: the table stays exactly as the winner left it."""
        import uuid as _uuid

        uri = os.path.join(path, _MANIFEST)
        try:
            cur_bytes, etag = self._b.read_bytes_meta(uri)
            cur = json.loads(cur_bytes)
        except FileNotFoundError:
            cur, etag = None, None
        cur_no = cur["gen_no"] if cur else 0
        if expect_gen is not None and cur_no != expect_gen:
            raise ConcurrentWriteError(
                f"concurrent rewrite of {path!r}: generation moved "
                f"{expect_gen} -> {cur_no} since this rewrite began; "
                "retry against the new state"
            )
        # per-commit writer token, chained through the last few commits
        # (mutates the caller's dict — the token is part of the
        # committed manifest by design). The chain lets the lost-ack
        # path below recognize its own commit even after LATER writers
        # commit on top of it in the read-back window.
        token = _uuid.uuid4().hex
        manifest["writer_chain"] = (
            [token] + (cur.get("writer_chain", []) if cur else [])
        )[:32]
        body = json.dumps(manifest).encode()
        try:
            if etag is None:
                self._b.put_bytes(uri, body, if_none_match=True)
            else:
                self._b.put_bytes(uri, body, if_match=etag)
        except _storage.PreconditionFailed as lost:
            # LOST-ACK DISAMBIGUATION: the backend retries transient
            # failures, and a conditional PUT that actually LANDED but
            # whose response was lost fails its own retry with 412
            # (the object's ETag is now ours, not the If-Match one).
            # Before declaring a lost race, read the object back — if
            # this writer's token appears in the current chain, the
            # commit succeeded (even if OTHER writers have since
            # committed on top of it — the byte-equality check alone
            # misreads exactly that as a lost race) and reporting
            # failure would make retry_on_conflict re-apply
            # non-idempotent DML on top of its own committed effect.
            try:
                cur_bytes, _ = self._b.read_bytes_meta(uri)
                cur2 = json.loads(cur_bytes)
            except (FileNotFoundError, ValueError):
                cur_bytes, cur2 = None, None
            if cur_bytes == body or (
                cur2 is not None and token in cur2.get("writer_chain", [])
            ):
                return  # our own commit — the ack was lost, not the race
            raise ConcurrentWriteError(
                f"concurrent rewrite of {path!r}: the manifest changed "
                "between this writer's read and its conditional put "
                f"(ETag CAS lost: {lost}); retry against the new state"
            ) from None

    # -- listing -------------------------------------------------------

    def list_basenames(self, dir_uri: str, prefix: str) -> list[str]:
        try:
            names = map(os.path.basename, self._b.list(dir_uri))
        except FileNotFoundError:
            return []
        return sorted(n for n in names if n.startswith(prefix))

    def listdir(self, dir_uri: str) -> list[str]:
        """One-level basenames; a missing location raises, an existing
        empty one lists ``[]``. Object stores have no empty
        directories, so there an empty listing of a prefix that does
        not exist raises too — returning [] would make
        ``vacuum_staging`` on a typo'd base prefix read as "nothing to
        clean" while the real staging garbage keeps accumulating.
        (``list_basenames`` keeps the silent [] — its callers probe
        prefixes that legitimately may not exist yet.)"""
        entries = self._b.list(dir_uri)
        if not entries and not self._b.exists(dir_uri):
            raise FileNotFoundError(dir_uri)
        return sorted(os.path.basename(e) for e in entries)

    # -- predicates / metadata ------------------------------------------

    def exists(self, uri: str) -> bool:
        return self._b.exists(uri)

    def isfile(self, uri: str) -> bool:
        return self._b.exists(uri) and not self._b.is_dir(uri)

    def isdir(self, uri: str) -> bool:
        return self._b.is_dir(uri)

    def getsize(self, uri: str) -> int:
        return self._b.stat(uri)["size"]

    def getmtime(self, uri: str) -> float:
        """Object mtime; for a "directory" that has no object of its
        own (a common prefix on a store), the newest contained object,
        recursively. Used only by TTL vacuum decisions, where
        newest-child is the CONSERVATIVE reading of a prefix's age (a
        dir is only as stale as its most recent write)."""
        try:
            return self._b.stat(uri)["mtime"]
        except FileNotFoundError:
            children = self._b.list(uri)
            if not children:
                raise FileNotFoundError(uri) from None
            return max(self.getmtime(c) for c in children)

    # -- mutation -------------------------------------------------------

    def makedirs(self, dir_uri: str) -> None:
        self._b.makedirs(dir_uri)

    def copy_file(self, src: str, dst: str) -> None:
        self._b.copy(src, dst)

    def remove_file(self, uri: str) -> None:
        self._b.delete(uri)

    def delete_quiet(self, uri: str) -> None:
        """Best-effort retire of a file OR directory (post-commit
        cleanup — a crash here leaves only dead bytes that every new
        reader already ignores): a missing path or a local ``OSError``
        is not an error."""
        try:
            self._b.delete(uri)
        except OSError:
            pass

    # -- parquet metadata ------------------------------------------------

    def open_parquet(self, uri: str):
        import pyarrow.parquet as pq

        return pq.ParquetFile(self._b.input_file(uri))


# the traced wrap list of perfbench's table_dml workload names
# ``LocalTableIO.commit_manifest`` and ``.load_json``; it needs this
# alias until the in-package metrics seam (ROADMAP direction 2)
# replaces the wraps
LocalTableIO = StorageTableIO


def for_path(path: str) -> StorageTableIO:
    """The table-IO for a table path: the path's registered storage
    backend (``LocalStorage`` for plain and ``file://`` paths) with its
    Spark data-plane mapping."""
    return StorageTableIO(
        _storage.for_path(path),
        _storage.spark_path_mapper(_storage.scheme_of(path)),
    )
