"""Pluggable cross-process commit coordinator (round 11).

The manifest protocol's correctness fence is the durable ETag CAS in
:mod:`.table_io` (lock-fenced ``os.replace`` locally, conditional PUT
on object stores) — that never changes. What the fence does NOT give
is cross-process FAIRNESS under sustained fire: raw conditional-PUT
racing is optimistic, so N continuous writer processes against one
table pay O(N) wasted read-to-CAS cycles per landed commit, and the
round-10 envelope (docs/SCALE.md) honestly capped the supported
fan-in at ~4 continuous processes per raw-object-store table. The
round-10 in-process serializer (``sinks._commit_tail_lock``) solved
the common case — many streams in ONE Spark driver — but two drivers
still race.

This module is the seam Delta solves the same problem with (an
external commit coordinator / S3DynamoDBLogStore): an ADVISORY lock
service consulted around the commit tail. Advisory means exactly:

* holding the lock serializes the read-snapshot -> CAS window across
  processes, so queued committers each pay ONE rebase instead of a
  jittered retry storm;
* NOT holding it (service down, acquisition timed out, stale break
  raced) costs only that fairness — the durable fence still rejects
  every conflicting commit, so a misbehaving coordinator can never
  corrupt a table or admit a lost update.

The default is None: no coordinator, the measured round-10 behavior.
Deployments with real multi-driver fan-in plug one in::

    from retail_sales_data_pipeline_spark.coordinator import (
        AdvisoryFileLockCoordinator, set_commit_coordinator,
    )
    set_commit_coordinator(AdvisoryFileLockCoordinator("/shared/locks"))

Any object with ``acquire(table_path) -> token`` and
``release(table_path, token)`` works (a DynamoDB conditional-write
client, a ZooKeeper/etcd lease, a Postgres advisory lock — all
standard lock services); :class:`AdvisoryFileLockCoordinator` is the
reference implementation for shared-filesystem deployments and the
measurement harness (``tools/dml_headroom.py --processes``).
"""

from __future__ import annotations

import errno
import hashlib
import os
import threading
import time

__all__ = [
    "AdvisoryFileLockCoordinator",
    "get_commit_coordinator",
    "set_commit_coordinator",
]

_COORDINATOR = None
_GUARD = threading.Lock()


def set_commit_coordinator(coordinator) -> None:
    """Install (or with None, remove) the process-wide coordinator
    consulted by every manifest commit tail."""
    global _COORDINATOR
    with _GUARD:
        _COORDINATOR = coordinator


def get_commit_coordinator():
    return _COORDINATOR


class AdvisoryFileLockCoordinator:
    """Advisory cross-process commit lock over a SHARED DIRECTORY
    (local disk for multi-process single-host, NFS for small
    clusters): one ``O_CREAT|O_EXCL`` lock file per table, named by
    the table path's hash, carrying ``pid:timestamp`` for diagnosis.

    Semantics (all failure modes degrade to "no coordination", never
    to blocking the commit — the durable fence owns correctness):

    * PER-PROCESS REENTRANT: the lock represents "this process holds
      the table"; nested acquires from any thread of the holder
      return a depth token (in-process ordering is the commit tail
      RLock's job, not this lock's);
    * TTL BREAKING: a lock file older than ``ttl_seconds`` belongs to
      a crashed holder and is broken (best-effort unlink + re-race) —
      the same posture as the POSIX commit lock in storage;
    * BOUNDED WAIT: after ``wait_seconds`` of polling, acquisition
      gives up and the commit proceeds UNCOORDINATED (token None) —
      a stuck lock service must not become a table outage.
    """

    def __init__(
        self,
        lock_dir: str,
        ttl_seconds: float = 60.0,
        poll_seconds: float = 0.01,
        wait_seconds: float = 30.0,
    ) -> None:
        self.lock_dir = lock_dir
        self.ttl_seconds = ttl_seconds
        self.poll_seconds = poll_seconds
        self.wait_seconds = wait_seconds
        self._held: dict[str, int] = {}  # table path -> reentry depth
        self._held_guard = threading.Lock()
        os.makedirs(lock_dir, exist_ok=True)

    def _lock_path(self, table_path: str) -> str:
        h = hashlib.sha256(table_path.encode()).hexdigest()[:24]
        return os.path.join(self.lock_dir, f"commit-{h}.lock")

    def acquire(self, table_path: str):
        """Return a token for :meth:`release`. ``"reentrant"`` when
        this process already holds the table; ``None`` when the wait
        budget expired (commit proceeds uncoordinated)."""
        with self._held_guard:
            if self._held.get(table_path, 0) > 0:
                self._held[table_path] += 1
                return "reentrant"
        lp = self._lock_path(table_path)
        deadline = time.time() + self.wait_seconds
        while True:
            try:
                fd = os.open(lp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except OSError as exc:
                if exc.errno != errno.EEXIST:
                    return None  # unusable lock dir: advisory -> skip
                fd = None
            if fd is not None:
                try:
                    os.write(fd, f"{os.getpid()}:{time.time()}".encode())
                except OSError:
                    pass  # payload is diagnostic only; the FILE locks
                finally:
                    try:
                        os.close(fd)
                    except OSError:
                        pass
                # diagnostic payload is best-effort; the CREATED file
                # is the lock. Never leave a lock we can't release:
                # _held is set iff the file exists under our name.
                with self._held_guard:
                    self._held[table_path] = 1
                return "held"
            try:
                age = time.time() - os.path.getmtime(lp)
                if age > self.ttl_seconds:
                    # break via RENAME-then-verify, not a bare unlink
                    # (round-12 advice fix): a stale holder releasing
                    # and a NEW process acquiring between the stat and
                    # the break must not lose its fresh lock. The
                    # rename is atomic, so whatever file we grabbed is
                    # exclusively ours to inspect: confirmed stale ->
                    # discard; actually fresh (we lost the race) ->
                    # restore it. A crash between rename and restore
                    # leaks only a tombstone file (advisory layer —
                    # the durable CAS stays the correctness fence).
                    tomb = f"{lp}.break-{os.getpid()}-{time.time_ns()}"
                    os.rename(lp, tomb)
                    try:
                        fresh = (
                            time.time() - os.path.getmtime(tomb)
                            <= self.ttl_seconds
                        )
                    except OSError:
                        fresh = False
                    if fresh:
                        # we lost the break race to a LIVE holder:
                        # restore its lock via LINK (fails with
                        # EEXIST instead of clobbering — a THIRD
                        # process may have acquired while lp was
                        # renamed away, and a rename restore would
                        # overwrite its fresh lock; review finding),
                        # then fall through to the polite wait
                        # (re-breaking immediately would busy-spin)
                        try:
                            os.link(tomb, lp)
                        except FileExistsError:
                            pass  # a new holder owns lp: keep theirs
                        except OSError:
                            # filesystem without hard-link support
                            # (some NFS/FUSE object-store mounts,
                            # r12 advice #1): a swallowed failure
                            # here would silently destroy the LIVE
                            # holder's lock when the tomb unlinks.
                            # Restore via exclusive-create + copy —
                            # O_EXCL keeps the no-clobber guarantee;
                            # EEXIST again means a new holder owns
                            # lp and theirs is kept. (A holder that
                            # RELEASED inside the rename window still
                            # gets resurrected as a zombie that the
                            # next TTL break collects — inherent to
                            # restore-by-content, advisory-layer
                            # only.)
                            try:
                                fd2 = os.open(
                                    lp,
                                    os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                                )
                                try:
                                    with open(tomb, "rb") as tf:
                                        os.write(fd2, tf.read())
                                except OSError:
                                    pass  # payload diagnostic only
                                finally:
                                    os.close(fd2)
                            except OSError:
                                pass  # new holder owns lp: keep theirs
                        os.unlink(tomb)
                    else:
                        os.unlink(tomb)  # crashed holder: re-race
                        continue
            except OSError:
                continue  # holder released between probe and stat
            if time.time() >= deadline:
                return None
            time.sleep(self.poll_seconds)

    def release(self, table_path: str, token) -> None:
        """Unlink when the DEPTH reaches zero, regardless of which
        token kind is released last — releases may arrive out of
        acquisition order (thread A 'held' finishes before thread B
        'reentrant'), and keying the unlink on the token would leak
        the lock file until the TTL break (review finding,
        regression-pinned)."""
        if token is None:
            return
        with self._held_guard:
            depth = self._held.get(table_path, 0)
            if depth > 1:
                self._held[table_path] = depth - 1
                return
            self._held.pop(table_path, None)
            if depth == 0:
                return  # over-release: nothing held, nothing to unlink
        try:
            os.unlink(self._lock_path(table_path))
        except OSError:
            pass  # TTL-broken by a peer: nothing to release
