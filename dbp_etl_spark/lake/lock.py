"""Commit lock service: writer mutual exclusion for non-atomic stores.

LakeTable's CAS is carried by the atomic exclusive create of the
snapshot manifest (lake/fs.py). That primitive is real on POSIX
(link(2)) and HDFS (create overwrite=false), but an S3A-style store
implements "exclusive" create as check-then-act — two racing writers
can both pass the check and the second silently clobbers the first
(lost update). The standard fix (what Iceberg does with its catalog
lock / DynamoDB lock manager, and what S3's newer conditional-PUT
enables) is to route commit arbitration through a SMALL side service
that does have an atomic compare-and-set, while the data and manifests
stay on the big store.

``LockService`` is that seam. ``FileLockService`` implements it over
any filesystem whose ``create_text_exclusive`` IS atomic (a POSIX
scratch dir, HDFS, a DynamoDB-style table behind the same interface),
as a GENERATIONAL lease:

* the lock's state is the highest-generation lease file
  ``{name}.lock.{gen}`` (owner, expires_at inside);
* acquire = atomic exclusive create of generation ``cur+1``, allowed
  only while the current generation's lease is absent or expired.
  Every takeover therefore races on a FRESH filename whose exclusive
  create is the single arbiter — there is no delete-then-recreate
  window where two takers can both win, and a stale holder's late
  ``release`` can only ever delete its OWN generation's file (already
  dead), never a successor's lease;
* release deletes exactly the generation the token names, and only if
  the file still carries the token.

Wire it into a table via ``table.lock = FileLockService(dir)`` —
``LakeTable._commit``, the one publish path of every writer, then
serializes its head-check → manifest-create → pointer-swing critical
section under the lease and fences on ``validate`` right before the
manifest create, giving loser-fails semantics even where the manifest
store's exclusive create is check-then-act. Single-writer
deployments need none of this.

Reference analog: the reference serializes all applies through one
controller process (/root/reference/load/DBPLoadController.py:118-141);
this is the multi-writer generalization.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from dbp_etl_spark.lake.fs import Filesystem, LocalFS


class LockTimeout(RuntimeError):
    """Could not acquire the commit lock within the deadline."""


class LockService:
    """Duck-typed interface (documentation only). ``LakeTable._commit``
    calls all three: acquire, validate just before the manifest create,
    release."""

    def acquire(self, name: str, ttl_sec: float, timeout_sec: float) -> str: ...
    def release(self, name: str, token: str) -> None: ...
    def validate(self, name: str, token: str) -> bool: ...


class FileLockService(LockService):
    """Generational lease-file lock over a filesystem with ATOMIC
    exclusive create (see module docstring for the protocol).

    ``ttl_sec`` bounds how long a crashed holder can block others: an
    expired lease may be superseded by the next generation. Size it
    well above the longest commit critical section (metadata-only:
    sub-second; the data write happens OUTSIDE the lock).
    """

    def __init__(self, root: str, fs: Filesystem | None = None):
        self.root = root
        self._fs = fs or LocalFS()
        self._fs.mkdirs(root)

    def _gen_path(self, name: str, gen: int) -> str:
        return os.path.join(self.root, f"{name}.lock.{gen:010d}")

    def _current(self, name: str) -> tuple[int, dict | None]:
        """Highest existing generation and its parsed lease (None if no
        generation exists or the head lease is unreadable/torn)."""
        prefix = f"{name}.lock."
        gens = []
        for n in self._fs.list_names(self.root):
            if n.startswith(prefix):
                try:
                    gens.append(int(n[len(prefix) :]))
                except ValueError:
                    continue
        if not gens:
            return 0, None
        gen = max(gens)
        try:
            return gen, json.loads(self._fs.read_text(self._gen_path(name, gen)))
        except (ValueError, OSError, FileNotFoundError):
            return gen, None  # torn/just-deleted: treated as expired

    def acquire(self, name: str, ttl_sec: float = 60.0, timeout_sec: float = 30.0) -> str:
        """Block until the lease is ours (or LockTimeout). Returns a
        token naming the held generation; release() requires it."""
        owner = uuid.uuid4().hex
        deadline = time.time() + timeout_sec
        while True:
            gen, lease = self._current(name)
            live = lease is not None and lease.get("expires_at", 0) >= time.time()
            if not live:
                payload = json.dumps(
                    {"owner": owner, "expires_at": time.time() + ttl_sec}
                )
                try:
                    # the atomic arbiter: of N racing takers of this
                    # generation, exactly one create succeeds
                    self._fs.create_text_exclusive(self._gen_path(name, gen + 1), payload)
                except FileExistsError:
                    pass  # another taker won gen+1; loop and re-read
                else:
                    for g in range(max(1, gen - 8), gen + 1):  # sweep dead gens
                        self._fs.delete(self._gen_path(name, g))
                    return f"{gen + 1}:{owner}"
            if time.time() >= deadline:
                raise LockTimeout(f"lock {name!r} held past deadline")
            time.sleep(0.05)

    def validate(self, name: str, token: str) -> bool:
        """Fencing check at the point of use: is ``token`` still THE
        live lease? True only if the token's generation file still
        exists with our owner, is unexpired, and no higher generation
        has been created. A holder paused past ttl_sec (GC pause, host
        CPU-steal stall) resumes, calls this immediately before its
        manifest create, sees a successor's generation, and aborts with
        CommitConflict instead of silently clobbering the successor's
        commit on a check-then-act store."""
        gen_s, _, owner = token.partition(":")
        try:
            gen = int(gen_s)
        except ValueError:
            return False
        cur_gen, lease = self._current(name)
        if cur_gen != gen or lease is None:
            return False  # superseded (or our file was swept)
        return lease.get("owner") == owner and lease.get("expires_at", 0) >= time.time()

    def release(self, name: str, token: str) -> None:
        gen_s, _, owner = token.partition(":")
        path = self._gen_path(name, int(gen_s))
        try:
            lease = json.loads(self._fs.read_text(path))
        except (ValueError, OSError, FileNotFoundError):
            return  # superseded generation already swept
        if lease.get("owner") == owner:
            # deleting our OWN generation's file: a successor holds a
            # different filename, so this can never free someone else
            self._fs.delete(path)
