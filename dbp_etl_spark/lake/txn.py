"""Multi-table atomic transactions over LakeTables.

Reference analog: the coordinated two-step commit of the video path —
fileset tables are committed, connections refreshed, then stream
tables committed as a dependent transaction in the same controller
pass (/root/reference/load/DBPLoadController.py:126-140,
/root/reference/load/UpdateDBPVideoTables.py:34-189). There the DB's
transaction gives cross-table atomicity; on a file/object-store lake
nothing does, so this module supplies it.

Protocol (write-ahead record + presumed-abort):

1. **Stage.** Inside ``TxnCoordinator.transaction([...])`` every member
   table's normal write API (append / overwrite_buckets / delete_where
   / update_where / CDCRunner merges) runs as usual — data files are
   written — but ``LakeTable._commit``, the single publish path every
   writer goes through, is intercepted: the new manifest is COLLECTED
   instead of published, and the in-memory handle advances so later
   ops in the same transaction build on it.
2. **Commit point.** One exclusive create of
   ``{coord}/txn-{seq}-{id}.json`` embedding EVERY collected manifest.
   Before the record exists, nothing is visible anywhere; after, the
   whole group is durably committed (the record is the WAL entry).
3. **Finalize.** Each manifest is published to its table
   (``v{N}.json`` + VERSION swing) in snapshot order, then a ``.done``
   marker retires the record. A crash anywhere in this step is
   repaired by **recovery**: the next lock holder re-publishes every
   member of any record without a marker (idempotent — publishing an
   already-present manifest is a no-op).

Atomicity argument: the exclusive record create is the single commit
point; manifests for its snapshots cannot be created by anyone else
because ALL commits to member tables — transactional or single-table —
serialize through the coordinator lock (``table_lock()``), and every
lock acquisition runs recovery before returning. So a single-table
writer can never steal a snapshot id that a committed-but-unfinalized
transaction owns. Aborted transactions (exception before the record
create) publish nothing; their already-written data files are
unreferenced and reclaimed by ``vacuum`` like any failed write.

Visibility: per-table reads are read-committed (mid-finalize, table A
can show the transaction while B does not — for seconds, bounded by
recovery). ``consistent_frontier()`` gives a cross-table snapshot-id
frontier under the lock; pair it with ``read(snapshot_id=...)`` time
travel for a fully consistent multi-table view (snapshot isolation).

Concurrency model: pessimistic (2PL) — the coordinator mutex is held
for the WHOLE transaction body, data writes included, unlike the
single-table path where only the metadata swing is locked. That is
the right trade for the reference's shape (one coordinated group per
load, seconds of staging, vs. continuous single-table microbatches):
no staged work is ever thrown away on conflict. Size ``ttl_sec``
above the longest transaction body; a holder that outlives its lease
is FENCED — ``validate`` is re-checked immediately before the record
create, so a stalled coordinator aborts instead of clobbering a
successor (the same fence LakeTable._commit applies to every
single-table commit under a lock). The commit point itself
stays O(members) metadata.
"""

from __future__ import annotations

import json
import os
import uuid
from contextlib import contextmanager

from .fs import Filesystem, LocalFS
from .lock import FileLockService

_DONE = ".done"


class TxnAborted(RuntimeError):
    """The transaction body raised; nothing was published."""


class _TxnHandle:
    """What the ``transaction()`` context yields: the member tables
    (refreshed to head under the lock) plus the staged-manifest log."""

    def __init__(self, tables):
        self.tables = tables
        self.staged: list[tuple[str, dict]] = []  # (table_root, manifest)


class _CoordinatedLock:
    """LockService facade routing a member table's single-table commits
    through the coordinator's mutex (one shared name, so transactions
    and single-table commits serialize), running recovery on acquire so
    a committed-but-unfinalized transaction is published before any new
    commit computes its head."""

    def __init__(self, coord: "TxnCoordinator"):
        self._coord = coord

    def acquire(self, name: str, **kw) -> str:
        token = self._coord.lock.acquire("txn", **kw)
        try:
            self._coord.recover()
        except Exception:
            self._coord.lock.release("txn", token)
            raise
        return token

    def release(self, name: str, token: str) -> None:
        self._coord.lock.release("txn", token)

    def validate(self, name: str, token: str) -> bool:
        return self._coord.lock.validate("txn", token)


class TxnCoordinator:
    """Coordinates atomic commits spanning several LakeTables.

    ``root`` holds transaction records and the coordinator lock; member
    tables stay fully self-contained otherwise. Opt a table into the
    coordinated world with ``table.lock = coord.table_lock()`` (single-
    table commits then serialize with transactions and trigger
    recovery); tables written ONLY inside transactions need no setup.

    The coordinator's ``fs`` must reach every member table's root
    (finalize/recovery write table manifests through it) — i.e. the
    group lives on ONE store: pass ``fs_for(root, spark)`` when the
    tables are on hdfs://-style URIs, the default LocalFS for plain
    paths. Cross-store transaction groups are out of scope, as they
    are for every single-catalog lakehouse.
    """

    def __init__(self, root: str, fs: Filesystem | None = None, ttl_sec: float = 600.0):
        self.root = root
        self._fs = fs or LocalFS()
        self._fs.mkdirs(root)
        self.ttl_sec = ttl_sec
        self.lock = FileLockService(os.path.join(root, "locks"), fs=self._fs)

    # ------------------------------------------------------------ records
    def _records(self) -> list[str]:
        return sorted(
            n
            for n in self._fs.list_names(self.root)
            if n.startswith("txn-") and n.endswith(".json")
        )

    def _next_seq(self) -> int:
        recs = self._records()
        if not recs:
            return 1
        return max(int(n.split("-")[1]) for n in recs) + 1

    def _publish(self, table_root: str, manifest: dict) -> None:
        """Idempotently publish one manifest to its table: exclusive
        create (a loser to an identical earlier publish is fine), then
        roll the VERSION pointer forward, never back."""
        meta = os.path.join(table_root, "_meta")
        snap = manifest["snapshot_id"]
        target = os.path.join(meta, f"v{snap}.json")
        payload = json.dumps(manifest, indent=1)
        if not self._fs.exists(target):
            try:
                self._fs.create_text_exclusive(target, payload)
            except FileExistsError:
                pass  # a concurrent recovery published it
        version = os.path.join(meta, "VERSION")
        try:
            cur = int(self._fs.read_text(version).strip())
        except (OSError, ValueError):
            cur = -1
        if snap > cur:
            self._fs.write_text(version, str(snap))

    def _finalize(self, rec: dict, rec_name: str) -> None:
        for m in rec["members"]:
            self._publish(m["root"], m["manifest"])
        done = os.path.join(self.root, rec_name[: -len(".json")] + _DONE)
        if not self._fs.exists(done):
            self._fs.write_text(done, "")

    def recover(self) -> int:
        """Publish every committed record lacking a done marker (call
        under the coordinator lock). Returns how many were repaired."""
        repaired = 0
        for name in self._records():
            done = os.path.join(self.root, name[: -len(".json")] + _DONE)
            if self._fs.exists(done):
                continue
            try:
                rec = json.loads(self._fs.read_text(os.path.join(self.root, name)))
            except (ValueError, OSError):
                continue  # torn record: never the commit point, ignore
            self._finalize(rec, name)
            repaired += 1
        return repaired

    # ------------------------------------------------------- public API
    def table_lock(self) -> _CoordinatedLock:
        return _CoordinatedLock(self)

    @contextmanager
    def transaction(self, tables: list):
        """All-or-nothing commit across ``tables``.

        Yields a handle whose ``.tables`` are the members refreshed to
        head; run any of their write APIs inside the block. On normal
        exit the staged group commits atomically; on exception nothing
        is published and the handles are reloaded to the on-disk head.
        """
        token = self.lock.acquire("txn", ttl_sec=self.ttl_sec)
        try:
            self.recover()
            fresh = [t.refresh() for t in tables]
            handle = _TxnHandle(fresh)
            for t in fresh:
                t.lock = None  # coordinator lock already held for the body
                t._txn_collector = handle.staged
            try:
                yield handle
            except Exception as e:
                for t in fresh:
                    t._txn_collector = None
                    t.manifest = t.refresh().manifest  # discard staged state
                raise TxnAborted(str(e)) from e
            finally:
                for t in fresh:
                    t._txn_collector = None
                    # the yielded handles outlive the block as ordinary
                    # member-table handles: route their future commits
                    # through the coordinator mutex + recovery, or the
                    # atomicity argument above stops holding for them
                    t.lock = _CoordinatedLock(self)
            if handle.staged:
                # fencing: confirm the lease immediately before the
                # record create (the commit point), mirroring
                # LakeTable._commit's stale-holder guard
                if not self.lock.validate("txn", token):
                    raise TxnAborted(
                        "coordinator lease expired or superseded before the "
                        "record create — aborting to avoid a lost update"
                    )
                txid = uuid.uuid4().hex[:12]
                rec = {
                    "txid": txid,
                    "members": [
                        {"root": root, "snapshot_id": m["snapshot_id"], "manifest": m}
                        for root, m in handle.staged
                    ],
                }
                name = f"txn-{self._next_seq():010d}-{txid}.json"
                self._fs.create_text_exclusive(
                    os.path.join(self.root, name), json.dumps(rec, indent=1)
                )
                self._finalize(rec, name)
        finally:
            self.lock.release("txn", token)

    def consistent_frontier(self, tables: list) -> dict[str, int]:
        """A cross-table snapshot frontier no transaction straddles:
        taken under the coordinator lock after recovery, so it reflects
        whole transactions only. Use with ``read(snapshot_id=...)``."""
        token = self.lock.acquire("txn", ttl_sec=self.ttl_sec)
        try:
            self.recover()
            return {t.root: t.refresh().snapshot_id for t in tables}
        finally:
            self.lock.release("txn", token)

    def prune_done(self, keep_last: int = 64) -> int:
        """Drop retired (done-marked) records beyond the newest
        ``keep_last`` — the coordinator's analog of snapshot expiry."""
        recs = self._records()
        retired = [
            n
            for n in recs
            if self._fs.exists(os.path.join(self.root, n[: -len(".json")] + _DONE))
        ]
        drop = retired[:-keep_last] if keep_last else retired
        for n in drop:
            self._fs.delete(os.path.join(self.root, n))
            self._fs.delete(os.path.join(self.root, n[: -len(".json")] + _DONE))
        return len(drop)
