"""Snapshot commits — the one version-swap protocol behind every durable
store in the package (the lite Iceberg table, the MVCC quad store, the
streaming folds, ``tdbcompact``; bucket resume shares :func:`atomic_write`).

Reference posture: TDB2's version-swap commit
(``jena-db/jena-tdb2/.../store/storage/StorageTDB.java``) and Iceberg's
snapshot log + metadata pointer. A store rooted at ``root`` holds

* ``data/<snapshot_id>/`` — one immutable parquet directory per commit.
  It is named by the snapshot id, so no name is ever reused: ``expire``
  keeps the head, and the next id hashes the head's id;
* ``_snapshots.json`` — the snapshot log, oldest first: id, parent,
  operation, ``seq`` (commit number, 1-based) and the FULL list of data
  dirs the snapshot reads (a commit with ``inherit=True`` lists its
  parent's dirs plus its own — old data is never rewritten);
* ``_CURRENT`` — the head pointer.

A commit writes the data dir, then the log, then the head, each metadata
file write-tmp-then-rename. A reader therefore sees the previous complete
snapshot at every crash point:

* log entries past the head belong to a crashed commit and are ignored;
* a data dir no committed snapshot lists is garbage — the retry computes
  the same snapshot id (ids hash parent, operation and inherited dirs,
  the repo's determinism rule: no uuid/now) and replaces it;
* a commit refuses to write into a dir a committed snapshot lists.

``expire`` rewrites the log first and deletes data dirs second, so a crash
mid-expire leaves only unreferenced dirs. Coordination is single-writer
per store, like the callers' own locks.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

LOG = "_snapshots.json"
HEAD = "_CURRENT"


def atomic_write(path: str, text: str) -> None:
    """Replace ``path`` with ``text`` so readers see the old file or the
    new one, never a torn write (write a sibling tmp file, then rename)."""
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(text)
    os.replace(tmp, path)


def snapshot_id(parent: str | None, operation: str, base: list[str]) -> str:
    """Deterministic content hash of a commit's inputs."""
    return hashlib.md5(json.dumps([parent, operation, base]).encode()).hexdigest()[:16]


class SnapshotStore:
    """Snapshot log, head pointer and data dirs under one root directory
    (module docstring for the protocol)."""

    def __init__(self, root: str):
        self.root = root.rstrip("/")

    def log(self) -> list[dict]:
        """Committed snapshots, oldest first; empty before the first
        commit. A head the log does not list raises (a corrupt store, or
        a directory that is not a snapshot store)."""
        # head before log: a commit appends to the log before it swaps
        # the head, so the log read second always lists the head read first
        head = self._head_id()
        if head is None:
            return []
        p = os.path.join(self.root, LOG)
        log = []
        if os.path.exists(p):
            with open(p, encoding="utf-8") as f:
                log = json.load(f)
        ids = [e["snapshot_id"] for e in log]
        if head not in ids:
            raise ValueError(f"{self.root}: head {head!r} is not in the snapshot log")
        return log[:ids.index(head) + 1]

    def head(self) -> dict | None:
        log = self.log()
        return log[-1] if log else None

    def entry(self, snapshot_id: str) -> dict:
        for e in self.log():
            if e["snapshot_id"] == snapshot_id:
                return e
        raise KeyError(f"no such snapshot {snapshot_id!r}")

    def read(self, spark: SparkSession,
             snapshot_id: str | None = None) -> DataFrame | None:
        """The head snapshot, or ``snapshot_id``'s (time travel); None
        before the first commit."""
        e = self.head() if snapshot_id is None else self.entry(snapshot_id)
        if e is None:
            return None
        return spark.read.parquet(*[os.path.join(self.root, f) for f in e["files"]])

    def commit(self, operation: str, df: DataFrame, inherit: bool = False) -> str:
        """Write ``df`` as a new snapshot and make it the head. With
        ``inherit`` the snapshot also reads the parent's data dirs (an
        append). Returns the new snapshot id."""
        log = self.log()
        parent = log[-1] if log else None
        base = parent["files"] if inherit and parent else []
        sid = snapshot_id(parent and parent["snapshot_id"], operation, base)
        rel = f"data/{sid}"
        if any(rel in e["files"] for e in log):
            raise RuntimeError(f"{self.root}: {rel} belongs to a committed "
                               "snapshot; refusing to overwrite it")
        # overwrite replaces a crashed commit's unreferenced leftovers
        df.write.mode("overwrite").parquet(os.path.join(self.root, rel))
        log.append({"snapshot_id": sid, "parent": parent and parent["snapshot_id"],
                    "operation": operation, "seq": parent["seq"] + 1 if parent else 1,
                    "files": base + [rel]})
        self._write_log(log)
        atomic_write(os.path.join(self.root, HEAD), sid)
        return sid

    def expire(self, keep: int = 1) -> list[str]:
        """Drop all but the last ``keep`` snapshots, then delete the data
        dirs no retained snapshot lists. Returns the expired ids."""
        if keep < 1:
            raise ValueError(f"keep must be >= 1, got {keep}")
        log = self.log()
        kept, gone = log[-keep:], log[:-keep]
        if not gone:
            return []
        self._write_log(kept)
        live = {f for e in kept for f in e["files"]}
        for f in {f for e in gone for f in e["files"]} - live:
            shutil.rmtree(os.path.join(self.root, f), ignore_errors=True)
        return [e["snapshot_id"] for e in gone]

    def _head_id(self) -> str | None:
        p = os.path.join(self.root, HEAD)
        if not os.path.exists(p):
            return None
        with open(p, encoding="utf-8") as f:
            return f.read().strip() or None

    def _write_log(self, log: list[dict]) -> None:
        atomic_write(os.path.join(self.root, LOG), json.dumps(log, indent=1))
