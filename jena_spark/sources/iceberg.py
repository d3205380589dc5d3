"""Iceberg table source/sink — the deployment-target storage layer.

The north rule names Iceberg-backed transcript tables; this sandbox
image has no Iceberg runtime jars, so everything here degrades to a
parquet layout (which is shaped like an Iceberg bucket-partitioned
table on purpose: `part_id = pmod(xxhash64(conv_id), n)` ≙ a
`bucket(n, conv_id)` partition transform). On a real cluster, set
the catalog configs below and the same code paths run against
Iceberg with ACID appends, snapshot time-travel for resume, and
metadata-level file pruning.

The fallback is no longer a bare ``mode("append")`` parquet dir:
:class:`IcebergLiteTable` reproduces Iceberg's ARCHITECTURE at the
metadata level so the API surface has real behavior to test against.
Commits, snapshot isolation, time travel by deterministic snapshot id
and expire are :mod:`jena_spark.snapshots`' protocol; an append's
snapshot lists its parent's data dirs plus its own (Iceberg's
manifest-list reuse — old data is never rewritten), and ``merge`` is
MERGE INTO as a copy-on-write overwrite snapshot.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession

from jena_spark.snapshots import LOG, SnapshotStore

ICEBERG_CONFS = {
    # documented deployment configs (need iceberg-spark-runtime on the CP)
    "spark.sql.extensions":
        "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
    "spark.sql.catalog.kg": "org.apache.iceberg.spark.SparkCatalog",
    "spark.sql.catalog.kg.type": "hadoop",
}


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:  # noqa: BLE001
        return False


def read_table(spark: SparkSession, identifier: str,
               snapshot_id: str | None = None) -> DataFrame:
    """``kg.db.table`` via the Iceberg catalog when present, else an
    :class:`IcebergLiteTable` directory (detected by its snapshot log)
    or a plain parquet path. ``snapshot_id`` = ``VERSION AS OF`` time
    travel on either real Iceberg or the lite table."""
    if iceberg_available(spark) and not identifier.startswith("/"):
        r = spark.read.format("iceberg")
        if snapshot_id is not None:
            r = r.option("snapshot-id", snapshot_id)
        return r.load(identifier)
    if os.path.exists(os.path.join(identifier, LOG)):
        df = IcebergLiteTable(spark, identifier).read(snapshot_id)
        if df is None:
            raise ValueError(f"{identifier}: lite Iceberg table has no "
                             "committed snapshot")
        return df
    if snapshot_id is not None:
        raise ValueError(
            "snapshot_id given but the path is a plain parquet dir "
            "(no snapshot manifest)")
    return spark.read.parquet(identifier)


def append_table(df: DataFrame, identifier: str) -> None:
    if iceberg_available(df.sparkSession) and not identifier.startswith("/"):
        df.writeTo(identifier).append()
        return
    IcebergLiteTable(df.sparkSession, identifier).append(df)


# --- snapshot-isolated parquet fallback (Iceberg metadata emulation) -------

class IcebergLiteTable:
    """Snapshot table over plain parquet (module docstring). Metadata
    operations are driver-side file writes; data reads/writes are fully
    distributed (``spark.read.parquet`` over the snapshot's dir list)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")
        self.store = SnapshotStore(self.path)
        if (not os.path.exists(os.path.join(self.path, LOG))
                and glob.glob(os.path.join(self.path, "part-*"))):
            raise ValueError(
                f"{self.path} holds plain parquet files and no snapshot "
                "log; a snapshot would hide them")

    def current_snapshot(self) -> str | None:
        head = self.store.head()
        return head and head["snapshot_id"]

    def snapshots(self) -> list[dict]:
        """The snapshot log (id, parent, operation, file count) —
        ``table.snapshots()`` / the ``snapshots`` metadata table."""
        return [{"snapshot_id": s["snapshot_id"], "parent": s["parent"],
                 "operation": s["operation"], "n_dirs": len(s["files"])}
                for s in self.store.log()]

    def overwrite(self, df: DataFrame) -> str:
        """Replace the table contents (``writeTo(...).createOrReplace``
        / ``INSERT OVERWRITE``). Returns the new snapshot id."""
        return self.store.commit("overwrite", df)

    def append(self, df: DataFrame) -> str:
        """ACID append: new files only; the snapshot's file set is the
        parent's plus this commit's (no rewrite of old data)."""
        return self.store.commit("append", df, inherit=True)

    def merge(self, updates: DataFrame, key: str | list[str]) -> str:
        """MERGE INTO by key (upsert: matched rows replaced, unmatched
        inserted) as a new overwrite snapshot — the row-level
        operation Iceberg runs with delete files; here the merged
        result is rewritten (copy-on-write posture)."""
        keys = [key] if isinstance(key, str) else list(key)
        cur = self.read()
        kept = cur.join(updates.select(*keys).distinct(), keys,
                        "left_anti") if cur is not None else None
        merged = updates if kept is None else kept.unionByName(updates)
        return self.store.commit("merge", merged)

    def read(self, snapshot_id: str | None = None) -> DataFrame | None:
        """Current table, or ``VERSION AS OF snapshot_id`` time
        travel. None for an empty (never-committed) table."""
        return self.store.read(self.spark, snapshot_id)

    def expire_snapshots(self, keep: int = 1) -> list[str]:
        """Drop all but the last ``keep`` snapshots and delete data
        dirs no retained snapshot references (``expireSnapshots``).
        Returns the expired snapshot ids."""
        return self.store.expire(keep)
