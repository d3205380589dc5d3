"""Iceberg-lite fallback table: snapshot isolation, ACID append
without old-file rewrite, time travel, MERGE, expire — the metadata
architecture of the deployment target, testable without the jars."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from jena_spark.sources.iceberg import (  # noqa: E402
    IcebergLiteTable,
    append_table,
    read_table,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def test_append_time_travel_and_manifest_reuse(spark, tmp_path):
    p = str(tmp_path / "tbl")
    t = IcebergLiteTable(spark, p)
    assert t.read() is None and t.current_snapshot() is None

    s1 = t.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    s2 = t.append(_df(spark, [(3, "c")]))
    assert t.current_snapshot() == s2
    # current view = both commits; time travel = first commit only
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3]
    assert sorted(r["k"] for r in t.read(s1).collect()) == [1, 2]
    # append reuses the parent's files (no rewrite): s2 lists s1's
    # data dir plus its own
    m = {s["snapshot_id"]: s for s in t.store.log()}
    assert set(m[s1]["files"]) < set(m[s2]["files"])
    # snapshot log shape
    log = t.snapshots()
    assert [s["operation"] for s in log] == ["overwrite", "append"]
    assert log[1]["parent"] == s1

    # read_table auto-detects the lite layout + travels
    got = read_table(spark, p, snapshot_id=s1)
    assert sorted(r["k"] for r in got.collect()) == [1, 2]


def test_merge_upsert(spark, tmp_path):
    p = str(tmp_path / "tbl")
    t = IcebergLiteTable(spark, p)
    t.overwrite(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    s_before = t.current_snapshot()
    t.merge(_df(spark, [(2, "B"), (4, "d")]), key="k")
    got = {(r["k"], r["v"]) for r in t.read().collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}
    # the pre-merge snapshot is still readable (snapshot isolation)
    was = {(r["k"], r["v"]) for r in t.read(s_before).collect()}
    assert was == {(1, "a"), (2, "b"), (3, "c")}


def test_expire_snapshots_drops_unreferenced_dirs(spark, tmp_path):
    p = str(tmp_path / "tbl")
    t = IcebergLiteTable(spark, p)
    s0 = t.overwrite(_df(spark, [(1, "a")]))
    s1 = t.overwrite(_df(spark, [(2, "b")]))   # s0's dir now dead
    s2 = t.append(_df(spark, [(3, "c")]))      # s1's dir + its own
    files = {s: t.store.entry(s)["files"] for s in (s0, s1, s2)}
    assert len(files[s0]) == len(files[s1]) == 1
    assert files[s2][0] == files[s1][0] and len(files[s2]) == 2
    gone = t.expire_snapshots(keep=1)
    assert gone == [s0, s1]
    # s0's dir is unreferenced -> deleted; s1's is still live via s2
    assert not os.path.exists(os.path.join(p, files[s0][0]))
    assert all(os.path.exists(os.path.join(p, f)) for f in files[s2])
    assert sorted(r["k"] for r in t.read().collect()) == [2, 3]
    with pytest.raises(KeyError):
        t.read("definitely-not-a-snapshot")


def test_append_table_entry_point(spark, tmp_path):
    p = str(tmp_path / "tbl")
    append_table(_df(spark, [(1, "a")]), p)
    append_table(_df(spark, [(2, "b")]), p)
    got = sorted(r["k"] for r in read_table(spark, p).collect())
    assert got == [1, 2]
    # plain parquet dirs still read (backwards compat), and refuse travel
    plain = str(tmp_path / "plain")
    _df(spark, [(9, "z")]).write.parquet(plain)
    assert read_table(spark, plain).count() == 1
    with pytest.raises(ValueError, match="plain parquet"):
        read_table(spark, plain, snapshot_id="x")


def test_deterministic_snapshot_ids(spark, tmp_path):
    """Same commit sequence -> same ids (content-hash rule)."""
    ids = []
    for d in ("a", "b"):
        t = IcebergLiteTable(spark, str(tmp_path / d))
        ids.append((t.overwrite(_df(spark, [(1, "a")])),
                    t.append(_df(spark, [(2, "b")]))))
    assert ids[0] == ids[1]


def test_append_after_expire_keeps_live_data(spark, tmp_path):
    """Data-dir names survive expire: the append after it must not
    reuse (and overwrite) a dir the head still reads."""
    t = IcebergLiteTable(spark, str(tmp_path / "tbl"))
    t.overwrite(_df(spark, [(1, "a")]))
    t.overwrite(_df(spark, [(2, "b")]))
    t.append(_df(spark, [(3, "c")]))
    t.expire_snapshots(keep=1)
    t.append(_df(spark, [(4, "d")]))
    assert sorted(r["k"] for r in t.read().collect()) == [2, 3, 4]
    files = t.store.head()["files"]
    assert len(set(files)) == len(files) == 3


def test_append_table_refuses_to_hide_plain_parquet(spark, tmp_path):
    plain = str(tmp_path / "plain")
    _df(spark, [(9, "z")]).write.parquet(plain)
    with pytest.raises(ValueError, match="plain parquet"):
        append_table(_df(spark, [(1, "a")]), plain)
    assert [r["k"] for r in read_table(spark, plain).collect()] == [9]


def test_read_table_without_head_raises(spark, tmp_path):
    """A snapshot log with no committed head (a first commit that
    crashed before its head swap) is an error, not ``None``."""
    p = tmp_path / "tbl"
    p.mkdir()
    (p / "_snapshots.json").write_text("[]")
    with pytest.raises(ValueError, match="no committed snapshot"):
        read_table(spark, str(p))
