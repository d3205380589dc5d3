"""Snapshot-commit protocol (``jena_spark.snapshots``) under injected
crashes.

Every caller that commits through the module is crashed at each commit
boundary — after the data write, after the log write, after the head
swap — by monkeypatching the module's ``atomic_write`` step (the data
write precedes the first metadata write; the log is the first and the
head the last). A reader must then see the previous complete snapshot,
or the new one once the commit point has passed, and the caller's retry
must reach the row checksum of a run that never crashed.
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from jena_spark import snapshots  # noqa: E402
from jena_spark.pipeline import materialize as M  # noqa: E402
from jena_spark.pipeline.txn import TransactionalStore  # noqa: E402
from jena_spark.schemas import TRANSCRIPTS_SCHEMA  # noqa: E402
from jena_spark.snapshots import SnapshotStore  # noqa: E402
from jena_spark.sources.iceberg import IcebergLiteTable, read_table  # noqa: E402
from jena_spark.streaming.ingest import apply_canonical_batch  # noqa: E402
from jena_spark.terms import TERM_COLS  # noqa: E402

EX = "http://ex.org/"
BOUNDARIES = ["data", "log", "head"]


class Crash(Exception):
    """The injected crash."""


def checksum(df) -> tuple[int, int]:
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.bit_xor(F.xxhash64(*df.columns)).alias("x")).first()
    return r["n"], r["x"]


def crash_at(monkeypatch, boundary: str, n_writes: int) -> bool:
    """Make the next commit raise :class:`Crash` at ``boundary`` of its
    ``n_writes`` metadata writes. Returns whether the commit point (the
    last metadata write) is passed by then."""
    after = {"data": 0, "log": 1, "head": n_writes}[boundary]
    real, done = snapshots.atomic_write, []

    def write(path: str, text: str) -> None:
        if after:
            real(path, text)
            done.append(path)
        if len(done) == after:
            raise Crash(boundary)

    monkeypatch.setattr(snapshots, "atomic_write", write)
    return after == n_writes


# --- the callers: prepare commits a first snapshot, step the next one -----

class Txn:
    """Durable ``TransactionalStore`` commit."""

    n_writes = 2

    def _rows(self, spark, names):
        return spark.createDataFrame(
            [("iri", EX + n, EX + "p", "literal", n, None, None) for n in names],
            "s_kind string, s_val string, p_val string, o_kind string,"
            " o_val string, o_datatype string, o_lang string")

    def prepare(self, spark, d):
        with TransactionalStore(spark, path=d).write() as w:
            w.load(self._rows(spark, ["a", "b"]))

    def step(self, spark, d):
        with TransactionalStore(spark, path=d).write() as w:
            w.load(self._rows(spark, ["c"]))

    def read(self, spark, d):
        return TransactionalStore(spark, path=d).dataset()

    # LOAD has set semantics: re-running a landed commit changes nothing
    retry = step


class Canonical:
    """Streaming canonical maintenance (``apply_canonical_batch``)."""

    n_writes = 2

    def _batch(self, spark, i):
        from tests.fixtures import gen_transcripts

        tdf, _ = gen_transcripts(n_convs=6, seed=5)
        convs = sorted(tdf["conv_id"].unique())[i::2]
        return spark.createDataFrame(tdf[tdf["conv_id"].isin(convs)],
                                     TRANSCRIPTS_SCHEMA)

    def prepare(self, spark, d):
        assert apply_canonical_batch(spark, self._batch(spark, 0), 0, d)

    def step(self, spark, d):
        apply_canonical_batch(spark, self._batch(spark, 1), 1, d)

    def read(self, spark, d):
        return SnapshotStore(d).read(spark).select(*TERM_COLS)

    # the engine replays the epoch; the replay guard skips a landed one
    retry = step


class LiteAppend:
    """Lite Iceberg table ``append``."""

    n_writes = 2

    def _rows(self, spark, ks):
        return spark.createDataFrame([(k, str(k)) for k in ks], "k int, v string")

    def prepare(self, spark, d):
        IcebergLiteTable(spark, d).overwrite(self._rows(spark, [1, 2]))

    def step(self, spark, d):
        IcebergLiteTable(spark, d).append(self._rows(spark, [3]))

    def read(self, spark, d):
        return read_table(spark, d)

    def retry(self, spark, d):
        # an append is not idempotent: the client re-runs it only if
        # its commit did not land
        if len(IcebergLiteTable(spark, d).snapshots()) == 1:
            self.step(spark, d)


class Resume:
    """Bucket resume (``resume_or_write``). Its manifest is both log and
    head, so the log and head boundaries are the same write."""

    n_writes = 1

    def _rows(self, spark):
        return spark.createDataFrame([(f"c{i}", i) for i in range(200)],
                                     "conv_id string, v long")

    def prepare(self, spark, d):
        M.write_stage(self._rows(spark), d, "s", 4, only_buckets=[0, 1])

    def step(self, spark, d):
        M.resume_or_write(self._rows(spark), d, "s", 4)

    def read(self, spark, d):
        return spark.read.parquet(d).where(
            F.col("part_id").isin(M.read_manifest(d)["completed"]))

    retry = step


CALLERS = {"txn": Txn(), "canonical": Canonical(), "lite_append": LiteAppend(),
           "resume": Resume()}


@pytest.fixture(scope="module")
def prepared(spark, tmp_path_factory):
    """Per caller, once: a store holding the first snapshot, its
    checksum, and the checksum after an uncrashed step on a copy."""
    memo = {}

    def get(name):
        if name not in memo:
            c, root = CALLERS[name], tmp_path_factory.mktemp(name)
            base, clean = str(root / "base"), str(root / "clean")
            c.prepare(spark, base)
            shutil.copytree(base, clean)
            c.step(spark, clean)
            memo[name] = (base, checksum(c.read(spark, base)),
                          checksum(c.read(spark, clean)))
        return memo[name]

    return get


@pytest.mark.parametrize("boundary", BOUNDARIES)
@pytest.mark.parametrize("name", sorted(CALLERS))
def test_crash_point(spark, tmp_path, monkeypatch, prepared, name, boundary):
    c, d = CALLERS[name], str(tmp_path / "store")
    base, before, clean = prepared(name)
    assert before != clean
    shutil.copytree(base, d)
    landed = crash_at(monkeypatch, boundary, c.n_writes)
    with pytest.raises(Crash):
        c.step(spark, d)
    monkeypatch.undo()
    assert checksum(c.read(spark, d)) == (clean if landed else before)
    c.retry(spark, d)
    assert checksum(c.read(spark, d)) == clean


def test_commit_refuses_a_live_data_dir(spark, tmp_path, monkeypatch):
    store = SnapshotStore(str(tmp_path / "s"))
    sid = store.commit("overwrite", spark.range(3))
    monkeypatch.setattr(snapshots, "snapshot_id", lambda *_: sid)
    with pytest.raises(RuntimeError, match="refusing"):
        store.commit("overwrite", spark.range(5))
    assert store.read(spark).count() == 3
    assert [e["snapshot_id"] for e in store.log()] == [sid]


def test_head_outside_the_log_fails_loudly(tmp_path):
    """A head the log does not list (e.g. a bare version-dir pointer)
    raises instead of reading as an empty store."""
    (tmp_path / "_CURRENT").write_text("v2")
    with pytest.raises(ValueError, match="not in the snapshot log"):
        SnapshotStore(str(tmp_path)).head()
