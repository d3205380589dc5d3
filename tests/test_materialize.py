"""Lineage, counters, and exact-resume tests (kill/restart semantics)."""

from __future__ import annotations

from jena_spark.pipeline import materialize as M
from jena_spark.pipeline.extract import raw_triples


def test_resume_exact(spark, transcripts_df, tmp_path):
    out_clean = str(tmp_path / "clean")
    out_resumed = str(tmp_path / "resumed")
    df = raw_triples(transcripts_df)
    n_buckets = 8

    # clean run
    M.write_stage(df, out_clean, "raw", n_buckets)

    # simulated crash: only half the buckets got written+recorded
    M.write_stage(df, out_resumed, "raw", n_buckets, only_buckets=[0, 1, 2])
    m = M.read_manifest(out_resumed)
    assert m["completed"] == [0, 1, 2]

    # restart: resume computes ONLY missing buckets
    res = M.resume_or_write(df, out_resumed, "raw", n_buckets)
    assert sorted(M.read_manifest(out_resumed)["completed"]) == list(range(n_buckets))

    clean = M.triple_set(spark.read.parquet(out_clean))
    resumed = M.triple_set(spark.read.parquet(out_resumed))
    assert clean == resumed
    assert res.counters["rows_out"] == len(spark.read.parquet(out_resumed).collect())

    # resuming a complete output is a no-op (idempotent)
    before = M.read_manifest(out_resumed)["counters"]["rows_out"]
    M.resume_or_write(df, out_resumed, "raw", n_buckets)
    assert M.read_manifest(out_resumed)["counters"]["rows_out"] == before


def test_run_pipeline_end_to_end(spark, transcripts_df, tmp_path):
    out = str(tmp_path / "kg")
    results = M.run_pipeline(spark, transcripts_df, out, n_buckets=4)
    assert set(results) == {"raw_triples", "triples", "nodes"}
    triples = spark.read.parquet(out + "/triples")
    nodes = spark.read.parquet(out + "/nodes")
    assert triples.count() > 0
    assert nodes.count() > 0
    # every counter present and positive
    for r in results.values():
        assert r.counters["rows_out"] > 0
        assert r.counters["rows_per_sec"] > 0


def _term_set(df):
    return M.triple_set(df)


def test_construct_canonical_equals_generic(spark, transcripts_df):
    """The fused deployment path (construct_canonical) must be
    row-identical to the oracle-checked generic path
    canonicalize_triples(raw_triples(...)) — the three fusion theorems
    in its docstring, machine-checked."""
    from jena_spark.pipeline.canonicalize import (
        canonicalize_triples,
        construct_canonical,
    )

    generic = _term_set(canonicalize_triples(raw_triples(transcripts_df)))
    fused = _term_set(construct_canonical(transcripts_df))
    assert fused == generic
    assert len(fused) > 0


def test_encoded_decodes_to_canonical(spark, transcripts_df):
    """TDB-posture output: decode(triples_enc, node_dict) must
    reproduce the canonical string triples exactly, and the node
    dictionary must be collision-free (encode.assert_injective)."""
    from jena_spark.pipeline.canonicalize import (
        canonicalize_triples,
    )
    from jena_spark.pipeline.encode import assert_injective, decode_triples
    from jena_spark.pipeline.encoded import construct_canonical_encoded

    triples_enc, node_dict = construct_canonical_encoded(transcripts_df)
    assert_injective(node_dict)
    decoded = _term_set(decode_triples(triples_enc.drop("conv_id"), node_dict))
    generic = _term_set(canonicalize_triples(raw_triples(transcripts_df)))
    assert decoded == generic

    # every id in the triple table is decodable (no dangling ids)
    n_enc = triples_enc.count()
    assert n_enc == len(generic)


def test_run_pipeline_deterministic_reruns(spark, transcripts_df, tmp_path):
    """Byte-level determinism of survivor columns (CLAUDE.md
    invariant): two independent runs produce identical FULL rows
    including conv_id lineage columns."""
    from pyspark.sql import functions as F

    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")
    M.run_pipeline(spark, transcripts_df, out_a, n_buckets=4)
    M.run_pipeline(spark, transcripts_df, out_b, n_buckets=4)
    for stage in ("triples", "nodes"):
        a = spark.read.parquet(f"{out_a}/{stage}")
        rows_a = {tuple(r) for r in a.collect()}
        b = spark.read.parquet(f"{out_b}/{stage}")
        rows_b = {tuple(r) for r in b.collect()}
        assert rows_a == rows_b, stage


def test_encoded_job_disk_roundtrip(spark, transcripts_df, tmp_path):
    """Deployment shape end-to-end on disk: encoded triple table +
    node dictionary written bucketed with manifests (as pipeline_job
    --format encoded does), read back, decoded — equals the generic
    string pipeline. Also checks resume is a no-op on complete output."""
    from jena_spark.pipeline.canonicalize import canonicalize_triples
    from jena_spark.pipeline.encode import decode_triples
    from jena_spark.pipeline.encoded import construct_canonical_encoded

    out = str(tmp_path / "enc")
    triples_enc, node_dict = construct_canonical_encoded(transcripts_df)
    r_t = M.resume_or_write(triples_enc, f"{out}/triples_enc", "triples_enc",
                            4, key="conv_id")
    r_n = M.resume_or_write(node_dict, f"{out}/node_dict", "node_dict",
                            4, key="val")
    assert r_t.counters["rows_out"] > 0 and r_n.counters["rows_out"] > 0

    enc_back = spark.read.parquet(f"{out}/triples_enc").select("s_id", "p_id", "o_id")
    dict_back = spark.read.parquet(f"{out}/node_dict").select(
        "node_id", "kind", "val", "datatype", "lang")
    decoded = M.triple_set(decode_triples(enc_back, dict_back))
    generic = M.triple_set(canonicalize_triples(raw_triples(transcripts_df)))
    assert decoded == generic

    # complete output -> resume is a no-op
    before = M.read_manifest(f"{out}/triples_enc")["counters"]["rows_out"]
    M.resume_or_write(triples_enc, f"{out}/triples_enc", "triples_enc", 4,
                      key="conv_id")
    assert M.read_manifest(f"{out}/triples_enc")["counters"]["rows_out"] == before


def test_resume_after_crash_before_manifest_counts_once(spark, tmp_path, monkeypatch):
    """A crash after the Spark write commits but before the manifest is
    written leaves bucket dirs the manifest does not list; the resume
    must drop them, not append the buckets a second time."""
    import pytest

    df = spark.createDataFrame([(f"c{i}", i) for i in range(1000)],
                               "conv_id string, v long")
    out = str(tmp_path / "out")

    def crash(*_):
        raise RuntimeError("crash before the manifest write")

    monkeypatch.setattr(M, "write_manifest", crash)
    with pytest.raises(RuntimeError, match="crash"):
        M.resume_or_write(df, out, "s", 4)
    monkeypatch.undo()
    res = M.resume_or_write(df, out, "s", 4)
    assert spark.read.parquet(out).count() == 1000
    assert res.counters["rows_out"] == 1000
    assert M.read_manifest(out)["completed"] == [0, 1, 2, 3]
