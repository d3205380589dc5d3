"""Structured Streaming ingest (§2.11): foreachBatch reuses the batch
extraction; incremental parse role of StreamRDF
(``jena-arq/.../riot/system/StreamRDF.java``)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from jena_spark.pipeline.extract import raw_triples  # noqa: E402
from jena_spark.schemas import TRANSCRIPTS_SCHEMA  # noqa: E402
from jena_spark.streaming.ingest import start_ingest  # noqa: E402
from jena_spark.terms import TERM_COLS  # noqa: E402


def test_stream_ingest_matches_batch(spark, transcripts_pdf, tmp_path):
    tdf, _ = transcripts_pdf
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    batch_df = spark.createDataFrame(tdf, TRANSCRIPTS_SCHEMA)
    # two "arrivals" -> two files; availableNow drains both
    half = len(tdf) // 2
    spark.createDataFrame(tdf.iloc[:half], TRANSCRIPTS_SCHEMA).write.mode(
        "overwrite"
    ).parquet(src)
    spark.createDataFrame(tdf.iloc[half:], TRANSCRIPTS_SCHEMA).write.mode(
        "append"
    ).parquet(src)

    q = start_ingest(spark, src, out, ckpt)
    q.awaitTermination(120)

    streamed = {
        tuple(r) for r in spark.read.parquet(out).select(*TERM_COLS).distinct().collect()
    }
    expected = {tuple(r) for r in raw_triples(batch_df).select(*TERM_COLS).collect()}
    assert streamed == expected

    # restart with no new files: checkpoint makes it a no-op
    n_before = spark.read.parquet(out).count()
    q2 = start_ingest(spark, src, out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n_before


def test_windowed_mention_counts_match_batch(spark, transcripts_pdf, tmp_path):
    """Watermark + event-time window agg over the stream equals the
    same aggregation computed in batch."""
    from pyspark.sql import functions as F

    from jena_spark.pipeline.extract import mentions_udf
    from jena_spark.streaming.ingest import stream_transcripts, windowed_mention_counts

    tdf, _ = transcripts_pdf
    src = str(tmp_path / "wsrc")
    spark.createDataFrame(tdf, TRANSCRIPTS_SCHEMA).write.mode("overwrite").parquet(src)

    q = (
        windowed_mention_counts(stream_transcripts(spark, src))
        .writeStream.format("memory").queryName("winm")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    streamed = {
        (r["w"]["start"], r["surface"], r["n"])
        for r in spark.sql("SELECT * FROM winm").collect()
    }
    udf = mentions_udf()
    batch = (
        spark.createDataFrame(tdf, TRANSCRIPTS_SCHEMA)
        .select("ts", F.explode(udf(F.col("text"))).alias("surface"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "surface")
        .agg(F.count("*").alias("n"))
    )
    expected = {(r["w"]["start"], r["surface"], r["n"]) for r in batch.collect()}
    assert streamed == expected and len(streamed) > 0


def test_stateful_conv_progress(spark, transcripts_pdf, tmp_path):
    """applyInPandasWithState: running per-conversation state across
    micro-batches; the final emitted state equals the batch aggregate."""
    from jena_spark.streaming.ingest import stateful_conv_progress, stream_transcripts

    tdf, _ = transcripts_pdf
    src = str(tmp_path / "ssrc")
    half = len(tdf) // 2
    spark.createDataFrame(tdf.iloc[:half], TRANSCRIPTS_SCHEMA).write.mode(
        "overwrite").parquet(src)
    spark.createDataFrame(tdf.iloc[half:], TRANSCRIPTS_SCHEMA).write.mode(
        "append").parquet(src)

    q = (
        stateful_conv_progress(stream_transcripts(spark, src))
        .writeStream.format("memory").queryName("convp")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    # last emitted row per conv is the final state
    rows = spark.sql(
        "SELECT conv_id, max(n_turns) AS n_turns, max(max_idx) AS max_idx "
        "FROM convp GROUP BY conv_id"
    ).collect()
    got = {(r["conv_id"], r["n_turns"], r["max_idx"]) for r in rows}
    exp = {
        (cid, len(g), int(g["turn_idx"].max()))
        for cid, g in tdf.groupby("conv_id")
    }
    assert got == exp


def test_streaming_canonical_maintenance(spark, transcripts_pdf, tmp_path):
    """Stream-of-folds == one-shot build: three conversation waves
    arrive as separate micro-batches (separate availableNow runs);
    the final committed snapshot must equal construct_canonical over
    everything, and each wave must have produced a new version with
    the _CURRENT pointer advancing."""
    from jena_spark.pipeline.canonicalize import construct_canonical
    from jena_spark.snapshots import SnapshotStore
    from jena_spark.streaming.ingest import start_canonical_maintenance

    tdf, _ = transcripts_pdf
    src = str(tmp_path / "csrc")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "cckpt")

    convs = sorted(tdf["conv_id"].unique())
    waves = [set(convs[i::3]) for i in range(3)]
    for i, wave in enumerate(waves):
        spark.createDataFrame(
            tdf[tdf["conv_id"].isin(wave)], TRANSCRIPTS_SCHEMA
        ).write.mode("append").parquet(src)
        q = start_canonical_maintenance(spark, src, store, ckpt)
        q.awaitTermination(180)
        assert SnapshotStore(store).read(spark) is not None

    got = {
        tuple(r) for r in
        SnapshotStore(store).read(spark).select(*TERM_COLS).collect()
    }
    want = {
        tuple(r) for r in
        construct_canonical(
            spark.createDataFrame(tdf, TRANSCRIPTS_SCHEMA)
        ).select(*TERM_COLS).collect()
    }
    assert got == want
    # three committed versions exist
    assert len(SnapshotStore(store).log()) >= 3


def test_canonical_maintenance_replay_after_commit_is_noop(
        spark, transcripts_pdf, tmp_path):
    """Crash between pointer-commit and checkpoint-commit: the engine
    replays the last epoch. The pointer==version guard must skip the
    replay (re-folding would duplicate the batch AND overwrite the
    directory being read) — snapshot unchanged, still equal to the
    one-shot build. Exercised directly through apply_canonical_batch
    (the foreachBatch body)."""
    from jena_spark.pipeline.canonicalize import construct_canonical
    from jena_spark.snapshots import SnapshotStore
    from jena_spark.streaming.ingest import apply_canonical_batch

    tdf, _ = transcripts_pdf
    store = str(tmp_path / "rstore")

    convs = sorted(tdf["conv_id"].unique())
    halves = [set(convs[0::2]), set(convs[1::2])]
    frames = [
        spark.createDataFrame(tdf[tdf["conv_id"].isin(h)], TRANSCRIPTS_SCHEMA)
        for h in halves
    ]
    assert apply_canonical_batch(spark, frames[0], 0, store) is True
    assert apply_canonical_batch(spark, frames[1], 1, store) is True

    before = {
        tuple(r) for r in
        SnapshotStore(store).read(spark).select(*TERM_COLS).collect()
    }
    # the crash-window replay: same epoch id again -> guard must skip
    assert apply_canonical_batch(spark, frames[1], 1, store) is False
    after = {
        tuple(r) for r in
        SnapshotStore(store).read(spark).select(*TERM_COLS).collect()
    }
    want = {
        tuple(r) for r in construct_canonical(
            spark.createDataFrame(tdf, TRANSCRIPTS_SCHEMA)
        ).select(*TERM_COLS).collect()
    }
    assert after == before == want
    # empty batch is also a skip
    empty = spark.createDataFrame([], TRANSCRIPTS_SCHEMA)
    assert apply_canonical_batch(spark, empty, 2, store) is False


def test_streaming_dedup_maintenance_matches_batch_fold(spark, tmp_path):
    """Stream of document batches folded through the hash store ==
    the batch fold chain == keep-first over arrival order."""
    from jena_spark.snapshots import SnapshotStore
    from jena_spark.streaming.ingest import (
        read_verdicts,
        start_dedup_maintenance,
    )

    inp = tmp_path / "docs_in"
    store = str(tmp_path / "dedup_store")
    ckpt = str(tmp_path / "ckpt")
    inp.mkdir()

    b1 = spark.createDataFrame(
        [(0, "alpha"), (1, "beta"), (2, "alpha")],
        "doc_id long, text string")
    b2 = spark.createDataFrame(
        [(10, "beta"), (11, "gamma"), (12, "gamma")],
        "doc_id long, text string")
    b1.coalesce(1).write.mode("append").parquet(str(inp))
    q = start_dedup_maintenance(spark, str(inp), store, ckpt)
    q.awaitTermination()
    b2.coalesce(1).write.mode("append").parquet(str(inp))
    q = start_dedup_maintenance(spark, str(inp), store, ckpt)
    q.awaitTermination()

    verdicts = {r["doc_id"]: (r["kept"], r["rep_id"])
                for r in read_verdicts(spark, store).collect()}
    assert verdicts == {
        0: (True, 0), 1: (True, 1), 2: (False, 0),   # batch 1
        10: (False, 1),                               # beta seen in b1
        11: (True, 11), 12: (False, 11),              # gamma new in b2
    }
    # the committed store holds one rep per distinct text ever seen
    state = {r["rep_id"] for r in
             SnapshotStore(store).read(spark).collect()}
    assert state == {0, 1, 11}
