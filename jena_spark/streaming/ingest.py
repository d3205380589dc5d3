"""Incremental transcript ingest via Structured Streaming.

``foreachBatch`` reuses the exact batch extraction + materialize code —
the streaming layer adds incrementality, not new semantics (the
reference's StreamRDF parses incrementally into the same Graph.add
path, ``riot/system/StreamRDF.java`` → ``Graph.java:84``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from jena_spark.pipeline.extract import raw_triples
from jena_spark.schemas import TRANSCRIPTS_SCHEMA
from jena_spark.snapshots import SnapshotStore


def stream_transcripts(spark: SparkSession, input_path: str) -> DataFrame:
    """File-source stream of transcript rows (new files = new turns)."""
    return (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(input_path)
    )


def start_ingest(
    spark: SparkSession,
    input_path: str,
    out_path: str,
    checkpoint: str,
    gazetteer: dict | None = None,
):
    """Micro-batch ingest: per batch, run extraction and append the
    triples. Exactly-once via the streaming checkpoint (offsets) +
    idempotent dedup downstream. Returns the StreamingQuery."""
    stream = stream_transcripts(spark, input_path)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        triples = raw_triples(batch_df, gazetteer)
        triples.write.mode("append").parquet(out_path)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def windowed_mention_counts(
    transcripts_stream: DataFrame,
    gazetteer: dict | None = None,
    window_dur: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked event-time windowed aggregation: mention counts per
    (time window, surface). The watermark bounds state for late turns —
    turns later than ``watermark`` behind the max event time are
    dropped, which is the standard Structured Streaming late-data
    policy; state size is O(windows-in-flight x surfaces), both bounded.
    The mention extractor is the same Arrow-batched UDF as the batch
    path (one rule set, two execution modes)."""
    from pyspark.sql import functions as F

    from jena_spark.pipeline.extract import mentions_udf

    udf = mentions_udf(gazetteer)
    mentions = (
        transcripts_stream.withWatermark("ts", watermark)
        .select("ts", F.explode(udf(F.col("text"))).alias("surface"))
    )
    return mentions.groupBy(
        F.window("ts", window_dur).alias("w"), "surface"
    ).agg(F.count("*").alias("n"))


def stateful_conv_progress(transcripts_stream: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per
    conversation, maintain (turn count, max turn index) across
    micro-batches and emit the updated running summary each batch —
    the arbitrary-state analog of the reference's incremental
    StreamRDF accumulation into a Graph. State is one tiny tuple per
    conv_id; at 10^12 turns the state store shards by conv_id exactly
    like every other conv-keyed stage."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "conv_id string, n_turns long, max_idx integer"
    state_schema = "n long, mx integer"

    def update(key, pdfs, state):
        n, mx = state.get if state.exists else (0, -1)
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, int(pdf["turn_idx"].max()))
        state.update((n, mx))
        yield pd.DataFrame({"conv_id": [key[0]], "n_turns": [n], "max_idx": [mx]})

    return transcripts_stream.groupBy("conv_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


# --- streaming canonical maintenance ---------------------------------------

def start_canonical_maintenance(
    spark: SparkSession,
    input_path: str,
    store_path: str,
    checkpoint: str,
    gazetteer: dict | None = None,
):
    """Continuous KG maintenance: per micro-batch, FOLD the arriving
    conversations into the canonical snapshot with
    :func:`jena_spark.pipeline.canonicalize.construct_incremental`
    (first batch bootstraps via ``construct_canonical``) and commit a
    new snapshot version.

    This is the deployment loop of a continuously-arriving
    10^12-turn corpus: the per-batch cost is the incremental fold
    (pure append when no representative re-election — the common
    case), never a rebuild. Each batch commits one snapshot
    (:mod:`jena_spark.snapshots`), so a crash anywhere leaves the
    previous snapshot live; :func:`apply_canonical_batch` skips the
    replay of an epoch that already committed. The invariant
    stream-of-folds == one-shot build is asserted in
    ``tests/test_streaming.py``, including the replay-after-commit case.
    """
    stream = stream_transcripts(spark, input_path)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        apply_canonical_batch(spark, batch_df, epoch_id, store_path, gazetteer)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def apply_canonical_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    store_path: str,
    gazetteer: dict | None = None,
) -> bool:
    """One fold of :func:`start_canonical_maintenance` (module-level so
    the replay guard is directly testable). Returns True if the batch
    was applied, False if skipped (empty, or already committed).

    The replay guard — the head is already this epoch's snapshot — is
    the crash-window defense: a crash AFTER the head swap but BEFORE
    the streaming checkpoint commit makes the engine replay this
    epoch, and re-folding would duplicate the batch
    (construct_incremental's append-only contract). A crash BEFORE the
    swap needs no guard: the head still names the older snapshot and
    the replay recommits from it.
    """
    from jena_spark.pipeline.canonicalize import (
        construct_canonical,
        construct_incremental,
    )

    store = SnapshotStore(store_path)
    op = f"fold epoch {epoch_id}"
    if batch_df.isEmpty() or _applied(store, op):
        return False
    cur = store.read(spark)
    store.commit(op, construct_canonical(batch_df, gazetteer) if cur is None
                 else construct_incremental(cur, batch_df, gazetteer))
    return True


def _applied(store: SnapshotStore, operation: str) -> bool:
    head = store.head()
    return head is not None and head["operation"] == operation


# --- streaming corpus dedup maintenance --------------------------------------

def stream_documents(spark: SparkSession, input_path: str) -> DataFrame:
    """File-source stream of (doc_id, text) document rows (new files =
    new corpus batches); extra parquet columns are pruned at the scan."""
    return (
        spark.readStream.schema("doc_id long, text string")
        .parquet(input_path)
    )


def apply_dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    epoch_id: int,
    store_path: str,
) -> bool:
    """One fold of :func:`start_dedup_maintenance`: run
    :func:`jena_spark.data.dedup.exact_dedup_incremental` against the
    current hash-store snapshot, append this batch's verdicts under
    ``verdicts/v{epoch}`` and commit the grown store as a snapshot.
    Same crash discipline and replay guard as
    :func:`apply_canonical_batch`; the verdict dir is keyed by epoch and
    rewritten whole, so a replay before the commit reproduces it."""
    import os

    from jena_spark.data.dedup import exact_dedup_incremental

    store = SnapshotStore(store_path)
    op = f"dedup epoch {epoch_id}"
    if batch_df.isEmpty() or _applied(store, op):
        return False
    verdicts, state = exact_dedup_incremental(batch_df, store.read(spark))
    verdicts.write.mode("overwrite").parquet(
        os.path.join(store_path, "verdicts", f"v{epoch_id}"))
    store.commit(op, state)
    return True


def start_dedup_maintenance(
    spark: SparkSession,
    input_path: str,
    store_path: str,
    checkpoint: str,
):
    """Continuous corpus dedup: per micro-batch, FOLD the arriving
    documents into the persistent exact-dedup hash store
    (:func:`jena_spark.data.dedup.exact_dedup_incremental`) — the
    streaming composition of the incremental fold, exactly how a
    continuously-crawled corpus keeps itself deduplicated: per-batch
    cost is one hash aggregate over the NEW batch + one store join;
    the keep-first total order is arrival order then id, and the
    fold-chain == one-shot invariant carries over from the batch op
    (asserted stream-vs-batch in ``tests/test_streaming.py``).
    Returns the StreamingQuery."""
    stream = stream_documents(spark, input_path)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        apply_dedup_batch(spark, batch_df, epoch_id, store_path)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_verdicts(spark: SparkSession, store_path: str) -> DataFrame:
    """All per-batch dedup verdicts committed so far (union of the
    ``verdicts/v{epoch}`` version dirs). Reads via a glob — Spark logs
    a spurious-but-benign FileNotFoundException stack trace for the
    ``_spark_metadata`` probe on glob paths (see CLAUDE.md quirks);
    the versioned dirs themselves are the crash-safety design
    (overwrite-idempotent per epoch, unlike a flat append)."""
    import os

    return spark.read.parquet(os.path.join(store_path, "verdicts", "v*"))
