"""Streaming corpus ingest with dedup against a historical store.

The production ingest-dedup shape: new documents arrive as a stream;
each micro-batch is (1) deduped WITHIN the batch, (2) anti-joined
against the persistent fingerprint store (documents seen in any prior
batch or any prior run), and (3) the survivors are appended to both
the corpus sink and the fingerprint store — all inside ONE
``foreachBatch`` transaction per micro-batch.

Why foreachBatch instead of a stateful operator: the fingerprint
store must outlive the streaming query (it IS the corpus registry —
new runs, backfills, and batch jobs all consult it), so it lives as a
parquet table, not in the state store. applyInPandasWithState keeps
per-key state inside the query's checkpoint; this keeps it in the
lake. The two compose: in-query state for hot short-horizon dedup
(streaming/events.py:first_event_dedup), the store for
corpus-lifetime exactness.

Scale notes: the anti-join is a shuffle join keyed by fingerprint —
both sides hash-partition, no broadcast of the (unbounded) store; at
100 TB the store would be bucketed by fingerprint
(plans/bucketing.py) so each batch's anti-join reads only matching
buckets. The store append is partitioned parquet; batch id is
recorded so replays of a failed batch (foreachBatch may re-run a
batch after recovery) can be made idempotent by filtering out rows
of the replayed batch id before re-appending.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "fingerprints",
    "make_batch_processor",
    "start_corpus_neardup_ingest",
    "start_ingest_dedup",
]


def fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalized-text md5 fingerprint per row (same normalization as
    operators/dedup.exact_duplicates: collapse whitespace, trim,
    ASCII-fold — locale-free, see operators/text.ascii_lower)."""
    from nbody6_data_pipeline_spark.operators.text import ascii_lower

    norm = ascii_lower(
        F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))
    )
    return docs.withColumn("fingerprint", F.md5(norm))


def make_batch_processor(
    out_base: str, id_col: str = "doc_id", text_col: str = "text"
):
    """Build the per-micro-batch function (exposed separately so the
    crash-replay idempotency — foreachBatch may re-run a batch id
    after recovery — is directly testable)."""
    corpus_dir = os.path.join(out_base, "corpus")
    seen_dir = os.path.join(out_base, "seen")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        fp = fingerprints(batch_df, text_col)
        # (1) within-batch dedup: keep the lowest id per fingerprint
        best = (
            fp.groupBy("fingerprint")
            .agg(F.min(id_col).alias("_keep"))
        )
        batch_unique = fp.join(
            best,
            (fp["fingerprint"] == best["fingerprint"])
            & (fp[id_col] == best["_keep"]),
        ).select(fp["*"])
        # (2) drop fingerprints already in the store (idempotent
        # replay: ignore rows this same batch id wrote before a crash)
        try:
            seen = s.read.parquet(seen_dir).filter(
                F.col("batch_id") != batch_id
            )
            fresh = batch_unique.join(
                seen.select("fingerprint"), "fingerprint", "left_anti"
            )
        except Exception:  # first batch: no store yet
            fresh = batch_unique
        fresh = fresh.localCheckpoint()  # one computation, two writes
        # (3) write survivors to corpus + store, PARTITIONED BY batch
        # id with dynamic overwrite: a replayed batch REPLACES its own
        # partition instead of appending next to the crashed attempt's
        # rows — this is what makes foreachBatch recovery exactly-once
        # on a plain parquet sink (an append here would duplicate)
        (
            fresh.drop("fingerprint")
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(corpus_dir)
        )
        (
            fresh.select(
                "fingerprint",
                F.col(id_col).alias("first_doc_id"),
                F.lit(batch_id).alias("batch_id"),
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(seen_dir)
        )

    return process_batch


def start_ingest_dedup(
    spark: SparkSession,
    stream: DataFrame,
    out_base: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Start the ingest-dedup stream over ``stream`` (a streaming
    DataFrame of documents). Returns the StreamingQuery.

    Layout under ``out_base``:
      corpus/   deduped documents (batch_id-partitioned parquet)
      seen/     fingerprint store: (fingerprint, first_doc_id) per batch
    """
    process_batch = make_batch_processor(out_base, id_col, text_col)
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(out_base, "_checkpoint"))
        .start()
    )


def start_corpus_neardup_ingest(
    spark: SparkSession,
    stream: DataFrame,
    out_dir: str,
    checkpoint: str | None = None,
):
    """Continuous NEAR-dup corpus maintenance: each micro-batch runs
    the full delta funnel of ``corpus_pipeline.update_training_corpus``
    (quality gate -> exact/vocab dedup vs the fingerprint index ->
    banded near-dup vs the corpus band index -> intra-batch near-dup
    -> append survivors + indexes) against a corpus built by
    ``build_training_corpus``. Returns the StreamingQuery.

    Complements ``start_ingest_dedup``: that one is EXACT-only and
    keeps its own normalized-fingerprint store with batch-partitioned
    exactly-once writes; this one additionally catches near-duplicates
    of anything the corpus has ever kept, at the cost of several jobs
    per batch and a weaker recovery contract — a completed batch
    replays to zero appends (all its survivors are indexed), but the
    appends within one batch are not jointly atomic (see
    update_training_corpus; its manifest, written last per batch as
    delta_manifest_<batch_id>.json, is the per-batch commit record).
    """
    from nbody6_data_pipeline_spark.corpus_pipeline import (
        update_training_corpus,
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        update_training_corpus(
            batch_df.sparkSession,
            batch_df,
            out_dir,
            manifest_name=f"delta_manifest_{batch_id}.json",
        )

    return (
        stream.writeStream.foreachBatch(process_batch)
        .option(
            "checkpointLocation",
            checkpoint or os.path.join(out_dir, "_checkpoint"),
        )
        .start()
    )
