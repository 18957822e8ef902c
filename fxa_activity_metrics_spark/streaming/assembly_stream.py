"""Streaming training-chunk assembly: the §2.9 × dataset-assembly
cross — as document day-drops arrive, quality-gate them, split them
into fixed training windows, and tag each chunk with its
train/val/test assignment, landing a day-partitioned, ready-to-train
chunks table incrementally.

The whole micro-batch transform is joins-free: the quality gate is
the fixed-point classifier as a per-row projection (text carried
through via extra_cols, not re-joined), chunking is the per-row
generate+explode, and the split tag is the md5 split expression —
so a dirty drop with a duplicated doc_id yields exactly the batch
result (duplicated chunks), never a self-join fan-out.

Exactly-once: checkpointed file source + the idempotent per-day
dynamic-overwrite sink (the same contract as the dedup and
text-stats streams — replays rewrite only their own day
partitions). Because every step is deterministic (md5 splits,
integer-exact chunk rule, fixed-point scores), stream output ==
batch output over the same documents after any prefix of files —
pinned by tests/test_streaming_assembly.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from fxa_activity_metrics_spark.operators.assembly import (
    chunk_documents,
    quality_classifier,
    split_col,
)
from fxa_activity_metrics_spark.sources.lake import Lake
from fxa_activity_metrics_spark.streaming.dedup_stream import DOCS_SCHEMA
from fxa_activity_metrics_spark.streaming.core import day_drop_stream, read_day_drops


def training_chunks_batch(
    docs: DataFrame,
    chunk_size: int = 64,
    stride: int = 48,
    min_score_micro: int = 500_000,
) -> DataFrame:
    """The batch formulation the stream must equal: gate → chunk →
    split-tag, all per-row projections. ``docs`` needs (doc_id, text)
    plus any passthrough columns already present (day)."""
    extra = [c for c in ("day",) if c in docs.columns]
    gated = quality_classifier(docs, extra_cols=["text", *extra]).where(
        f"score_micro >= {int(min_score_micro)}"
    )
    chunks = chunk_documents(
        gated,
        chunk_size=chunk_size,
        stride=stride,
        extra_cols=["score", *extra],
    )
    return chunks.withColumn("split", split_col("doc_id"))


def run_training_chunks_stream(
    spark: SparkSession,
    source_dir: str,
    lake: Lake,
    checkpoint_dir: str,
    table: str = "training_chunks",
    schema=DOCS_SCHEMA,
    chunk_size: int = 64,
    stride: int = 48,
    min_score_micro: int = 500_000,
):
    """Stream document day-drops → quality-gated, split-tagged
    training chunks in a day-partitioned table. Returns the started
    query."""
    docs = read_day_drops(spark, source_dir, schema)

    def write_chunks(batch_df: DataFrame) -> None:
        out = training_chunks_batch(
            batch_df,
            chunk_size=chunk_size,
            stride=stride,
            min_score_micro=min_score_micro,
        )
        lake.write_days(table, out, sort_cols=["doc_id", "chunk_id"])

    return day_drop_stream(docs, checkpoint_dir, write_chunks)
