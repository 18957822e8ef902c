"""Streaming text-curation stats: the §2.9 × text-analysis cross.

Each arriving document day-drop (`documents-YYYY-MM-DD.json`, the
same source contract as the streaming dedup importers) is scored
with the BATCH text operators — quality stats + PII category counts
— and written to a day-partitioned stats table through the batch day
sink. Stream and batch writers are interchangeable: after any prefix
of files the table equals the batch computation over the same
documents (pinned by tests/test_streaming_textstats.py), and the
per-day dynamic-overwrite sink makes replays idempotent.

At scale this is the curation front-door: per-document scores land
incrementally as corpus shards arrive, with exactly-once semantics
from the checkpointed file source + idempotent day sink, and the
scoring itself is the same one-scan JVM projection the batch path
uses (no state, no watermark needed — pure per-row enrichment).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fxa_activity_metrics_spark.operators.textstats import (
    pii_count_cols,
    text_stats,
)
from fxa_activity_metrics_spark.sources.lake import Lake
from fxa_activity_metrics_spark.streaming.dedup_stream import DOCS_SCHEMA
from fxa_activity_metrics_spark.streaming.core import day_drop_stream, read_day_drops


def run_text_stats_stream(
    spark: SparkSession,
    source_dir: str,
    lake: Lake,
    checkpoint_dir: str,
    table: str = "doc_stats",
    schema=DOCS_SCHEMA,
):
    """Stream document day-drops → per-doc quality + PII stats into a
    day-partitioned table. Returns the started query."""
    docs = read_day_drops(spark, source_dir, schema)

    def write_stats(batch_df: DataFrame) -> None:
        # ONE projection: quality stats, PII counts, and the day are
        # all per-row expressions — no joins, so a dirty drop with a
        # duplicated doc_id stays two rows (as in batch) instead of
        # fanning out across self-joins
        out = text_stats(
            batch_df, extra=[*pii_count_cols("text"), F.col("day")]
        )
        lake.write_days(table, out, sort_cols=["doc_id"])

    return day_drop_stream(docs, checkpoint_dir, write_stats)
