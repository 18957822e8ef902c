"""Streaming end-to-end curation — the pipeline composition the
extension operators exist for, maintained over a document stream:
per-increment QUALITY GATE → day-partitioned curated state →
EXACT-DEDUP keepers → SEQUENCE-PACKING manifest.

Split of work follows the engine's streaming doctrine (dedup_stream,
lm_stream): the per-document work (quality stats, content hashing)
runs ONCE per increment inside foreachBatch and lands in a
day-partitioned lake table through the idempotent day sink; the
GLOBAL steps (keeper election across all ingested days, bin packing)
are derived from lake state at manifest time — they depend on the
whole corpus by definition (a later day can introduce a smaller-id
duplicate that steals keepership), so deriving them is the correct
streaming semantics, not a shortcut. At every point
``manifest_from_lake`` equals the batch ``training_manifest``
composition over everything ingested so far (pinned in
tests/test_streaming_curation.py, including across restart and
replay).

Scale: the foreachBatch stage is one projection over the increment
(text_stats + md5 — no shuffle); manifest derivation is one
keeper groupBy + one semi-join + the block-sharded pack — the same
plan the batch path runs. A stricter gate (e.g. the LM perplexity
gate) composes by swapping the gate expression in
``run_curation_stream`` and scoring against the lm_stream-maintained
count model; the state/manifest split is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fxa_activity_metrics_spark.operators.textstats import (
    pack_sequences,
    text_stats,
)
from fxa_activity_metrics_spark.sources.lake import Lake
from fxa_activity_metrics_spark.streaming.dedup_stream import DOCS_SCHEMA
from fxa_activity_metrics_spark.streaming.core import day_drop_stream, read_day_drops

CURATED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("content_hash", T.StringType()),
        T.StructField("day", T.DateType()),
    ]
)


def run_curation_stream(
    spark: SparkSession,
    source_dir: str,
    lake: Lake,
    checkpoint_dir: str,
    table: str = "curated_docs",
    min_quality: float = 0.5,
    schema: T.StructType = DOCS_SCHEMA,
):
    """Maintain the day-partitioned curated-survivor table from
    `documents-YYYY-MM-DD.json` day-drops: each batch computes the
    per-doc quality gate + content hash from the increment only and
    writes through the replace-the-day sink, so replays and
    re-imports converge. Returns the started query."""
    docs = read_day_drops(spark, source_dir, schema)

    def write_curated(batch_df: DataFrame) -> None:
        survivors = (
            text_stats(
                batch_df,
                extra=[
                    F.col("text"),
                    F.md5(F.col("text")).alias("content_hash"),
                    F.col("day"),
                ],
            )
            .filter(F.col("quality_score") >= min_quality)
            .select("doc_id", "text", "content_hash", "day")
        )
        lake.write_days(table, survivors, sort_cols=["doc_id"])

    return day_drop_stream(docs, checkpoint_dir, write_curated, checkpoint=True)


def manifest_from_lake(
    lake: Lake,
    table: str = "curated_docs",
    capacity: int = 512,
    block_size: int = 64,
) -> DataFrame:
    """Derive the training manifest from the stream-maintained
    curated state: exact-dedup keeper election (min doc_id per
    content hash — identical to ``dedup.exact_duplicates``) across
    ALL ingested days, then block-sharded next-fit packing. Output
    (doc_id, n_tokens, bin_id) — bit-equal to the batch
    ``training_manifest`` composition over the same documents."""
    curated = lake.read(table, CURATED_SCHEMA)
    keepers = (
        curated.groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept = curated.select("doc_id", "text").join(keepers, "doc_id", "left_semi")
    return pack_sequences(kept, capacity=capacity, block_size=block_size)
