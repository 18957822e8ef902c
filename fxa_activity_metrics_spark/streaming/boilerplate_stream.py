"""Streaming maintenance of the boilerplate blocklist — the §2.9
face of operators.dedup.remove_boilerplate, following the family
pattern (lm_stream maintains LM counts, sketch_stream the CMS/MG/KMV
rows, this the segment doc-frequency table).

Doc-frequency decomposes by day EXACTLY: each document arrives in
one day-drop, so df(seg) = Σ_days |{day's docs containing seg}| — a
per-day distinct-doc count is computed from the increment only and
written through the idempotent day sink (replace-the-day), and the
corpus-wide frequency is an associative read-time SUM across day
partitions. A replayed epoch or re-dropped day therefore converges
instead of double-counting, and the stream-maintained blocklist is
bit-equal to the one-shot batch frequent_segments over the same
documents (pinned in tests/test_streaming_boilerplate.py).

Scale: per micro-batch work is one explode + one map-side-combining
distinct/groupBy over the increment; the lake table grows by
O(distinct segments per day) 32-byte hashes, and the read-time fold
is one groupBy(seg_hash) SUM with the min_docs gate applied AFTER
the fold (a segment seen once on each of three days IS boilerplate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fxa_activity_metrics_spark.operators.dedup import text_segments, tokens
from fxa_activity_metrics_spark.sources.lake import Lake
from fxa_activity_metrics_spark.streaming.dedup_stream import DOCS_SCHEMA
from fxa_activity_metrics_spark.streaming.core import day_drop_stream, read_day_drops

SEGMENTS_DAY_SCHEMA = T.StructType(
    [
        T.StructField("seg_hash", T.StringType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("day", T.DateType()),
    ]
)


def day_segment_counts(docs: DataFrame, width: int = 8) -> DataFrame:
    """Per-day distinct-doc counts per segment hash from a frame
    carrying a ``day`` column: (seg_hash, n_docs, day). The day-keyed
    twin of operators.dedup.frequent_segments' aggregation — same
    segmentation, same md5 hashes, no threshold (thresholding happens
    after the cross-day fold)."""
    return (
        docs.select("day", "doc_id", tokens("text").alias("_toks"))
        .select("day", "doc_id", F.explode(text_segments(width)).alias("seg"))
        .select("day", "doc_id", F.md5("seg").alias("seg_hash"))
        .distinct()
        .groupBy("day", "seg_hash")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .select("seg_hash", "n_docs", "day")
    )


def run_segment_counts_stream(
    spark: SparkSession,
    source_dir: str,
    lake: Lake,
    checkpoint_dir: str,
    table: str = "boiler_segments",
    width: int = 8,
    schema: T.StructType = DOCS_SCHEMA,
):
    """Maintain the day-partitioned segment doc-frequency table from
    a stream of `documents-YYYY-MM-DD.json` day-drops. Returns the
    started query."""
    docs = read_day_drops(spark, source_dir, schema)

    def write_counts(batch_df: DataFrame) -> None:
        lake.write_days(table, day_segment_counts(batch_df, width), sort_cols=["seg_hash"])

    return day_drop_stream(docs, checkpoint_dir, write_counts, checkpoint=True)


def blocklist_from_lake(
    lake: Lake, min_docs: int = 2, table: str = "boiler_segments"
) -> DataFrame:
    """Fold the day partitions into the corpus-wide blocklist:
    (seg_hash, n_docs) for segments in >= min_docs distinct docs
    across every ingested day. Pass straight to
    remove_boilerplate(..., blocklist=...)."""
    return (
        lake.read(table, SEGMENTS_DAY_SCHEMA)
        .groupBy("seg_hash")
        .agg(F.sum("n_docs").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
