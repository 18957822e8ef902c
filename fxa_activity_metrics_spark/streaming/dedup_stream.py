"""Streaming exact dedup: content-hash keeper state over a document
stream — the §2.9 (streaming) face of operators.dedup.

Documents arrive as day-files; each micro-batch updates a running
(content_hash → keeper_id, n_copies) aggregation in the state store
and merges changed hashes into the lake table, so at every point the
table equals the batch `exact_duplicates` over everything ingested so
far (pinned by tests/test_streaming_dedup.py, including across a
restart from checkpoint).

Scale notes:
- the stream aggregation is associative (min/sum) → map-side partial
  per micro-batch; state is one row per DISTINCT content hash, the
  same cardinality any exact dedup must hold somewhere;
- content-hash state has no event-time to expire on — production
  bounds it by retention (drop hashes not seen for N days via a
  TTL'd state key, or periodically rebuild from the lake); the
  reference's pipeline has the same property in its Redshift tables;
- the merge sink replaces changed hashes only (idempotent per epoch,
  exactly-once effect on the lake), identical to the flow-session
  merge contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fxa_activity_metrics_spark.sources.lake import Lake
from fxa_activity_metrics_spark.streaming.core import day_drop_stream, read_day_drops

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


def dedup_aggregate(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Running keeper state: same expression as the batch
    exact_duplicates (operators/dedup.py) — md5 digest, min id,
    copy count — maintained incrementally per micro-batch."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def run_signature_import_stream(
    spark: SparkSession,
    source_dir: str,
    lake: Lake,
    checkpoint_dir: str,
    table: str = "dedup_signatures",
    num_hashes: int = 8,
    shingle_n: int = 3,
    schema: T.StructType = DOCS_SCHEMA,
):
    """Streaming twin of plans.dedup_incremental.append_signatures:
    each arriving document day-file is signed (MinHash over its
    increment only) and written to the same day-partitioned signature
    table the batch plan maintains — the file's day recovered from
    its name, the sink idempotent per day. After any prefix of files,
    `incremental_candidates` works on the table unchanged; batch and
    stream writers are interchangeable (pinned by
    tests/test_streaming_dedup.py). Returns the started query."""
    from fxa_activity_metrics_spark.operators.dedup import minhash_signature

    docs = read_day_drops(spark, source_dir, schema)

    # signing happens INSIDE the batch writer via the shared batch
    # operator, so stream and batch produce byte-identical signature
    # rows and the sink is the batch day sink (idempotent per day)
    def write_signed(batch_df: DataFrame) -> None:
        out = minhash_signature(
            batch_df, "doc_id", "text", num_hashes, shingle_n
        ).join(batch_df.select(F.col("doc_id").alias("id"), "day"), "id")
        lake.write_days(table, out, sort_cols=["id"])

    return day_drop_stream(docs, checkpoint_dir, write_signed)


def run_incremental_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    lake: Lake,
    checkpoint_dir: str,
    sig_table: str = "dedup_signatures",
    cand_table: str = "dedup_candidates",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    schema: T.StructType = DOCS_SCHEMA,
):
    """End-to-end streaming near-dup dedup: each arriving day-file is
    signed into the signature table AND its incremental candidate
    pairs (new day × full history, via banding the persisted sigs —
    plans.dedup_incremental semantics) are written to a
    day-partitioned candidates table. After any prefix of files, the
    candidates table equals the one-shot LSH candidate set over
    everything ingested (pinned by tests/test_streaming_dedup.py).

    Both sinks are idempotent per day (dynamic partition overwrite),
    so a replayed epoch converges to identical lake state. Each
    micro-batch is a fresh plan over the lake — no cross-snapshot
    union, so the ReuseExchange stale-listing trap in the batch
    backfill cannot arise here. Returns the started query.
    """
    from fxa_activity_metrics_spark.operators.dedup import minhash_signature
    from fxa_activity_metrics_spark.plans.dedup_incremental import (
        incremental_candidates,
    )

    docs = read_day_drops(spark, source_dir, schema)

    def write(batch_df: DataFrame) -> None:
        sigs = minhash_signature(
            batch_df, "doc_id", "text", num_hashes, shingle_n
        ).join(batch_df.select(F.col("doc_id").alias("id"), "day"), "id")
        lake.write_days(sig_table, sigs, sort_cols=["id"])
        days = [r["day"] for r in batch_df.select("day").distinct().collect()]
        for day in sorted(days):
            cands = incremental_candidates(
                lake, day, num_hashes=num_hashes, band_size=band_size, table=sig_table
            )
            lake.write_days(
                cand_table,
                cands.withColumn("day", F.lit(day)),
                sort_cols=["id_a", "id_b"],
            )

    return day_drop_stream(docs, checkpoint_dir, write)


def run_exact_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    lake: Lake,
    checkpoint_dir: str,
    table: str = "dedup_keepers",
):
    """Wire source → running dedup agg → merge sink; returns the
    query. In update output mode each micro-batch emits only the
    hashes it touched; the sink upserts them by content_hash —
    replace changed hashes, keep the rest (idempotent per epoch)."""
    agg = dedup_aggregate(read_day_drops(spark, source_dir, DOCS_SCHEMA))

    def merge(batch_df: DataFrame) -> None:
        if lake.exists(table):
            existing = lake.read(table)
            kept = existing.join(
                batch_df.select("content_hash"), "content_hash", "left_anti"
            )
            merged = kept.unionByName(batch_df)
        else:
            merged = batch_df
        lake.overwrite(table, merged)

    return day_drop_stream(
        agg, checkpoint_dir, merge, output_mode="update", checkpoint=True
    )
