"""Streaming flow sessionization + daily rollups.

The reference approximates a stream with daily CSV drops discovered
by S3 listing (import_events.py:179-186) and a 1-day late-data grace
(enrichments read day AND day+1, import_flow_events.py:170-171). The
Structured Streaming mapping (SURVEY §2.9):

- file source over the drop directory, drained once per scheduled
  run (streaming/core.py);
- `withWatermark("timestamp", "1 day")` — the same 1-day lateness
  contract, now enforced by the engine;
- session state per flow_id as a streaming aggregation in update
  mode: every enrichment the batch pipeline computes via
  UPDATE…FROM joins (J2-J6) is re-expressed as an incremental
  aggregate over the event stream — min(begin ts), max(flow_time),
  marker-event flags via max(bool), lexicographic max for
  locale/uid;
- exactly-once sink: foreachBatch MERGE-by-flow_id into the lake
  (idempotent per epoch — the reference's clear-day+insert contract).

State is bounded: the watermark evicts per-flow aggregation state one
day after the flow's last event, matching the reference's grace
window (SURVEY §7 trap 9).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fxa_activity_metrics_spark.functions.core import parse_continued_from
from fxa_activity_metrics_spark.schemas import FLOW, FLOW_METADATA_SCHEMA
from fxa_activity_metrics_spark.sources.lake import Lake
from fxa_activity_metrics_spark.streaming.activity_stream import read_dataset_stream
from fxa_activity_metrics_spark.streaming.core import day_drop_stream


def session_aggregate(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Per-flow session state as a streaming aggregation.

    Incremental re-expression of the batch enrichment chain
    (operators.flows): each column is an associative+commutative
    aggregate, so Spark maintains it in the state store and the
    result converges to the batch answer once the watermark passes.
    """
    is_begin = F.col("type") == "flow.begin"
    out = (
        events.withWatermark("timestamp", watermark)
        .groupBy("flow_id")
        .agg(
            F.min(F.when(is_begin, F.col("timestamp"))).alias("begin_time"),
            F.max("flow_time").alias("duration"),
            F.coalesce(F.max(F.col("type") == "flow.complete"), F.lit(False)).alias(
                "completed"
            ),
            F.coalesce(F.max(F.col("type") == "account.created"), F.lit(False)).alias(
                "new_account"
            ),
            F.max(F.when(is_begin, F.col("ua_browser"))).alias("ua_browser"),
            F.max(F.when(is_begin, F.col("ua_version"))).alias("ua_version"),
            F.max(F.when(is_begin, F.col("ua_os"))).alias("ua_os"),
            F.max(F.when(is_begin, F.col("context"))).alias("context"),
            F.max(F.when(is_begin, F.col("entrypoint"))).alias("entrypoint"),
            F.max(F.when(is_begin, F.col("migration"))).alias("migration"),
            F.max(F.when(is_begin, F.col("service"))).alias("service"),
            F.max(F.when(is_begin, F.col("utm_campaign"))).alias("utm_campaign"),
            F.max(F.when(is_begin, F.col("utm_content"))).alias("utm_content"),
            F.max(F.when(is_begin, F.col("utm_medium"))).alias("utm_medium"),
            F.max(F.when(is_begin, F.col("utm_source"))).alias("utm_source"),
            F.max(F.when(is_begin, F.col("utm_term"))).alias("utm_term"),
            F.min(F.when(is_begin, F.col("day"))).alias("export_date"),
            F.max("locale").alias("locale"),
            F.max("uid").alias("uid"),
            F.coalesce(
                F.max(
                    F.when(
                        F.col("type").startswith("flow.continued."),
                        parse_continued_from("type"),
                    )
                ),
                F.lit(""),
            ).alias("continued_from"),
        )
        .filter(F.col("begin_time").isNotNull())
    )
    # pin the output surface to the batch metadata schema — a silently
    # dropped column (round-1: utm_term) fails here at plan time
    return out.select([f.name for f in FLOW_METADATA_SCHEMA.fields])


def run_flow_sessions_stream(
    spark: SparkSession,
    source_dir: str,
    lake: Lake,
    checkpoint_dir: str,
    table: str = "flow_metadata_stream",
):
    """Wire source → session agg → merge sink; returns the query.

    The sink is a foreachBatch upsert: replace changed flow_ids, keep
    the rest. Idempotent per micro-batch — replaying an epoch converges
    to the same table state (exactly-once effect on the lake).

    The sink table is export_date-PARTITIONED and the merge is
    partition-granular (Lake.merge_replace): only the partitions
    holding an updated flow plus the batch's own export_dates are
    rewritten — the same treatment the batch session tables got in
    plans/incremental.py (flow_after_day). A minutes-level trigger
    therefore costs O(touched partitions) per micro-batch, never a
    full-table rewrite."""
    sessions = session_aggregate(read_dataset_stream(spark, source_dir, FLOW))

    def merge(batch_df: DataFrame) -> None:
        lake.merge_replace(
            table,
            batch_df,
            "export_date",
            "flow_id",
            schema=FLOW_METADATA_SCHEMA,
            sort_cols=["begin_time"],
        )

    return day_drop_stream(
        sessions, checkpoint_dir, merge, output_mode="update", checkpoint=True
    )


SESSION_STATS_SCHEMA = (
    "flow_id string, n_events long, first_ts timestamp, last_ts timestamp, "
    "max_flow_time long, completed boolean"
)
_STATE_SCHEMA = "n long, first long, last long, maxft long, done boolean"


def stateful_session_stats(
    events: DataFrame,
    timeout_ms: int = 24 * 3600 * 1000,
    watermark: str = "1 day",
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-flow
    running stats emitted when the flow goes quiet (event-time timeout
    one grace-day after the last event — the reference's 1-day
    lateness contract as a state TTL).

    This is the escape hatch for session semantics that are NOT an
    associative aggregate (the agg-based session_aggregate covers the
    reference's columns; this operator is the extension point for
    order-dependent logic). State is a single tiny tuple per live
    flow; batches arrive as Arrow, so the Python hop is vectorized.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def track(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            n, first, last, maxft, done = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "flow_id": [key[0]],
                    "n_events": [n],
                    "first_ts": [pd.Timestamp(first, unit="us")],
                    "last_ts": [pd.Timestamp(last, unit="us")],
                    "max_flow_time": [maxft],
                    "completed": [done],
                }
            )
            return
        n, first, last, maxft, done = (
            state.get if state.exists else (0, None, None, 0, False)
        )
        for pdf in pdfs:
            ts = pdf["timestamp"].astype("int64") // 1000  # ns → µs
            n += len(pdf)
            first = int(ts.min()) if first is None else min(first, int(ts.min()))
            last = int(ts.max()) if last is None else max(last, int(ts.max()))
            maxft = max(maxft, int(pdf["flow_time"].max()))
            done = done or bool((pdf["type"] == "flow.complete").any())
        state.update((n, first, last, maxft, done))
        # evict one grace-day after the flow's newest event (event
        # time), clamped ahead of the current watermark — late flows
        # processed after the watermark advanced (newest-file-first
        # listings) would otherwise request an already-passed timeout;
        # they fire in the next (possibly no-data) micro-batch
        state.setTimeoutTimestamp(
            max(last // 1000 + timeout_ms, state.getCurrentWatermarkMs() + 1)
        )
        return
        yield  # make this a generator on every path

    return (
        events.withWatermark("timestamp", watermark)
        .groupBy(F.col("flow_id"))
        .applyInPandasWithState(
            track,
            outputStructType=SESSION_STATS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_session_stats_stream(
    spark: SparkSession,
    source_dir: str,
    lake: Lake,
    checkpoint_dir: str,
    table: str = "flow_session_stats",
    timeout_ms: int = 24 * 3600 * 1000,
    watermark: str = "1 day",
):
    """Wire the stateful operator to an append-mode lake sink.

    The sink table is day-PARTITIONED on the session's begin day
    (first_ts) and merged partition-granularly: a re-emitted flow
    (new events after its state timed out) replaces its prior row,
    and only the touched day partitions are rewritten — untouched
    partitions keep their exact files."""
    events = read_dataset_stream(spark, source_dir, FLOW)
    stats = stateful_session_stats(events, timeout_ms=timeout_ms, watermark=watermark)

    def append(batch_df: DataFrame) -> None:
        lake.merge_replace(
            table,
            batch_df.withColumn("day", F.col("first_ts").cast("date")),
            "day",
            "flow_id",
        )

    return day_drop_stream(stats, checkpoint_dir, append, checkpoint=True)


def daily_event_counts_stream(events: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Tumbling 1-day windowed counts (SURVEY §2.9 'Windows
    (tumbling)'): the streaming analogue of the daily rollups."""
    return (
        events.withWatermark("timestamp", watermark)
        .groupBy(F.window("timestamp", "1 day").alias("w"), F.col("type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").cast("date").alias("day"), "type", "n_events")
    )


def run_daily_counts_stream(
    spark: SparkSession,
    source_dir: str,
    lake: Lake,
    checkpoint_dir: str,
    table: str = "daily_event_counts",
):
    """Day-partitioned exactly-once sink (SURVEY §2.9 'Exactly-once /
    idempotent sink'): foreachBatch merges each micro-batch's updated
    (day, type) rows into the touched day partitions and rewrites ONLY
    those partitions via dynamic partition overwrite — the streaming
    version of the reference's clear-day+insert contract
    (import_events.py:102-105). Replaying an epoch converges to the
    same partition contents."""
    counts = daily_event_counts_stream(read_dataset_stream(spark, source_dir, FLOW))

    def upsert(batch_df: DataFrame) -> None:
        days = [r["day"] for r in batch_df.select("day").distinct().collect()]
        if lake.exists(table):
            existing = lake.read_days(table, min(days), max(days))
            kept = existing.join(
                batch_df.select("day", "type"), ["day", "type"], "left_anti"
            )
            merged = kept.unionByName(batch_df.select(*kept.columns))
        else:
            merged = batch_df
        lake.write_days(table, merged, sort_cols=["type"])

    return day_drop_stream(
        counts, checkpoint_dir, upsert, output_mode="update", checkpoint=True
    )
