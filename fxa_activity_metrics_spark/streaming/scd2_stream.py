"""Streaming maintenance of a type-2 SCD dimension table — the §2.9
face of ``operators.summaries.scd2_history``.

Each arriving ``events-YYYY-MM-DD.json`` day-drop folds into the
stored ``scd2_history`` table via
``summaries.scd2_apply_increment``: the drop's keys replay their
stored CHANGE POINTS together with the new events through the same
gaps-and-islands collapse the batch operator uses, untouched keys
pass through an anti-join — so after every batch the table is
bit-identical to ``scd2_history`` over all events seen so far
(pinned in tests/test_streaming_scd2.py).

Replay safety: re-delivering a processed day is a no-op by
construction — its events are already change points (or folded into
a run), and collapsing (change points ∪ same events) reproduces the
same intervals, so the foreachBatch overwrite is idempotent under
checkpoint recovery. The cross-batch contract is the lake's usual
one: drops arrive in day order (a drop EARLIER than stored history
would interleave below existing change points, which the stored-
point tiebreak cannot order).

Scale shape per batch: one broadcast semi/anti on the day's key
churn, one single-exchange collapse over (touched keys' change
points + the day's events) — O(changed keys' history + day size),
never a full-history rewrite of untouched keys' interval math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from fxa_activity_metrics_spark import cacheutil
from fxa_activity_metrics_spark.operators.summaries import scd2_apply_increment
from fxa_activity_metrics_spark.sources.lake import Lake
from fxa_activity_metrics_spark.streaming.core import day_drop_stream, read_day_drops

SCD2_TABLE = "scd2_history"

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
    ]
)

SCD2_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("valid_from", T.TimestampType()),
        T.StructField("valid_to", T.TimestampType()),
        T.StructField("is_current", T.BooleanType()),
        T.StructField("open_event_id", T.LongType()),
    ]
)


def run_scd2_stream(
    spark: SparkSession,
    source_dir: str,
    lake: Lake,
    checkpoint_dir: str,
    table: str = SCD2_TABLE,
    schema: T.StructType = EVENTS_SCHEMA,
):
    """Maintain the SCD2 dimension table from a stream of
    ``events-YYYY-MM-DD.json`` day-drops. Returns the started query
    (drain-and-stop, the repo's batch-parity harness shape)."""
    events = read_day_drops(spark, source_dir, schema)

    def write(batch_df: DataFrame) -> None:
        stored = lake.read(table, SCD2_SCHEMA)
        out = scd2_apply_increment(stored, batch_df).transform(
            cacheutil.local_checkpoint
        )
        lake.overwrite(table, out)

    return day_drop_stream(events, checkpoint_dir, write, checkpoint=True)
