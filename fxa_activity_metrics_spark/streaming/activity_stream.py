"""Streaming dataset import: the file-source twin of the batch
ImportJob (EP1), sharing its exact semantics — works for any flat
dataset descriptor (activity, email).

Each micro-batch is one day-file (`maxFilesPerTrigger=1` — the
reference's one-file-per-day cadence, import_events.py:179-186). The
file's day is recovered from its NAME via input_file_name(), so the
straggler filter (rows outside the file's day are dropped,
import_events.py:118) and the idempotent day sink (dynamic partition
overwrite) behave byte-for-byte like the batch path. Cohort sampling
fans the same batch into the three sampled lake variants.

Checkpointing makes re-runs exactly-once at the partition level: a
replayed file overwrites its own day partition with identical rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fxa_activity_metrics_spark.functions.core import day_of, sample_cohort, ts_from_epoch
from fxa_activity_metrics_spark.schemas import ACTIVITY, Dataset, SAMPLE_RATES
from fxa_activity_metrics_spark.sources.lake import Lake
from fxa_activity_metrics_spark.streaming.core import day_drop_stream, read_day_drops


def read_dataset_stream(
    spark: SparkSession, source_dir: str, dataset: Dataset = ACTIVITY
) -> DataFrame:
    """Typed event stream: declared schema (never inferred), epoch
    → timestamp, event day, and the owning file's day."""
    raw = read_day_drops(
        spark, source_dir, dataset.csv_schema, dataset.csv_prefix, day_col="_file_day"
    )
    return raw.withColumn("timestamp", ts_from_epoch("timestamp")).withColumn(
        "day", day_of("timestamp")
    )


def run_dataset_import_stream(
    spark: SparkSession,
    source_dir: str,
    lake: Lake,
    checkpoint_dir: str,
    dataset: Dataset = ACTIVITY,
):
    """source stream → straggler filter → 3 sampled day-partition
    sinks. Returns the started query."""
    events = read_dataset_stream(spark, source_dir, dataset)
    perm_cols = [f.name for f in dataset.lake_schema.fields if f.name != "day"]

    def sink(batch_df: DataFrame) -> None:
        # reference straggler filter: keep rows whose UTC day == the
        # day encoded in the source filename (import_events.py:118)
        day_rows = batch_df.filter(F.col("day") == F.col("_file_day"))
        for suffix, percent, _months in SAMPLE_RATES:
            typed = day_rows.filter(sample_cohort(dataset.id_column, percent)).select(
                *perm_cols, "day"
            )
            lake.write_days(f"{dataset.name}{suffix}", typed)

    return day_drop_stream(events, checkpoint_dir, sink, checkpoint=True)
