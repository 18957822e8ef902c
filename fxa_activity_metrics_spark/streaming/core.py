"""The streaming day-drop skeleton every foreachBatch stream shares.

The reference's workload is one file per day, dropped into a directory
and imported idempotently per day partition (import_events.py:102-118,
179-186). Each stream here makes the same four decisions, and they
live in this module only:

1. Source: a file-source stream with the declared schema (never
   inferred) and one file per trigger, the day-batch cadence. CSV drops
   keep to their own dataset's `{prefix}-*.csv` files (drop directories
   hold several datasets, as the batch driver assumes) and keep the ''
   missing-value sentinel of the batch loader.
2. File day: each row carries the name of its file and the day parsed
   from it.
3. Batch prologue: every micro-batch runs under a `cacheutil.scope()`
   (it runs on a stream-execution thread, so it may release only its
   own frames), is optionally localCheckpoint-ed FIRST so it is computed
   once, skips when empty, and fails with one actionable error on a
   file whose name has no day (one one-row job does both).
4. Start: checkpointLocation + foreachBatch + availableNow, the
   drain-and-stop cadence of a scheduled day import.

Each `run_*_stream` supplies only its own batch logic.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fxa_activity_metrics_spark import cacheutil
from fxa_activity_metrics_spark.sources.csv import restore_empty_strings

SRC_FILE = "_src_file"
_FILE_DAY_RE = r"([0-9]{4}-[0-9]{2}-[0-9]{2})\.(csv|json)$"


def _file_day(path: F.Column) -> F.Column:
    # try_cast: an unparseable name yields NULL here (an ANSI cast would
    # throw an opaque CAST_INVALID_INPUT mid-plan) and the batch
    # prologue raises the actionable error instead
    return F.regexp_extract(path, _FILE_DAY_RE, 1).try_cast("date")


def read_day_drops(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    csv_prefix: str | None = None,
    day_col: str = "day",
) -> DataFrame:
    """Stream of the day-files in ``source_dir``: JSON, or headerless
    CSV named ``{csv_prefix}-YYYY-MM-DD.csv`` when a prefix is given.
    Adds the source file name (``_src_file``) and its day (``day_col``)."""
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
    if csv_prefix is None:
        raw = reader.json(source_dir)
    else:
        raw = restore_empty_strings(
            reader.option("pathGlobFilter", f"{csv_prefix}-*.csv")
            .option("emptyValue", "")
            .csv(source_dir),
            schema,
        )
    return raw.withColumn(SRC_FILE, F.input_file_name()).withColumn(
        day_col, _file_day(F.col(SRC_FILE))
    )


def _first_file_day(batch_df: DataFrame) -> Row | None:
    """The batch's file and its day; None for an empty batch. A batch
    holds ONE file (maxFilesPerTrigger=1), so its first row names it
    and this one-row job replaces the emptiness check.

    Fails fast on a file not named `*-YYYY-MM-DD.csv|json`: a null day
    would land its rows in the default partition (or, for CSV, drop
    them all as stragglers), silently outside every read_days /
    incremental_candidates window."""
    row = batch_df.select(SRC_FILE, _file_day(F.col(SRC_FILE)).alias("day")).head()
    if row is not None and row["day"] is None:
        raise ValueError(
            "day-files must be named '<prefix>-YYYY-MM-DD.csv' or "
            f"'<prefix>-YYYY-MM-DD.json'; cannot parse a day from: {[row[SRC_FILE]]}"
        )
    return row


def day_drop_stream(
    frame: DataFrame,
    checkpoint_dir: str,
    sink: Callable[[DataFrame], None],
    output_mode: str = "append",
    checkpoint: bool = False,
):
    """Start ``frame`` into ``sink`` (called once per non-empty
    micro-batch) and return the started availableNow query.

    ``checkpoint`` localCheckpoints each batch before anything else
    reads it: this severs the micro-batch lineage (joining a
    streaming-derived frame against a batch read of the sink table
    otherwise trips attribute resolution) and keeps every later action
    from recomputing the batch. A batch that still carries
    ``_src_file`` has its file days checked."""

    def run_batch(batch_df: DataFrame, epoch_id: int) -> None:
        with cacheutil.scope():
            if checkpoint:
                batch_df = batch_df.transform(cacheutil.local_checkpoint)
            if SRC_FILE in batch_df.columns:
                if _first_file_day(batch_df) is None:
                    return
            elif batch_df.isEmpty():
                return
            sink(batch_df)

    return (
        frame.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(run_batch)
        .trigger(availableNow=True)
        .start()
    )
