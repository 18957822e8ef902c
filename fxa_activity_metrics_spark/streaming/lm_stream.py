"""Streaming maintenance of the LM count model — the §2.9 face of
operators.lmfilter, completing the family's streaming twin (the
pattern every operator family here follows: search_stream maintains
the BM25 index, dedup_stream the signature tables, this the LM count
tables).

Counts are kept DAY-PARTITIONED: each arriving document day-file
contributes (day, w1, c1) / (day, w1, w2, c12) rows computed from
that increment only, written through the idempotent day sink
(`Lake.write_days` — replace-the-day, the engine's exactly-once
contract). Totals are derived at read time by summing across days —
counting is associative, so the per-day decomposition IS the
incremental algorithm, and a replayed or re-imported day converges
instead of double-counting (an additive UPDATE would not). Scoring
goes through the SAME `lm_score_with_counts` core as the in-session
path, so stream-maintained and one-shot models are interchangeable
by construction (pinned in tests/test_streaming_lm.py).

Scale: per micro-batch work is two map-side-combining groupBys over
the increment; the lake tables grow by O(distinct grams per day) and
are partition-pruned by day for windowed models (train on the last
N days by reading only those partitions).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fxa_activity_metrics_spark.operators.lmfilter import (
    _positional_bigrams,
    lm_score_with_counts,
    tokens,
)
from fxa_activity_metrics_spark.sources.lake import Lake
from fxa_activity_metrics_spark import cacheutil
from fxa_activity_metrics_spark.streaming.dedup_stream import DOCS_SCHEMA
from fxa_activity_metrics_spark.streaming.core import day_drop_stream, read_day_drops

UNIGRAMS_DAY_SCHEMA = T.StructType(
    [
        T.StructField("w1", T.StringType()),
        T.StructField("c1", T.LongType()),
        T.StructField("day", T.DateType()),
    ]
)

BIGRAMS_DAY_SCHEMA = T.StructType(
    [
        T.StructField("w1", T.StringType()),
        T.StructField("w2", T.StringType()),
        T.StructField("c12", T.LongType()),
        T.StructField("day", T.DateType()),
    ]
)


def day_counts(docs: DataFrame, text_col: str = "text") -> tuple[DataFrame, DataFrame]:
    """Per-day count increments from a frame carrying a ``day``
    column: (day, w1, c1) and (day, w1, w2, c12). The day-keyed twin
    of operators.lmfilter.lm_counts — same tokenization, same
    integer counts."""
    uni = (
        docs.select("day", F.explode(tokens(text_col)).alias("w1"))
        .groupBy("day", "w1")
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
    )
    bg = (
        docs.select("day", F.explode(_positional_bigrams(text_col)).alias("bg"))
        .select("day", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("day", "w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
    )
    return uni, bg


def run_lm_counts_stream(
    spark: SparkSession,
    source_dir: str,
    lake: Lake,
    checkpoint_dir: str,
    uni_table: str = "lm_unigrams",
    bg_table: str = "lm_bigrams",
    schema: T.StructType = DOCS_SCHEMA,
):
    """Maintain the day-partitioned LM count tables from a stream of
    `documents-YYYY-MM-DD.json` day-drops. Each batch's counts are
    computed from the increment only and written through the
    idempotent day sink; replaying an epoch (or re-dropping a day's
    file) converges to the same tables. Returns the started query."""
    docs = read_day_drops(spark, source_dir, schema)

    def write_counts(batch_df: DataFrame) -> None:
        uni, bg = day_counts(batch_df)
        lake.write_days(uni_table, uni, sort_cols=["w1"])
        lake.write_days(bg_table, bg, sort_cols=["w1", "w2"])

    # checkpointed once: both count jobs re-read the micro-batch
    return day_drop_stream(docs, checkpoint_dir, write_counts, checkpoint=True)


BASE_DAY = dt.date(1970, 1, 1)


def rollup_counts(
    lake: Lake,
    keep_from: dt.date,
    uni_table: str = "lm_unigrams",
    bg_table: str = "lm_bigrams",
    base_day: dt.date = BASE_DAY,
) -> dict[str, list[dt.date]]:
    """Fold count partitions older than ``keep_from`` into ONE base
    partition (``day = base_day``, epoch by default) — the periodic
    maintenance that keeps the read-time fan-out bounded: without it
    `model_from_lake` sums across every ingested day forever.

    Score-preserving by construction: counting is associative, so
    summing (merged days ∪ existing base) into the base partition
    leaves every total unchanged — `lm_score_from_lake` results are
    bit-identical before/after (pinned in tests/test_streaming_lm.py).
    Windowed models (``day >= X`` filters with X > base_day) are also
    unaffected: only days already OUTSIDE any live window are folded,
    and ``keep_from`` is the caller's training-window start.

    Ordering hazard handled the engine's standard way: the rolled-up
    frame reads the very base partition the write replaces, so it is
    eagerly localCheckpoint-ed BEFORE the write (the foreachBatch
    precedent), then the merged day partitions are dropped (O(1)
    metadata ops, like `expire`). Idempotent: a second call finds no
    pre-``keep_from`` day partitions and no-ops.

    Returns {table: [days folded]}.
    """
    specs = (
        (uni_table, ["w1"], "c1", UNIGRAMS_DAY_SCHEMA),
        (bg_table, ["w1", "w2"], "c12", BIGRAMS_DAY_SCHEMA),
    )
    out: dict[str, list[dt.date]] = {}
    for table, keys, cnt, schema in specs:
        old = [d for d in lake.days(table) if base_day < d < keep_from]
        out[table] = old
        if not old:
            continue
        fold = old + [base_day]
        lits = [F.lit(str(d)).cast("date") for d in fold]
        rolled = (
            lake.read(table, schema)
            .filter(F.col("day").isin(*lits))
            .groupBy(*keys)
            .agg(F.sum(cnt).alias(cnt))
            .withColumn("day", F.lit(str(base_day)).cast("date"))
            .select(*keys, cnt, "day")
            .transform(cacheutil.local_checkpoint)
        )
        lake.write_days(table, rolled, sort_cols=keys)
        for d in old:
            lake.drop_part(table, "day", d)
    return out


def model_from_lake(
    lake: Lake,
    uni_table: str = "lm_unigrams",
    bg_table: str = "lm_bigrams",
) -> tuple[DataFrame, DataFrame]:
    """Fold the day-partitioned count tables into total count frames
    (sum across days — associative, so any prefix of ingested days
    yields exactly the model a one-shot lm_counts over those days'
    documents would). Window a model by filtering ``day`` first —
    a partition-pruned scan."""
    uni = (
        lake.read(uni_table, UNIGRAMS_DAY_SCHEMA)
        .groupBy("w1")
        .agg(F.sum("c1").alias("c1"))
    )
    bg = (
        lake.read(bg_table, BIGRAMS_DAY_SCHEMA)
        .groupBy("w1", "w2")
        .agg(F.sum("c12").alias("c12"))
    )
    return uni, bg


def lm_score_from_lake(
    corpus: DataFrame,
    lake: Lake,
    uni_table: str = "lm_unigrams",
    bg_table: str = "lm_bigrams",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score a corpus against the stream-maintained lake model —
    the same `lm_score_with_counts` core as the in-session path."""
    uni, bg = model_from_lake(lake, uni_table, bg_table)
    return lm_score_with_counts(corpus, uni, bg, id_col, text_col)
