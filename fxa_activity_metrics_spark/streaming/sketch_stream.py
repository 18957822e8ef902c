"""Streaming maintenance of mergeable token sketches — the §2.9 face
of operators.rollup, completing the sketch family's streaming twin
(the pattern every operator family here follows: search_stream
maintains the BM25 index, dedup_stream the signature tables,
lm_stream the LM count model, this the CMS and Misra-Gries
summaries).

Both sketches are kept DAY-PARTITIONED, and both are MERGEABLE — the
property that makes the per-day decomposition the incremental
algorithm rather than an approximation of it:

- CMS rows (day, j, bucket, weight): the sketch is additive, so the
  fold across days is bit-identical to sketching the union of all
  ingested documents (the lossless-merge pin from
  tests/test_sketches.py, now exercised end-to-end through the
  stream).
- MG summaries (day, item, w): one deterministic grouped-MG kernel
  per arriving day (order = (doc_id, pos), fixed block size), ≤ k
  rows per day. The cross-day fold is the Agarwal et al. 2012
  mergeable reduce, so the streamed result is EXACTLY the batch
  `misra_gries_grouped` answer with the day as the group key — not
  merely within the same error bound (pinned in
  tests/test_streaming_sketches.py).

Each arriving `documents-YYYY-MM-DD.json` day-drop contributes only
its own day's rows through the idempotent day sink (`Lake.write_days`
— replace-the-day, the engine's exactly-once contract): replaying an
epoch or re-dropping a day converges instead of double-counting.
Windowed queries (top-k over the last N days) read only those day
partitions — partition-pruned, like the HLL range rollups.

Scale: per micro-batch work is one map-side-combining CMS groupBy
plus one ≤k-row-per-day MG kernel over the increment; the lake
tables grow by O(d·w + k) rows per day, and the read-time fold
touches KB of sketch rows, never the raw stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fxa_activity_metrics_spark.operators.dedup import tokens
from fxa_activity_metrics_spark.operators.rollup import (
    _cms_hash,
    _mg_chunks,
    _mg_fold,
)
from fxa_activity_metrics_spark.sources.lake import Lake
from fxa_activity_metrics_spark.streaming.dedup_stream import DOCS_SCHEMA
from fxa_activity_metrics_spark.streaming.core import day_drop_stream, read_day_drops

CMS_DAY_SCHEMA = T.StructType(
    [
        T.StructField("j", T.IntegerType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("weight", T.LongType()),
        T.StructField("day", T.DateType()),
    ]
)

MG_DAY_SCHEMA = T.StructType(
    [
        T.StructField("item", T.StringType()),
        T.StructField("w", T.LongType()),
        T.StructField("day", T.DateType()),
    ]
)

MG_K = 32
MG_CHUNK = 512
CMS_D = 4
CMS_W = 1024


def day_token_sketches(
    docs: DataFrame,
    k: int = MG_K,
    chunk: int = MG_CHUNK,
    d: int = CMS_D,
    w: int = CMS_W,
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Per-day sketch increments from a frame carrying a ``day``
    column: CMS rows (day, j, bucket, weight) and MG summaries
    (day, item, w). The day-keyed twins of rollup.cms_build and
    rollup.misra_gries_grouped — same hashes, same fold, the day
    playing the explicit group key."""
    import pandas as pd

    toks = docs.select(
        "day", "doc_id", F.posexplode(tokens(text_col)).alias("pos", "item")
    )
    probes = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"), _cms_hash(F.col("item"), j, w).alias("bucket")
            )
            for j in range(d)
        ]
    )
    cms = (
        toks.select("day", F.explode(probes).alias("p"))
        .groupBy("day", F.col("p.j").alias("j"), F.col("p.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
        .select("j", "bucket", "weight", "day")
    )

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        s = pdf.sort_values(["doc_id", "pos"], kind="mergesort")["item"]
        counters: dict[str, int] = {}
        for block in _mg_chunks([s.reset_index(drop=True)], chunk):
            counters = _mg_fold(counters, block.value_counts(), k)
        return pd.DataFrame(
            {
                "item": list(counters.keys()),
                "w": list(counters.values()),
                "day": [pdf["day"].iloc[0]] * len(counters),
            }
        )

    mg = (
        toks.select("day", "doc_id", "pos", F.col("item").cast("string").alias("item"))
        .groupBy("day")
        .applyInPandas(kernel, "item string, w long, day date")
        .select("item", "w", "day")
    )
    return cms, mg


def run_token_sketch_stream(
    spark: SparkSession,
    source_dir: str,
    lake: Lake,
    checkpoint_dir: str,
    cms_table: str = "token_cms",
    mg_table: str = "token_mg",
    schema: T.StructType = DOCS_SCHEMA,
):
    """Maintain the day-partitioned sketch tables from a stream of
    `documents-YYYY-MM-DD.json` day-drops. Each batch's sketches are
    computed from the increment only and written through the
    idempotent day sink. Returns the started query."""
    docs = read_day_drops(spark, source_dir, schema)

    def write_sketches(batch_df: DataFrame) -> None:
        cms, mg = day_token_sketches(batch_df)
        lake.write_days(cms_table, cms, sort_cols=["j", "bucket"])
        lake.write_days(mg_table, mg, sort_cols=["item"])

    return day_drop_stream(docs, checkpoint_dir, write_sketches, checkpoint=True)


def cms_from_lake(lake: Lake, cms_table: str = "token_cms") -> DataFrame:
    """Fold the day-partitioned CMS rows into one sketch (sum by
    (j, bucket) — additive, hence bit-identical to a one-shot
    cms_build over every ingested document). Window a sketch by
    filtering ``day`` first — a partition-pruned scan."""
    return (
        lake.read(cms_table, CMS_DAY_SCHEMA)
        .groupBy("j", "bucket")
        .agg(F.sum("weight").alias("weight"))
    )


def heavy_hitters_from_lake(
    lake: Lake, k: int = MG_K, mg_table: str = "token_mg"
) -> DataFrame:
    """Merge the per-day MG summaries into the global top-k
    (item, est): sum matched counters across days, then one final
    mergeable reduce — the same driver-side fold as
    misra_gries_grouped, over ≤ days×k input rows. Exactly equal to
    the batch grouped-MG answer over all ingested documents."""
    spark = lake.spark
    merged: dict[str, int] = {}
    for r in lake.read(mg_table, MG_DAY_SCHEMA).collect():
        merged[r["item"]] = merged.get(r["item"], 0) + r["w"]
    final = _mg_fold({}, merged, k)
    out = sorted(final.items(), key=lambda t: (-t[1], t[0]))
    return spark.createDataFrame(
        [(i, wt) for i, wt in out], "item string, est long"
    )


# --- KMV vocabulary sketches ---------------------------------------------

KMV_DAY_SCHEMA = T.StructType(
    [
        T.StructField("hs", T.ArrayType(T.StringType())),
        T.StructField("n_kept", T.IntegerType()),
        T.StructField("day", T.DateType()),
    ]
)

KMV_K = 64


def day_vocab_kmv(docs: DataFrame, k: int = KMV_K) -> DataFrame:
    """Per-day KMV sketch of the DISTINCT VOCABULARY (token set):
    the k smallest md5 token hashes per day — one array row per day.
    Merged across days (explode + re-rank, KB of input) it answers
    "how many distinct tokens has the whole ingested corpus used"
    without ever rescanning it; md5 determinism makes the fold
    bit-exact, not estimate-vs-estimate."""
    from fxa_activity_metrics_spark.operators.rollup import kmv_sketches_by_key

    keyed = docs.select(
        "day", F.explode(tokens("text")).alias("item")
    ).select("day", F.md5("item").alias("h"))
    return kmv_sketches_by_key(keyed, k=k, key_col="day").select(
        "hs", F.col("n_kept").cast("int").alias("n_kept"), "day"
    )


def run_vocab_kmv_stream(
    spark: SparkSession,
    source_dir: str,
    lake: Lake,
    checkpoint_dir: str,
    kmv_table: str = "vocab_kmv",
    k: int = KMV_K,
    schema: T.StructType = DOCS_SCHEMA,
):
    """Maintain the day-partitioned vocabulary-KMV table from
    `documents-YYYY-MM-DD.json` day-drops through the idempotent day
    sink: re-dropped days replace their own sketch row, replays
    converge."""
    docs = read_day_drops(spark, source_dir, schema)

    def write_kmv(batch_df: DataFrame) -> None:
        lake.write_days(kmv_table, day_vocab_kmv(batch_df, k=k), sort_cols=[])

    return day_drop_stream(docs, checkpoint_dir, write_kmv, checkpoint=True)


def vocab_uniques_from_lake(
    lake: Lake, k: int = KMV_K, kmv_table: str = "vocab_kmv"
) -> DataFrame:
    """Union-merge the per-day sketch rows into the corpus-wide
    sketch + estimate: explode the (days × k)-row hash arrays,
    bottom-k again, estimate. Bit-identical to a one-shot KMV over
    every ingested document's tokens (pinned) — the KMV analogue of
    cms_from_lake's additive fold."""
    from fxa_activity_metrics_spark.operators.rollup import (
        kmv_estimate,
        kmv_merge,
    )

    sk = lake.read(kmv_table, KMV_DAY_SCHEMA)
    return kmv_estimate(kmv_merge(sk, k=k), k=k, key_col="day_key")


def vocab_overlap_from_lake(
    lake: Lake, k: int = KMV_K, kmv_table: str = "vocab_kmv"
) -> DataFrame:
    """Consecutive-day vocabulary overlap from the STREAM-MAINTAINED
    sketch table: est_intersection estimates how much of one day's
    distinct vocabulary recurs the next day — answered from k-row
    sketches, the raw drops long gone. Because the maintained
    sketches are bit-exact the batch sketches (pinned), the overlap
    rows equal kmv_day_overlap over a one-shot batch build."""
    from fxa_activity_metrics_spark.operators.rollup import kmv_day_overlap

    sk = lake.read(kmv_table, KMV_DAY_SCHEMA)
    return kmv_day_overlap(sk, k=k)
