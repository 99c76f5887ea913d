"""Structured Streaming surface (SURVEY.md §2.9).

The reference is batch-only; the engine adds the streaming path for the
same semantics:

- the transcript as a file stream (:func:`read_transcript_stream`; the
  input perfbench's delta workload feeds to ``streaming.delta``);
- sliding segment windows (W1) -> windowed streaming functionals with a
  watermark bounding state (:func:`sliding_window_functionals_stream`,
  the ``stream_functionals`` bench row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from podcast_audio_feature_extraction_spark.operators.segments import SEG_HOP, SEG_LENGTH
from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_VAL_SCHEMA


def read_transcript_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 4) -> DataFrame:
    """File-based streaming source over the canonical transcript layout
    (schema is the val-superset: files written without the LLD column
    read it as NULL)."""
    return (
        spark.readStream.schema(TRANSCRIPT_VAL_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def sliding_window_functionals_stream(df: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming variant of the A1 windowed functionals of ``val`` over
    the segment windows, with bounded state.

    Emits the incrementally-mergeable subset (count/mean/pop-std/min/max —
    constant state per open window); the exact percentiles/slope of the
    batch ``window_functionals`` need the window's full value buffer and
    belong to the batch/backfill path."""
    v = F.col("val").cast("double")
    return (
        df.withWatermark("ts", watermark)
        .groupBy(F.col("conv_id"), F.window(F.col("ts"), SEG_LENGTH, SEG_HOP).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(v).alias("val_mean"),
            F.coalesce(F.stddev_pop(v), F.lit(0.0)).alias("val_std"),
            F.min(v).alias("val_min"),
            F.max(v).alias("val_max"),
        )
        .select(
            "conv_id",
            F.col("win.start").alias("win_start"),
            "n",
            "val_mean",
            "val_std",
            "val_min",
            "val_max",
        )
    )


def run_stream_to_memory(stream_df: DataFrame, query_name: str, spark: SparkSession) -> DataFrame:
    """Drive a streaming aggregation to completion with availableNow and
    return the materialized result (test/bench helper)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)
