"""Explicit schemas (SURVEY.md §1: the reference infers schemas by
convention; the engine declares them)."""

from __future__ import annotations

from pyspark.sql import types as T

# Primary input table per BASELINE.json input_hint — one row per turn of a
# multi-turn conversation / agent transcript. Analog of the reference's
# exploded word-level timestamped transcript (/root/reference/src/data.py:65-81).
TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)

# Transcript + the numeric low-level descriptor column the functional
# operators aggregate (the eGeMAPS-LLD analog). Files written without
# `val` still read under this schema (parquet fills missing columns with
# NULL), so the streaming source declares the superset. NOTE: built as a
# fresh StructType — StructType.add mutates the receiver in place.
TRANSCRIPT_VAL_SCHEMA = T.StructType(
    list(TRANSCRIPT_SCHEMA.fields) + [T.StructField("val", T.DoubleType(), True)]
)
