"""Gap-cutoff sessionization (SURVEY.md §2.9).

The reference approximates sessions with fixed-origin 120s/60s segments
(/root/reference/src/search/index.py:79-81); the engine's north_rule requires
true ts-gap sessions per conv_id. Batch formula:

    session_id = sum( (ts - lag(ts) > gap)::int )
                 OVER (PARTITION BY conv_id ORDER BY ts, turn_idx)

One shuffle on conv_id; the running sum stays inside whole-stage codegen
(no Python). At 10^12 turns the partition key is conv_id — skewed viral
conversations are still single-partition for the window, which is correct
(sessions are sequential per conversation) and bounded by the longest
conversation, not the table size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from podcast_audio_feature_extraction_spark.functions.time import ts_micros

# the session cutoff: a gap of more than 30 minutes starts a new session
GAP_S = 1800.0


def sessionize(df: DataFrame, gap_s: float = GAP_S) -> DataFrame:
    """Add ``session_id`` (0-based per conversation).

    A new session starts when the gap to the previous turn is strictly
    greater than ``gap_s`` seconds. Ties in ``ts`` are broken by
    ``turn_idx`` so the ordering (and therefore the ids) is deterministic.
    """
    w = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    # integer microseconds: exact arithmetic (casting timestamp to double
    # loses precision at epoch magnitude — ~1e-7 s error, enough to flip a
    # gap comparison at the cutoff boundary)
    gap = (ts_micros("ts") - ts_micros(F.lag(F.col("ts")).over(w))) / F.lit(1e6)
    is_new = F.when(gap > F.lit(gap_s), 1).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn("session_id", F.sum(is_new).over(run).cast("int"))


def session_bounds(df: DataFrame) -> DataFrame:
    """Per-session summary: bounds, turn count, distinct roles.

    Pure groupBy-agg — partial aggregation (map-side combine) is automatic,
    so this scales linearly with input and shuffles only one row per session.
    """
    return df.groupBy("conv_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_turns"),
        F.count_distinct("role").alias("n_roles"),
        ((ts_micros(F.max("ts")) - ts_micros(F.min("ts"))) / F.lit(1e6)).alias("duration_s"),
    )


def session_relative_features(df: DataFrame) -> DataFrame:
    """Session-relative per-turn features (requires ``sessionize`` first):

    - turn_in_session: 0-based position within the session
    - time_in_session_s: seconds since the session's first turn
    - session_len: total turns in the session (window, no extra shuffle —
      same (conv, session) partitioning as the other two)
    - is_session_start / is_session_end flags
    """
    w = Window.partitionBy("conv_id", "session_id").orderBy("ts", "turn_idx")
    full = Window.partitionBy("conv_id", "session_id")
    return (
        df.withColumn("turn_in_session", (F.row_number().over(w) - 1).cast("int"))
        .withColumn(
            "time_in_session_s",
            (ts_micros("ts") - F.min(ts_micros("ts")).over(full)) / F.lit(1e6),
        )
        .withColumn("session_len", F.count(F.lit(1)).over(full).cast("int"))
        .withColumn("is_session_start", (F.col("turn_in_session") == 0).cast("int"))
        .withColumn("is_session_end", (F.col("turn_in_session") == F.col("session_len") - 1).cast("int"))
    )


def session_relative_sql(src: str) -> str:
    """DuckDB twin of :func:`session_relative_features` (src must already
    carry session_id)."""
    return f"""
        SELECT *,
            CAST(row_number() OVER ord - 1 AS INT) AS turn_in_session,
            (epoch_us(ts) - min(epoch_us(ts)) OVER w_all) / 1e6 AS time_in_session_s,
            CAST(count(*) OVER w_all AS INT) AS session_len,
            CAST(row_number() OVER ord = 1 AS INT) AS is_session_start,
            CAST(row_number() OVER ord = count(*) OVER w_all AS INT) AS is_session_end
        FROM ({src})
        WINDOW
            ord AS (PARTITION BY conv_id, session_id ORDER BY ts, turn_idx),
            w_all AS (PARTITION BY conv_id, session_id)
    """


def sessionize_sql(gap_s: float = GAP_S, src: str = "transcript") -> str:
    """DuckDB-dialect twin of :func:`sessionize` (oracle cross-check).

    Two levels because SQL window calls cannot nest (lag inside sum)."""
    return f"""
        SELECT * EXCLUDE (__is_new),
            CAST(SUM(__is_new) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_id
        FROM (
            SELECT *,
                CASE WHEN (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx))) / 1e6 > {gap_s}
                     THEN 1 ELSE 0 END AS __is_new
            FROM {src}
        )
    """
