"""Generic interval / range join (SURVEY.md §2.3 J2/J4 range-fetch form).

The reference fetches arbitrary ``[start, start+120 s)`` slices of an
entity's time-series per candidate segment
(/root/reference/src/search/search.py:311-322). ``F.window`` grouping only
covers fixed-grid windows; this operator joins points to an ARBITRARY
(non-grid) interval table:

    points JOIN intervals
      ON points.key = intervals.key
     AND intervals.start <= points.ts < intervals.end

A naive theta join plans as BroadcastNestedLoopJoin/CartesianProduct —
quadratic and a 100 TB killer. Instead: bucketed-range equi-join.
Each interval explodes to the fixed ``bucket_s`` grid cells it overlaps;
each point maps to exactly ONE grid cell; the join is an equi-join on
(key, cell) followed by the exact range predicate. Every matching
(point, interval) pair is produced exactly once (the point's single cell),
so no dedup is needed. Cost: interval replication factor is
ceil(len/bucket)+1 — pick ``bucket_s`` near the median interval length.
The join shuffles on (key, cell), which also spreads one hot key's rows
over its time range (built-in skew mitigation vs a key-only join).

All timestamp math is integer microseconds (see functions/time.ts_micros).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from podcast_audio_feature_extraction_spark.functions.sqlfmt import ROUND_DIGITS
from podcast_audio_feature_extraction_spark.functions.time import ts_micros


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    on: str | list[str] = "conv_id",
    ts_col: str = "ts",
    bucket_s: int = 60,
) -> DataFrame:
    """Inner join of ``points`` to every interval of ``intervals``
    (``start``, ``end``) containing their ts (start-inclusive,
    end-exclusive). Returns point columns + interval
    columns (key columns once).

    Intervals with ``end <= start`` are empty by definition and dropped.
    """
    keys = [on] if isinstance(on, str) else list(on)
    bucket_us = bucket_s * 1_000_000

    s_us = ts_micros(F.col("start"))
    e_us = ts_micros(F.col("end"))
    iv = (
        intervals.filter(e_us > s_us)
        .withColumn("__s_us", s_us)
        .withColumn("__e_us", e_us)
        # grid cells the interval overlaps; end is exclusive so the last
        # covered cell is floor((end-1)/bucket)
        .withColumn(
            "__cell",
            F.explode(
                F.sequence(
                    F.floor(F.col("__s_us") / F.lit(bucket_us)),
                    F.floor((F.col("__e_us") - F.lit(1)) / F.lit(bucket_us)),
                )
            ),
        )
    )
    pts = points.withColumn("__p_us", ts_micros(F.col(ts_col))).withColumn(
        "__cell", F.floor(F.col("__p_us") / F.lit(bucket_us))
    )
    joined = pts.join(iv, keys + ["__cell"]).filter(
        (F.col("__p_us") >= F.col("__s_us")) & (F.col("__p_us") < F.col("__e_us"))
    )
    return joined.drop("__cell", "__p_us", "__s_us", "__e_us")


def interval_fetch_sql(src: str = "transcript", length_s: int = 90) -> str:
    """DuckDB twin of the driver's interval-join query: assistant turns
    fetch the user turns of their slice (plain range join — the oracle
    engine may nested-loop it; the Spark side must not)."""
    return f"""
        , __cand AS (
            SELECT conv_id, turn_idx AS cand_idx, epoch_us(ts) AS s_us
            FROM {src} WHERE role = 'assistant'
        ),
        __pts AS (
            SELECT conv_id, epoch_us(ts) AS p_us, val FROM {src} WHERE role = 'user'
        ),
        __agg AS (
            SELECT c.conv_id, c.cand_idx,
                   CAST(count(p.p_us) AS INT) AS n_pts,
                   round(avg(p.val), {ROUND_DIGITS}) AS avg_val
            FROM __cand c LEFT JOIN __pts p
              ON p.conv_id = c.conv_id
             AND p.p_us >= c.s_us
             AND p.p_us < c.s_us + {length_s} * 1000000
            GROUP BY c.conv_id, c.cand_idx
        )
        SELECT conv_id, cand_idx, n_pts, avg_val FROM __agg
    """
