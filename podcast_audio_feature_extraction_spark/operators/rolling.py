"""Per-turn lag/lead + rolling-window functionals (SURVEY.md §2.5 W2/W7).

Analog of the reference's 0.96 s-window / 0.48 s-hop eGeMAPS functionals
(/root/reference/data/custom_FrameModeFunctionals.conf.inc:8-11) re-expressed
in the turn domain: for each turn, aggregate text/tool/numeric descriptors
over the trailing ``k`` turns of the same conversation.

Everything here is native Spark SQL expressions — zero Python in the hot
path; the whole block compiles into one Window physical operator per frame
spec (one shuffle on conv_id, then whole-stage codegen).

Parity notes (SURVEY.md §7 hard parts):
- stddev is **population** (ddof=0) to match numpy's default std
  (`stddev_pop`, not Spark's sample default).
- all window specs order by (ts, turn_idx) — ties broken deterministically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from podcast_audio_feature_extraction_spark.functions.text import tokens_col, tokens_sql
from podcast_audio_feature_extraction_spark.functions.time import ts_micros


def token_count(col: Column) -> Column:
    """Number of :func:`~podcast_audio_feature_extraction_spark.functions.text.tokens_col`
    tokens; empty/null text -> 0."""
    return F.size(tokens_col(col)).cast("int")


# the trailing frame of the rolling functionals: the current turn and the
# ROLL_K turns before it
ROLL_K = 5


def turn_features(df: DataFrame, k: int = ROLL_K, val_col: str | None = "val") -> DataFrame:
    """Per-turn feature columns.

    Adds scalar descriptors (token/char counts, tool flag), lag/lead
    context (previous/next role, gap seconds), and trailing-``k``-turn
    rolling functionals (mean / population-std / min / max of token count,
    tool-use count, optional numeric ``val_col`` functionals).
    """
    order = Window.partitionBy("conv_id").orderBy("ts", "turn_idx")
    trail = order.rowsBetween(-k, 0)

    # stage 0: plain projections (no window), with an explicit double copy
    # of token_cnt so the rolling pass below needs no implicit cast
    # projection — an interleaved cast splits Spark's Window operator in
    # two and doubles the traversals over the sorted partition.
    base = df.select(
        "*",
        token_count(F.col("text")).alias("token_cnt"),
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("int").alias("char_len"),
        F.col("tool").isNotNull().cast("int").alias("is_tool_use"),
    ).withColumn("__token_cnt_d", F.col("token_cnt").cast("double"))

    # stage 1: ONE window pass for all lag/lead context, plus the
    # conversation's first ts so the rolling slope's time axis is
    # conversation-relative seconds — subtracting in integer micros
    # BEFORE the double division keeps it exact (an epoch-scale double
    # subtraction loses ~1e-7 s, which the slope amplifies when turns
    # cluster tightly). first-over-running-frame, NOT min-over-whole-
    # partition: the (ts, turn_idx) order makes them value-identical
    # (verified), but the whole-partition frame is a DIFFERENT window
    # spec and planned its own Window operator — one extra full pass
    # over every sorted partition (r6; plan: 3 Window ops -> 2 here).
    # ignorenulls keeps that identity if a NULL ts ever sorts first.
    run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ctx = base.select(
        "*",
        F.lag("role").over(order).alias("prev_role"),
        F.lead("role").over(order).alias("next_role"),
        F.lag(ts_micros("ts")).over(order).alias("__prev_us"),
        F.first(ts_micros("ts"), ignorenulls=True).over(run).alias("__conv_t0_us"),
    ).select(
        "*",
        F.when(F.col("prev_role").isNull(), F.lit(1))
        .otherwise((F.col("role") != F.col("prev_role")).cast("int"))
        .alias("role_changed"),
        F.coalesce((ts_micros("ts") - F.col("__prev_us")) / F.lit(1e6), F.lit(0.0)).alias("gap_s"),
        ((ts_micros("ts") - F.col("__conv_t0_us")) / F.lit(1e6)).alias("__t_rel"),
    )

    # stage 2: ONE window pass for every trailing-frame functional
    roll_exprs = [
        F.avg("__token_cnt_d").over(trail).alias("roll_token_mean"),
        F.coalesce(F.stddev_pop("__token_cnt_d").over(trail), F.lit(0.0)).alias("roll_token_std"),
        F.min("token_cnt").over(trail).alias("roll_token_min"),
        F.max("token_cnt").over(trail).alias("roll_token_max"),
        F.sum("is_tool_use").over(trail).cast("int").alias("roll_tool_cnt"),
        F.sum("role_changed").over(trail).cast("int").alias("roll_role_changes"),
    ]
    # each val aggregate is ONE hidden window column, and std/slope/cv are
    # derived from them in the projection after the Window operator: Spark
    # does not dedupe a window expression repeated across select items, so
    # writing them inline would evaluate avg(val) 3 times and
    # stddev_pop(val) / var_pop(__t_rel) twice per trailing frame
    val_aggs: dict[str, Column] = {}
    derived: list[Column] = []
    if val_col is not None and val_col in df.columns:
        v = F.col(val_col)
        val_aggs = {
            "__roll_mean": F.avg(v),
            "__roll_std": F.stddev_pop(v),
            "__roll_min": F.min(v),
            "__roll_max": F.max(v),
            # eGeMAPS breadth (conf.inc:8-11 / CLEF §4.1): percentiles,
            # linear slope over the frame, stddev-normalized mean (CoV).
            # One array-percentile buffers the frame once for both points.
            "__roll_pcts": F.percentile(v, F.array(F.lit(0.2), F.lit(0.8))),
            "__roll_var_x": F.var_pop("__t_rel"),
            "__roll_cov": F.covar_pop(F.col("__t_rel"), v),
        }
        mean_v, std_v, var_x = F.col("__roll_mean"), F.col("__roll_std"), F.col("__roll_var_x")
        derived = [
            mean_v.alias("roll_val_mean"),
            F.coalesce(std_v, F.lit(0.0)).alias("roll_val_std"),
            F.col("__roll_min").alias("roll_val_min"),
            F.col("__roll_max").alias("roll_val_max"),
            F.when(var_x > 0, F.col("__roll_cov") / var_x).otherwise(F.lit(0.0)).alias("roll_val_slope"),
            F.when(mean_v != 0, std_v / mean_v).otherwise(F.lit(0.0)).alias("roll_val_cv"),
            F.col("__roll_pcts")[0].alias("roll_val_p20"),
            F.col("__roll_pcts")[1].alias("roll_val_p80"),
        ]
    out = ctx.select("*", *roll_exprs, *[e.over(trail).alias(n) for n, e in val_aggs.items()])
    drop = {"__token_cnt_d", "__prev_us", "__conv_t0_us", "__t_rel", *val_aggs}
    return out.select(*[c for c in out.columns if c not in drop], *derived)


FUNCTIONAL_COLS = [
    "token_cnt",
    "char_len",
    "is_tool_use",
    "role_changed",
    "gap_s",
    "roll_token_mean",
    "roll_token_std",
    "roll_token_min",
    "roll_token_max",
    "roll_tool_cnt",
    "roll_role_changes",
    "roll_val_mean",
    "roll_val_std",
    "roll_val_min",
    "roll_val_max",
    "roll_val_p20",
    "roll_val_p80",
    "roll_val_slope",
    "roll_val_cv",
]


def assemble_functionals(df: DataFrame) -> DataFrame:
    """Pack the per-turn functional columns into one array<double> vector
    (analog of the reference's 88-column functional row,
    /root/reference/src/features/OpenSmileExtractor.py:47-53)."""
    cols = [c for c in FUNCTIONAL_COLS if c in df.columns]
    return df.withColumn("functionals", F.array(*[F.col(c).cast("double") for c in cols]))


def turn_features_sql(k: int = ROLL_K, src: str = "transcript", with_val: bool = True) -> str:
    """DuckDB twin of :func:`turn_features` (oracle cross-check)."""
    val_part = (
        """,
            avg(val) OVER trail                      AS roll_val_mean,
            COALESCE(stddev_pop(val) OVER trail, 0.0) AS roll_val_std,
            min(val) OVER trail                      AS roll_val_min,
            max(val) OVER trail                      AS roll_val_max,
            quantile_cont(val, 0.2) OVER trail       AS roll_val_p20,
            quantile_cont(val, 0.8) OVER trail       AS roll_val_p80,
            CASE WHEN var_pop(t_rel) OVER trail > 0
                 THEN covar_pop(t_rel, val) OVER trail / (var_pop(t_rel) OVER trail)
                 ELSE 0.0 END                        AS roll_val_slope,
            CASE WHEN avg(val) OVER trail <> 0
                 THEN stddev_pop(val) OVER trail / (avg(val) OVER trail)
                 ELSE 0.0 END                        AS roll_val_cv"""
        if with_val
        else ""
    )
    return f"""
        WITH base AS (
            SELECT *,
                CAST(len({tokens_sql("COALESCE(text, '')")}) AS INT) AS token_cnt,
                CAST(length(COALESCE(text, '')) AS INT) AS char_len,
                CAST(tool IS NOT NULL AS INT) AS is_tool_use,
                (epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY conv_id)) / 1e6 AS t_rel
            FROM {src}
        )
        SELECT *,
            lag(role) OVER ord  AS prev_role,
            lead(role) OVER ord AS next_role,
            CASE WHEN lag(role) OVER ord IS NULL THEN 1
                 ELSE CAST(role <> lag(role) OVER ord AS INT) END AS role_changed,
            COALESCE((epoch_us(ts) - epoch_us(lag(ts) OVER ord)) / 1e6, 0.0) AS gap_s,
            avg(token_cnt) OVER trail                       AS roll_token_mean,
            COALESCE(stddev_pop(token_cnt) OVER trail, 0.0) AS roll_token_std,
            min(token_cnt) OVER trail                       AS roll_token_min,
            max(token_cnt) OVER trail                       AS roll_token_max,
            CAST(sum(is_tool_use) OVER trail AS INT)        AS roll_tool_cnt{val_part}
        FROM base
        WINDOW
            ord AS (PARTITION BY conv_id ORDER BY ts, turn_idx),
            trail AS (PARTITION BY conv_id ORDER BY ts, turn_idx
                      ROWS BETWEEN {k} PRECEDING AND CURRENT ROW)
    """
