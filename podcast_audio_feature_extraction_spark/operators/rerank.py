"""Mood metrics + rerank strategies (SURVEY.md §2.4 A2-A5, §2.2 P3/P4,
§2.6 T2/T3, §2.7 U1; lifecycle §3.3).

Re-expresses the reference's search-side reranking
(/root/reference/src/search/search.py:355-455 and
/root/reference/src/search/metrics.py):

- threshold-count frequency features (metrics.py:8-21: ``(scores > 0.02).sum()``)
- composite mood scores with magic normalizing constants (metrics.py:33-57)
- topical rerank: sort desc by rerank_score, take num (search.py:355-358)
- mood rerank with fallback: filter chain -> sort -> limit; if fewer than
  ``num`` survive, append the topical top-(num-k) WITHOUT dedup — faithful
  to ``np.concatenate`` at search.py:384,415,450. Priority order is kept
  with an explicit (pri, rk) rank pair, never a post-union orderBy.

All plan-expressible: the global top-k is a TakeOrderedAndProject (no full
sort), the accepted-count is a 1-row aggregate broadcast back — no
driver-side collect, so the same plan runs at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from podcast_audio_feature_extraction_spark.functions.sqlfmt import ROUND_DIGITS
from podcast_audio_feature_extraction_spark.functions.time import ts_micros
from podcast_audio_feature_extraction_spark.operators.segments import SEG_HOP, SEG_HOP_S, SEG_LENGTH, SEG_LENGTH_S


def threshold_count(col: Column, thr: float) -> Column:
    """A2: count of rows in the group where col > thr
    (metrics.py:8-21 semantics)."""
    return F.sum((col > F.lit(thr)).cast("int")).cast("int")


def mood_scores(df: DataFrame) -> DataFrame:
    """Per-segment score table (analog of search_df, search.py:112-162):
    one groupBy pass over the segment windows computes es/rerank scores
    plus all A2-A5 mood features of ``val``."""
    win = F.window(F.col("ts"), SEG_LENGTH, SEG_HOP)
    v = F.col("val")

    def _r(c):
        return F.round(c, ROUND_DIGITS)

    seg = df.groupBy(F.col("conv_id"), win.alias("w")).agg(
        F.count(F.lit(1)).cast("int").alias("es_score"),
        _r(F.avg(v) - F.lit(30.0)).alias("rerank_score"),
        threshold_count(v, 40.0).alias("laughter_freq"),
        threshold_count(v, 10.0).alias("music_freq"),
        F.sum((v < F.lit(5.0)).cast("int")).cast("int").alias("narration_freq"),
        _r(F.max(v) / F.lit(60.0)).alias("yamnet_funny"),
        # A4-shaped composite: pop-std + scaled max with magic normalizers
        _r(F.coalesce(F.stddev_pop(v), F.lit(0.0)) / F.lit(3.0) + F.lit(12.0) * F.max(v) / F.lit(80.0)).alias(
            "opensmile_debate"
        ),
        # A5-shaped composite
        _r(F.lit(2.0) * F.avg(v) / F.lit(13.7)).alias("opensmile_disapproval"),
    )
    return seg.select(
        F.concat_ws("_", F.col("conv_id"), (ts_micros(F.col("w.start")) / F.lit(1_000_000)).cast("long").cast("string")).alias(
            "seg_id"
        ),
        "*",
    ).drop("w", "conv_id")


def mood_scores_sql() -> str:
    """DuckDB twin of :func:`mood_scores`."""
    shifts = ", ".join(f"({i * SEG_HOP_S})" for i in range(SEG_LENGTH_S // SEG_HOP_S))
    return f"""
        SELECT conv_id || '_' || CAST(CAST(epoch_us(win_start) / 1e6 AS BIGINT) AS VARCHAR) AS seg_id,
               CAST(count(*) AS INT) AS es_score,
               round(avg(val) - 30.0, {ROUND_DIGITS}) AS rerank_score,
               CAST(sum(CAST(val > 40.0 AS INT)) AS INT) AS laughter_freq,
               CAST(sum(CAST(val > 10.0 AS INT)) AS INT) AS music_freq,
               CAST(sum(CAST(val < 5.0 AS INT)) AS INT) AS narration_freq,
               round(max(val) / 60.0, {ROUND_DIGITS}) AS yamnet_funny,
               round(COALESCE(stddev_pop(val), 0.0) / 3.0 + 12.0 * max(val) / 80.0, {ROUND_DIGITS}) AS opensmile_debate,
               round(2.0 * avg(val) / 13.7, {ROUND_DIGITS}) AS opensmile_disapproval
        FROM (
            SELECT t.*, make_timestamp(((epoch_us(ts) // ({SEG_HOP_S} * 1000000)) * {SEG_HOP_S} - off.o) * 1000000) AS win_start
            FROM transcript t CROSS JOIN (VALUES {shifts}) AS off(o)
        )
        WHERE epoch_us(ts) >= epoch_us(win_start)
          AND epoch_us(ts) <  epoch_us(win_start) + {SEG_LENGTH_S} * 1000000
        GROUP BY conv_id, win_start
    """


# mood predicates (P4 filter chains; thresholds are the engine's analogs of
# search.py:367-437's music_freq<100 / funny>0.5 / disapproval>4.2 / debate>15)
def mood_predicate(mood: str) -> Column:
    if mood == "entertaining":
        return (F.col("music_freq") < 100) & (F.col("yamnet_funny") > 7.0)
    if mood == "subjective":
        return F.col("opensmile_disapproval") > 4.2
    if mood == "discussion":
        return (F.col("opensmile_debate") > 15.0) & (F.col("narration_freq") < 100)
    raise ValueError(f"unknown mood: {mood}")


def mood_predicate_sql(mood: str) -> str:
    return {
        "entertaining": "(music_freq < 100 AND yamnet_funny > 7.0)",
        "subjective": "(opensmile_disapproval > 4.2)",
        "discussion": "(opensmile_debate > 15.0 AND narration_freq < 100)",
    }[mood]


def rerank_topical(scores: DataFrame, num: int = 10) -> DataFrame:
    """T2: sort desc by rerank_score (tiebreak seg_id), take num."""
    w = Window.orderBy(F.desc("rerank_score"), F.asc("seg_id"))
    return (
        scores.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= num)
        .select("seg_id", "rerank_score", "rk")
    )


def rerank_mood(scores: DataFrame, mood: str, num: int = 10) -> DataFrame:
    """T3: mood filter -> positive-rerank filter (P3) -> top-num; if fewer
    than num survive, append topical top-(num-k) without dedup (U1)."""
    pred = mood_predicate(mood)
    w = Window.orderBy(F.desc("rerank_score"), F.asc("seg_id"))
    accepted = (
        scores.filter(pred & (F.col("rerank_score") > 0))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= num)
        .select("seg_id", "rerank_score", F.lit(0).alias("pri"), "rk")
    )
    n_acc = accepted.agg(F.coalesce(F.count(F.lit(1)), F.lit(0)).alias("__k"))
    # The LITERAL rk <= num filter comes FIRST so Catalyst's
    # LimitPushDownThroughWindow/InferWindowGroupLimit fires and the branch
    # is bounded to num rows before the single-partition window; the
    # dynamic rk <= num - __k then runs on that tiny result. Filtering on
    # the non-literal bound alone planned as Exchange SinglePartition ->
    # full Sort over the ENTIRE scores table (round-1 scale bug).
    fallback = (
        scores.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= num)
        .crossJoin(F.broadcast(n_acc))
        .filter(F.col("rk") <= F.lit(num) - F.col("__k"))
        .select("seg_id", "rerank_score", F.lit(1).alias("pri"), "rk")
    )
    return accepted.unionByName(fallback)


MOODS = ("entertaining", "subjective", "discussion")


def rerank_moods(scores: DataFrame, num: int = 10) -> DataFrame:
    """All mood reranks in one result, tagged by a `mood` column.

    Each branch is the same bounded plan as :func:`rerank_mood` (literal
    top-num first, so every branch is TakeOrderedAndProject — no global
    sort); the union is plan-level concatenation, not a shuffle. The
    `scores` subtree appears once per branch; at scale, persist it or
    point all branches at a stored scores table.
    """
    out = None
    for mood in MOODS:
        d = rerank_mood(scores, mood, num=num).select(
            F.lit(mood).alias("mood"), "seg_id", "rerank_score", "pri", "rk"
        )
        out = d if out is None else out.unionByName(d)
    return out


def rerank_moods_sql(scores_sql: str, num: int = 10) -> str:
    """DuckDB twin of :func:`rerank_moods` (embed after a WITH clause)."""
    ctes = [f", scores AS ({scores_sql})"]
    selects = []
    for mood in MOODS:
        pred = mood_predicate_sql(mood)
        ctes.append(
            f""",
        acc_{mood} AS (
            SELECT seg_id, rerank_score, 0 AS pri,
                   CAST(row_number() OVER (ORDER BY rerank_score DESC, seg_id ASC) AS INT) AS rk
            FROM scores WHERE {pred} AND rerank_score > 0
            QUALIFY rk <= {num}
        ),
        fb_{mood} AS (
            SELECT seg_id, rerank_score, 1 AS pri,
                   CAST(row_number() OVER (ORDER BY rerank_score DESC, seg_id ASC) AS INT) AS rk
            FROM scores
            QUALIFY rk <= {num} - (SELECT count(*) FROM acc_{mood})
        )"""
        )
        selects.append(
            f"SELECT '{mood}' AS mood, * FROM acc_{mood} "
            f"UNION ALL SELECT '{mood}' AS mood, * FROM fb_{mood}"
        )
    return "".join(ctes) + " " + " UNION ALL ".join(selects)
