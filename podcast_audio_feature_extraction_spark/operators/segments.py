"""Segment index table (SURVEY.md §3.2 lifecycle; operators W1/A6/A7/A8/A10).

Analog of the reference's Elasticsearch segment docs
(/root/reference/src/search/index.py:17-36,55-110): 120 s windows stepped
60 s over each conversation, each segment carrying the ordered
concatenation of its words (index.py:90-91), a word-count length
(index.py:34-35) and a distinct-speaker count (index.py:93-95), keyed
``{conv_id}_{window_start_seconds}`` (index.py:66,81).

Spark plan: ONE groupBy(conv_id, F.window(...)) — the overlapping-window
grouping subsumes the reference's per-window interval scan. Ordered text
aggregation uses sort_array(collect_list(struct(ts, turn_idx, text)))
for the stable-(conv_id, turn_idx)-ordering invariant; collect_list alone
is NOT order-deterministic under shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from podcast_audio_feature_extraction_spark.functions.text import tokens_col, tokens_sql
from podcast_audio_feature_extraction_spark.functions.time import ts_micros


# the reference's segment window (index.py:79-81): 120 s long, stepped 60 s
SEG_LENGTH_S, SEG_HOP_S = 120, 60
SEG_LENGTH, SEG_HOP = f"{SEG_LENGTH_S} seconds", f"{SEG_HOP_S} seconds"


def build_segments(df: DataFrame, skew_salts: int | None = None) -> DataFrame:
    """Speakers are counted exactly via ``size(collect_set(role))`` — a
    single-pass aggregate whose state is the distinct role set (bounded
    by the role vocabulary)."""
    win = F.window(F.col("ts"), SEG_LENGTH, SEG_HOP)
    if skew_salts:
        # Viral-conversation guard: collect_list is holistic, so a hot
        # (conv, window) group's whole text buffer lands on one reducer.
        # Stage 1 collects per (conv, win, salt) — the hot group spreads
        # over skew_salts reducers; stage 2 flattens the salt partials and
        # sorts ONCE (total order => result identical to the unsalted
        # plan). n_turns re-sums partial counts; speakers merges partial
        # role sets. Costs one extra (small: partials only) shuffle — use
        # when the corpus has viral conversations. The salt hashes
        # turn_idx, so re-runs are reproducible (unlike rand()).
        salt = F.pmod(F.xxhash64(F.col("turn_idx")), F.lit(skew_salts)).cast("int")
        partial = (
            df.groupBy(F.col("conv_id"), win.alias("win"), salt.alias("salt"))
            .agg(
                F.collect_list(
                    F.struct(F.col("ts").alias("ts"), F.col("turn_idx"), F.col("text"))
                ).alias("__items"),
                F.count(F.lit(1)).alias("__n"),
                F.collect_set("role").alias("__roles"),
            )
        )
        ordered = F.sort_array(F.flatten(F.collect_list("__items")))
        grouped = partial.groupBy("conv_id", "win").agg(
            F.array_join(F.transform(ordered, lambda s: s["text"]), " ").alias("seg_words"),
            F.sum("__n").alias("n_turns"),
            F.size(F.array_distinct(F.flatten(F.collect_list("__roles")))).cast("long").alias(
                "seg_speakers"
            ),
        )
    else:
        ordered = F.sort_array(
            F.collect_list(F.struct(F.col("ts").alias("ts"), F.col("turn_idx"), F.col("text")))
        )
        # exact speakers via size(collect_set): identical to
        # count(DISTINCT role) (both skip NULLs), but a single-pass
        # aggregate — count_distinct plans a 2-phase Expand that
        # DUPLICATES every input row (text payload included) and adds a
        # second Exchange on (conv, win, role); with the holistic text
        # collect in the same agg that doubled the shuffled bytes
        # (measured ~25% off the segments row). collect_set's per-group
        # state is the distinct role set — bounded by the role vocabulary,
        # scale-safe.
        speakers = F.size(F.collect_set("role")).cast("long")
        # NOTE: unlike the numeric functional grid, this aggregation keeps
        # map-side partial aggregation: for a HOT (conv, window) group the
        # partial collect is the parallelism (32 map tasks build text
        # buffers concurrently; the reducer merges buffers instead of
        # collecting 3M raw rows serially — measured 2.5x on the viral
        # burst bench when partials were removed).
        grouped = df.groupBy(F.col("conv_id"), win.alias("win")).agg(
            F.array_join(F.transform(ordered, lambda s: s["text"]), " ").alias("seg_words"),
            F.count(F.lit(1)).alias("n_turns"),
            speakers.alias("seg_speakers"),
        )
    return (
        grouped
        .select(
            F.concat_ws(
                "_", F.col("conv_id"), (ts_micros(F.col("win.start")) / F.lit(1_000_000)).cast("long").cast("string")
            ).alias("seg_id"),
            "conv_id",
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "seg_words",
            F.size(tokens_col(F.col("seg_words"))).cast("int").alias("seg_length"),
            "n_turns",
            "seg_speakers",
        )
    )


def build_segments_sql() -> str:
    """DuckDB twin of :func:`build_segments`."""
    shifts = ", ".join(f"({i * SEG_HOP_S})" for i in range(SEG_LENGTH_S // SEG_HOP_S))
    return f"""
        SELECT conv_id || '_' || CAST(CAST(epoch_us(win_start) / 1e6 AS BIGINT) AS VARCHAR) AS seg_id,
               conv_id,
               win_start,
               win_start + INTERVAL {SEG_LENGTH_S} SECOND AS win_end,
               string_agg(text, ' ' ORDER BY ts, turn_idx) AS seg_words,
               CAST(len({tokens_sql("string_agg(text, ' ' ORDER BY ts, turn_idx)")}) AS INT) AS seg_length,
               count(*) AS n_turns,
               count(DISTINCT role) AS seg_speakers
        FROM (
            SELECT t.*, make_timestamp(((epoch_us(ts) // ({SEG_HOP_S} * 1000000)) * {SEG_HOP_S} - off.o) * 1000000) AS win_start
            FROM transcript t CROSS JOIN (VALUES {shifts}) AS off(o)
        )
        WHERE epoch_us(ts) >= epoch_us(win_start)
          AND epoch_us(ts) <  epoch_us(win_start) + {SEG_LENGTH_S} * 1000000
        GROUP BY conv_id, win_start
    """
