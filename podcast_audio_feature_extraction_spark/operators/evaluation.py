"""Retrieval evaluation + argmax-match metrics (SURVEY.md §2.4 A3, §5
qrels fixtures).

The reference evaluates ranked segment lists against TREC qrels golden
judgments (/root/reference/data/2020_train_qrels.list, consumed per UCL
§4.3) and counts "funny" frames by argmax-match
(/root/reference/src/search/metrics.py:24-30: frames where class 13 equals
the row max of classes 1:).

All declarative: one join + one groupBy per metric pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from podcast_audio_feature_extraction_spark.functions.sqlfmt import ROUND_DIGITS


def argmax_match_count(scores: Column, target_idx: int, slice_start: int, slice_len: int) -> Column:
    """A3: group-count of rows where scores[target_idx] equals the max of
    scores[slice_start : slice_start+slice_len] (0-based args; the target
    must lie inside the slice for matches to mean 'argmax == target')."""
    is_match = F.element_at(scores, target_idx + 1) == F.array_max(F.slice(scores, slice_start + 1, slice_len))
    return F.sum(is_match.cast("int")).cast("int")


def ranking_metrics(results: DataFrame, qrels: DataFrame, k: int = 10) -> DataFrame:
    """Per-topic P@k / recall@k / MRR@k.

    results: (topic_id, seg_id, rk) ranked 1-based; qrels:
    (topic_id, seg_id, grade) with grade > 0 meaning relevant.
    """
    topk = results.filter(F.col("rk") <= k)
    rel = qrels.filter(F.col("grade") > 0).select("topic_id", "seg_id")
    n_rel = rel.groupBy("topic_id").agg(F.count(F.lit(1)).alias("n_rel"))
    hits = topk.join(rel, ["topic_id", "seg_id"]).groupBy("topic_id").agg(
        F.count(F.lit(1)).alias("hits"),
        F.min("rk").alias("first_rel_rank"),
        F.sum(F.lit(1.0) / F.log2(F.col("rk").cast("double") + 1)).alias("__dcg"),
    )
    # binary-grade ideal DCG: the top min(n_rel, k) ranks all relevant
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.least(F.col("n_rel"), F.lit(k))),
        F.lit(0.0),
        lambda a, i: a + F.lit(1.0) / F.log2(i.cast("double") + 1),
    )
    return (
        n_rel.join(hits, "topic_id", "left")
        .select(
            "topic_id",
            F.coalesce(F.col("hits"), F.lit(0)).cast("int").alias("hits"),
            "n_rel",
            F.round(F.coalesce(F.col("hits"), F.lit(0)) / F.lit(float(k)), ROUND_DIGITS).alias("p_at_k"),
            F.round(F.coalesce(F.col("hits"), F.lit(0)) / F.col("n_rel").cast("double"), ROUND_DIGITS).alias(
                "recall_at_k"
            ),
            F.round(
                F.coalesce(F.lit(1.0) / F.col("first_rel_rank").cast("double"), F.lit(0.0)), ROUND_DIGITS
            ).alias("mrr_at_k"),
            F.round(F.coalesce(F.col("__dcg"), F.lit(0.0)) / idcg, ROUND_DIGITS).alias("ndcg_at_k"),
        )
    )


def ranking_metrics_sql(results_cte: str, qrels_cte: str, k: int = 10) -> str:
    """DuckDB twin (fragment; embed after a WITH with the named CTEs)."""
    return f"""
        , __rel AS (SELECT topic_id, seg_id FROM {qrels_cte} WHERE grade > 0),
        __nrel AS (SELECT topic_id, count(*) AS n_rel FROM __rel GROUP BY topic_id),
        __hits AS (
            SELECT r.topic_id, count(*) AS hits, min(r.rk) AS first_rel_rank,
                   sum(1.0 / log2(CAST(r.rk AS DOUBLE) + 1)) AS dcg
            FROM {results_cte} r JOIN __rel q USING (topic_id, seg_id)
            WHERE r.rk <= {k}
            GROUP BY r.topic_id
        )
        SELECT n.topic_id,
               CAST(COALESCE(h.hits, 0) AS INT) AS hits,
               n.n_rel,
               round(COALESCE(h.hits, 0) / {float(k)}, {ROUND_DIGITS}) AS p_at_k,
               round(COALESCE(h.hits, 0) / CAST(n.n_rel AS DOUBLE), {ROUND_DIGITS}) AS recall_at_k,
               round(COALESCE(1.0 / CAST(h.first_rel_rank AS DOUBLE), 0.0), {ROUND_DIGITS}) AS mrr_at_k,
               round(COALESCE(h.dcg, 0.0) / list_reduce(
                   list_transform(range(1, least(n.n_rel, {k}) + 1),
                                  i -> 1.0 / log2(CAST(i AS DOUBLE) + 1)),
                   (a, b) -> a + b), {ROUND_DIGITS}) AS ndcg_at_k
        FROM __nrel n LEFT JOIN __hits h USING (topic_id)
    """
