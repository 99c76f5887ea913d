"""In-corpus unigram LM scoring — the perplexity-filter analog.

Large-scale pipelines (CCNet-style) score documents with a language-model
perplexity and drop the tails. Without external model weights, the
engine-native analog is MLE unigram surprisal against the corpus itself:

    surprisal(doc) = mean over tokens of -log2( count(tok) / total_tokens )

Low mean surprisal = repetitive/boilerplate-heavy text; very high =
noise/garbage — both ends are the filter targets.

Plan shape at 100 TB: ONE explode, one shuffle to build the vocabulary
frequency table (map-side combined), one equi-join token->frequency
(AQE broadcasts it when the vocabulary is small), one per-doc aggregate.
No Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from podcast_audio_feature_extraction_spark.functions.sqlfmt import ROUND_DIGITS
from podcast_audio_feature_extraction_spark.functions.text import tokens_col, tokens_sql


def unigram_surprisal(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, mean_surprisal) per (doc_id, text) document with
    >= 1 token."""
    toks = docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = freq.agg(F.sum("cnt").cast("double").alias("total"))
    return (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_tokens"),
            F.round(F.avg(-F.log2(F.col("cnt").cast("double") / F.col("total"))), ROUND_DIGITS).alias(
                "mean_surprisal"
            ),
        )
    )


def unigram_surprisal_sql(src: str = "documents") -> str:
    """DuckDB twin (standalone WITH query)."""
    toks = tokens_sql("COALESCE(text,'')")
    return f"""
        WITH __toks AS (SELECT doc_id AS doc_id, unnest({toks}) AS tok FROM {src}),
        __freq AS (SELECT tok, count(*) AS cnt FROM __toks GROUP BY tok),
        __tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM __freq)
        SELECT doc_id,
               CAST(count(*) AS INT) AS n_tokens,
               round(avg(-log2(CAST(cnt AS DOUBLE) / total)), {ROUND_DIGITS}) AS mean_surprisal
        FROM __toks JOIN __freq USING (tok) CROSS JOIN __tot
        GROUP BY doc_id
    """
