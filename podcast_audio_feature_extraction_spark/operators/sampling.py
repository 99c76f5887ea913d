"""Dataset splitting + benchmark decontamination for training-data
pipelines.

- ``split_col``: deterministic, engine-portable train/val/test assignment
  by hashed id — the split survives reshuffles, re-runs and engine swaps
  (md5 is identical everywhere), unlike ``randomSplit`` which depends on
  partitioning. Pure projection: no shuffle, works at any scale.
- ``contamination_pairs``: near-duplicate contamination between a corpus
  and a benchmark via the same minhash-LSH banding as
  :func:`~..dedup.minhash_lsh_pairs`, but ACROSS two tables — candidates
  are band-key collisions (equi-join), exact Jaccard verified on
  candidates only. The 100 TB shape: the benchmark side is tiny and
  broadcastable; the corpus side streams.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from podcast_audio_feature_extraction_spark.functions.text import SHINGLE_K, shingles_col, tokens_sql
from podcast_audio_feature_extraction_spark.operators.dedup import (
    BAND_SIZE,
    N_BANDS,
    N_HASHES,
    band_keys_col,
    jaccard_col,
    minhash_col,
)

SPLIT_BUCKETS = 10_000
SPLIT_SALT, SAMPLE_SALT = "split", "sample"


def split_col(id_col: Column, fractions: dict[str, float], salt: str = SPLIT_SALT) -> Column:
    """Deterministic split label from cumulative hash-bucket ranges.

    ``fractions`` maps label -> fraction (must sum to ~1; the last label
    absorbs rounding). Bucket = first 8 md5 hex chars of ``salt:id`` mod
    10000 — changing ``salt`` re-rolls the split without touching data.
    """
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), F.lit(":"), id_col.cast("string"))), 1, 8), 16, 10)
        .cast("long")
        % F.lit(SPLIT_BUCKETS)
    )
    labels = list(fractions)
    expr = F.lit(labels[-1])
    cum = 0.0
    cuts = []
    for lab in labels[:-1]:
        cum += fractions[lab]
        cuts.append((lab, int(round(cum * SPLIT_BUCKETS))))
    for lab, cut in reversed(cuts):
        expr = F.when(bucket < cut, F.lit(lab)).otherwise(expr)
    return expr


def split_sql(id_expr: str, fractions: dict[str, float]) -> str:
    """DuckDB twin of :func:`split_col` (same md5 bucket math, default salt)."""
    bucket = (
        f"CAST('0x' || substr(md5('{SPLIT_SALT}:' || CAST({id_expr} AS VARCHAR)), 1, 8) AS BIGINT) % {SPLIT_BUCKETS}"
    )
    labels = list(fractions)
    case = "CASE "
    cum = 0.0
    for lab in labels[:-1]:
        cum += fractions[lab]
        case += f"WHEN {bucket} < {int(round(cum * SPLIT_BUCKETS))} THEN '{lab}' "
    case += f"ELSE '{labels[-1]}' END"
    return case


def stratified_sample(
    df: DataFrame,
    group_col: str = "source",
    n_per_group: int = 5,
    salt: str = SAMPLE_SALT,
) -> DataFrame:
    """Deterministic n-per-group sample: rank rows inside each group by a
    salted ``doc_id`` hash (uniform, reproducible, engine-portable) and keep the
    first n. The distributed form of stratified subsampling — one shuffle
    on the group key, no driver-side sampling state."""
    from pyspark.sql.window import Window

    h = F.md5(F.concat(F.lit(salt), F.lit(":"), F.col("doc_id").cast("string")))
    w = Window.partitionBy(group_col).orderBy(h, F.col("doc_id"))
    return df.withColumn("__rk", F.row_number().over(w)).filter(F.col("__rk") <= n_per_group).drop("__rk")


def stratified_sample_sql(src: str = "documents", group_col: str = "source", n_per_group: int = 5) -> str:
    """DuckDB twin of :func:`stratified_sample` (same salted-hash order,
    default salt)."""
    h = f"md5('{SAMPLE_SALT}:' || CAST(doc_id AS VARCHAR))"
    return f"""
        SELECT * EXCLUDE (__rk) FROM (
            SELECT *, row_number() OVER (PARTITION BY {group_col} ORDER BY {h}, doc_id) AS __rk
            FROM {src}
        ) WHERE __rk <= {n_per_group}
    """


def contamination_pairs(corpus: DataFrame, benchmark: DataFrame, jaccard_threshold: float = 0.5) -> DataFrame:
    """(corpus_id, bench_id, jaccard) for near-duplicate contamination
    between two (doc_id, text) tables: minhash-LSH band collisions across
    the two, exact Jaccard on candidates. Returns distinct pairs above the
    threshold."""

    def bands(df: DataFrame, out_id: str, out_sh: str) -> DataFrame:
        docs = df.select(
            F.col("doc_id").alias(out_id), shingles_col(F.col("text")).alias(out_sh)
        ).withColumn("__mh", minhash_col(F.col(out_sh)))
        return docs.select(
            out_id,
            out_sh,
            F.posexplode(band_keys_col(F.col("__mh"))).alias("band_idx", "band_key"),
        )

    c = bands(corpus, "corpus_id", "sh_c")
    b = bands(benchmark, "bench_id", "sh_b")
    cand = (
        c.join(F.broadcast(b), ["band_idx", "band_key"])
        .select("corpus_id", "bench_id", "sh_c", "sh_b")
        .dropDuplicates(["corpus_id", "bench_id"])
    )
    return (
        cand.withColumn("jaccard", jaccard_col(F.col("sh_c"), F.col("sh_b")))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("corpus_id", "bench_id", "jaccard")
    )


def contamination_pairs_sql(corpus_pred: str, bench_pred: str, jaccard_threshold: float = 0.5) -> str:
    """DuckDB twin of :func:`contamination_pairs` over the documents table
    split by two predicates (how the driver query derives its two sides)."""
    k = SHINGLE_K
    toks = tokens_sql("COALESCE(text,'')")
    sh = (
        f"list_distinct(CASE WHEN len({toks}) >= {k} THEN list_transform(range(len({toks}) - {k - 1}), "
        f"i -> array_to_string({toks}[i+1:i+{k}], ' ')) ELSE [COALESCE(text,'')] END)"
    )
    return f"""
        , __sh AS (
            SELECT doc_id AS doc_id, {sh} AS sh,
                   list_transform(range({N_HASHES}),
                       i -> list_aggregate(list_transform({sh}, s -> md5(i::VARCHAR || ':' || s)), 'min')) AS mh,
                   {corpus_pred} AS is_corpus, {bench_pred} AS is_bench
            FROM documents
        ),
        __bands AS (
            SELECT doc_id, sh, is_corpus, is_bench, b.range AS band_idx,
                   md5(array_to_string(mh[b.range * {BAND_SIZE} + 1 : b.range * {BAND_SIZE} + {BAND_SIZE}], '|')) AS band_key
            FROM __sh CROSS JOIN range({N_BANDS}) b
        ),
        __cand AS (
            SELECT DISTINCT c.doc_id AS corpus_id, b.doc_id AS bench_id,
                   first(c.sh) AS sh_c, first(b.sh) AS sh_b
            FROM __bands c JOIN __bands b
              ON c.band_idx = b.band_idx AND c.band_key = b.band_key
             AND c.is_corpus AND b.is_bench
            GROUP BY c.doc_id, b.doc_id
        )
        SELECT corpus_id, bench_id,
               round(CAST(len(list_intersect(sh_c, sh_b)) AS DOUBLE)
                     / len(list_distinct(sh_c || sh_b)), 6) AS jaccard
        FROM __cand
        WHERE round(CAST(len(list_intersect(sh_c, sh_b)) AS DOUBLE)
                    / len(list_distinct(sh_c || sh_b)), 6) >= {jaccard_threshold}
    """
