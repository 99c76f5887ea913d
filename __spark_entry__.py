"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()[name]`` is a Spark-first implementation of an operator
from SURVEY.md §2; ``oracle_sql()[name]`` is its DuckDB twin over the same
parquet views. Transcript-domain operators run over a transcript view
derived deterministically from ``events`` (see
podcast_audio_feature_extraction_spark/sources/events.py — defined once in
both dialects).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from podcast_audio_feature_extraction_spark.functions.text import split_ws, tokens_col, tokens_sql
from podcast_audio_feature_extraction_spark.operators.asof import asof_join
from podcast_audio_feature_extraction_spark.operators.functionals import (
    window_functionals,
    window_functionals_sql,
)
from podcast_audio_feature_extraction_spark.operators.rolling import ROLL_K, token_count, turn_features
from podcast_audio_feature_extraction_spark.operators.segments import build_segments, build_segments_sql
from podcast_audio_feature_extraction_spark.operators.sessionize import (
    GAP_S,
    session_bounds,
    session_relative_features,
    sessionize,
)
from podcast_audio_feature_extraction_spark.sources.events import TRANSCRIPT_SQL, load_transcript


def _utc(spark: SparkSession) -> None:
    # all ts arithmetic assumes a UTC session; the driver's session may
    # not be configured that way, and this conf is runtime-settable.
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _with_transcript(sql: str) -> str:
    return f"WITH transcript AS ({TRANSCRIPT_SQL}) {sql}"


# --------------------------------------------------------------------------
# transcript-domain queries (the engine's own operators)
# --------------------------------------------------------------------------


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-cutoff sessionization (SURVEY §2.9)."""
    _utc(spark)
    t = load_transcript(spark, sf_dir)
    return sessionize(t, gap_s=GAP_S).select("conv_id", "turn_idx", "ts", "session_id")


def q_session_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session aggregates (A6/A8 analogs)."""
    _utc(spark)
    t = load_transcript(spark, sf_dir)
    return session_bounds(sessionize(t, gap_s=GAP_S)).select(
        "conv_id", "session_id", "session_start", "session_end", "n_turns", "n_roles", "duration_s"
    )


def q_session_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-relative per-turn features (north_star sessionize output)."""
    _utc(spark)
    t = load_transcript(spark, sf_dir)
    return session_relative_features(sessionize(t, gap_s=GAP_S)).select(
        "conv_id",
        "turn_idx",
        "ts",
        "session_id",
        "turn_in_session",
        "time_in_session_s",
        "session_len",
        "is_session_start",
        "is_session_end",
    )


def q_turn_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-embedding UDF (E5 analog) checked against an
    independent pure-SQL reimplementation of the same spec in DuckDB.

    The vector is exploded to one (conv_id, turn_idx, dim_idx, emb_val)
    row per dimension: the driver's canonicalizer sorts result frames and
    cannot hash array cells, so the comparison surface must be scalar."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.functions.embedding import with_embedding

    t = load_transcript(spark, sf_dir)
    out = with_embedding(t.select("conv_id", "turn_idx", "text"), dim=16)
    return out.select(
        "conv_id",
        "turn_idx",
        F.posexplode(F.col("embedding")).alias("dim_idx", "emb_val"),
    ).select("conv_id", "turn_idx", "dim_idx", F.round("emb_val", 6).alias("emb_val"))


TURN_FEATURE_COLS = [
    "conv_id",
    "turn_idx",
    "ts",
    "token_cnt",
    "char_len",
    "is_tool_use",
    "prev_role",
    "next_role",
    "role_changed",
    "gap_s",
    "roll_token_mean",
    "roll_token_std",
    "roll_token_min",
    "roll_token_max",
    "roll_tool_cnt",
    "roll_val_mean",
    "roll_val_std",
    "roll_val_min",
    "roll_val_max",
    "roll_val_p20",
    "roll_val_p80",
    "roll_val_slope",
    "roll_val_cv",
]


def q_turn_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-turn lag/lead + rolling functionals (W2/W7/A1-turn-domain)."""
    _utc(spark)
    t = load_transcript(spark, sf_dir)
    out = turn_features(t, k=ROLL_K, val_col="val")
    # round running float aggregates: Spark and DuckDB accumulate in
    # different orders/algorithms, identical only to ~1e-12 relative
    for c in (
        "roll_token_mean",
        "roll_token_std",
        "roll_val_mean",
        "roll_val_std",
        "roll_val_p20",
        "roll_val_p80",
        "roll_val_slope",
        "roll_val_cv",
    ):
        # + 0.0 normalizes IEEE -0.0 (round of a tiny negative slope) so
        # the driver's string canonicalizer can't see a '-0' vs '0' split
        out = out.withColumn(c, F.round(c, 6) + F.lit(0.0))
    return out.select(*TURN_FEATURE_COLS)


def q_window_functionals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window functionals over `val` (A1/W1: 120s window, 60s hop)."""
    _utc(spark)
    t = load_transcript(spark, sf_dir)
    return window_functionals(t)


GRID_DESCRIPTORS = ["val", "tok", "chr", "tl", "wlen", "dgt", "upr", "pnc"]
GRID_STATS = ("mean", "std", "min", "max", "median", "p20", "p80", "prange", "cv", "skew", "kurt")


def _grid_descriptor_cols(t: DataFrame) -> DataFrame:
    """The 8 low-level descriptors of the full-width grid, all
    projection-only (no window/shuffle before the grid's single
    Exchange): val (the LLD), token count, char length, tool-use flag,
    chars-per-token, digit count, uppercase count, punctuation count."""
    text = F.coalesce(F.col("text"), F.lit(""))
    tok = token_count(F.col("text")).cast("double")
    chars = F.length(text).cast("double")
    return (
        t.withColumn("tok", tok)
        .withColumn("chr", chars)
        .withColumn("tl", F.col("tool").isNotNull().cast("double"))
        .withColumn("wlen", chars / F.greatest(tok, F.lit(1.0)))
        .withColumn("dgt", (F.length(text) - F.length(F.regexp_replace(text, "[0-9]", ""))).cast("double"))
        .withColumn("upr", (F.length(text) - F.length(F.regexp_replace(text, "[A-Z]", ""))).cast("double"))
        .withColumn("pnc", (F.length(text) - F.length(F.regexp_replace(text, "[.,!?;:]", ""))).cast("double"))
    )


def q_window_functionals_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 FULL matrix form: the literal 88-column eGeMAPS table shape —
    an 8-descriptor x 11-functional grid (incl. population skew/kurtosis
    from portable raw moments and the pctlrange0-2 analog p80-p20) in ONE
    groupBy pass / one Exchange
    (custom_FrameModeFunctionals.conf.inc:8-11, CLEF §4.1)."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.operators.functionals import functional_grid

    t = _grid_descriptor_cols(load_transcript(spark, sf_dir))
    return functional_grid(t, GRID_DESCRIPTORS, stats=GRID_STATS)


def q_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation robust scaling of val (median/IQR, the
    stddevNorm-family normalization) — one whole-partition window pass."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.operators.functionals import robust_scale

    t = load_transcript(spark, sf_dir)
    return robust_scale(t).select("conv_id", "turn_idx", "val_scaled")


def q_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment index table (W1/A6/A7/A10, index.py lifecycle)."""
    _utc(spark)
    t = load_transcript(spark, sf_dir)
    return build_segments(t)


def q_asof_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join (J4): for each user turn, the latest assistant
    feature at or before its ts."""
    _utc(spark)
    t = load_transcript(spark, sf_dir)
    feats = t.filter(F.col("role") == "assistant").select(
        "conv_id",
        "ts",
        F.col("turn_idx").alias("feat_turn_idx"),
        token_count(F.col("text")).alias("feat_token_cnt"),
    )
    # unique right rows per (conv_id, ts): last turn_idx wins (same rule in
    # the DuckDB twin; ASOF JOIN is ambiguous under right-ts duplicates)
    rn = Window.partitionBy("conv_id", "ts").orderBy(F.desc("feat_turn_idx"))
    feats = feats.withColumn("__rn", F.row_number().over(rn)).filter(F.col("__rn") == 1).drop("__rn")
    left = t.filter(F.col("role") == "user").select("conv_id", "turn_idx", "ts")
    return asof_join(
        left, feats, on="conv_id", ts_col="ts",
        value_cols=["feat_turn_idx", "feat_token_cnt"], right_tie_cols=["feat_turn_idx"],
    ).select("conv_id", "turn_idx", "ts", "feat_turn_idx", "feat_token_cnt")


# --------------------------------------------------------------------------
# relational coverage queries (scans/filters/joins/aggs/top-k over TPC-H-ish)
# --------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style grouped aggregation (A-class; P-class filter)."""
    _utc(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_discount").between(0.02, 0.08))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k with deterministic tiebreak (T1/T2: TakeOrderedAndProject)."""
    _utc(spark)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    )


def q_semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast left-semi join (J1/P1) + left-anti join (U2/P7 shape) in
    one tagged result: customers WITH a >400k order and customers with NO
    >300k order. Both branches scan customer once each and broadcast the
    filtered order keys."""
    _utc(spark)
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    semi_keys = o.filter(F.col("o_totalprice") > 400000).select("o_custkey")
    anti_keys = o.filter(F.col("o_totalprice") > 300000).select("o_custkey")
    semi = c.join(F.broadcast(semi_keys), c.c_custkey == semi_keys.o_custkey, "left_semi").select(
        F.lit("semi").alias("side"), "c_custkey", "c_name"
    )
    anti = c.join(F.broadcast(anti_keys), c.c_custkey == anti_keys.o_custkey, "left_anti").select(
        F.lit("anti").alias("side"), "c_custkey", "c_name"
    )
    return semi.unionByName(anti)


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality scoring over documents (training-data pipeline op)."""
    _utc(spark)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = tokens_col(F.col("text"))
    return d.select(
        "doc_id",
        "lang",
        F.size(toks).cast("int").alias("n_tokens"),
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("int").alias("n_chars_obs"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_unique_tokens"),
        F.round(F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1)), 6).alias("ttr"),
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash (training-data pipeline op)."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.operators.dedup import exact_dedup

    return exact_dedup(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def q_rerank_topical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: global top-10 by rerank score over mood segments."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.operators.rerank import mood_scores, rerank_topical

    t = load_transcript(spark, sf_dir)
    return rerank_topical(mood_scores(t), num=10)


def q_rerank_moods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3/U1: ALL mood reranks (entertaining: fallback path exercised;
    subjective; discussion: enough segments pass) tagged by mood column.
    Reference search.py:367-437 runs these as separate mood endpoints;
    one driver entry covers all three predicates + the fallback union."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.operators.rerank import mood_scores, rerank_moods

    t = load_transcript(spark, sf_dir)
    return rerank_moods(mood_scores(t), num=10)


def q_mood_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2-A5: per-segment threshold-count + composite mood metrics."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.operators.rerank import mood_scores

    t = load_transcript(spark, sf_dir)
    return mood_scores(t)


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs with Jaccard verification."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.operators.dedup import minhash_lsh_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # explicit max_bucket=None: CI parity with the uncapped all-pairs
    # oracle (the library DEFAULT is the capped scale-safe mode)
    return minhash_lsh_pairs(d, jaccard_threshold=0.05, max_bucket=None)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup last mile: connected components over the minhash near-dup
    pairs -> (doc_id, cluster_id, is_keeper). Iterative min-label
    propagation on Spark; DuckDB twin is a recursive-CTE closure."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.operators.dedup import dedup_clusters, minhash_lsh_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup_clusters(d, minhash_lsh_pairs(d, jaccard_threshold=0.05, max_bucket=None))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document (near-dup fingerprint)."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.operators.dedup import simhash_table

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_table(d)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked all-pairs n-gram Jaccard (within source groups)."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.operators.dedup import ngram_jaccard_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # explicit max_block=None: exact all-pairs for CI parity (the library
    # DEFAULT reroutes oversized blocks through minhash-LSH)
    return ngram_jaccard_pairs(d, max_block=None).filter(F.col("jaccard") > 0)


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 per query vector (vec_id < 5)."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.operators.similarity import brute_force_topk

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return brute_force_topk(e, e.filter(F.col("vec_id") < 5), k=10)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH approximate cosine top-10 per query vector, BOTH bucketing
    modes in one tagged result (the rerank_moods registry pattern):
    mode='axis' = sign bits of the leading dims; mode='rand' = proper
    random-hyperplane cosine-LSH (seeded literal matrix — the scale-grade
    form; plan shape identical, the matrix is a broadcast literal)."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.operators.similarity import lsh_topk, random_planes

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    axis = lsh_topk(e, q, k=10, n_bits=4).select(F.lit("axis").alias("mode"), "*")
    rand = lsh_topk(e, q, k=10, planes=random_planes(4, 64)).select(F.lit("rand").alias("mode"), "*")
    return axis.unionByName(rand)


PQ_M_SUB, PQ_K_CODES = 8, 16


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-10 (Jégou et al. 2011), BOTH scale
    modes in one tagged result (the ann_lsh registry pattern):

    mode='pq'    — flat PQ: codebooks fitted ONCE on the bounded ordered
                   sample (fit_pq_codebooks_local — bit-identical on both
                   engines), corpus encoded to m_sub small ints in one
                   Arrow pass, then asymmetric-distance top-k where the
                   scan reads ONLY the code column.
    mode='ivfpq' — the composed billion-scale path: IVF centroid buckets
                   PRUNE candidates (equi-join on centroid_id), then ADC
                   scores only the survivors from their codes. Both model
                   artifacts literal-inlined in the DuckDB twin
                   (ivf_pq_topk_sql), so prune-then-ADC is fully
                   oracle-checked — not just its pq/ivf components.
    mode='ivfpq_res' — the canonical RESIDUAL form (Jégou et al. 2011
                   §IV): codes encode x - centroid with codebooks fitted
                   on residuals, one ADC LUT per probed cell from
                   q - centroid. Sharper quantization at the same code
                   budget; recall gain vs the raw form test-pinned.

    Reference analog: precompute-then-lookup retrieval
    (/root/reference/src/search/search.py:324-353)."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.operators.similarity import (
        fit_ivf_centroids_local,
        fit_pq_codebooks_local,
        fit_residual_pq_codebooks_local,
        ivf_pq_topk,
        pq_encode,
        pq_topk,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5)
    books = fit_pq_codebooks_local(
        f"{sf_dir}/embeddings.parquet", m_sub=PQ_M_SUB, k_codes=PQ_K_CODES, iters=8
    )
    cents = fit_ivf_centroids_local(f"{sf_dir}/embeddings.parquet", n_centroids=16, iters=8)
    res_books = fit_residual_pq_codebooks_local(
        f"{sf_dir}/embeddings.parquet", cents, m_sub=PQ_M_SUB, k_codes=PQ_K_CODES, iters=8
    )
    flat = pq_topk(pq_encode(e, books), q, books, k=10).select(F.lit("pq").alias("mode"), "*")
    composed = ivf_pq_topk(e, q, cents, books, k=10, nprobe=4).select(
        F.lit("ivfpq").alias("mode"), "*"
    )
    res = ivf_pq_topk(e, q, cents, res_books, k=10, nprobe=4, residual=True).select(
        F.lit("ivfpq_res").alias("mode"), "*"
    )
    return flat.unionByName(composed).unionByName(res)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10 (coarse k-means quantizer + nprobe buckets).

    The quantizer is fitted ONCE, deterministically, with pure numpy from
    the parquet sample (fit_ivf_centroids_local); the DuckDB twin embeds
    the same centroids as literals, so assignment + probe are plain SQL
    and the whole query is oracle-checked (rows-only in round 1).
    Recall-vs-bruteforce is additionally pinned by tests/test_ivf.py."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.operators.similarity import (
        fit_ivf_centroids_local,
        ivf_topk,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = fit_ivf_centroids_local(f"{sf_dir}/embeddings.parquet", n_centroids=16, iters=8)
    return ivf_topk(e, e.filter(F.col("vec_id") < 5), cents, k=10, nprobe=4)


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (dedup mode; exact at CI scale —
    threshold 0.4 because the synthetic vectors are near-orthogonal)."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.operators.similarity import embedding_near_dup_pairs

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # explicit n_bits=0: exact all-pairs for CI parity (the library
    # DEFAULT is the sign-LSH bucketed scale-safe mode)
    return embedding_near_dup_pairs(e, threshold=0.4, n_bits=0)


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs in the BUCKETED mode (n_bits>0): sign-LSH
    collision candidates via equi-join — the 100 TB path, oracle-checked
    here (round 1 only verified the quadratic n_bits=0 mode)."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.operators.similarity import embedding_near_dup_pairs

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_near_dup_pairs(e, threshold=0.4, n_bits=4)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with prefix-bucket blocking (the scale path:
    equi-join on the top 12 bits, hamming verify on collisions only)."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.operators.dedup import simhash_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_pairs(d, max_hamming=24, prefix_bits=12)


def q_grouping_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets family in one tagged result: ROLLUP (hierarchical
    subtotals) and CUBE (all 4 grouping combinations) over the same
    measure. Both are single-shuffle partial-agg plans."""
    _utc(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    def _agg(grouped, mode: str) -> DataFrame:
        return grouped.agg(
            F.round(F.sum("l_extendedprice"), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        ).select(
            F.lit(mode).alias("mode"),
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "revenue",
            "n_items",
        )

    return _agg(li.rollup("l_returnflag", "l_linestatus"), "rollup").unionByName(
        _agg(li.cube("l_returnflag", "l_linestatus"), "cube")
    )


PCA_ORACLE_COMPONENTS = 3


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged embedding post-processing check (storage + E6 whitening in
    one slot): per vector, (a) int8 quantize->dequantize round-trip error
    (max abs + mse) and (b) the first PCA-whitened components — the E6
    whitener's math oracle-checked via a pure-SQL ascending-dim fold with
    the FITTED mean/matrix inlined as literals (fit_pca_whitener_local:
    bit-identical params on both engines; the production path applies the
    same params via the Arrow batch-matmul UDF, parity pytest-pinned)."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.functions.pca import (
        fit_pca_whitener_local,
        whiten_component_col,
    )
    from podcast_audio_feature_extraction_spark.operators.similarity import dequantize_col, quantize_col

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    deq = dequantize_col(quantize_col(F.col("embedding")))
    errs = F.zip_with(deq, F.col("embedding").cast("array<double>"), lambda a, b: F.abs(a - b))
    params = fit_pca_whitener_local(f"{sf_dir}/embeddings.parquet")
    return e.select(
        "vec_id",
        F.round(F.array_max(errs), 6).alias("max_abs_err"),
        F.round(F.aggregate(errs, F.lit(0.0), lambda acc, x: acc + x * x) / F.lit(64.0), 6).alias("mse"),
        *[
            (F.round(whiten_component_col("embedding", params, j), 6) + F.lit(0.0)).alias(f"pca_c{j}")
            for j in range(PCA_ORACLE_COMPONENTS)
        ],
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic n-per-group stratified sample over documents."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.operators.sampling import stratified_sample

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_sample(d, group_col="source", n_per_group=5).select("doc_id", "source", "lang")


def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-corpus unigram LM surprisal per document (perplexity-filter
    analog: one explode + vocab agg + token join, zero Python)."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.operators.lm import unigram_surprisal

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return unigram_surprisal(d)


def q_doc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-split (train/val/test) — per-split counts +
    mean token count (split balance check, a training-data staple)."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.operators.sampling import split_col

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = tokens_col(F.col("text"))
    return (
        d.select(
            split_col(F.col("doc_id"), {"train": 0.8, "val": 0.1, "test": 0.1}).alias("split"),
            F.size(toks).cast("int").alias("n_tokens"),
        )
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.round(F.avg("n_tokens"), 6).alias("mean_tokens"))
    )


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table near-dup contamination: minhash-LSH band collisions
    between a pseudo-corpus and a pseudo-benchmark derived from the same
    documents table (doc_id mod 10 == 0 plays the benchmark)."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.operators.sampling import contamination_pairs

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = d.filter(F.col("doc_id") % 10 == 0)
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    return contamination_pairs(corpus, bench, jaccard_threshold=0.05)


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation composition: quality gate (length + repetition)
    -> exact-dedup keepers -> deterministic split accounting. One query
    exercising the filter/dedup/split stages a training-data pipeline
    chains, per (split, lang)."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.functions.text import quality_cols
    from podcast_audio_feature_extraction_spark.operators.sampling import split_col

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = quality_cols(F.col("text"))
    gated = d.select("doc_id", "lang", "text").filter(
        (q["n_tokens"] >= 5) & (q["rep_3gram_ratio"] < 0.5)
    )
    keepers = gated.groupBy(F.md5(F.col("text")).alias("__h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    kept = gated.join(keepers, "doc_id", "left_semi")
    return (
        kept.select(
            split_col(F.col("doc_id"), {"train": 0.8, "val": 0.1, "test": 0.1}).alias("split"),
            "lang",
        )
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + language-ID + BPE-ish token count + fingerprint."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.functions.text import (
        bpe_token_count_col,
        fingerprint_col,
        lang_guess_col,
        quality_cols,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    q = quality_cols(F.col("text"))
    return d.select(
        "doc_id",
        *[c.alias(name) for name, c in q.items()],
        bpe_token_count_col(F.col("text")).alias("bpe_tokens"),
        lang_guess_col(F.col("text")).alias("lang_guess"),
        fingerprint_col(F.col("text")).alias("fingerprint"),
    )


TOK_MAX_LEN = 32


def q_tokenize_pad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: tokenize + pad/truncate to a fixed max_len with attention mask
    (reference search.py:244-275's BERT preprocessing shape), exploded to
    (doc_id, pos, token_id, mask) scalar rows for the driver hash."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.functions.text import (
        attention_mask_col,
        tokenize_pad_col,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d2 = d.withColumn("tid", tokenize_pad_col(F.col("text"), TOK_MAX_LEN)).withColumn(
        "m", attention_mask_col(F.col("text"), TOK_MAX_LEN)
    )
    return (
        d2.select("doc_id", F.posexplode(F.arrays_zip("tid", "m")).alias("pos", "z"))
        .select(
            "doc_id",
            F.col("pos").cast("int").alias("pos"),
            F.col("z.tid").alias("token_id"),
            F.col("z.m").alias("mask"),
        )
    )


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style 3-way join + grouped agg + top-k."""
    _utc(spark)
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(20)
    )


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (correlated scalar subquery): revenue from lineitems
    whose quantity is below 20% of their part's average quantity. Spark
    plan: per-part aggregate joined back (Catalyst decorrelates the same
    way) — no per-row subquery execution."""
    _utc(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    avg_qty = li.groupBy("l_partkey").agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_cut"))
    return (
        li.join(p.filter(F.col("p_brand") == "Brand#1"), F.col("l_partkey") == F.col("p_partkey"))
        .join(avg_qty, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS semi-join with a non-equi condition — orders
    having at least one lineitem shipped more than 60 days after the order
    date, counted per priority."""
    _utc(spark)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cond = (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > F.date_add(o.o_orderdate, 60))
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_late_orders"))
    )


def q_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join + two-level aggregation — the
    distribution of customers by order count (zero-order customers kept)."""
    _utc(spark)
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("int").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def q_revenue_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-value deciles WITHOUT a global sort: exact percentile cutoffs
    from ONE aggregate (1-row broadcast), assignment by comparison.
    A global ntile window would plan as Exchange SinglePartition over the
    whole table — the rerank-fallback anti-pattern — so the scale form is
    value-cutoff deciles (ties land in one bucket; counts near-equal).
    Cutoffs are rounded to 6 decimals in BOTH dialects before comparison
    so a last-ulp interpolation difference can never flip a boundary row."""
    _utc(spark)
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    pcts = F.array(*[F.lit(i / 10.0) for i in range(1, 10)])
    cuts = o.agg(
        F.transform(F.percentile(F.col("o_totalprice"), pcts), lambda c: F.round(c, 6)).alias("__cuts")
    )
    assigned = o.crossJoin(F.broadcast(cuts)).select(
        "o_totalprice",
        (
            F.lit(1)
            + F.aggregate(
                F.col("__cuts"), F.lit(0), lambda acc, c: acc + (F.col("o_totalprice") > c).cast("int")
            )
        ).alias("decile"),
    )
    return assigned.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        F.round(F.min("o_totalprice"), 4).alias("lo"),
        F.round(F.max("o_totalprice"), 4).alias("hi"),
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the events props column (semi-structured
    scan, S2-adjacent)."""
    _utc(spark)
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        e.select(
            "event_id",
            F.get_json_object(F.col("props"), "$.k").cast("int").alias("k"),
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def q_argmax_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 literal semantics: per label, count vectors whose dim 13 equals
    the max of dims 1..63 (metrics.py:24-30 shape)."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.operators.evaluation import argmax_match_count

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return e.groupBy("label").agg(
        argmax_match_count(F.col("embedding"), 13, 1, 63).alias("n_match"),
        F.count(F.lit(1)).cast("int").alias("n_total"),
    )


EVAL_TOPICS = [(1, "click"), (2, "error"), (3, "purchase")]


def q_search_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation (qrels consumption): P@10 / recall@10 / MRR@10
    of engine search results against derived golden judgments."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.operators.evaluation import ranking_metrics
    from podcast_audio_feature_extraction_spark.operators.search import score_expr

    t = load_transcript(spark, sf_dir)
    segs = build_segments(t).select("seg_id", "seg_words")
    res_parts, qrel_parts = [], []
    for tid, term in EVAL_TOPICS:
        scored = segs.select(
            F.lit(tid).alias("topic_id"),
            "seg_id",
            score_expr(F.col("seg_words"), [term], 2.0).alias("s"),
        ).filter(F.col("s") > 0)
        w = Window.partitionBy("topic_id").orderBy(F.desc("s"), F.asc("seg_id"))
        res_parts.append(scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 100))
        qrel_parts.append(
            segs.select(
                F.lit(tid).alias("topic_id"),
                "seg_id",
                F.when(score_expr(F.col("seg_words"), [term], 1.0) >= 2, 1).otherwise(0).alias("grade"),
            ).filter(F.col("grade") > 0)
        )
    results = res_parts[0]
    for p in res_parts[1:]:
        results = results.unionByName(p)
    qrels = qrel_parts[0]
    for p in qrel_parts[1:]:
        qrels = qrels.unionByName(p)
    return ranking_metrics(results.select("topic_id", "seg_id", "rk"), qrels, k=10)


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J4 generic range-fetch: per assistant turn ('candidate'), fetch
    the user turns in its non-grid [ts, ts+90s) slice and aggregate —
    reference search.py:311-322's per-segment ranged read. The Spark plan
    is a bucketed-range EQUI-join (never a nested-loop theta join)."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.operators.interval import interval_join

    t = load_transcript(spark, sf_dir)
    cands = t.filter(F.col("role") == "assistant").select(
        "conv_id",
        F.col("turn_idx").alias("cand_idx"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 90 SECONDS")).alias("end"),
    )
    pts = t.filter(F.col("role") == "user").select("conv_id", "ts", "val")
    hits = interval_join(pts, cands, on="conv_id", ts_col="ts")
    agg = hits.groupBy("conv_id", "cand_idx").agg(
        F.count(F.lit(1)).cast("int").alias("n_pts"),
        F.round(F.avg("val"), 6).alias("avg_val"),
    )
    # left-attach so candidates whose slice is empty stay (n_pts = 0)
    return (
        cands.select("conv_id", "cand_idx")
        .join(agg, ["conv_id", "cand_idx"], "left")
        .select(
            "conv_id",
            "cand_idx",
            F.coalesce(F.col("n_pts"), F.lit(0)).alias("n_pts"),
            "avg_val",
        )
    )


def q_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9/T1 full-fidelity analog: multi-field BM25 (seg_words^2 boost,
    best-fields max) over the segment index, reference search.py:174-214."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.operators.search import bm25_topk_fused

    t = load_transcript(spark, sf_dir)
    # same query, better plan (guide §8): the output is (seg_id, bm25)
    # only, so the segment TEXT never needs to be materialized — the
    # fused form shuffles per-(row, window) integer sums instead of the
    # windows' concatenated text. Score-identity with
    # bm25_topk(build_segments(t), q, conv_dimension(t)) is test-pinned
    # (test_search: fused == topk) and oracle-checked (the DuckDB twin
    # still scores the materialized segment table).
    return bm25_topk_fused(t, "click error purchase", k=100)


def q_search_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 production shape: build the term-keyed index stats ONCE (the
    prebuilt-ES-index analog, reference search.py:174-214), then serve TWO
    different query strings off the same stored (term, df) + field-meta
    tables — per-query cost is one scoring scan, not a fresh corpus
    aggregate."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.operators.search import (
        bm25_index,
        bm25_stats_from_index,
        bm25_topk,
        conv_dimension,
    )

    t = load_transcript(spark, sf_dir)
    segs = build_segments(t)
    dim = conv_dimension(t)
    term_df, meta = bm25_index(segs, dim)
    out = None
    for q in BM25_INDEXED_QUERIES:
        terms = split_ws(q.lower())
        stats = bm25_stats_from_index(term_df, meta, terms, ["seg_words", "dim_text"])
        r = bm25_topk(segs, q, dim, k=100, stats=stats).select(
            F.lit(q).alias("query"), "seg_id", "bm25"
        )
        out = r if out is None else out.unionByName(r)
    return out


BM25_INDEXED_QUERIES = ("click error purchase", "signup view")


def q_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-side candidate retrieval (S9/T1/J3): scored top-k segments."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.operators.search import conv_dimension, search_segments

    t = load_transcript(spark, sf_dir)
    return search_segments(build_segments(t), "click error purchase", conv_dimension(t), k=100)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "sessionize": q_sessionize,
        "session_bounds": q_session_bounds,
        "session_features": q_session_features,
        "turn_embedding": q_turn_embedding,
        "turn_features": q_turn_features,
        "window_functionals": q_window_functionals,
        "window_functionals_multi": q_window_functionals_multi,
        "robust_scale": q_robust_scale,
        "segments": q_segments,
        "asof_backfill": q_asof_backfill,
        "interval_join": q_interval_join,
        "pricing_summary": q_pricing_summary,
        "topk_orders": q_topk_orders,
        "semi_anti_customers": q_semi_anti_customers,
        "doc_stats": q_doc_stats,
        "dedup_exact": q_dedup_exact,
        "mood_scores": q_mood_scores,
        "rerank_topical": q_rerank_topical,
        "rerank_moods": q_rerank_moods,
        "dedup_minhash": q_dedup_minhash,
        "dedup_clusters": q_dedup_clusters,
        "doc_split": q_doc_split,
        "contamination": q_contamination,
        "unigram_surprisal": q_unigram_surprisal,
        "corpus_curation": q_corpus_curation,
        "embedding_quantize": q_embedding_quantize,
        "stratified_sample": q_stratified_sample,
        "dedup_simhash": q_dedup_simhash,
        "ngram_jaccard": q_ngram_jaccard,
        "ann_bruteforce": q_ann_bruteforce,
        "ann_lsh": q_ann_lsh,
        "ann_pq": q_ann_pq,
        "ann_ivf": q_ann_ivf,
        "dedup_embedding": q_dedup_embedding,
        "dedup_embedding_lsh": q_dedup_embedding_lsh,
        "simhash_pairs": q_simhash_pairs,
        "grouping_revenue": q_grouping_revenue,
        "text_quality": q_text_quality,
        "search_topk": q_search_topk,
        "search_bm25": q_search_bm25,
        "search_bm25_indexed": q_search_bm25_indexed,
        "argmax_match": q_argmax_match,
        "search_eval": q_search_eval,
        "tokenize_pad": q_tokenize_pad,
        "shipping_priority": q_shipping_priority,
        "small_qty_revenue": q_small_qty_revenue,
        "custdist": q_custdist,
        "late_orders": q_late_orders,
        "revenue_deciles": q_revenue_deciles,
        "json_extract": q_json_extract,
    }


def oracle_sql() -> dict[str, str]:
    toks = tokens_sql("COALESCE(text, '')")
    turn_features_inner = f"""
        SELECT conv_id, turn_idx, ts, token_cnt, char_len, is_tool_use,
               prev_role, next_role, role_changed, gap_s,
               round(roll_token_mean, 6) + 0.0 AS roll_token_mean,
               round(roll_token_std, 6) + 0.0  AS roll_token_std,
               roll_token_min, roll_token_max, roll_tool_cnt,
               round(roll_val_mean, 6) + 0.0   AS roll_val_mean,
               round(roll_val_std, 6) + 0.0    AS roll_val_std,
               roll_val_min, roll_val_max,
               round(roll_val_p20, 6) + 0.0   AS roll_val_p20,
               round(roll_val_p80, 6) + 0.0   AS roll_val_p80,
               round(roll_val_slope, 6) + 0.0 AS roll_val_slope,
               round(roll_val_cv, 6) + 0.0    AS roll_val_cv
        FROM (
            {_inner_turn_features_sql()}
        )
    """
    return {
        "sessionize": _with_transcript(
            """SELECT conv_id, turn_idx, ts, session_id FROM ("""
            + _sessionize_sql()
            + """)"""
        ),
        "session_bounds": _with_transcript(
            f"""
            SELECT conv_id, session_id,
                   min(ts) AS session_start, max(ts) AS session_end,
                   count(*) AS n_turns, count(DISTINCT role) AS n_roles,
                   (epoch_us(max(ts)) - epoch_us(min(ts))) / 1e6 AS duration_s
            FROM ({_sessionize_sql()})
            GROUP BY conv_id, session_id
            """
        ),
        "session_features": _with_transcript(
            """SELECT conv_id, turn_idx, ts, session_id, turn_in_session,
                      time_in_session_s, session_len, is_session_start, is_session_end
               FROM ("""
            + _session_relative_sql()
            + """)"""
        ),
        "turn_embedding": _with_transcript(_turn_embedding_sql(dim=16)),
        "turn_features": _with_transcript(turn_features_inner),
        "window_functionals": _with_transcript(window_functionals_sql()),
        "window_functionals_multi": _with_transcript(_wf_multi_sql()),
        "robust_scale": _with_transcript(_robust_scale_sql()),
        "segments": _with_transcript(build_segments_sql()),
        "interval_join": _with_transcript(_interval_fetch_sql()),
        "asof_backfill": _with_transcript(
            f"""
            , r0 AS (
                SELECT conv_id, ts, turn_idx AS feat_turn_idx,
                       CAST(len({toks}) AS INT) AS feat_token_cnt,
                       row_number() OVER (PARTITION BY conv_id, ts ORDER BY turn_idx DESC) AS rn
                FROM transcript WHERE role = 'assistant'
            ), r AS (SELECT conv_id, ts, feat_turn_idx, feat_token_cnt FROM r0 WHERE rn = 1),
            l AS (SELECT conv_id, turn_idx, ts FROM transcript WHERE role = 'user')
            SELECT l.conv_id, l.turn_idx, l.ts, r.feat_turn_idx, r.feat_token_cnt
            FROM l ASOF LEFT JOIN r ON l.conv_id = r.conv_id AND l.ts >= r.ts
            """
        ),
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_discount BETWEEN 0.02 AND 0.08
            GROUP BY l_returnflag, l_linestatus
        """,
        "topk_orders": """
            SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
            FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
        """,
        "semi_anti_customers": """
            SELECT 'semi' AS side, c_custkey, c_name FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
            UNION ALL
            SELECT 'anti' AS side, c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
        """,
        "doc_stats": f"""
            SELECT doc_id, lang,
                   CAST(len({toks}) AS INT) AS n_tokens,
                   CAST(length(COALESCE(text, '')) AS INT) AS n_chars_obs,
                   CAST(len(list_distinct({toks})) AS INT) AS n_unique_tokens,
                   round(CAST(len(list_distinct({toks})) AS DOUBLE)
                         / greatest(len({toks}), 1), 6) AS ttr
            FROM documents
        """,
        "dedup_exact": """
            SELECT md5(text) AS content_hash, min(doc_id) AS keeper_doc_id, count(*) AS n_copies
            FROM documents GROUP BY 1
        """,
        "mood_scores": _with_transcript(_mood_scores_sql()),
        "rerank_topical": _with_transcript(
            f""", scores AS ({_mood_scores_sql()})
            SELECT seg_id, rerank_score, rk FROM (
                SELECT seg_id, rerank_score,
                       CAST(row_number() OVER (ORDER BY rerank_score DESC, seg_id ASC) AS INT) AS rk
                FROM scores
            ) WHERE rk <= 10
            """
        ),
        "rerank_moods": _with_transcript(_rerank_moods_sql()),
        "dedup_minhash": "WITH documents_src AS (SELECT * FROM documents)"
        + _minhash_sql(),
        "dedup_clusters": _dedup_clusters_sql(),
        "doc_split": _doc_split_sql(),
        "unigram_surprisal": _unigram_surprisal_sql(),
        "corpus_curation": _corpus_curation_sql(),
        "embedding_quantize": _quantize_sql(),
        "stratified_sample": _stratified_sample_sql(),
        "contamination": "WITH documents_src AS (SELECT * FROM documents)" + _contamination_sql(),
        "dedup_simhash": _simhash_sql(),
        "ngram_jaccard": _ngram_jaccard_sql(),
        "ann_bruteforce": "WITH embeddings_src AS (SELECT * FROM embeddings)" + _ann_sql("brute"),
        "ann_lsh": "WITH embeddings_src AS (SELECT * FROM embeddings)" + _ann_sql("lsh_union"),
        "ann_pq": _pq_sql(),
        "text_quality": _text_quality_sql(),
        "dedup_embedding": _embedding_near_dup_sql(),
        "dedup_embedding_lsh": _embedding_near_dup_lsh_sql(),
        "simhash_pairs": _simhash_pairs_sql(),
        "ann_ivf": "WITH embeddings_src AS (SELECT * FROM embeddings)" + _ivf_sql(),
        "grouping_revenue": """
            SELECT 'rollup' AS mode,
                   COALESCE(l_returnflag, 'ALL') AS returnflag,
                   COALESCE(l_linestatus, 'ALL') AS linestatus,
                   round(sum(l_extendedprice), 4) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
            UNION ALL
            SELECT 'cube' AS mode,
                   COALESCE(l_returnflag, 'ALL') AS returnflag,
                   COALESCE(l_linestatus, 'ALL') AS linestatus,
                   round(sum(l_extendedprice), 4) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "search_topk": _with_transcript(
            f", segments AS ({build_segments_sql()}) " + _search_sql()
        ),
        "search_bm25": _with_transcript(
            f", segments AS ({build_segments_sql()}) " + _bm25_sql()
        ),
        "search_bm25_indexed": _with_transcript(
            f", segments AS ({build_segments_sql()}) " + _bm25_indexed_sql()
        ),
        "argmax_match": """
            SELECT label,
                   CAST(sum(CAST(embedding[14] = list_max(embedding[2:64]) AS INT)) AS INT) AS n_match,
                   CAST(count(*) AS INT) AS n_total
            FROM embeddings GROUP BY label
        """,
        "search_eval": _with_transcript(
            f", segments AS ({build_segments_sql()}) " + _search_eval_sql()
        ),
        "tokenize_pad": _tokenize_pad_sql(),
        "shipping_priority": """
            SELECT o_orderkey, o_orderdate, o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM customer JOIN orders ON c_custkey = o_custkey
                          JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, o_orderkey ASC LIMIT 20
        """,
        "small_qty_revenue": """
            SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#1'
              AND l_quantity < (
                  SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                  WHERE l2.l_partkey = lineitem.l_partkey
              )
        """,
        "late_orders": """
            SELECT o_orderpriority, count(*) AS n_late_orders
            FROM orders
            WHERE EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_orderkey = o_orderkey
                  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
            )
            GROUP BY o_orderpriority
        """,
        "custdist": """
            SELECT c_count, count(*) AS custdist FROM (
                SELECT c_custkey, CAST(count(o_orderkey) AS INT) AS c_count
                FROM customer LEFT JOIN orders ON c_custkey = o_custkey
                GROUP BY c_custkey
            ) GROUP BY c_count
        """,
        "revenue_deciles": """
            WITH __cuts AS (
                SELECT list_transform(quantile_cont(o_totalprice, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                                      c -> round(c, 6)) AS cuts
                FROM orders
            )
            SELECT decile, count(*) AS n_orders,
                   round(sum(o_totalprice), 4) AS revenue,
                   round(min(o_totalprice), 4) AS lo,
                   round(max(o_totalprice), 4) AS hi
            FROM (
                SELECT o_totalprice,
                       1 + len(list_filter(cuts, c -> o_totalprice > c)) AS decile
                FROM orders CROSS JOIN __cuts
            ) GROUP BY decile
        """,
        "json_extract": """
            SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, count(*) AS n_events
            FROM events GROUP BY 1
        """,
    }


def _embedding_near_dup_sql() -> str:
    from podcast_audio_feature_extraction_spark.operators.similarity import embedding_near_dup_sql

    return embedding_near_dup_sql(64, threshold=0.4)


def _embedding_near_dup_lsh_sql() -> str:
    from podcast_audio_feature_extraction_spark.operators.similarity import embedding_near_dup_lsh_sql

    return embedding_near_dup_lsh_sql(64, threshold=0.4, n_bits=4)


def _simhash_pairs_sql() -> str:
    from podcast_audio_feature_extraction_spark.operators.dedup import simhash_pairs_sql

    return simhash_pairs_sql(src="documents", max_hamming=24, prefix_bits=12)


def _ivf_sql() -> str:
    """IVF twin: the quantizer is fitted deterministically from the SAME
    parquet the Spark query reads (fit is pure numpy on an ordered sample,
    so both sides get bit-identical centroids) and embedded as literals.
    The gate runs at sf0.01; tools/check_oracle.py exports
    SPARK_GRAFT_ORACLE_SF when checking another scale."""
    import os

    from podcast_audio_feature_extraction_spark.operators.similarity import (
        fit_ivf_centroids_local,
        ivf_topk_sql,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    cents = fit_ivf_centroids_local(f"{sf_dir}/embeddings.parquet", n_centroids=16, iters=8)
    return ivf_topk_sql(cents, dim=64, k=10, nprobe=4, src="embeddings")


def _search_eval_sql() -> str:
    from podcast_audio_feature_extraction_spark.operators.evaluation import ranking_metrics_sql

    def tf(term: str) -> str:
        toks = tokens_sql("lower(COALESCE(seg_words,''))")
        return f"len(list_filter({toks}, x -> x = '{term}'))"

    topic_scores = " UNION ALL ".join(
        f"SELECT {tid} AS topic_id, seg_id, 2.0 * {tf(term)} AS s, {tf(term)} AS tf FROM segments"
        for tid, term in EVAL_TOPICS
    )
    return f"""
        , __scored AS ({topic_scores}),
        __results AS (
            SELECT topic_id, seg_id,
                   CAST(row_number() OVER (PARTITION BY topic_id ORDER BY s DESC, seg_id ASC) AS INT) AS rk
            FROM __scored WHERE s > 0
            QUALIFY rk <= 100
        ),
        __qrels AS (SELECT topic_id, seg_id, 1 AS grade FROM __scored WHERE tf >= 2)
        {ranking_metrics_sql("__results", "__qrels", k=10)}
    """


def _search_sql() -> str:
    from podcast_audio_feature_extraction_spark.operators.search import search_segments_sql

    return search_segments_sql("click error purchase", k=100)


def _interval_fetch_sql() -> str:
    from podcast_audio_feature_extraction_spark.operators.interval import interval_fetch_sql

    return interval_fetch_sql(src="transcript", length_s=90)


def _bm25_sql() -> str:
    from podcast_audio_feature_extraction_spark.operators.search import bm25_topk_sql

    return bm25_topk_sql("click error purchase", k=100)


def _bm25_indexed_sql() -> str:
    from podcast_audio_feature_extraction_spark.operators.search import bm25_indexed_sql

    return bm25_indexed_sql(list(BM25_INDEXED_QUERIES), k=100)


def _wf_multi_sql() -> str:
    from podcast_audio_feature_extraction_spark.operators.functionals import functional_grid_sql

    toks = tokens_sql("COALESCE(text,'')")
    txt = "COALESCE(text, '')"
    tok_d = f"CAST(len({toks}) AS DOUBLE)"
    chr_d = f"CAST(length({txt}) AS DOUBLE)"
    return (
        f""", __m AS (
            SELECT transcript.*,
                   {tok_d} AS tok,
                   {chr_d} AS chr,
                   CAST(tool IS NOT NULL AS INT)::DOUBLE AS tl,
                   {chr_d} / greatest({tok_d}, 1.0) AS wlen,
                   CAST(length({txt}) - length(regexp_replace({txt}, '[0-9]', '', 'g')) AS DOUBLE) AS dgt,
                   CAST(length({txt}) - length(regexp_replace({txt}, '[A-Z]', '', 'g')) AS DOUBLE) AS upr,
                   CAST(length({txt}) - length(regexp_replace({txt}, '[.,!?;:]', '', 'g')) AS DOUBLE) AS pnc
            FROM transcript
        ) """
        + functional_grid_sql(GRID_DESCRIPTORS, stats=GRID_STATS, src="__m")
    )


def _robust_scale_sql() -> str:
    from podcast_audio_feature_extraction_spark.operators.functionals import robust_scale_sql

    return (
        "SELECT conv_id, turn_idx, val_scaled FROM ("
        + robust_scale_sql(src="transcript")
        + ")"
    )


def _mood_scores_sql() -> str:
    from podcast_audio_feature_extraction_spark.operators.rerank import mood_scores_sql

    return mood_scores_sql()


def _rerank_moods_sql() -> str:
    from podcast_audio_feature_extraction_spark.operators.rerank import rerank_moods_sql

    return rerank_moods_sql(_mood_scores_sql(), num=10)


def _corpus_curation_sql() -> str:
    from podcast_audio_feature_extraction_spark.functions.text import quality_sql
    from podcast_audio_feature_extraction_spark.operators.sampling import split_sql

    q = quality_sql("text")
    case = split_sql("doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return f"""
        WITH __gated AS (
            SELECT doc_id, lang, text FROM documents
            WHERE {q["n_tokens"]} >= 5 AND {q["rep_3gram_ratio"]} < 0.5
        ),
        __keepers AS (SELECT min(doc_id) AS doc_id FROM __gated GROUP BY md5(text))
        SELECT {case} AS split, lang, count(*) AS n_docs
        FROM __gated WHERE doc_id IN (SELECT doc_id FROM __keepers)
        GROUP BY 1, 2
    """


def _quantize_sql() -> str:
    """Quantize + whitener twin: the whitener params come from the SAME
    deterministic local fit as the Spark side (SPARK_GRAFT_ORACLE_SF at
    oracle_sql() build time — the ann_ivf/ann_pq contract)."""
    import os

    from podcast_audio_feature_extraction_spark.functions.pca import (
        fit_pca_whitener_local,
        whiten_component_sql,
    )
    from podcast_audio_feature_extraction_spark.operators.similarity import quantize_roundtrip_sql

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    params = fit_pca_whitener_local(f"{sf_dir}/embeddings.parquet")
    extra = {
        f"pca_c{j}": f"round({whiten_component_sql('embedding', params, j)}, 6) + 0.0"
        for j in range(PCA_ORACLE_COMPONENTS)
    }
    return quantize_roundtrip_sql(dim=64, src="embeddings", extra_exprs=extra)


def _stratified_sample_sql() -> str:
    from podcast_audio_feature_extraction_spark.operators.sampling import stratified_sample_sql

    return (
        "SELECT doc_id, source, lang FROM ("
        + stratified_sample_sql(src="documents", group_col="source", n_per_group=5)
        + ")"
    )


def _unigram_surprisal_sql() -> str:
    from podcast_audio_feature_extraction_spark.operators.lm import unigram_surprisal_sql

    return unigram_surprisal_sql(src="documents")


def _doc_split_sql() -> str:
    from podcast_audio_feature_extraction_spark.operators.sampling import split_sql

    case = split_sql("doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    toks = tokens_sql("COALESCE(text,'')")
    return f"""
        SELECT {case} AS split, count(*) AS n_docs,
               round(avg(CAST(len({toks}) AS INT)), 6) AS mean_tokens
        FROM documents GROUP BY 1
    """


def _contamination_sql() -> str:
    from podcast_audio_feature_extraction_spark.operators.sampling import contamination_pairs_sql

    return contamination_pairs_sql(
        corpus_pred="doc_id % 10 <> 0",
        bench_pred="doc_id % 10 = 0",
        jaccard_threshold=0.05,
    )


def _dedup_clusters_sql() -> str:
    from podcast_audio_feature_extraction_spark.operators.dedup import (
        dedup_clusters_sql,
        minhash_lsh_pairs_sql,
    )

    pairs_inner = "WITH documents_src AS (SELECT * FROM documents)" + minhash_lsh_pairs_sql(
        src="documents", jaccard_threshold=0.05
    )
    return f"WITH __pairs AS ({pairs_inner}) " + dedup_clusters_sql("__pairs", docs_cte="documents")


def _minhash_sql() -> str:
    from podcast_audio_feature_extraction_spark.operators.dedup import minhash_lsh_pairs_sql

    return minhash_lsh_pairs_sql(src="documents", jaccard_threshold=0.05)


def _simhash_sql() -> str:
    from podcast_audio_feature_extraction_spark.operators.dedup import simhash_sql

    return simhash_sql(src="documents")


def _ngram_jaccard_sql() -> str:
    from podcast_audio_feature_extraction_spark.operators.dedup import SHINGLE_K

    k = SHINGLE_K
    toks = tokens_sql("COALESCE(text,'')")
    sh = (
        f"list_distinct(CASE WHEN len({toks}) >= {k} THEN list_transform(range(len({toks}) - {k - 1}), "
        f"i -> array_to_string({toks}[i+1:i+{k}], ' ')) ELSE [COALESCE(text,'')] END)"
    )
    return f"""
        WITH __docs AS (SELECT source AS grp, doc_id, {sh} AS sh FROM documents)
        SELECT a.grp, a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
        FROM __docs a JOIN __docs b ON a.grp = b.grp AND a.doc_id < b.doc_id
        WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)), 6) > 0
    """


def _ann_sql(kind: str) -> str:
    from podcast_audio_feature_extraction_spark.operators.similarity import (
        brute_force_topk_sql,
        lsh_topk_sql,
        lsh_topk_union_sql,
        random_planes,
    )

    if kind == "brute":
        return brute_force_topk_sql(dim=64, k=10, src="embeddings")
    if kind == "lsh_union":
        return lsh_topk_union_sql(
            dim=64, k=10, src="embeddings", n_bits=4, planes=random_planes(4, 64)
        )
    return lsh_topk_sql(dim=64, k=10, src="embeddings", n_bits=4)


def _pq_sql() -> str:
    """PQ twin (tagged union mode='pq' ∪ mode='ivfpq'): codebooks AND IVF
    centroids fitted deterministically from the SAME parquet the Spark
    query reads (pure DuckDB+numpy on an ordered sample, so both sides
    get bit-identical model artifacts) and embedded as literals. Reads
    SPARK_GRAFT_ORACLE_SF at oracle_sql() build time — same contract as
    the IVF twin. Each branch is a full CTE chain wrapped in a derived
    table (DuckDB allows WITH inside a parenthesized subquery), so the
    two fragments' CTE names never collide."""
    import os

    from podcast_audio_feature_extraction_spark.operators.similarity import (
        fit_ivf_centroids_local,
        fit_pq_codebooks_local,
        fit_residual_pq_codebooks_local,
        ivf_pq_topk_sql,
        pq_topk_sql,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
    books = fit_pq_codebooks_local(
        f"{sf_dir}/embeddings.parquet", m_sub=PQ_M_SUB, k_codes=PQ_K_CODES, iters=8
    )
    cents = fit_ivf_centroids_local(f"{sf_dir}/embeddings.parquet", n_centroids=16, iters=8)
    res_books = fit_residual_pq_codebooks_local(
        f"{sf_dir}/embeddings.parquet", cents, m_sub=PQ_M_SUB, k_codes=PQ_K_CODES, iters=8
    )
    prefix = "WITH embeddings_src AS (SELECT * FROM embeddings)"
    flat = prefix + pq_topk_sql(books, dim=64, k=10, src="embeddings")
    composed = prefix + ivf_pq_topk_sql(cents, books, dim=64, k=10, nprobe=4, src="embeddings")
    res = prefix + ivf_pq_topk_sql(
        cents, res_books, dim=64, k=10, nprobe=4, src="embeddings", residual=True
    )
    return f"""
        SELECT 'pq' AS mode, t.* FROM ({flat}) t
        UNION ALL
        SELECT 'ivfpq' AS mode, t.* FROM ({composed}) t
        UNION ALL
        SELECT 'ivfpq_res' AS mode, t.* FROM ({res}) t
    """


def _tokenize_pad_sql() -> str:
    from podcast_audio_feature_extraction_spark.functions.text import tokenize_pad_sql

    toks = tokens_sql("COALESCE(text,'')")
    return f"""
        SELECT doc_id,
               CAST(r.range AS INT) AS pos,
               padded[r.range + 1] AS token_id,
               CAST(CASE WHEN r.range < n THEN 1 ELSE 0 END AS INT) AS mask
        FROM (
            SELECT doc_id, {tokenize_pad_sql("text", TOK_MAX_LEN)} AS padded, len({toks}) AS n
            FROM documents
        ) CROSS JOIN range({TOK_MAX_LEN}) r
    """


def _text_quality_sql() -> str:
    from podcast_audio_feature_extraction_spark.functions.text import (
        bpe_token_count_sql,
        fingerprint_sql,
        lang_guess_sql,
        quality_sql,
    )

    q = quality_sql("text")
    cols = ",\n               ".join(f"{expr} AS {name}" for name, expr in q.items())
    return f"""
        SELECT doc_id,
               {cols},
               {bpe_token_count_sql("text")} AS bpe_tokens,
               {lang_guess_sql("text")} AS lang_guess,
               {fingerprint_sql("text")} AS fingerprint
        FROM documents
    """


def _turn_embedding_sql(dim: int) -> str:
    """Pure-SQL reimplementation of functions/embedding.py's spec:
    idx = uint32_be(md5[0:4]) % dim; sign = +1 if md5 byte 4 is even;
    L2-normalize. md5 digests are identical across engines, so this is an
    independent cross-check of the Arrow pandas UDF."""
    toks = tokens_sql("COALESCE(text,'')")
    # per token: bucket = CAST('0x'||substr(md5,1,8) AS BIGINT) % dim;
    # sign from byte 4 = hex chars 9..10
    contrib = (
        f"list_transform({toks}, t -> struct_pack("
        f"b := CAST(CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % {dim} AS INT), "
        f"s := CASE WHEN CAST('0x' || substr(md5(t), 9, 2) AS INT) % 2 = 0 THEN 1.0 ELSE -1.0 END))"
    )
    raw = (
        f"list_transform(range({dim}), d -> "
        f"list_sum(list_transform(list_filter({contrib}, c -> c.b = d), c -> c.s)))"
    )
    # exploded to (conv_id, turn_idx, dim_idx, emb_val) rows: the driver
    # canonicalizer cannot sort/hash list cells (round-1 red row)
    return f"""
        SELECT conv_id, turn_idx, CAST(d.range AS INT) AS dim_idx,
               embedding[d.range + 1] AS emb_val
        FROM (
            SELECT conv_id, turn_idx,
                   CASE WHEN __n > 0
                        THEN list_transform(__raw, x -> round(COALESCE(x, 0.0) / __n, 6))
                        ELSE list_transform(__raw, x -> round(COALESCE(x, 0.0), 6)) END AS embedding
            FROM (
                SELECT conv_id, turn_idx, __raw,
                       sqrt(list_sum(list_transform(__raw, x -> COALESCE(x, 0.0) * COALESCE(x, 0.0)))) AS __n
                FROM (SELECT conv_id, turn_idx, {raw} AS __raw FROM transcript)
            )
        ) CROSS JOIN range({dim}) d
    """


def _session_relative_sql() -> str:
    from podcast_audio_feature_extraction_spark.operators.sessionize import session_relative_sql

    return session_relative_sql(_sessionize_sql())


def _sessionize_sql() -> str:
    from podcast_audio_feature_extraction_spark.operators.sessionize import sessionize_sql

    return sessionize_sql(GAP_S, src="transcript")


def _inner_turn_features_sql() -> str:
    from podcast_audio_feature_extraction_spark.operators.rolling import turn_features_sql

    return turn_features_sql(ROLL_K, src="transcript", with_val=True)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: sessionize -> rolling
    functionals -> hash embedding -> as-of backfill (driver checks rows>0)."""
    _utc(spark)
    from podcast_audio_feature_extraction_spark.plans.backfill import flagship

    t = load_transcript(spark, "/root/testdata/sf0.001")
    return flagship(t)
