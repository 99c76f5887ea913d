import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from podcast_audio_feature_extraction_spark.functions.pca import (
    apply_pca_whitener,
    fit_pca_whitener_local,
)
from podcast_audio_feature_extraction_spark.operators.search import conv_dimension, search_segments
from podcast_audio_feature_extraction_spark.operators.segments import build_segments


def test_pca_whitening_decorrelates(spark, tmp_path):
    rng = np.random.default_rng(5)
    # correlated 2-block data in 8 dims
    base = rng.normal(size=(800, 4))
    x = np.concatenate([base, base * 2.0 + rng.normal(scale=0.1, size=(800, 4))], axis=1)
    pdf = pd.DataFrame({"vec_id": range(len(x)), "embedding": [row.tolist() for row in x]})
    path = str(tmp_path / "emb.parquet")
    pdf.to_parquet(path)
    df = spark.createDataFrame(pdf)
    params = fit_pca_whitener_local(path, sample_rows=800, clip=10.0)
    out = apply_pca_whitener(df, params).toPandas()
    y = np.stack([np.asarray(v) for v in out["whitened"]])
    cov = np.cov(y - y.mean(axis=0), rowvar=False, ddof=0)
    off_diag = cov - np.diag(np.diag(cov))
    assert np.abs(off_diag).max() < 0.05  # whitened ~ identity covariance
    assert np.abs(np.diag(cov) - 1.0).max() < 0.05
    assert np.abs(y).max() <= 10.0


def test_search_scores_and_ranks(spark, transcripts_sdf):
    segs = build_segments(transcripts_sdf)
    dim = conv_dimension(transcripts_sdf)
    got = search_segments(segs, "the a and", dim, k=20).toPandas()
    assert len(got) <= 20
    assert (got["es_score"] > 0).all()
    scores = got["es_score"].to_numpy()
    assert (np.diff(scores) <= 0).all()  # descending


def test_search_no_hits_is_empty(spark, transcripts_sdf):
    segs = build_segments(transcripts_sdf)
    got = search_segments(segs, "zzzznotaword", None, k=10).toPandas()
    assert len(got) == 0


def test_bm25_idf_prefers_rarer_term(spark):
    from podcast_audio_feature_extraction_spark.operators.search import bm25_topk

    # 'rare' appears in 1 of 10 docs, 'common' in 9 of 10; same tf -> the
    # rare-term doc must outrank any common-term doc (idf dominates)
    rows = [("c0_0", "rare filler words here")] + [
        (f"c{i}_0", "common filler words here") for i in range(1, 10)
    ]
    seg = spark.createDataFrame(pd.DataFrame(rows, columns=["seg_id", "seg_words"]))
    got = bm25_topk(seg, "rare common", k=10).toPandas().sort_values("bm25", ascending=False)
    assert got.iloc[0]["seg_id"] == "c0_0"
    assert got.iloc[0]["bm25"] > got.iloc[1]["bm25"]


def test_bm25_length_normalization(spark):
    from podcast_audio_feature_extraction_spark.operators.search import bm25_topk

    # same tf=1, shorter doc scores higher under b=0.75
    rows = [("a_0", "hit short"), ("b_0", "hit " + "pad " * 30)]
    seg = spark.createDataFrame(pd.DataFrame(rows, columns=["seg_id", "seg_words"]))
    got = bm25_topk(seg, "hit", k=10).toPandas().set_index("seg_id")["bm25"]
    assert got["a_0"] > got["b_0"]


def test_bm25_matches_numpy_reference(spark):
    """Property check: engine BM25 == a direct numpy implementation of the
    same formula on a random corpus."""
    import math

    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(30)]
    docs = [" ".join(rng.choice(vocab, size=rng.integers(3, 25))) for _ in range(40)]
    seg = spark.createDataFrame(
        pd.DataFrame({"seg_id": [f"c{i}_0" for i in range(40)], "seg_words": docs})
    )
    from podcast_audio_feature_extraction_spark.operators.search import bm25_topk

    terms = ["w1", "w5"]
    got = bm25_topk(seg, " ".join(terms), k=40).toPandas().set_index("seg_id")["bm25"]

    toks = [d.split() for d in docs]
    N = len(docs)
    avgdl = sum(len(t) for t in toks) / N
    k1, b = 1.2, 0.75
    for i, t in enumerate(toks):
        s = 0.0
        for term in terms:
            tf = t.count(term)
            if tf == 0:
                continue
            df_ = sum(term in tt for tt in toks)
            idf = math.log(1 + (N - df_ + 0.5) / (df_ + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(t) / avgdl))
        s *= 2.0  # words boost, single field -> best_fields == the field
        sid = f"c{i}_0"
        if s > 0:
            assert abs(got[sid] - round(s, 6)) < 1e-6, sid
        else:
            assert sid not in got.index


def test_bm25_index_stats_match_inline(spark, transcripts_sdf):
    """The stored-index path (bm25_index + bm25_stats_from_index) must score
    identically to the inline per-query aggregate — including query terms
    absent from the corpus (df=0 both ways)."""
    from podcast_audio_feature_extraction_spark.operators.search import (
        bm25_index,
        bm25_stats_from_index,
        bm25_topk,
    )

    segs = build_segments(transcripts_sdf)
    dim = conv_dimension(transcripts_sdf)
    term_df, meta = bm25_index(segs, dim)
    for q in ("click error purchase", "signup view", "click zzznotaword"):
        terms = [x for x in q.lower().split() if x]
        stats = bm25_stats_from_index(term_df, meta, terms, ["seg_words", "dim_text"])
        indexed = bm25_topk(segs, q, dim, k=50, stats=stats).toPandas()
        inline = bm25_topk(segs, q, dim, k=50).toPandas()
        pd.testing.assert_frame_equal(
            indexed.sort_values("seg_id").reset_index(drop=True),
            inline.sort_values("seg_id").reset_index(drop=True),
        )


def test_bm25_fused_matches_segment_form(spark, transcripts_sdf):
    """bm25_topk_fused (window sums over the raw transcript, no segment
    text materialized) must score identically to the segment-table form:
    tokenizing the space-joined segment text IS the concatenation of the
    members' token lists."""
    from podcast_audio_feature_extraction_spark.operators.search import bm25_topk, bm25_topk_fused

    t = transcripts_sdf
    for q in ("click error purchase", "signup view", "click zzznotaword"):
        seg_form = (
            bm25_topk(build_segments(t), q, conv_dimension(t), k=50)
            .toPandas().sort_values("seg_id").reset_index(drop=True)
        )
        fused = (
            bm25_topk_fused(t, q, k=50)
            .toPandas().sort_values("seg_id").reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(fused, seg_form)


def test_bm25_empty_query_returns_no_rows(spark, transcripts_sdf):
    """An empty or all-blank query has one meaning on every BM25 path —
    inline stats, stored-index stats and the fused transcript form: no
    term scores, so no row ranks."""
    from podcast_audio_feature_extraction_spark.operators.search import (
        bm25_index,
        bm25_stats_from_index,
        bm25_topk,
        bm25_topk_fused,
    )

    segs = build_segments(transcripts_sdf)
    dim = conv_dimension(transcripts_sdf)
    term_df, meta = bm25_index(segs, dim)
    for q in ("", "   "):
        stats = bm25_stats_from_index(term_df, meta, [], ["seg_words", "dim_text"])
        for got in (
            bm25_topk(segs, q, dim, k=10),
            bm25_topk(segs, q, dim, k=10, stats=stats),
            bm25_topk_fused(transcripts_sdf, q, k=10),
        ):
            assert got.columns == ["seg_id", "bm25"]
            assert got.count() == 0, q


def test_bm25_fused_frees_previous_checkpoint(spark, transcripts_sdf):
    """Repeated bm25_topk_fused calls in one session must
    not accumulate block-manager storage (unpersist is a no-op on
    localCheckpoint output; the operator frees its previous checkpoint)."""
    from podcast_audio_feature_extraction_spark.operators.search import bm25_topk_fused

    n_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    for _ in range(3):
        bm25_topk_fused(transcripts_sdf, "click error", k=10).count()
    n_after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    # at most the single live slot survives, never one per call
    assert n_after - n_before <= 1, (n_before, n_after)


def test_whiten_component_col_matches_udf_path(spark, tmp_path):
    """The pure-SQL whitening fold the queries run must agree with the
    reference Arrow batch-matmul UDF (same params, different summation
    order -> compare to 1e-9 relative, not bitwise)."""
    import numpy as np

    from podcast_audio_feature_extraction_spark.functions.pca import whiten_component_col

    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {"vec_id": range(50), "embedding": [rng.standard_normal(8).tolist() for _ in range(50)]}
    )
    path = str(tmp_path / "emb.parquet")
    pdf.to_parquet(path)
    sdf = spark.createDataFrame(pdf)
    params = fit_pca_whitener_local(path, sample_rows=50)
    via_udf = (
        apply_pca_whitener(sdf, params)
        .select("vec_id", F.element_at("whitened", 1).alias("c0"))
        .toPandas()
        .sort_values("vec_id")["c0"]
        .to_numpy()
    )
    via_sql = (
        sdf.select("vec_id", whiten_component_col("embedding", params, 0).alias("c0"))
        .toPandas()
        .sort_values("vec_id")["c0"]
        .to_numpy()
    )
    np.testing.assert_allclose(via_sql, via_udf, rtol=1e-9, atol=1e-12)
