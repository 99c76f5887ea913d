import pandas as pd
import pyspark.sql.functions as F
import pytest

from podcast_audio_feature_extraction_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_table,
)
from podcast_audio_feature_extraction_spark.operators.rerank import rerank_mood, rerank_topical
from podcast_audio_feature_extraction_spark.operators.similarity import brute_force_topk, lsh_topk


@pytest.fixture(scope="module")
def scores_sdf(spark):
    rows = [
        # seg_id, es, rerank, laughter, music, narration, funny, debate, disapproval
        ("s01", 5, 9.0, 1, 50, 1, 8.0, 20.0, 5.0),   # passes entertaining + discussion
        ("s02", 5, 8.0, 1, 150, 1, 8.0, 20.0, 5.0),  # music too high
        ("s03", 5, 7.0, 1, 50, 1, 1.0, 20.0, 5.0),   # not funny
        ("s04", 5, -1.0, 1, 50, 1, 8.0, 20.0, 5.0),  # negative rerank (P3)
        ("s05", 5, 6.0, 1, 50, 1, 8.0, 1.0, 1.0),    # passes entertaining only
    ]
    cols = [
        "seg_id", "es_score", "rerank_score", "laughter_freq", "music_freq",
        "narration_freq", "yamnet_funny", "opensmile_debate", "opensmile_disapproval",
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=cols))


def test_rerank_topical_order(spark, scores_sdf):
    got = rerank_topical(scores_sdf, num=3).toPandas().sort_values("rk")
    assert list(got["seg_id"]) == ["s01", "s02", "s03"]


def test_rerank_mood_fallback_preserves_duplicates(spark, scores_sdf):
    # entertaining accepts s01 and s05 -> fallback adds topical top-1 (s01 again)
    got = rerank_mood(scores_sdf, "entertaining", num=3).toPandas()
    acc = got[got["pri"] == 0].sort_values("rk")
    fb = got[got["pri"] == 1].sort_values("rk")
    assert list(acc["seg_id"]) == ["s01", "s05"]
    assert list(fb["seg_id"]) == ["s01"]  # duplicate allowed, faithful to np.concatenate
    assert len(got) == 3


def test_rerank_mood_fallback_plan_is_bounded(spark, scores_sdf):
    # Round-1 scale bug: the fallback's non-literal rk <= num - __k filter
    # planned as Exchange SinglePartition -> full Sort over ALL scores.
    # With the literal rk <= num filter first, both branches must plan as
    # TakeOrderedAndProject (bounded top-k) with no single-partition sort.
    # Catalyst skips the rewrite when the input's maxRows is already <= the
    # limit, so the probe input must be bigger than num (100 rows >> 3).
    big = scores_sdf
    for _ in range(5):
        big = big.unionByName(big)
    big = big.repartition(4)  # hide maxRows-from-LocalRelation shortcuts
    plan = rerank_mood(big, "entertaining", num=3)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    assert plan.count("TakeOrderedAndProject") >= 2  # accepted + fallback


def test_rerank_mood_no_fallback_when_full(spark, scores_sdf):
    got = rerank_mood(scores_sdf, "entertaining", num=2).toPandas()
    assert (got["pri"] == 0).all() and len(got) == 2


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3, 4], "text": ["a b c", "a b c", "x y", "x y"]})
    )
    got = exact_dedup(df).toPandas().sort_values("keeper_doc_id").reset_index(drop=True)
    assert list(got["keeper_doc_id"]) == [1, 3]
    assert list(got["n_copies"]) == [2, 2]


def test_minhash_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words appear in this unrelated document text here"
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1, 2, 3], "text": [base, near, far]}))
    got = minhash_lsh_pairs(df, jaccard_threshold=0.3).toPandas()
    pairs = set(zip(got["doc_a"], got["doc_b"]))
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_close_for_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different words appear in this unrelated document text here"
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [1, 2, 3], "text": [base, near, far]}))
    sh = simhash_table(df).toPandas().set_index("doc_id")["simhash"]
    ham = lambda a, b: bin(int(a) ^ int(b)).count("1")
    assert ham(sh[1], sh[2]) < ham(sh[1], sh[3])


def test_ngram_jaccard_symmetric_bounds(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"source": ["g", "g", "g"], "doc_id": [1, 2, 3],
                      "text": ["a b c d", "a b c d", "e f g h"]})
    )
    got = ngram_jaccard_pairs(df).toPandas().set_index(["doc_a", "doc_b"])["jaccard"]
    assert got[(1, 2)] == 1.0
    assert got[(1, 3)] == 0.0


def test_ann_bruteforce_self_similarity(spark):
    pdf = pd.DataFrame(
        {
            "vec_id": [0, 1, 2, 3],
            "embedding": [[1.0, 0.0], [0.99, 0.1], [0.0, 1.0], [-1.0, 0.0]],
        }
    )
    df = spark.createDataFrame(pdf)
    got = brute_force_topk(df, df.filter(F.col("vec_id") == 0), k=2).toPandas().sort_values("rk")
    assert list(got["c_id"]) == [1, 2]  # nearest first, self excluded


def test_ann_lsh_subset_of_bucket(spark):
    pdf = pd.DataFrame(
        {
            "vec_id": [0, 1, 2, 3],
            "embedding": [[1.0, 1.0], [0.9, 0.8], [-1.0, 1.0], [-1.0, -1.0]],
        }
    )
    df = spark.createDataFrame(pdf)
    got = lsh_topk(df, df.filter(F.col("vec_id") == 0), k=5, n_bits=2).toPandas()
    assert set(got["c_id"]) == {1}  # only same-sign-bucket candidate


def test_minhash_bucket_cap_prunes_degenerate_buckets(spark):
    # 6 identical docs form one hot bucket -> capped out; one near-dup pair survives
    texts = ["same same same same boilerplate text here"] * 6 + [
        "the quick brown fox jumps over the lazy dog again and again today",
        "the quick brown fox jumps over the lazy dog again and again tomorrow",
    ]
    df = spark.createDataFrame(pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    uncapped = minhash_lsh_pairs(df, jaccard_threshold=0.3).toPandas()
    capped = minhash_lsh_pairs(df, jaccard_threshold=0.3, max_bucket=4).toPandas()
    assert len(uncapped) > len(capped)  # 15 identical pairs + 1 near-dup vs just the near-dup
    pairs = set(zip(capped["doc_a"], capped["doc_b"]))
    assert (6, 7) in pairs
    assert all(a >= 6 for a, _ in pairs)  # hot bucket fully pruned


def test_ngram_jaccard_max_block_reroutes_through_lsh(spark):
    # group 'big' has 6 near-identical docs (> max_block) -> rerouted via
    # LSH candidates: its high-jaccard pairs still surface; group 'small'
    # stays exact all-pairs including zero-jaccard pairs
    big_texts = [
        f"the quick brown fox jumps over the lazy dog again and again day{i}" for i in range(6)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "source": ["big"] * 6 + ["small", "small"],
                "doc_id": list(range(6)) + [10, 11],
                "text": big_texts + ["a b c d", "e f g h"],
            }
        )
    )
    exact = ngram_jaccard_pairs(df).toPandas()
    capped = ngram_jaccard_pairs(df, max_block=4).toPandas()
    # small block identical in both (even the jaccard=0 pair is kept)
    assert len(capped[capped["grp"] == "small"]) == 1
    # big block: capped pairs are a subset of exact, and the near-dup
    # pairs (high jaccard) are all retained by the LSH reroute
    cp = set(zip(capped[capped.grp == "big"]["doc_a"], capped[capped.grp == "big"]["doc_b"]))
    ep = set(zip(exact[exact.grp == "big"]["doc_a"], exact[exact.grp == "big"]["doc_b"]))
    assert cp <= ep
    hi = exact[(exact.grp == "big") & (exact.jaccard >= 0.5)]
    assert set(zip(hi["doc_a"], hi["doc_b"])) <= cp


def test_pair_operators_default_to_scale_safe_modes(spark):
    """API-default audit (round-2 verdict): calling the pair operators with
    DEFAULTS must route through the bucketed/capped paths — a 100 TB caller
    should never get a quadratic plan by accident. Exact modes require an
    explicit n_bits=0 / max_block=None / max_bucket=None."""
    import inspect

    from podcast_audio_feature_extraction_spark.operators.dedup import (
        minhash_lsh_pairs as mh,
        ngram_jaccard_pairs as ng,
    )
    from podcast_audio_feature_extraction_spark.operators.similarity import (
        embedding_near_dup_pairs as nd,
    )

    assert inspect.signature(mh).parameters["max_bucket"].default is not None
    assert inspect.signature(ng).parameters["max_block"].default is not None
    assert inspect.signature(nd).parameters["n_bits"].default > 0

    # default embedding near-dup plan: bucket equi-join, never a cross join
    emb = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [0, 1, 2],
                "embedding": [
                    [1.0, 2.0, 0.5, -0.5],
                    [1.0, 2.1, 0.5, -0.4],
                    [-1.0, 0.5, -2.0, 1.0],
                ],
            }
        )
    )
    plan = nd(emb)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

    # default ngram plan contains the LSH reroute branch (union of exact
    # small blocks + LSH-candidate big blocks), proving the cap is live
    docs = spark.createDataFrame(
        pd.DataFrame({"source": ["s", "s"], "doc_id": [1, 2], "text": ["a b c d", "a b c e"]})
    )
    assert "Union" in ng(docs)._jdf.queryExecution().analyzed().toString()


def test_dedup_clusters_connected_components(spark):
    from podcast_audio_feature_extraction_spark.operators.dedup import dedup_clusters

    docs = spark.createDataFrame(pd.DataFrame({"doc_id": [1, 2, 3, 4, 5, 6]}))
    # chain 1-2-3 (needs multi-hop propagation), pair 4-5, singleton 6
    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_a": [2, 1, 4], "doc_b": [3, 2, 5], "jaccard": [1.0, 1.0, 1.0]})
    )
    got = dedup_clusters(docs, pairs).toPandas().set_index("doc_id").sort_index()
    assert list(got["cluster_id"]) == [1, 1, 1, 4, 4, 6]
    assert list(got["is_keeper"]) == [1, 0, 0, 1, 0, 1]


def test_dedup_clusters_raises_when_not_converged(spark):
    from podcast_audio_feature_extraction_spark.operators.dedup import dedup_clusters

    # a 5-hop chain cannot converge in 2 rounds
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": list(range(6))}))
    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_a": [0, 1, 2, 3, 4], "doc_b": [1, 2, 3, 4, 5], "jaccard": [1.0] * 5})
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(docs, pairs, max_iters=2)


def test_dedup_clusters_frees_previous_round_checkpoints(spark):
    """Deep chain: the loop must not accumulate one block-manager copy of
    the label table per round (DataFrame.unpersist is a no-op on
    localCheckpoint output — the fix unpersists the LogicalRDD's RDD)."""
    from podcast_audio_feature_extraction_spark.operators.dedup import dedup_clusters

    n_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    # a 12-node path graph: min-label propagation needs ~11 rounds
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": list(range(12))}))
    pairs = spark.createDataFrame(
        pd.DataFrame({"doc_a": list(range(11)), "doc_b": list(range(1, 12)), "jaccard": 1.0})
    )
    out = dedup_clusters(docs, pairs, max_iters=20)
    assert out.filter("cluster_id = 0").count() == 12
    n_after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    # edges + labels seed + current + previous round <= 4 extra, never ~11
    assert n_after - n_before <= 4, (n_before, n_after)


def test_pair_dedup_reuse_table_matches_pure_plan(spark):
    """The stored-table (localCheckpoint) self-join form must produce
    exactly the pure-plan results for both minhash and simhash pairs."""
    from podcast_audio_feature_extraction_spark.operators.dedup import (
        minhash_lsh_pairs,
        simhash_pairs,
    )

    docs = pd.DataFrame(
        {
            "doc_id": range(40),
            "text": [
                "the quick brown fox jumps over the lazy dog near the river bank " + ("again " * (i % 4))
                for i in range(40)
            ],
        }
    )
    df = spark.createDataFrame(docs)

    def canon(out):
        return out.toPandas().sort_values(list(out.columns)).reset_index(drop=True)

    for fn, kwargs in (
        (minhash_lsh_pairs, {"jaccard_threshold": 0.2}),
        (simhash_pairs, {"max_hamming": 30}),
    ):
        a = canon(fn(df, reuse_table=True, **kwargs))
        b = canon(fn(df, reuse_table=False, **kwargs))
        pd.testing.assert_frame_equal(a, b)
        assert len(a) > 0, fn.__name__
