import pandas as pd
import pyspark.sql.functions as F

from podcast_audio_feature_extraction_spark.operators.sampling import (
    contamination_pairs,
    split_col,
)


def test_split_deterministic_and_roughly_proportional(spark):
    df = spark.range(0, 5000).select(F.col("id").alias("doc_id"))
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = df.select("doc_id", split_col(F.col("doc_id"), fr).alias("s")).toPandas()
    b = df.select("doc_id", split_col(F.col("doc_id"), fr).alias("s")).toPandas()
    # identical across runs (hash, not random)
    assert (a.sort_values("doc_id")["s"].to_numpy() == b.sort_values("doc_id")["s"].to_numpy()).all()
    counts = a["s"].value_counts(normalize=True)
    assert abs(counts["train"] - 0.8) < 0.03
    assert abs(counts["val"] - 0.1) < 0.02
    assert abs(counts["test"] - 0.1) < 0.02
    # a different salt re-rolls the assignment
    c = df.select(split_col(F.col("doc_id"), fr, salt="other").alias("s")).toPandas()
    assert (a.sort_values("doc_id")["s"].to_numpy() != c["s"].to_numpy()).any()


def test_contamination_pairs_finds_near_dup_across_tables(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [base.replace("today", "tomorrow"), "totally unrelated corpus text here now"],
            }
        )
    )
    bench = spark.createDataFrame(pd.DataFrame({"doc_id": [9], "text": [base]}))
    got = contamination_pairs(corpus, bench, jaccard_threshold=0.3).toPandas()
    assert set(zip(got["corpus_id"], got["bench_id"])) == {(1, 9)}


def test_stratified_sample_counts_and_determinism(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": range(100),
            "source": [f"s{i % 4}" for i in range(100)],
            "text": ["x"] * 100,
        }
    )
    from podcast_audio_feature_extraction_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame(pdf)
    a = stratified_sample(df, n_per_group=3).toPandas()
    b = stratified_sample(df, n_per_group=3).toPandas()
    assert a.groupby("source")["doc_id"].count().eq(3).all()
    assert set(a["doc_id"]) == set(b["doc_id"])  # deterministic
    c = stratified_sample(df, n_per_group=3, salt="other").toPandas()
    assert set(a["doc_id"]) != set(c["doc_id"])  # salt re-rolls


def test_quantize_roundtrip_error_bounded(spark):
    import numpy as np
    from podcast_audio_feature_extraction_spark.operators.similarity import dequantize_col, quantize_col
    import pyspark.sql.functions as F

    rng = np.random.default_rng(1)
    pdf = pd.DataFrame({"vec_id": range(20), "embedding": [rng.uniform(-1, 1, 16).tolist() for _ in range(20)]})
    df = spark.createDataFrame(pdf)
    deq = dequantize_col(quantize_col(F.col("embedding")))
    errs = F.zip_with(deq, F.col("embedding"), lambda a, b: F.abs(a - b))
    worst = df.select(F.max(F.array_max(errs)).alias("w")).first()["w"]
    assert worst <= (2.0 / 255) / 2 + 1e-12  # half a quantization step
