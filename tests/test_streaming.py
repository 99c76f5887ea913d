import pyspark.sql.functions as F

from podcast_audio_feature_extraction_spark.operators.functionals import window_functionals
from podcast_audio_feature_extraction_spark.operators.sessionize import sessionize
from podcast_audio_feature_extraction_spark.streaming.sessions import (
    read_transcript_stream,
    run_stream_to_memory,
    session_window_bounds,
    sliding_window_counts_stream,
)


def _write_stream_input(transcripts_sdf, tmp_path):
    path = str(tmp_path / "stream_in")
    transcripts_sdf.repartition(6).write.mode("overwrite").parquet(path)
    return path


def test_streaming_session_windows_match_batch(spark, transcripts_sdf, tmp_path):
    path = _write_stream_input(transcripts_sdf, tmp_path)
    stream = read_transcript_stream(spark, path, max_files_per_trigger=2)
    # files arrive in arbitrary ts order across micro-batches, so the
    # parity test needs a watermark wider than the data span (real
    # deployments tune this to the actual lateness bound)
    got = run_stream_to_memory(
        session_window_bounds(stream, gap="30 minutes", watermark="365 days"), "sess_stream", spark
    ).toPandas()
    want = session_window_bounds(transcripts_sdf, gap="30 minutes").toPandas()
    key = ["conv_id", "session_start"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want)
    assert (got["n_turns"].to_numpy() == want["n_turns"].to_numpy()).all()
    assert (got["session_end"].to_numpy() == want["session_end"].to_numpy()).all()


def test_session_window_vs_batch_sessionize_counts(spark, transcripts_sdf):
    """session_window (gap >= g splits) vs lag+cumsum (gap > g splits):
    session counts must agree when no gap equals g exactly."""
    gap_s = 1800.0
    sw = session_window_bounds(transcripts_sdf, gap="30 minutes").groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_sw")
    )
    bs = (
        sessionize(transcripts_sdf, gap_s=gap_s)
        .groupBy("conv_id")
        .agg((F.max("session_id") + 1).alias("n_bs"))
    )
    joined = sw.join(bs, "conv_id").toPandas()
    assert len(joined) > 0
    assert (joined["n_sw"].to_numpy() == joined["n_bs"].to_numpy()).all()


def test_streaming_sliding_windows_match_batch(spark, transcripts_sdf, tmp_path):
    path = _write_stream_input(transcripts_sdf, tmp_path)
    stream = read_transcript_stream(spark, path)
    got = run_stream_to_memory(
        sliding_window_counts_stream(stream, watermark="365 days"), "win_stream", spark
    ).toPandas()
    want = (
        window_functionals(transcripts_sdf.withColumn("val", F.lit(1.0)))
        .select("conv_id", "win_start", F.col("n").alias("n_turns"))
        .toPandas()
    )
    key = ["conv_id", "win_start"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want)
    assert (got["n_turns"].to_numpy() == want["n_turns"].to_numpy()).all()


def test_streaming_window_functionals_match_batch(spark, transcripts_sdf, tmp_path):
    """Streaming mean/std/min/max functionals == the batch operator's
    shared-column subset on the same data."""
    import numpy as np
    from podcast_audio_feature_extraction_spark.streaming.sessions import (
        sliding_window_functionals_stream,
    )

    src = transcripts_sdf.withColumn("val", (F.col("turn_idx") * 3.7 + 1.0).cast("double"))
    path = str(tmp_path / "wf_stream_in")
    src.repartition(6).write.mode("overwrite").parquet(path)
    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_SCHEMA
    from pyspark.sql import types as T

    schema = T.StructType(list(TRANSCRIPT_SCHEMA.fields) + [T.StructField("val", T.DoubleType(), True)])
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 2).parquet(path)
    )
    got = run_stream_to_memory(
        sliding_window_functionals_stream(stream, watermark="365 days"), "wf_stream", spark
    ).toPandas()
    want = window_functionals(src, round_digits=None).toPandas()
    key = ["conv_id", "win_start"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want)
    assert (got["n"].to_numpy() == want["n"].to_numpy()).all()
    for c in ("val_mean", "val_std", "val_min", "val_max"):
        np.testing.assert_allclose(got[c].to_numpy(), want[c].to_numpy(), rtol=1e-9, err_msg=c)


def test_stream_stream_interval_join_matches_batch(spark, transcripts_sdf, tmp_path):
    """Two streaming inputs joined on key + event-time range == the batch
    bucketed-range interval join on the same data."""
    import pandas as pd
    from pyspark.sql import types as T
    from podcast_audio_feature_extraction_spark.operators.interval import interval_join
    from podcast_audio_feature_extraction_spark.streaming.joins import stream_interval_join

    pts = transcripts_sdf.filter(F.col("role") == "user").select("conv_id", "ts", "val") \
        if "val" in transcripts_sdf.columns else \
        transcripts_sdf.filter(F.col("role") == "user").select("conv_id", "ts", F.col("turn_idx").cast("double").alias("val"))
    cands = transcripts_sdf.filter(F.col("role") == "assistant").select(
        "conv_id", F.col("turn_idx").alias("cand_idx"), F.col("ts").alias("start")
    )
    p_path, c_path = str(tmp_path / "pts"), str(tmp_path / "cands")
    pts.repartition(4).write.mode("overwrite").parquet(p_path)
    cands.repartition(4).write.mode("overwrite").parquet(c_path)
    pts_s = spark.readStream.schema(pts.schema).option("maxFilesPerTrigger", 2).parquet(p_path)
    cands_s = spark.readStream.schema(cands.schema).option("maxFilesPerTrigger", 2).parquet(c_path)

    joined = stream_interval_join(pts_s, cands_s, length_s=90, watermark="365 days")
    q = (
        joined.writeStream.format("memory").queryName("ssj").outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = spark.table("ssj").toPandas()

    cands_b = cands.withColumn("end", F.col("start") + F.expr("INTERVAL 90 SECONDS"))
    want = interval_join(pts, cands_b, on="conv_id").toPandas()
    gk = sorted(zip(got["conv_id"], got["cand_idx"], got["p_ts"]))
    wk = sorted(zip(want["conv_id"], want["cand_idx"], want["ts"]))
    assert len(gk) == len(wk) and gk == wk


def test_dedup_stream_drops_duplicates(spark, transcripts_sdf, tmp_path):
    from podcast_audio_feature_extraction_spark.streaming.sessions import dedup_stream

    # duplicate the whole input: the stream must emit each key once
    doubled = transcripts_sdf.unionByName(transcripts_sdf)
    path = str(tmp_path / "dup_in")
    doubled.repartition(4).write.mode("overwrite").parquet(path)
    stream = read_transcript_stream(spark, path, max_files_per_trigger=2)
    out = dedup_stream(stream, keys=["conv_id", "turn_idx"], watermark="365 days")
    q = (
        out.writeStream.format("memory").queryName("dedup_stream_t").outputMode("append")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = spark.table("dedup_stream_t").toPandas()
    n_unique = transcripts_sdf.select("conv_id", "turn_idx").distinct().count()
    assert len(got) == n_unique
    assert not got.duplicated(subset=["conv_id", "turn_idx"]).any()
