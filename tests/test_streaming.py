import pyspark.sql.functions as F

from podcast_audio_feature_extraction_spark.operators.functionals import window_functionals
from podcast_audio_feature_extraction_spark.streaming.sessions import run_stream_to_memory


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
