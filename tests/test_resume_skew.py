import json
import os

import pyspark.sql.functions as F
import pytest

from podcast_audio_feature_extraction_spark.operators.resume import load_manifest, run_resumable
from podcast_audio_feature_extraction_spark.plans.backfill import build_feature_table


def _transform(df):
    return build_feature_table(df, val_col=None)


def test_resume_skips_completed_buckets(spark, transcripts_sdf, tmp_path):
    out = str(tmp_path / "features")
    run1 = run_resumable(_transform, transcripts_sdf, out, n_buckets=4, batch_size=2, run_id="r1")
    assert sorted(run1["computed_buckets"]) == [0, 1, 2, 3]
    total = run1["rows_out"]
    assert total == transcripts_sdf.count()

    # simulate a partial run: drop two buckets from the manifest and delete
    # their data — rerun must recompute exactly those
    mpath = os.path.join(out, "_manifest.json")
    m = json.load(open(mpath))
    removed = ["2", "3"]
    for b in removed:
        del m["buckets"][b]
    json.dump(m, open(mpath, "w"))
    run2 = run_resumable(_transform, transcripts_sdf, out, n_buckets=4, batch_size=2, run_id="r2")
    assert sorted(run2["computed_buckets"]) == [2, 3]
    assert sorted(run2["resumed_buckets"]) == [0, 1]

    # final table identical to a fresh single-shot run
    got = spark.read.parquet(out).drop("conv_bucket")
    fresh = _transform(transcripts_sdf)
    assert got.count() == fresh.count()
    key_sum = lambda df: df.agg(F.sum(F.crc32(F.concat_ws("|", "conv_id", "turn_idx"))).alias("s")).first()["s"]
    assert key_sum(got) == key_sum(fresh)

    man = load_manifest(out)
    assert len(man["runs"]) == 2
    assert all("rows" in v and "wall_s" in v for v in man["buckets"].values())


def test_noop_rerun_computes_nothing(spark, transcripts_sdf, tmp_path):
    out = str(tmp_path / "features2")
    run_resumable(_transform, transcripts_sdf, out, n_buckets=2, batch_size=2)
    run2 = run_resumable(_transform, transcripts_sdf, out, n_buckets=2, batch_size=2)
    assert run2["computed_buckets"] == []
    assert run2["rows_out"] == 0


def test_resume_commits_empty_batches(spark, transcripts_sdf, tmp_path):
    """One conversation over 4 buckets in batches of 1 leaves 3 batches with
    no rows: they commit with rows 0, and a rerun computes nothing. The
    source is read from parquet, as the backfill job reads it."""
    src = str(tmp_path / "src")
    transcripts_sdf.filter(F.col("conv_id") == transcripts_sdf.first()["conv_id"]).write.parquet(src)
    one = spark.read.parquet(src)
    out = str(tmp_path / "sparse")
    run = run_resumable(_transform, one, out, n_buckets=4, batch_size=1)
    assert sorted(run["computed_buckets"]) == [0, 1, 2, 3]
    assert run["rows_out"] == one.count()
    rows = sorted(v["rows"] for v in load_manifest(out)["buckets"].values())
    assert rows == [0, 0, 0, one.count()]
    rerun = run_resumable(_transform, one, out, n_buckets=4, batch_size=1)
    assert rerun["computed_buckets"] == [] and rerun["rows_out"] == 0


def test_resume_executes_transform_once_per_batch(spark, transcripts_sdf, tmp_path):
    """The per-bucket row counts must ride the write job (df.observe), not
    re-execute the transform (round-1 paid 2x compute per batch)."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import IntegerType

    acc = spark.sparkContext.accumulator(0)

    @F.udf(IntegerType())
    def probe(x):
        acc.add(1)
        return 1

    def counting_transform(df):
        return df.withColumn("probe", probe(df["turn_idx"]))

    out = str(tmp_path / "once")
    run = run_resumable(counting_transform, transcripts_sdf, out, n_buckets=2, batch_size=2)
    assert run["rows_out"] == transcripts_sdf.count()
    # each row crosses the UDF exactly once (small slack for task retries)
    assert acc.value == run["rows_out"]


def test_resume_derives_the_plan_once_per_run(spark, transcripts_sdf, tmp_path):
    """The transform builds one plan per run, which every batch filters;
    a run with nothing left to compute builds none."""
    calls = []

    def counting_transform(df):
        calls.append(df)
        return _transform(df)

    out = str(tmp_path / "plan_once")
    run = run_resumable(counting_transform, transcripts_sdf, out, n_buckets=4, batch_size=2)
    assert sorted(run["computed_buckets"]) == [0, 1, 2, 3] and len(calls) == 1
    rerun = run_resumable(counting_transform, transcripts_sdf, out, n_buckets=4, batch_size=2)
    assert rerun["computed_buckets"] == [] and len(calls) == 1


@pytest.mark.parametrize("val_col", [None, "val"])
def test_resume_batch_plan_equals_filtering_the_source_first(spark, transcripts_sdf, tmp_path, monkeypatch, val_col):
    """Catalyst pushes a batch's bucket filter through the run's one plan
    (windows on conv_id, the embedding UDF) to the source: the optimized
    plan is the one of transforming the batch's rows alone. With ``val``
    the plan carries the job's percentile/covariance windows too."""
    import re

    from podcast_audio_feature_extraction_spark.operators.resume import bucket_col

    src = transcripts_sdf if val_col is None else transcripts_sdf.withColumn("val", (F.col("turn_idx") % 7).cast("double"))

    def transform(df):
        return build_feature_table(df, val_col=val_col)

    written = []
    observe = type(src).observe

    def recording_observe(self, *args, **kwargs):
        written.append(self)
        return observe(self, *args, **kwargs)

    monkeypatch.setattr(type(src), "observe", recording_observe)
    run_resumable(transform, src, str(tmp_path / "pushdown"), n_buckets=4, batch_size=2)
    bucket = bucket_col("conv_id", 4)
    filtered_first = (
        transform(src.filter(bucket.isin([0, 1])))
        .withColumn("conv_bucket", bucket)
        .repartition("conv_bucket")
        .sortWithinPartitions("conv_bucket", "conv_id")
    )

    def plan(df):
        text = df._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"x_\d+", "x", re.sub(r"#\d+L?", "", text))

    assert len(written) == 2
    assert plan(written[0]) == plan(filtered_first)


def test_write_features_zstd_sorted(spark, transcripts_sdf, tmp_path):
    import pyarrow.parquet as pq
    from podcast_audio_feature_extraction_spark.operators.resume import write_features

    out = str(tmp_path / "feat_sink")
    write_features(transcripts_sdf.repartition(2, "conv_id"), out)
    import glob
    files = glob.glob(out + "/*.parquet")
    assert files
    md = pq.ParquetFile(files[0]).metadata
    assert "ZSTD" in str(md.row_group(0).column(0).compression).upper()
    # rows inside each file are (conv_id, turn_idx)-sorted
    pdf = pq.read_table(files[0]).to_pandas()
    key = list(zip(pdf["conv_id"], pdf["turn_idx"]))
    assert key == sorted(key)


def test_resume_writes_the_conv_bucket_layout(spark, transcripts_sdf, tmp_path):
    """run_resumable writes the one table layout: conv_bucket=N partitions
    bucketed by conv_bucket_col, n_buckets pinned, and a different count
    refused on resume."""
    import glob

    import pytest

    from podcast_audio_feature_extraction_spark.plans.backfill import conv_bucket_col

    out = str(tmp_path / "layout")
    run_resumable(_transform, transcripts_sdf, out, n_buckets=4, batch_size=4)
    assert glob.glob(out + "/conv_bucket=*") and not glob.glob(out + "/bucket=*")
    stored = spark.read.parquet(out)
    assert stored.filter(F.col("conv_bucket") != conv_bucket_col(4)).count() == 0
    assert load_manifest(out)["n_buckets"] == 4
    with pytest.raises(ValueError, match="n_buckets=4"):
        run_resumable(_transform, transcripts_sdf, out, n_buckets=8, batch_size=4)


def _zipf_frame(spark):
    """1 viral conversation (600 turns) + 30 light ones (10 turns each)."""
    import pandas as pd

    rows = []
    for conv, n in [("viral", 600)] + [(f"c{i}", 10) for i in range(30)]:
        for t in range(n):
            rows.append((conv, t, "user" if t % 3 else "assistant",
                         f"w{t % 17} x{t % 5}", pd.Timestamp(1_700_000_000 + t * 7, unit="s")))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "ts"])
    )


def test_build_segments_salted_matches_unsalted(spark):
    """The viral-conversation guard in build_segments (skew_salts) is a pure
    physical rewrite: identical rows, spread collect buffers."""
    from podcast_audio_feature_extraction_spark.operators.segments import build_segments

    df = _zipf_frame(spark)
    cols = ["seg_id", "seg_words", "seg_length", "n_turns", "seg_speakers"]
    plain = build_segments(df).select(cols).toPandas().sort_values("seg_id").reset_index(drop=True)
    salted = (
        build_segments(df, skew_salts=4).select(cols).toPandas().sort_values("seg_id").reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(salted, plain, check_dtype=False)
