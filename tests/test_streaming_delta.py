"""End-to-end test for the streaming incremental feature maintenance loop
(streaming/delta.py): new-turn micro-batches drive partition-pruned
rebuilds + dynamic-overwrite commits; the stored feature table must stay
row-identical to a full rebuild of the current snapshot at every point,
re-delivered batches must be no-ops, and log compaction must not change
results."""

import os

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from podcast_audio_feature_extraction_spark.plans.backfill import (
    build_feature_table,
    write_conv_partitioned,
)
from podcast_audio_feature_extraction_spark.streaming.delta import (
    compact_transcript_log,
    stream_incremental_feature_build,
)

N_BUCKETS = 16


def _canon(df):
    return (
        df.select(
            "conv_id", "turn_idx", "ts", "session_id",
            F.col("functionals").cast("string").alias("functionals"),
            F.col("embedding").cast("string").alias("embedding"),
        )
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )


def _mk_base(spark, transcripts_pdf, tmp_path):
    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_SCHEMA

    rng = np.random.default_rng(17)
    pdf = transcripts_pdf.copy()
    pdf["val"] = np.round(rng.uniform(0, 100, size=len(pdf)), 2)
    base_sdf = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
    paths = {k: str(tmp_path / k) for k in ("base", "log", "features", "ckpt", "incoming")}
    write_conv_partitioned(base_sdf, paths["base"], n_buckets=N_BUCKETS)
    write_conv_partitioned(build_feature_table(base_sdf), paths["features"], n_buckets=N_BUCKETS)
    return pdf, paths


def _delta_batches(pdf, n_batches=2):
    """Two delta batches: new turns for different conversation subsets."""
    batches = []
    convs = pdf["conv_id"].unique()
    for b in range(n_batches):
        rows = []
        for c in convs[b * 2 : b * 2 + 2]:
            sub = pdf[pdf["conv_id"] == c]
            rows.append(
                (c, int(sub["turn_idx"].max()) + 1 + b, "user", f"delta b{b}", None,
                 sub["ts"].max() + pd.Timedelta(seconds=10 + b), 7.0 + b)
            )
        batches.append(
            pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts", "val"])
        )
    return batches


def test_stream_delta_build_end_to_end(spark, transcripts_pdf, tmp_path):
    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_SCHEMA

    pdf, paths = _mk_base(spark, transcripts_pdf, tmp_path)
    batches = _delta_batches(pdf)

    # stage the incoming stream as one file per micro-batch
    import os

    os.makedirs(paths["incoming"])
    for i, b in enumerate(batches):
        spark.createDataFrame(b, schema=TRANSCRIPT_SCHEMA).coalesce(1).write.parquet(
            f"{paths['incoming']}/f{i}"
        )
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(paths["incoming"] + "/*")
    )
    q = stream_incremental_feature_build(
        stream, paths["base"], paths["log"], paths["features"], paths["ckpt"],
        n_buckets=N_BUCKETS,
    )
    q.awaitTermination()

    snapshot_pdf = pd.concat([pdf] + batches, ignore_index=True)
    want = _canon(build_feature_table(spark.createDataFrame(snapshot_pdf, schema=TRANSCRIPT_SCHEMA)))
    got = _canon(spark.read.parquet(paths["features"]))
    pd.testing.assert_frame_equal(got, want)

    # the manifest recorded every batch with its touched-bucket count
    from podcast_audio_feature_extraction_spark.operators.resume import load_manifest

    manifest = load_manifest(paths["features"])
    assert len(manifest["delta_batches"]) >= 1
    assert all(v["buckets"] >= 1 for v in manifest["delta_batches"].values())

    # compaction folds the log into base without changing feature results
    n_folded = compact_transcript_log(spark, paths["base"], paths["log"], n_buckets=N_BUCKETS)
    assert n_folded == sum(len(b) for b in batches)
    import glob

    assert glob.glob(paths["log"] + "/batch=*") == []
    base_now = _canon_transcript(spark.read.parquet(paths["base"]).drop("conv_bucket"))
    assert len(base_now) == len(snapshot_pdf)
    # and a post-compaction rebuild still matches
    got2 = _canon(spark.read.parquet(paths["features"]))
    pd.testing.assert_frame_equal(got2, want)


def _canon_transcript(df):
    return (
        df.select("conv_id", "turn_idx")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="mergesort")
        .reset_index(drop=True)
    )


def test_stream_delta_redelivery_is_noop(spark, transcripts_pdf, tmp_path):
    """Simulate a re-delivered micro-batch: committed batchIds
    short-circuit, and even a FORCED re-run of the idempotent steps
    converges to the same feature table."""
    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_SCHEMA
    from podcast_audio_feature_extraction_spark.operators.resume import load_manifest
    from podcast_audio_feature_extraction_spark.streaming.delta import _rebuild_batch

    pdf, paths = _mk_base(spark, transcripts_pdf, tmp_path)
    (batch,) = _delta_batches(pdf, n_batches=1)
    bdf = spark.createDataFrame(batch, schema=TRANSCRIPT_SCHEMA)

    # first delivery via the raw steps (what the sink runs)
    bdir = f"{paths['log']}/batch=0"
    bdf.write.mode("overwrite").parquet(bdir)
    stored = spark.read.parquet(bdir)
    _rebuild_batch(spark, stored, paths["base"], paths["log"], paths["features"], N_BUCKETS)
    want = _canon(spark.read.parquet(paths["features"]))

    # crash-replay: the SAME batch lands + rebuilds again (no manifest
    # short-circuit — the worst case) — every step must be idempotent.
    # Re-read after the overwrite exactly as the sink does (a pre-write
    # handle would hold a stale file listing).
    bdf.write.mode("overwrite").parquet(bdir)
    stored = spark.read.parquet(bdir)
    _rebuild_batch(spark, stored, paths["base"], paths["log"], paths["features"], N_BUCKETS)
    got = _canon(spark.read.parquet(paths["features"]))
    pd.testing.assert_frame_equal(got, want)


def test_compaction_crash_replay_does_not_double_count(spark, transcripts_pdf, tmp_path):
    """Simulate a crash AFTER the compaction's base overwrite but BEFORE
    the log delete: the same turns sit in base AND log. The log-wins-per-
    key merge must collapse them — a subsequent rebuild and a compaction
    re-run both converge to the same (non-duplicated) state."""
    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_SCHEMA
    from podcast_audio_feature_extraction_spark.streaming.delta import _rebuild_batch

    pdf, paths = _mk_base(spark, transcripts_pdf, tmp_path)
    (batch,) = _delta_batches(pdf, n_batches=1)
    bdf = spark.createDataFrame(batch, schema=TRANSCRIPT_SCHEMA)
    bdir = f"{paths['log']}/batch=0"
    bdf.write.mode("overwrite").parquet(bdir)
    stored = spark.read.parquet(bdir)
    _rebuild_batch(spark, stored, paths["base"], paths["log"], paths["features"], N_BUCKETS)
    want = _canon(spark.read.parquet(paths["features"]))
    snapshot_rows = len(pdf) + len(batch)

    # "crashed" compaction: base was overwritten with base ∪ log ...
    n = compact_transcript_log(spark, paths["base"], paths["log"], n_buckets=N_BUCKETS)
    assert n == len(batch)
    # ... but the log delete "failed": put the batch dir back
    bdf.write.mode("overwrite").parquet(bdir)

    # a rebuild over the duplicated state must not double-count
    stored = spark.read.parquet(bdir)
    _rebuild_batch(spark, stored, paths["base"], paths["log"], paths["features"], N_BUCKETS)
    got = _canon(spark.read.parquet(paths["features"]))
    pd.testing.assert_frame_equal(got, want)

    # and a compaction re-run converges: base stays key-identical
    compact_transcript_log(spark, paths["base"], paths["log"], n_buckets=N_BUCKETS)
    base_rows = _canon_transcript(spark.read.parquet(paths["base"]).drop("conv_bucket"))
    assert len(base_rows) == snapshot_rows
    assert not base_rows.duplicated(["conv_id", "turn_idx"]).any()


def test_merged_snapshot_log_wins_per_key(spark):
    """_merged_snapshot semantics pinned directly: result keys = union of
    keys; on overlap the log row wins; within the log the highest batch
    id wins."""
    from podcast_audio_feature_extraction_spark.streaming.delta import _merged_snapshot

    base = spark.createDataFrame(
        [("c1", 0, "base00"), ("c1", 1, "base01"), ("c2", 0, "base20")],
        "conv_id string, turn_idx int, text string",
    )
    log = spark.createDataFrame(
        [("c1", 1, "log-b0", 0), ("c1", 1, "log-b2", 2), ("c1", 2, "log-new", 1)],
        "conv_id string, turn_idx int, text string, batch int",
    )
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in _merged_snapshot(base, log).collect()
    }
    assert got == {
        ("c1", 0): "base00",     # base-only key kept
        ("c1", 1): "log-b2",     # log wins over base; batch 2 over batch 0
        ("c1", 2): "log-new",    # log-only key kept
        ("c2", 0): "base20",
    }
    # a log with no batch column (single-batch caller) still merges
    log2 = spark.createDataFrame(
        [("c2", 0, "log-upd")], "conv_id string, turn_idx int, text string"
    )
    got2 = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in _merged_snapshot(base, log2).collect()
    }
    assert got2[("c2", 0)] == "log-upd" and len(got2) == 3


def test_merged_snapshot_dirty_same_batch_tie_is_deterministic(spark):
    """r6 (ADVICE): two rows in the SAME log batch sharing a key is
    out-of-contract input, but the survivor must still be deterministic
    (crash-replay idempotence for dirty inputs): the tie breaks on the
    remaining columns, so repeated merges pick the same row."""
    from podcast_audio_feature_extraction_spark.streaming.delta import _merged_snapshot

    base = spark.createDataFrame([], "conv_id string, turn_idx int, text string")
    log = spark.createDataFrame(
        [("c1", 0, "zebra", 0), ("c1", 0, "aardvark", 0)],
        "conv_id string, turn_idx int, text string, batch int",
    )
    winners = {
        _merged_snapshot(base, log).collect()[0]["text"]
        for _ in range(3)
    }
    assert winners == {"aardvark"}  # ascending struct order, stable across runs


@pytest.mark.parametrize("corrupt_only", [False, True])
def test_compaction_corrupt_base_raises_and_keeps_log(spark, transcripts_pdf, tmp_path, corrupt_only):
    """A base that exists but cannot be read is not "no base yet": the
    compaction must raise and keep the log, instead of overwriting the
    touched buckets with log-only rows and deleting the log. With
    ``corrupt_only`` the garbage file is the base's only file, so Spark
    meets it while inferring the schema; otherwise it may meet it only
    in the merge job."""
    import glob
    import shutil

    from podcast_audio_feature_extraction_spark.plans.backfill import touched_buckets
    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_SCHEMA

    pdf, paths = _mk_base(spark, transcripts_pdf, tmp_path)
    (batch,) = _delta_batches(pdf, n_batches=1)
    bdf = spark.createDataFrame(batch, schema=TRANSCRIPT_SCHEMA)
    bdf.write.parquet(f"{paths['log']}/batch=0")
    bucket_dir = f"{paths['base']}/conv_bucket={touched_buckets(bdf, N_BUCKETS)[0]}"
    if corrupt_only:
        shutil.rmtree(paths["base"])
        os.makedirs(bucket_dir)
    with open(f"{bucket_dir}/part-00000-corrupt.snappy.parquet", "wb") as f:
        f.write(b"not a parquet file")
    base_files = sorted(glob.glob(paths["base"] + "/conv_bucket=*/*.parquet"))

    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        compact_transcript_log(spark, paths["base"], paths["log"], n_buckets=N_BUCKETS)
    assert glob.glob(paths["log"] + "/batch=*") == [f"{paths['log']}/batch=0"]
    assert sorted(glob.glob(paths["base"] + "/conv_bucket=*/*.parquet")) == base_files


def test_rebuild_bootstraps_from_missing_base(spark, transcripts_pdf, tmp_path):
    """No base written yet (a fresh pipeline): the rebuild reads the base
    as empty and builds the touched buckets from the log alone."""
    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_SCHEMA
    from podcast_audio_feature_extraction_spark.streaming.delta import _rebuild_batch

    (batch,) = _delta_batches(transcripts_pdf.assign(val=1.0), n_batches=1)
    bdf = spark.createDataFrame(batch, schema=TRANSCRIPT_SCHEMA)
    log, features = str(tmp_path / "log"), str(tmp_path / "features")
    bdf.write.parquet(f"{log}/batch=0")
    n = _rebuild_batch(spark, spark.read.parquet(f"{log}/batch=0"), str(tmp_path / "base"), log, features, N_BUCKETS)
    assert n >= 1
    want = _canon(build_feature_table(bdf))
    pd.testing.assert_frame_equal(_canon(spark.read.parquet(features).drop("conv_bucket")), want)
