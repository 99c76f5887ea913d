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
    delta_rebuild_partitioned,
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


def _stage_incoming(spark, paths, batches):
    """Stage the incoming stream as one file per micro-batch."""
    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_SCHEMA

    os.makedirs(paths["incoming"])
    for i, b in enumerate(batches):
        spark.createDataFrame(b, schema=TRANSCRIPT_SCHEMA).coalesce(1).write.parquet(
            f"{paths['incoming']}/f{i}"
        )


def _run_stream(spark, paths, n_buckets=N_BUCKETS, schema=None):
    """Drain the staged incoming files through the delta stream (one
    micro-batch per file), wait for the query to finish and return it."""
    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_SCHEMA

    stream = (
        spark.readStream.schema(schema or TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(paths["incoming"] + "/*")
    )
    q = stream_incremental_feature_build(
        stream, paths["base"], paths["log"], paths["features"], paths["ckpt"], n_buckets=n_buckets,
    )
    q.awaitTermination()
    return q


def _want_features(spark, pdf, batches):
    """Features of a full rebuild over the current snapshot base ∪ batches."""
    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_SCHEMA

    snapshot_pdf = pd.concat([pdf] + batches, ignore_index=True)
    return _canon(build_feature_table(spark.createDataFrame(snapshot_pdf, schema=TRANSCRIPT_SCHEMA)))


def test_stream_delta_build_end_to_end(spark, transcripts_pdf, tmp_path):
    pdf, paths = _mk_base(spark, transcripts_pdf, tmp_path)
    batches = _delta_batches(pdf)
    _stage_incoming(spark, paths, batches)
    _run_stream(spark, paths)

    want = _want_features(spark, pdf, batches)
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
    assert len(base_now) == len(pdf) + n_folded
    # and a post-compaction rebuild still matches
    got2 = _canon(spark.read.parquet(paths["features"]))
    pd.testing.assert_frame_equal(got2, want)


def test_backfill_job_output_is_the_stream_feature_table(spark, transcripts_pdf, tmp_path):
    """One table directory end to end: jobs/backfill_job.py writes the
    features, write_conv_partitioned the base, two micro-batches go
    through the delta stream, then compaction — the final feature table
    equals a full rebuild over base ∪ batches, and no other layout
    (``bucket=N``) is ever written."""
    import glob
    import importlib.util

    from podcast_audio_feature_extraction_spark.operators.resume import load_manifest
    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_SCHEMA

    n_buckets = 8
    pdf = transcripts_pdf.assign(val=np.round(np.random.default_rng(5).uniform(0, 100, len(transcripts_pdf)), 2))
    paths = {k: str(tmp_path / k) for k in ("src", "base", "log", "features", "ckpt", "incoming")}
    base_sdf = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
    base_sdf.write.parquet(paths["src"])
    write_conv_partitioned(base_sdf, paths["base"], n_buckets=n_buckets)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location("backfill_job", os.path.join(root, "jobs", "backfill_job.py"))
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    assert job.main([
        "--input", paths["src"], "--output", paths["features"], "--master", "local[4]",
        "--n-buckets", str(n_buckets), "--batch-size", "4",
    ]) == 0
    assert load_manifest(paths["features"])["n_buckets"] == n_buckets

    batches = _delta_batches(pdf)
    _stage_incoming(spark, paths, batches)
    _run_stream(spark, paths, n_buckets=n_buckets)
    assert compact_transcript_log(spark, paths["base"], paths["log"], n_buckets=n_buckets) == sum(map(len, batches))

    pd.testing.assert_frame_equal(_canon(spark.read.parquet(paths["features"])), _want_features(spark, pdf, batches))
    assert not glob.glob(str(tmp_path / "*" / "bucket=*"))
    manifest = load_manifest(paths["features"])
    assert len(manifest["buckets"]) == n_buckets and len(manifest["delta_batches"]) == len(batches)


def test_bucket_count_mismatch_is_refused(spark, transcripts_pdf, tmp_path):
    """A layout table pinned to n_buckets=16 refuses every writer that
    brings another count — the stream, compaction, a re-bootstrap and the
    resumable backfill — before it writes anything, and so does the
    partitioned delta rebuild before it reads. Unrefused, a rebuild
    would read the wrong base rows and the dynamic overwrite would leave
    old-layout rows beside the new ones (conversations twice)."""
    import glob

    from podcast_audio_feature_extraction_spark.operators.resume import run_resumable
    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_SCHEMA

    pdf, paths = _mk_base(spark, transcripts_pdf, tmp_path)
    batches = _delta_batches(pdf, n_batches=1)
    _stage_incoming(spark, paths, batches)
    delta = spark.createDataFrame(batches[0], schema=TRANSCRIPT_SCHEMA)
    delta.write.parquet(f"{paths['log']}/batch=0")
    before = _canon(spark.read.parquet(paths["features"]))

    with pytest.raises(ValueError, match="n_buckets=16"):
        _run_stream(spark, paths, n_buckets=8)
    with pytest.raises(ValueError, match="n_buckets=16"):
        compact_transcript_log(spark, paths["base"], paths["log"], n_buckets=8)
    with pytest.raises(ValueError, match="n_buckets=16"):
        write_conv_partitioned(spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA), paths["base"], n_buckets=8)
    with pytest.raises(ValueError, match="n_buckets=16"):
        run_resumable(build_feature_table, spark.read.parquet(paths["base"]), paths["features"], n_buckets=8)
    with pytest.raises(ValueError, match="n_buckets=16"):
        delta_rebuild_partitioned(spark, paths["base"], delta, n_buckets=8)

    assert glob.glob(paths["log"] + "/batch=*") == [f"{paths['log']}/batch=0"]
    assert not os.path.exists(paths["ckpt"])
    pd.testing.assert_frame_equal(_canon(spark.read.parquet(paths["features"])), before)
    assert len(_canon_transcript(spark.read.parquet(paths["base"]))) == len(pdf)


def _fail_once(real):
    """``real`` wrapped to raise on its first call only (fault injection)."""
    calls = []

    def wrapper(*args, **kwargs):
        calls.append(args)
        if len(calls) == 1:
            raise OSError("injected fault")
        return real(*args, **kwargs)

    return wrapper


def test_resume_crash_before_manifest_commit_converges(spark, transcripts_sdf, tmp_path, monkeypatch):
    """Fault injection in run_resumable: the first batch's data lands,
    then its manifest commit fails. The re-run recomputes that batch
    (dynamic overwrite of its partitions) and ends in the state of a
    clean run: same rows, same per-bucket manifest record."""
    from podcast_audio_feature_extraction_spark.operators import resume

    def transform(df):
        return build_feature_table(df, val_col=None)

    clean, out = str(tmp_path / "clean"), str(tmp_path / "crashed")
    resume.run_resumable(transform, transcripts_sdf, clean, n_buckets=4, batch_size=2)
    monkeypatch.setattr(resume, "_commit_manifest", _fail_once(resume._commit_manifest))
    with pytest.raises(OSError, match="injected fault"):
        resume.run_resumable(transform, transcripts_sdf, out, n_buckets=4, batch_size=2)
    assert spark.read.parquet(out).count() > 0  # the first batch had landed
    rerun = resume.run_resumable(transform, transcripts_sdf, out, n_buckets=4, batch_size=2)

    assert sorted(rerun["computed_buckets"]) == [0, 1, 2, 3]
    pd.testing.assert_frame_equal(_canon(spark.read.parquet(out)), _canon(spark.read.parquet(clean)))
    rows = lambda path: {b: v["rows"] for b, v in resume.load_manifest(path)["buckets"].items()}
    assert rows(out) == rows(clean)


@pytest.mark.parametrize("boundary", ["after_log_write", "before_manifest_commit"])
def test_stream_crash_at_step_boundary_converges(spark, transcripts_pdf, tmp_path, monkeypatch, boundary):
    """Fault injection in the stream sink: the first micro-batch raises
    once — after its log write (the rebuild never runs) or after its
    feature commit (the manifest commit fails). The query dies; a restart
    on the same checkpoint re-delivers the batch and ends in the state of
    a clean run: features equal to a full rebuild, every batch recorded
    once, every log row stored once."""
    from podcast_audio_feature_extraction_spark.operators.resume import load_manifest
    from podcast_audio_feature_extraction_spark.streaming import delta

    pdf, paths = _mk_base(spark, transcripts_pdf, tmp_path)
    batches = _delta_batches(pdf)
    _stage_incoming(spark, paths, batches)
    name = "_rebuild_batch" if boundary == "after_log_write" else "_commit_manifest"
    monkeypatch.setattr(delta, name, _fail_once(getattr(delta, name)))

    with pytest.raises(Exception, match="injected fault"):
        _run_stream(spark, paths)
    assert os.path.isdir(f"{paths['log']}/batch=0")
    assert "0" not in load_manifest(paths["features"]).get("delta_batches", {})
    _run_stream(spark, paths)

    pd.testing.assert_frame_equal(_canon(spark.read.parquet(paths["features"])), _want_features(spark, pdf, batches))
    assert sorted(load_manifest(paths["features"])["delta_batches"]) == ["0", "1"]
    log = _canon_transcript(spark.read.parquet(paths["log"]))
    assert len(log) == sum(map(len, batches)) and not log.duplicated().any()


def test_compaction_failed_log_delete_converges(spark, transcripts_pdf, tmp_path, monkeypatch):
    """Fault injection in compaction: one log directory's delete fails.
    The compaction still succeeds (the surviving batch is deduped by the
    merge); the next compaction clears it, and base ends key-identical to
    a clean compaction's."""
    import glob
    import shutil

    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_SCHEMA

    pdf, paths = _mk_base(spark, transcripts_pdf, tmp_path)
    batches = _delta_batches(pdf)
    for i, b in enumerate(batches):
        spark.createDataFrame(b, schema=TRANSCRIPT_SCHEMA).write.parquet(f"{paths['log']}/batch={i}")
    monkeypatch.setattr(shutil, "rmtree", _fail_once(shutil.rmtree))

    assert compact_transcript_log(spark, paths["base"], paths["log"], n_buckets=N_BUCKETS) == sum(map(len, batches))
    (survivor,) = glob.glob(paths["log"] + "/batch=*")
    n_survivor = len(batches[int(survivor.rsplit("=", 1)[1])])
    assert compact_transcript_log(spark, paths["base"], paths["log"], n_buckets=N_BUCKETS) == n_survivor
    assert glob.glob(paths["log"] + "/batch=*") == []

    base = _canon_transcript(spark.read.parquet(paths["base"]))
    want = _canon_transcript(spark.createDataFrame(pd.concat([pdf] + batches, ignore_index=True), schema=TRANSCRIPT_SCHEMA))
    pd.testing.assert_frame_equal(base, want)


@pytest.mark.xfail(strict=True, raises=AssertionError, reason="ROADMAP item 3")
def test_compaction_crash_inside_partition_commit_keeps_base(spark, transcripts_pdf, tmp_path, monkeypatch):
    """A crash INSIDE compaction's partition commit: Spark's ``commitJob``
    deletes a touched base bucket's directory, then the process dies
    before it renames the staged one into place. A compaction re-run must
    end with the base of a run that never crashed. Today the deleted
    directory held the only copy of that bucket's base rows, so they are
    lost; a copy-on-write commit keeps them."""
    import shutil

    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_SCHEMA
    from podcast_audio_feature_extraction_spark.streaming import delta

    def staged(root):
        pdf, paths = _mk_base(spark, transcripts_pdf, root)
        for i, b in enumerate(_delta_batches(pdf)):
            spark.createDataFrame(b, schema=TRANSCRIPT_SCHEMA).write.parquet(f"{paths['log']}/batch={i}")
        return paths

    clean, crashed = staged(tmp_path / "clean"), staged(tmp_path / "crashed")
    compact_transcript_log(spark, clean["base"], clean["log"], n_buckets=N_BUCKETS)

    def delete_then_crash(rebuilt, path, *metrics):
        shutil.rmtree(f"{path}/conv_bucket={rebuilt.first()['conv_bucket']}")
        raise OSError("injected crash between commitJob's delete and rename")

    real = delta.commit_rebuilt_partitions
    monkeypatch.setattr(delta, "commit_rebuilt_partitions", delete_then_crash)
    with pytest.raises(OSError, match="injected crash"):
        compact_transcript_log(spark, crashed["base"], crashed["log"], n_buckets=N_BUCKETS)
    monkeypatch.setattr(delta, "commit_rebuilt_partitions", real)
    compact_transcript_log(spark, crashed["base"], crashed["log"], n_buckets=N_BUCKETS)

    pd.testing.assert_frame_equal(
        _canon_transcript(spark.read.parquet(crashed["base"])), _canon_transcript(spark.read.parquet(clean["base"]))
    )


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
    from podcast_audio_feature_extraction_spark.plans.backfill import touched_buckets
    from podcast_audio_feature_extraction_spark.streaming.delta import _rebuild_batch

    pdf, paths = _mk_base(spark, transcripts_pdf, tmp_path)
    (batch,) = _delta_batches(pdf, n_batches=1)
    bdf = spark.createDataFrame(batch, schema=TRANSCRIPT_SCHEMA)

    # first delivery via the raw steps (what the sink runs)
    bdir = f"{paths['log']}/batch=0"
    buckets = touched_buckets(bdf, N_BUCKETS)
    bdf.write.mode("overwrite").parquet(bdir)
    _rebuild_batch(spark, buckets, paths["base"], paths["log"], paths["features"], N_BUCKETS)
    want = _canon(spark.read.parquet(paths["features"]))

    # crash-replay: the SAME batch lands + rebuilds again (no manifest
    # short-circuit — the worst case) — every step must be idempotent.
    bdf.write.mode("overwrite").parquet(bdir)
    _rebuild_batch(spark, buckets, paths["base"], paths["log"], paths["features"], N_BUCKETS)
    got = _canon(spark.read.parquet(paths["features"]))
    pd.testing.assert_frame_equal(got, want)


def test_compaction_crash_replay_does_not_double_count(spark, transcripts_pdf, tmp_path):
    """Simulate a crash AFTER the compaction's base overwrite but BEFORE
    the log delete: the same turns sit in base AND log. The log-wins-per-
    key merge must collapse them — a subsequent rebuild and a compaction
    re-run both converge to the same (non-duplicated) state."""
    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_SCHEMA
    from podcast_audio_feature_extraction_spark.plans.backfill import touched_buckets
    from podcast_audio_feature_extraction_spark.streaming.delta import _rebuild_batch

    pdf, paths = _mk_base(spark, transcripts_pdf, tmp_path)
    (batch,) = _delta_batches(pdf, n_batches=1)
    bdf = spark.createDataFrame(batch, schema=TRANSCRIPT_SCHEMA)
    bdir = f"{paths['log']}/batch=0"
    buckets = touched_buckets(bdf, N_BUCKETS)
    bdf.write.mode("overwrite").parquet(bdir)
    _rebuild_batch(spark, buckets, paths["base"], paths["log"], paths["features"], N_BUCKETS)
    want = _canon(spark.read.parquet(paths["features"]))
    snapshot_rows = len(pdf) + len(batch)

    # "crashed" compaction: base was overwritten with base ∪ log ...
    n = compact_transcript_log(spark, paths["base"], paths["log"], n_buckets=N_BUCKETS)
    assert n == len(batch)
    # ... but the log delete "failed": put the batch dir back
    bdf.write.mode("overwrite").parquet(bdir)

    # a rebuild over the duplicated state must not double-count
    _rebuild_batch(spark, buckets, paths["base"], paths["log"], paths["features"], N_BUCKETS)
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
    ``corrupt_only`` the garbage file is the base's only file beside its
    manifest, so the read with the pinned schema meets it in the first
    job that reads base; otherwise it may meet it only in the merge job."""
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
        for d in glob.glob(paths["base"] + "/conv_bucket=*"):
            shutil.rmtree(d)
        os.makedirs(bucket_dir)
    with open(f"{bucket_dir}/part-00000-corrupt.snappy.parquet", "wb") as f:
        f.write(b"not a parquet file")
    base_files = sorted(glob.glob(paths["base"] + "/conv_bucket=*/*.parquet"))

    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        compact_transcript_log(spark, paths["base"], paths["log"], n_buckets=N_BUCKETS)
    assert glob.glob(paths["log"] + "/batch=*") == [f"{paths['log']}/batch=0"]
    assert sorted(glob.glob(paths["base"] + "/conv_bucket=*/*.parquet")) == base_files


def _digest(*roots):
    """sha256 of every file under ``roots``, keyed by path."""
    import hashlib

    return {
        os.path.join(d, f): hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for root in roots
        for d, _, files in os.walk(root)
        for f in files
    }


def test_compaction_unpinned_base_raises_and_keeps_log(spark, transcripts_pdf, tmp_path):
    """A base whose manifest pins no schema (stored before schemas were
    pinned, and no stream started on it since) cannot be read without
    inference: compaction raises before it reads or writes anything, and
    keeps the log."""
    import glob
    import json

    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_SCHEMA

    pdf, paths = _mk_base(spark, transcripts_pdf, tmp_path)
    (batch,) = _delta_batches(pdf, n_batches=1)
    spark.createDataFrame(batch, schema=TRANSCRIPT_SCHEMA).write.parquet(f"{paths['log']}/batch=0")
    mpath = os.path.join(paths["base"], "_manifest.json")
    manifest = json.load(open(mpath))
    del manifest["schema"]
    json.dump(manifest, open(mpath, "w"))
    before = _digest(paths["base"], paths["log"])

    with pytest.raises(ValueError, match="no schema pinned"):
        compact_transcript_log(spark, paths["base"], paths["log"], n_buckets=N_BUCKETS)
    assert glob.glob(paths["log"] + "/batch=*") == [f"{paths['log']}/batch=0"]
    assert _digest(paths["base"], paths["log"]) == before


def test_rebuild_bootstraps_from_missing_base(spark, transcripts_pdf, tmp_path):
    """No base written yet (a fresh pipeline, base pinned by the stream's
    start): the rebuild reads the base as empty and builds the touched
    buckets from the log alone."""
    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_SCHEMA
    from podcast_audio_feature_extraction_spark.plans.backfill import touched_buckets
    from podcast_audio_feature_extraction_spark.operators.resume import pin_layout, record_pin
    from podcast_audio_feature_extraction_spark.streaming.delta import _rebuild_batch

    (batch,) = _delta_batches(transcripts_pdf.assign(val=1.0), n_batches=1)
    bdf = spark.createDataFrame(batch, schema=TRANSCRIPT_SCHEMA)
    base, log, features = (str(tmp_path / k) for k in ("base", "log", "features"))
    record_pin(base, pin_layout(base, N_BUCKETS, bdf.schema))  # as the stream's start does
    bdf.write.parquet(f"{log}/batch=0")
    n = _rebuild_batch(spark, touched_buckets(bdf, N_BUCKETS), base, log, features, N_BUCKETS)
    assert n >= 1
    want = _canon(build_feature_table(bdf))
    pd.testing.assert_frame_equal(_canon(spark.read.parquet(features).drop("conv_bucket")), want)


def test_stream_bootstraps_a_missing_base(spark, transcripts_pdf, tmp_path):
    """A fresh pipeline has no base. The stream pins its own schema into
    base at start, builds the first batch's features from the log alone,
    and compaction then creates base's files from the log, read with
    that pin."""
    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_SCHEMA

    paths = {k: str(tmp_path / k) for k in ("base", "log", "features", "ckpt", "incoming")}
    (batch,) = _delta_batches(transcripts_pdf.assign(val=1.0), n_batches=1)
    _stage_incoming(spark, paths, [batch])
    _run_stream(spark, paths)

    bdf = spark.createDataFrame(batch, schema=TRANSCRIPT_SCHEMA)
    pd.testing.assert_frame_equal(_canon(spark.read.parquet(paths["features"])), _canon(build_feature_table(bdf)))
    assert compact_transcript_log(spark, paths["base"], paths["log"], n_buckets=N_BUCKETS) == len(batch)
    pd.testing.assert_frame_equal(_canon_transcript(spark.read.parquet(paths["base"])), _canon_transcript(bdf))


def test_rebuild_bootstraps_from_empty_base_dir(spark, transcripts_pdf, tmp_path):
    """A base directory that exists but holds no file yet reads as empty,
    like a missing one: the touched buckets are built from the log alone."""
    from podcast_audio_feature_extraction_spark.plans.backfill import touched_buckets
    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_SCHEMA
    from podcast_audio_feature_extraction_spark.operators.resume import pin_layout, record_pin
    from podcast_audio_feature_extraction_spark.streaming.delta import _rebuild_batch

    (batch,) = _delta_batches(transcripts_pdf.assign(val=1.0), n_batches=1)
    bdf = spark.createDataFrame(batch, schema=TRANSCRIPT_SCHEMA)
    base, log, features = (str(tmp_path / k) for k in ("base", "log", "features"))
    os.makedirs(base)
    record_pin(base, pin_layout(base, N_BUCKETS, bdf.schema))  # as the stream's start does
    bdf.write.parquet(f"{log}/batch=0")
    _rebuild_batch(spark, touched_buckets(bdf, N_BUCKETS), base, log, features, N_BUCKETS)
    pd.testing.assert_frame_equal(_canon(spark.read.parquet(features)), _canon(build_feature_table(bdf)))


def test_stream_refuses_base_with_other_columns(spark, transcripts_pdf, tmp_path):
    """The sink reads base with the stream's schema. A base written
    without ``val`` under a stream that has it would read ``val`` as NULL
    in touched buckets only, mixing functionals of two lengths in one
    table: the stream refuses to start and writes nothing."""
    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_VAL_SCHEMA

    pdf, paths = _mk_base(spark, transcripts_pdf, tmp_path)
    _stage_incoming(spark, paths, _delta_batches(pdf, n_batches=1))
    before = _canon(spark.read.parquet(paths["features"]))

    with pytest.raises(ValueError, match=r"\['val'\]"):
        _run_stream(spark, paths, schema=TRANSCRIPT_VAL_SCHEMA)
    assert not os.path.exists(paths["ckpt"]) and not os.path.exists(paths["log"])
    pd.testing.assert_frame_equal(_canon(spark.read.parquet(paths["features"])), before)


def test_stream_batch_runs_four_jobs(spark, transcripts_pdf, tmp_path):
    """A micro-batch costs one job for the log write and three for the
    rebuild and commit (two shuffle stages and the write). The write's
    observed metrics carry the row count and the touched buckets, and no
    read infers a schema."""
    pdf, paths = _mk_base(spark, transcripts_pdf, tmp_path)
    _stage_incoming(spark, paths, _delta_batches(pdf, n_batches=1))
    q = _run_stream(spark, paths)

    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) <= 4, sorted(jobs)


def test_compaction_runs_five_jobs(spark, transcripts_pdf, tmp_path):
    """A compaction costs one job for the touched-bucket rule over the log
    and the rest for the merge and the one writer's commit. The log and
    base are read with base's pinned schema, so no job infers one."""
    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_SCHEMA

    pdf, paths = _mk_base(spark, transcripts_pdf, tmp_path)
    for i, b in enumerate(_delta_batches(pdf, n_batches=3)):
        spark.createDataFrame(b, schema=TRANSCRIPT_SCHEMA).write.parquet(f"{paths['log']}/batch={i}")
    sc = spark.sparkContext
    sc.setJobGroup("compaction-jobs", "compaction")
    try:
        compact_transcript_log(spark, paths["base"], paths["log"], n_buckets=N_BUCKETS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("compaction-jobs")
    assert len(jobs) <= 5, sorted(jobs)


def test_layout_pinned_with_another_schema_is_refused(spark, transcripts_pdf, tmp_path):
    """Base is pinned with TRANSCRIPT_SCHEMA (no ``val``). The stream, a
    compaction of a log that a ``val`` stream pinned, a re-store and the
    resumable backfill each bring TRANSCRIPT_VAL_SCHEMA rows: each raises,
    naming ``['val']``, before it writes anything, so every file under
    base and the log, their manifests included, stays byte-identical."""
    from podcast_audio_feature_extraction_spark.operators.resume import run_resumable
    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_VAL_SCHEMA

    pdf, paths = _mk_base(spark, transcripts_pdf, tmp_path)
    _stage_incoming(spark, paths, _delta_batches(pdf, n_batches=1))
    val_rows = spark.createDataFrame(pdf, schema=TRANSCRIPT_VAL_SCHEMA)
    # another pipeline's stream pins the log with val, then lands a batch
    other = {k: str(tmp_path / "other" / k) for k in ("base", "features", "ckpt", "empty")}
    os.makedirs(other["empty"])
    stream_incremental_feature_build(
        spark.readStream.schema(TRANSCRIPT_VAL_SCHEMA).parquet(other["empty"]),
        other["base"], paths["log"], other["features"], other["ckpt"], n_buckets=N_BUCKETS,
    ).awaitTermination()
    val_rows.limit(3).write.parquet(f"{paths['log']}/batch=0")
    before = _digest(paths["base"], paths["log"])

    refusals = [
        lambda: _run_stream(spark, paths, schema=TRANSCRIPT_VAL_SCHEMA),
        lambda: compact_transcript_log(spark, paths["base"], paths["log"], n_buckets=N_BUCKETS),
        lambda: write_conv_partitioned(val_rows, paths["base"], n_buckets=N_BUCKETS),
        lambda: run_resumable(lambda df: df, val_rows, paths["base"], n_buckets=N_BUCKETS),
    ]
    for refused in refusals:
        with pytest.raises(ValueError, match=r"\['val'\]"):
            refused()
        assert _digest(paths["base"], paths["log"]) == before
    assert not os.path.exists(paths["ckpt"])


def test_rebuild_plan_shuffles_on_conv_id_and_conv_bucket_only(spark, transcripts_pdf):
    """The merge window, sessionize and rolling all run on the union's
    conv_id hash partitioning; the commit adds the conv_bucket one."""
    import re

    from podcast_audio_feature_extraction_spark.plans.backfill import FEATURE_COLS, conv_bucket_col
    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_SCHEMA
    from podcast_audio_feature_extraction_spark.streaming.delta import _merged_snapshot

    base = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
    log = spark.createDataFrame(_delta_batches(transcripts_pdf)[0], schema=TRANSCRIPT_SCHEMA)
    rebuilt = (
        build_feature_table(_merged_snapshot(base, log.withColumn("batch", F.lit(0)))).select(*FEATURE_COLS)
        .withColumn("conv_bucket", conv_bucket_col(N_BUCKETS))
        .repartition("conv_bucket")
    )
    plan = rebuilt._jdf.queryExecution().executedPlan().toString()
    keys = [re.sub(r"#\d+", "", k) for k in re.findall(r"Exchange hashpartitioning\((.*?), \d+\)", plan)]
    assert len(re.findall(r"\bExchange ", plan)) == 2 and sorted(keys) == ["conv_bucket", "conv_id"], plan


def test_stream_null_conv_id_row_counts_but_touches_nothing(spark, transcripts_pdf, tmp_path):
    """A NULL conv_id in a micro-batch (out of contract) has a pinned
    meaning: it counts in the manifest's rows, touches no bucket, leaves
    the features equal to a full rebuild without it, and is dropped at
    compaction."""
    import glob

    from pyspark.sql import types as T

    from podcast_audio_feature_extraction_spark.operators.resume import load_manifest
    from podcast_audio_feature_extraction_spark.plans.backfill import touched_buckets
    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_SCHEMA

    pdf, paths = _mk_base(spark, transcripts_pdf, tmp_path)
    (batch,) = _delta_batches(pdf, n_batches=1)
    orphan = batch.iloc[[0]].assign(conv_id=None, turn_idx=0)
    nullable = T.StructType([T.StructField(f.name, f.dataType, True) for f in TRANSCRIPT_SCHEMA.fields])
    os.makedirs(paths["incoming"])
    spark.createDataFrame(pd.concat([batch, orphan]), schema=nullable).coalesce(1).write.parquet(
        f"{paths['incoming']}/f0"
    )
    _run_stream(spark, paths)

    (rec,) = load_manifest(paths["features"])["delta_batches"].values()
    bdf = spark.createDataFrame(batch, schema=TRANSCRIPT_SCHEMA)
    assert rec["rows"] == len(batch) + 1 and rec["buckets"] == len(touched_buckets(bdf, N_BUCKETS))
    want = _want_features(spark, pdf, [batch])
    pd.testing.assert_frame_equal(_canon(spark.read.parquet(paths["features"])), want)

    assert compact_transcript_log(spark, paths["base"], paths["log"], n_buckets=N_BUCKETS) == len(batch)
    assert spark.read.parquet(paths["base"]).filter(F.col("conv_id").isNull()).count() == 0
    assert not glob.glob(paths["base"] + "/conv_bucket=__HIVE_DEFAULT_PARTITION__")
