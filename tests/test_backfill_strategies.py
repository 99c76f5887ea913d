import numpy as np
import pyspark.sql.functions as F

from podcast_audio_feature_extraction_spark.plans.backfill import build_feature_table


def test_conv_bucket_spark_matches_zlib(spark, transcripts_sdf):
    """The package buckets only in Spark (``bucket_col``); perfbench's
    ``corpus.conv_bucket`` is the one driver-side twin, with zlib.crc32 —
    same polynomial, pinned."""
    import zlib

    from podcast_audio_feature_extraction_spark.plans.backfill import conv_bucket_col

    rows = transcripts_sdf.select("conv_id").distinct().withColumn(
        "b", conv_bucket_col(512)
    ).collect()
    for r in rows:
        assert r["b"] == zlib.crc32(r["conv_id"].encode()) % 512


def test_partitioned_delta_commit_matches_full_rebuild(spark, transcripts_pdf, tmp_path):
    """The production delta shape end-to-end: transcript and features
    stored hive-partitioned by conv_bucket; a delta arrives; the rebuild
    reads only touched partitions and a DYNAMIC partition overwrite
    replaces exactly those buckets. The resulting stored table must be
    row-identical to a full rebuild of the new snapshot."""
    import numpy as np
    import pandas as pd

    from podcast_audio_feature_extraction_spark.plans.backfill import (
        build_feature_table,
        commit_rebuilt_partitions,
        delta_rebuild_partitioned,
        write_conv_partitioned,
    )

    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_SCHEMA

    rng = np.random.default_rng(13)
    pdf = transcripts_pdf.copy()
    pdf["val"] = np.round(rng.uniform(0, 100, size=len(pdf)), 2)
    base_sdf = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)

    n_buckets = 16  # small corpus: several convs per bucket, so the test
    # also covers rebuilt bucket-mates that were NOT in the delta
    tdir, fdir = str(tmp_path / "transcript"), str(tmp_path / "features")
    feats_full = build_feature_table(base_sdf)
    write_conv_partitioned(feats_full, fdir, n_buckets=n_buckets)

    # delta: 2 extra turns on the first two conversations
    convs = pdf["conv_id"].unique()[:2]
    delta_rows = []
    for c in convs:
        sub = pdf[pdf["conv_id"] == c]
        delta_rows.append(
            (c, int(sub["turn_idx"].max()) + 1, "user", "new turn text", None,
             sub["ts"].max() + pd.Timedelta(seconds=5), 42.0)
        )
    delta_pdf = pd.DataFrame(
        delta_rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts", "val"]
    )
    snapshot_pdf = pd.concat([pdf, delta_pdf], ignore_index=True)
    # snapshot contract: the stored transcript already includes the delta
    write_conv_partitioned(
        spark.createDataFrame(snapshot_pdf, schema=TRANSCRIPT_SCHEMA), tdir, n_buckets=n_buckets
    )
    delta_sdf = spark.createDataFrame(delta_pdf, schema=TRANSCRIPT_SCHEMA)

    rebuilt = delta_rebuild_partitioned(spark, tdir, delta_sdf, n_buckets=n_buckets)
    commit_rebuilt_partitions(rebuilt, fdir)

    def canon(df):
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

    got = canon(spark.read.parquet(fdir))
    want = canon(build_feature_table(spark.createDataFrame(snapshot_pdf, schema=TRANSCRIPT_SCHEMA)))
    import pandas as pd_mod

    pd_mod.testing.assert_frame_equal(got, want)


def test_partitioned_delta_prunes_partitions(spark, transcripts_pdf, tmp_path):
    """Plan assertion for the stored-table delta: the touched-bucket
    filter lands as PartitionFilters on the parquet scan (directory-level
    pruning — untouched buckets are never listed, let alone read)."""
    from podcast_audio_feature_extraction_spark.plans.backfill import (
        delta_rebuild_partitioned,
        write_conv_partitioned,
    )

    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_SCHEMA

    tdir = str(tmp_path / "transcript")
    write_conv_partitioned(
        spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA), tdir, n_buckets=16
    )
    delta = spark.createDataFrame(transcripts_pdf.head(3), schema=TRANSCRIPT_SCHEMA)

    rebuilt = delta_rebuild_partitioned(spark, tdir, delta, n_buckets=16)
    plan = rebuilt._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scan_lines, plan[:800]
    assert any("conv_bucket" in ln for ln in scan_lines), scan_lines
    # and the data filter is partition-only: conv_bucket never appears as
    # a PushedFilters/data-filter column (it is a directory, not a column)
    n_parts = spark.read.parquet(tdir).select("conv_bucket").distinct().count()
    touched = {
        r["conv_bucket"] for r in rebuilt.select("conv_bucket").distinct().collect()
    }
    assert len(touched) < n_parts  # genuinely pruned


def test_partitioned_delta_edge_cases(spark, transcripts_pdf, tmp_path):
    """Empty delta -> empty rebuild (no error, nothing to commit);
    NULL conv_id delta rows touch nothing."""
    from podcast_audio_feature_extraction_spark.plans.backfill import (
        delta_rebuild_partitioned,
        touched_buckets,
        write_conv_partitioned,
    )
    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_SCHEMA

    tdir = str(tmp_path / "transcript")
    sdf = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
    write_conv_partitioned(sdf, tdir, n_buckets=16)

    empty = sdf.filter("1 = 0")
    assert delta_rebuild_partitioned(spark, tdir, empty, n_buckets=16).count() == 0

    # TRANSCRIPT_SCHEMA pins conv_id non-nullable, so a NULL-keyed delta
    # needs an explicitly nullable schema (e.g. an upstream join output)
    null_key = spark.createDataFrame(
        [(None, 0)], "conv_id string, turn_idx int"
    )
    assert touched_buckets(null_key, n_buckets=16) == []

    # beside real conversations a NULL row still touches nothing
    three_plus_null = spark.createDataFrame(
        [("a", 0), ("b", 0), ("c", 0), (None, 0)], "conv_id string, turn_idx int"
    )
    assert touched_buckets(three_plus_null, n_buckets=16) == touched_buckets(three_plus_null.dropna(), n_buckets=16)


def test_write_conv_partitioned_refuses_an_existing_table(spark, transcripts_pdf, tmp_path):
    """write_conv_partitioned stores a NEW table. Onto a path that holds a
    table with the same bucket count (a manifest, here one the stream has
    recorded batches in) or bare conv_bucket= partitions it raises, and
    the table's files and manifest stay byte-identical: a re-store would
    replace the rows and drop ``delta_batches``."""
    import hashlib
    import json
    import os

    import pytest

    from podcast_audio_feature_extraction_spark.plans.backfill import write_conv_partitioned
    from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_SCHEMA

    sdf = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
    tdir = str(tmp_path / "transcript")
    write_conv_partitioned(sdf, tdir, n_buckets=16)
    mpath = os.path.join(tdir, "_manifest.json")
    manifest = json.load(open(mpath))
    manifest["delta_batches"] = {"0": {"rows": 2, "buckets": 1}}
    json.dump(manifest, open(mpath, "w"))

    def digest(root):
        return {
            os.path.relpath(os.path.join(d, f), root): hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for d, _, files in os.walk(root)
            for f in files
        }

    before = digest(tdir)
    with pytest.raises(ValueError, match="already holds a layout table"):
        write_conv_partitioned(sdf.limit(3), tdir, n_buckets=16)
    assert digest(tdir) == before

    bare = str(tmp_path / "bare")
    os.makedirs(os.path.join(bare, "conv_bucket=0"))
    with pytest.raises(ValueError, match="already holds a layout table"):
        write_conv_partitioned(sdf, bare, n_buckets=16)
    assert os.listdir(bare) == ["conv_bucket=0"]
