"""Flagship pipeline (SURVEY.md §3.1 / §7.2): feature extraction + as-of backfill.

transcripts
  -> sessionize (gap cutoff)
  -> per-turn rolling functionals (native window exprs)
  -> deterministic hash embedding (Arrow pandas UDF)
  -> feature table (conv_id, turn_idx, ts, session_id, functionals, embedding)
  -> as-of backfill join onto a query/point-in-time frame (zero leakage)

Mirrors the reference's create_opensmile_features.py lifecycle
(/root/reference/src/features/create_opensmile_features.py:17-36) with
Spark-native staging: one shuffle for the window pass (conv_id), one for
the as-of union-trick. At 100 TB both shuffles hash-partition on conv_id;
viral-conversation skew is bounded because every operator here is
sequential *within* a conversation and AQE splits oversized partitions
across the remaining stages.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame

from podcast_audio_feature_extraction_spark.functions.embedding import with_embedding
from podcast_audio_feature_extraction_spark.operators.asof import asof_join
from podcast_audio_feature_extraction_spark.operators.resume import (
    MANIFEST_NAME,
    _commit_manifest,
    bucket_col,
    commit_rebuilt_partitions,
    pin_n_buckets,
    read_buckets,
    touched_aggs,
)
from podcast_audio_feature_extraction_spark.operators.rolling import assemble_functionals, turn_features
from podcast_audio_feature_extraction_spark.operators.sessionize import sessionize

FEATURE_COLS = ["conv_id", "turn_idx", "ts", "session_id", "functionals", "embedding"]


def build_feature_table(
    transcripts: DataFrame,
    gap_s: float = 1800.0,
    k: int = 5,
    embed_dim: int = 64,
    val_col: str | None = "val",
) -> DataFrame:
    """transcripts -> per-turn feature table (the backfill right side)."""
    df = sessionize(transcripts, gap_s=gap_s)
    df = turn_features(df, k=k, val_col=val_col)
    df = assemble_functionals(df)
    df = with_embedding(df, dim=embed_dim)
    return df.select(*FEATURE_COLS)


def backfill_features(frame: DataFrame, feature_table: DataFrame) -> DataFrame:
    """Attach the latest feature vector at or before each frame row's
    (ts, turn_idx).

    ``frame`` needs (conv_id, ts); if it also carries turn_idx the as-of
    uses per-turn paired-tie semantics (a feature from the same second but
    a later turn is never read — zero leakage at turn granularity).
    Feature provenance columns are renamed so they never collide.
    """
    right = (
        feature_table.withColumnRenamed("turn_idx", "feat_turn_idx")
        .withColumnRenamed("session_id", "feat_session_id")
    )
    return asof_join(
        frame,
        right,
        on="conv_id",
        ts_col="ts",
        value_cols=["feat_turn_idx", "feat_session_id", "functionals", "embedding"],
        right_tie_cols=["feat_turn_idx"],
        left_tie_cols=["turn_idx"] if "turn_idx" in frame.columns else None,
    )


N_CONV_BUCKETS = 512


def conv_bucket_col(n_buckets: int = N_CONV_BUCKETS):
    """The ``conv_bucket`` partition value of a conv_id-keyed row."""
    return bucket_col("conv_id", n_buckets)


def write_conv_partitioned(df: DataFrame, path: str, n_buckets: int = N_CONV_BUCKETS) -> None:
    """Store a conv_id-keyed table as a NEW layout table at ``path``:
    hive-partitioned by ``conv_bucket`` through the one writer
    (:func:`commit_rebuilt_partitions`), ``n_buckets`` pinned in its
    manifest — the production layout for incremental rebuilds: a delta
    touching c conversations rewrites at most c partitions and the
    rebuild scan reads only those directories (partition pruning, no file
    row-group even opened for untouched buckets).

    A path pinned to another count is refused first; then any path that
    already holds a table (a manifest or a ``conv_bucket=`` partition).
    Storing is not updating: the delta stream and compaction update a
    layout table, and a re-store would drop what they recorded
    (``delta_batches``) — store into a fresh path instead.

    Granularity trade: corpus_bytes / n_buckets is the rewrite
    amplification unit (a touched bucket is rebuilt whole). Pick
    n_buckets >> typical delta's conversation count but small enough
    that a bucket is still a healthy parquet file set (e.g. 100 TB /
    8192 buckets = ~12 GB/bucket)."""
    manifest = pin_n_buckets(path, n_buckets)
    if os.path.exists(os.path.join(path, MANIFEST_NAME)) or glob.glob(os.path.join(path, "conv_bucket=*")):
        raise ValueError(f"{path} already holds a layout table — store into a fresh path")
    commit_rebuilt_partitions(df.withColumn("conv_bucket", conv_bucket_col(n_buckets)), path)
    _commit_manifest(path, manifest)


def touched_buckets(new_turns: DataFrame, n_buckets: int = N_CONV_BUCKETS) -> list[int]:
    """The buckets a conv_id-keyed delta touches, sorted: the one
    touched-bucket rule (``operators.resume.touched_aggs``) evaluated
    EAGERLY with one ``select(...).first()``. The set has at most
    ``n_buckets`` elements for a delta of any size; a NULL conv_id
    touches none."""
    return sorted(new_turns.select(*touched_aggs(n_buckets)).first()["buckets"])


def delta_rebuild_partitioned(
    spark,
    transcript_path: str,
    new_turns: DataFrame,
    n_buckets: int = N_CONV_BUCKETS,
    gap_s: float = 1800.0,
    k: int = 5,
    embed_dim: int = 64,
    val_col: str | None = "val",
) -> DataFrame:
    """Production-shape delta build over a STORED transcript partitioned
    by conv_bucket (:func:`write_conv_partitioned`): the rebuild reads
    ONLY the delta's touched partitions, through the layout's one reader
    (``operators.resume.read_buckets``: PartitionFilters prune the
    directory listing — plan-asserted) and recomputes every conversation
    in them (the bucket is the rewrite unit, so bucket-mates of a touched
    conversation are rebuilt too — identical rows, they land in the same
    overwritten partition).

    The stored transcript must already include the new turns (it is the
    current snapshot, e.g. the table after the delta's append commit), so
    it is read with the delta's schema, as the stream reads its base with
    the batch's. Returns the rebuilt feature rows WITH conv_bucket, ready
    for :func:`commit_rebuilt_partitions`; the untouched buckets are never
    read, let alone materialized.

    NULL-keyed delta rows touch nothing: a NULL conv_id belongs to no
    conversation (:func:`touched_buckets` drops them).

    A stored transcript pinned to another ``n_buckets`` is refused before
    any read: its partitions hold other conversations' rows."""
    pin_n_buckets(transcript_path, n_buckets)
    src = read_buckets(spark, transcript_path, touched_buckets(new_turns, n_buckets), new_turns.schema)
    rebuilt = build_feature_table(src, gap_s=gap_s, k=k, embed_dim=embed_dim, val_col=val_col)
    return rebuilt.withColumn("conv_bucket", conv_bucket_col(n_buckets))


def flagship(transcripts: DataFrame, gap_s: float = 1800.0, k: int = 5) -> DataFrame:
    """End-to-end single-plan form: build features then backfill them onto
    the turns frame itself (every turn gets the feature vector visible at
    its own ts). The feature table is referenced once, so the plan has no
    recomputation. The production shape stores the feature table first
    (``jobs/backfill_job.py``) and runs ``backfill_features`` over the
    stored table, as ``bench.py --flagship-only`` times it."""
    feats = build_feature_table(transcripts, gap_s=gap_s, k=k)
    frame = transcripts.select("conv_id", "turn_idx", "role", "text", "ts")
    return backfill_features(frame, feats)
