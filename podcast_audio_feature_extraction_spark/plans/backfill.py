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

from pyspark.sql import DataFrame

from podcast_audio_feature_extraction_spark.functions.embedding import with_embedding
from podcast_audio_feature_extraction_spark.operators.asof import asof_join
from podcast_audio_feature_extraction_spark.operators.resume import (
    _commit_manifest,
    bucket_col,
    load_manifest,
    pin_n_buckets,
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


def write_conv_partitioned(
    df: DataFrame, path: str, n_buckets: int = N_CONV_BUCKETS, mode: str = "overwrite"
) -> None:
    """Store a conv_id-keyed table hive-partitioned by ``conv_bucket`` —
    the production layout for incremental rebuilds: a delta touching c
    conversations rewrites at most c partitions and the rebuild scan
    reads only those directories (partition pruning, no file row-group
    even opened for untouched buckets). ``n_buckets`` is pinned in the
    table's manifest; a table pinned to another count is refused.

    Granularity trade: corpus_bytes / n_buckets is the rewrite
    amplification unit (a touched bucket is rebuilt whole). Pick
    n_buckets >> typical delta's conversation count but small enough
    that a bucket is still a healthy parquet file set (e.g. 100 TB /
    8192 buckets = ~12 GB/bucket). repartition by bucket first so each
    bucket is written by one task (one file per bucket, not
    tasks x buckets tiny files)."""
    pin_n_buckets(load_manifest(path), path, n_buckets)
    (
        df.withColumn("conv_bucket", conv_bucket_col(n_buckets))
        .repartition("conv_bucket")
        .write.partitionBy("conv_bucket")
        .mode(mode)
        .parquet(path)
    )
    # an overwrite replaced the old manifest along with the data
    _commit_manifest(path, pin_n_buckets(load_manifest(path), path, n_buckets))


def touched_buckets(new_turns: DataFrame, n_buckets: int = N_CONV_BUCKETS, max_collect: int = 100_000) -> list[int]:
    """Distinct bucket ids the delta touches, computed driver-side with
    zlib.crc32 (== Spark crc32; parity test-pinned). EAGER bounded
    collect of the distinct conv_id set — raises if the delta touches
    more than ``max_collect`` conversations (at that size rebuild the
    table instead of enumerating partitions)."""
    import zlib

    from pyspark.sql import functions as F

    # NULL keys are dropped from the RESULT anyway — filtering before the
    # limit keeps a NULL row from spuriously tripping the max_collect
    # bound when the delta has exactly max_collect real conversations
    rows = (
        new_turns.select("conv_id")
        .filter(F.col("conv_id").isNotNull())
        .distinct()
        .limit(max_collect + 1)
        .collect()
    )
    if len(rows) > max_collect:
        raise ValueError(
            f"delta touches > {max_collect} conversations — use a full rebuild "
            "(partition enumeration no longer pays)"
        )
    return sorted(
        {zlib.crc32(r["conv_id"].encode()) % n_buckets for r in rows if r["conv_id"] is not None}
    )


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
    ONLY the delta's touched partitions (PartitionFilters prune the
    directory listing — plan-asserted) and recomputes every conversation
    in them (the bucket is the rewrite unit, so bucket-mates of a touched
    conversation are rebuilt too — identical rows, they land in the same
    overwritten partition).

    The stored transcript must already include the new turns (it is the
    current snapshot, e.g. the table after the delta's append commit).
    Returns the rebuilt feature rows WITH conv_bucket, ready for
    :func:`commit_rebuilt_partitions`; the untouched buckets are never
    read, let alone materialized.

    NULL-keyed delta rows touch nothing: a NULL conv_id belongs to no
    conversation (:func:`touched_buckets` drops them).

    A stored transcript pinned to another ``n_buckets`` is refused before
    any read: its partitions hold other conversations' rows."""
    from pyspark.sql import functions as F

    pin_n_buckets(load_manifest(transcript_path), transcript_path, n_buckets)
    buckets = touched_buckets(new_turns, n_buckets)
    src = spark.read.parquet(transcript_path).filter(F.col("conv_bucket").isin(buckets))
    rebuilt = build_feature_table(
        src.drop("conv_bucket"), gap_s=gap_s, k=k, embed_dim=embed_dim, val_col=val_col
    )
    return rebuilt.withColumn("conv_bucket", conv_bucket_col(n_buckets))


def commit_rebuilt_partitions(rebuilt: DataFrame, features_path: str) -> None:
    """Dynamic partition overwrite: replaces exactly the conv_bucket
    partitions present in ``rebuilt``; every other partition's files are
    untouched (no read, no rewrite), so the incremental path's cost
    tracks the touched fraction: it never materializes the kept rows.
    The overwrite mode is a per-write option, never the session conf: a
    concurrent writer restoring a session-wide ``static`` mid-write would
    turn this commit into a delete of every partition."""
    (
        rebuilt.repartition("conv_bucket")
        .write.partitionBy("conv_bucket")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(features_path)
    )


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
