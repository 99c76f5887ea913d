"""Continuous incremental feature maintenance: a stream of new turns
drives the partitioned delta-rebuild loop end to end.

It composes two pieces:

- the engine's one table layout — hive partitions ``conv_bucket={b}``
  with ``b = crc32(conv_id) % n_buckets`` (``operators.resume.bucket_col``)
  and ``n_buckets`` pinned in the table's ``_manifest.json`` — with its
  partition-pruned rebuild and dynamic-overwrite commit
  (``plans.backfill.commit_rebuilt_partitions``), and
- the exactly-once foreachBatch idempotence pattern: Structured
  Streaming may re-deliver a micro-batch with the same batchId after a
  failure, so the sink records committed batchIds in the feature table's
  ``_manifest.json`` (``delta_batches``) and skips re-delivered ones. This
  is the engine's one exactly-once streaming sink.

Storage is a two-table LSM-style shape, chosen so every write is
IDEMPOTENT without a transactional table format:

- ``base``  — the compacted transcript in the layout
  (``plans.backfill.write_conv_partitioned``);
- ``features`` — the feature table in the same layout: the output
  directory of ``jobs/backfill_job.py`` (``run_resumable``) as-is;
- ``log``   — per-batch append directories ``batch=<id>/`` (overwriting
  the same directory on a re-delivered micro-batch converges to the same
  bytes, so the append needs no two-phase commit);
- a rebuild's input snapshot is base merged with log under a
  LOG-WINS-PER-(conv_id, turn_idx) rule (``_merged_snapshot``), pruned
  to the batch's touched buckets; the feature commit is a dynamic
  partition overwrite (re-committing the same buckets with the same
  content is idempotent).

A crash at ANY point — between the log write, the feature commit, the
manifest commit, or mid-compaction — re-runs to the identical end
state: the key-preference merge collapses any turn that a partial
compaction left in both tables, so nothing is ever double-counted. The
manifest entry only short-circuits clean re-deliveries.

``compact_transcript_log`` folds the log back into base (the LSM merge):
run it on whatever cadence keeps the log small; rebuild results are
identical before and after (test-pinned).

Reference analog: the reference's resumable batch lifecycle
(/root/reference/src/features/FeatureExtractor.py:28-44) run forever on
an arriving stream instead of once over a directory listing.
"""

from __future__ import annotations

import os
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from podcast_audio_feature_extraction_spark.operators.resume import (
    _commit_manifest,
    load_manifest,
    pin_n_buckets,
)
from podcast_audio_feature_extraction_spark.plans.backfill import (
    FEATURE_COLS,
    N_CONV_BUCKETS,
    build_feature_table,
    commit_rebuilt_partitions,
    conv_bucket_col,
    touched_buckets,
)


def _read_base(spark: SparkSession, base_path: str, buckets: list[int], schema) -> DataFrame:
    """The base transcript's ``buckets`` partitions, or an empty frame of
    ``schema`` on bootstrap — no base written yet: the path is missing, or
    holds no parquet file to infer a schema from. Every other read failure
    (a corrupt footer, an IO or permission error) propagates: reading such
    a base as empty would let the caller overwrite the touched buckets
    with log-only rows and lose the base's rows for good."""
    try:
        base = spark.read.parquet(base_path)
    except AnalysisException as e:
        if e.getCondition() not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            raise
        return spark.createDataFrame([], schema)
    return base.filter(F.col("conv_bucket").isin(buckets)).drop("conv_bucket")


def _merged_snapshot(base: DataFrame, log: DataFrame) -> DataFrame:
    """base ∪ log with LOG WINNING per (conv_id, turn_idx) key, latest
    batch first within the log. This is what makes every path in this
    module idempotent WITHOUT a transactional table format: if a crash
    (or a failed log delete after compaction) leaves the same turn in
    both tables — or in two log batches — the key-preference merge
    collapses it to one row instead of double-counting it into the
    feature aggregates. It also gives the log natural UPDATE semantics
    (a re-sent turn replaces the base version)."""
    from pyspark.sql.window import Window

    b = base.withColumn("__src", F.lit(1)).withColumn("__b", F.lit(-1).cast("long"))
    batch_col = F.col("batch").cast("long") if "batch" in log.columns else F.lit(0).cast("long")
    lg = (
        log.withColumn("__b", batch_col)
        .select(*base.columns, "__b")
        .withColumn("__src", F.lit(0))
    )
    # final struct key: two rows in the SAME log batch sharing
    # (conv_id, turn_idx) — out-of-contract input — would otherwise tie,
    # and a crash-replay rebuild could commit different content than the
    # first run; ordering on the remaining columns makes the winner
    # deterministic (idempotence holds even for dirty inputs)
    rest = F.struct(*[c for c in base.columns if c not in ("conv_id", "turn_idx")])
    w = Window.partitionBy("conv_id", "turn_idx").orderBy(
        F.asc("__src"), F.desc("__b"), F.asc(rest)
    )
    return (
        b.unionByName(lg.select(*b.columns))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__src", "__b", "__rn")
    )


def _rebuild_batch(
    spark: SparkSession,
    batch_stored: DataFrame,
    base_path: str,
    log_path: str,
    features_path: str,
    n_buckets: int,
    **feature_kwargs,
) -> int:
    """Rebuild + commit every bucket the batch touches; returns the
    touched-bucket count. Snapshot = base (partition-pruned) merged with
    log (already includes this batch's directory) under the
    log-wins-per-key rule of :func:`_merged_snapshot`."""
    buckets = touched_buckets(batch_stored, n_buckets)
    if not buckets:
        return 0
    base = _read_base(spark, base_path, buckets, batch_stored.schema)
    # the log side has no conv_bucket directory to prune: the same layout
    # expression, evaluated per row
    log = spark.read.parquet(log_path).filter(conv_bucket_col(n_buckets).isin(buckets))
    rebuilt = build_feature_table(_merged_snapshot(base, log), **feature_kwargs).select(*FEATURE_COLS)
    commit_rebuilt_partitions(
        rebuilt.withColumn("conv_bucket", conv_bucket_col(n_buckets)), features_path
    )
    return len(buckets)


def stream_incremental_feature_build(
    new_turns_stream: DataFrame,
    base_path: str,
    log_path: str,
    features_path: str,
    checkpoint_dir: str,
    n_buckets: int = N_CONV_BUCKETS,
    query_name: str = "delta-build-stream",
    trigger_available_now: bool = True,
    **feature_kwargs,
):
    """Start (and return) the streaming query that keeps the partitioned
    feature table current as new turns arrive.

    Per micro-batch: (1) land the batch in its own overwrite-idempotent
    ``log/batch=<id>`` directory, (2) rebuild ONLY the touched
    conv_bucket partitions from base ∪ log, (3) dynamic-partition-
    overwrite the feature table, (4) record the batch in the feature
    manifest. Re-delivered batchIds short-circuit at (4)'s record; every
    earlier step is idempotent on its own (module docstring).

    ``base_path`` is normally bootstrapped with
    :func:`write_conv_partitioned` and ``features_path`` with
    ``jobs/backfill_job.py`` before the stream starts; a missing or
    not-yet-written base is treated as empty (the first batches build
    features from the log alone). Either table pinned to a bucket count
    other than ``n_buckets`` raises ``ValueError`` here.
    """
    # refuse a layout pinned to another bucket count before anything runs
    for path in (base_path, features_path):
        pin_n_buckets(load_manifest(path), path, n_buckets)
    os.makedirs(log_path, exist_ok=True)
    os.makedirs(features_path, exist_ok=True)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        manifest = pin_n_buckets(load_manifest(features_path), features_path, n_buckets)
        done = manifest.setdefault("delta_batches", {})
        if str(batch_id) in done:
            return  # clean re-delivery: committed end-to-end already
        bdir = os.path.join(log_path, f"batch={batch_id}")
        batch_df.write.mode("overwrite").parquet(bdir)
        batch_stored = spark.read.parquet(bdir)
        n_buckets_touched = _rebuild_batch(
            spark, batch_stored, base_path, log_path, features_path, n_buckets, **feature_kwargs
        )
        done[str(batch_id)] = {
            "rows": int(batch_stored.count()),
            "buckets": n_buckets_touched,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        # bound the manifest: the short-circuit only matters for recent
        # crash-replays (Structured Streaming's checkpoint dedups the
        # rest), so a forever-running stream must not rewrite an
        # ever-growing history every batch
        if len(done) > 1000:
            for old in sorted(done, key=int)[: len(done) - 1000]:
                del done[old]
        _commit_manifest(features_path, manifest)

    writer = (
        new_turns_stream.writeStream.foreachBatch(sink)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_transcript_log(spark: SparkSession, base_path: str, log_path: str, n_buckets: int = N_CONV_BUCKETS) -> int:
    """LSM merge: fold every log batch into the base transcript's bucket
    partitions (dynamic overwrite of touched buckets only) and clear the
    log. Returns the number of log rows folded in. Feature results are
    unaffected — the merged snapshot is key-identical before and after
    (test-pinned).

    Crash safety: the merge itself uses the log-wins-per-key rule, so a
    crash AFTER the base overwrite but BEFORE the log delete leaves the
    same turns in both tables — which every snapshot reader (and a
    compaction re-run) collapses back to one row per key; the end state
    converges, nothing is double-counted. Single-writer contract: run
    this from the stream's own sink thread or while the stream is
    stopped — it deletes log directories an in-flight rebuild could
    otherwise be reading."""
    import glob
    import shutil

    manifest = pin_n_buckets(load_manifest(base_path), base_path, n_buckets)
    if not glob.glob(os.path.join(log_path, "batch=*")):
        return 0
    # NULL conv_id touches nothing (same rule as touched_buckets and the
    # rebuild's bucket predicate): folding NULL-keyed rows into base's
    # __HIVE_DEFAULT_PARTITION__ via dynamic overwrite would REPLACE that
    # partition without ever reading it. Out-of-contract rows
    # (TRANSCRIPT_SCHEMA pins conv_id non-null) are dropped when their
    # log directory is cleared, not merged.
    log = spark.read.parquet(log_path).filter(F.col("conv_id").isNotNull())
    n_rows = log.count()
    if n_rows == 0:
        return 0
    buckets = touched_buckets(log, n_buckets)
    # fresh pipeline: compaction CREATES the base from the log alone
    base = _read_base(spark, base_path, buckets, log.drop("batch").schema)
    merged = _merged_snapshot(base, log).withColumn("conv_bucket", conv_bucket_col(n_buckets))
    commit_rebuilt_partitions(merged, base_path)
    _commit_manifest(base_path, manifest)
    failed = []
    for d in glob.glob(os.path.join(log_path, "batch=*")):
        try:
            shutil.rmtree(d)
        except OSError:
            failed.append(d)  # harmless: key-preference merge dedupes survivors
    if failed:
        import sys

        print(f"compact_transcript_log: {len(failed)} log dirs not deleted "
              f"(will be deduped by the merge and retried next compaction)", file=sys.stderr)
    return n_rows
