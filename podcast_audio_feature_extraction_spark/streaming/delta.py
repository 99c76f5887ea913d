"""Continuous incremental feature maintenance: a stream of new turns
drives the partitioned delta-rebuild loop end to end.

It composes two pieces:

- the engine's one table layout, all of it in ``operators.resume``:
  hive partitions ``conv_bucket={b}`` with ``b = crc32(conv_id) %
  n_buckets`` (``bucket_col``), the table's identity (``n_buckets`` and
  its schema) pinned in its ``_manifest.json`` (``pin_layout``), the one
  touched-bucket rule (``touched_aggs``), the one reader
  (``read_buckets``) and the one writer, a dynamic-overwrite commit
  (``commit_rebuilt_partitions``), and
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
- ``log``   — per-batch directories ``batch=<id>/``, written once per
  batch with the touched-bucket rule (its rows and touched buckets)
  observed on the write (a re-delivery overwrites them with the same
  bytes: no two-phase commit);
- the stream pins its schema into base and the log at start (refusing
  either if pinned to another), so no read of base or the log infers a
  schema: both are read with base's pinned one;
- a rebuild reads base (the one reader) and log, merges them under a
  LOG-WINS-PER-(conv_id, turn_idx) rule (``_merged_snapshot``) pruned
  to the touched buckets, and commits through the one writer (idempotent); its plan shuffles on conv_id and
  conv_bucket only, so a micro-batch runs 4 Spark jobs in all;
- compaction evaluates the same rule over the log with one select,
  reads base's touched buckets with the same reader and commits through
  the same writer: 5 Spark jobs in all.

A crash at a tested step boundary — after the log write, before the
manifest commit, between compaction's base overwrite and its log delete
— re-runs to the identical end state: the key-preference merge collapses
any turn that a partial compaction left in both tables, so nothing is
ever double-counted. The manifest entry only short-circuits clean
re-deliveries. A crash INSIDE a dynamic-overwrite commit is open: Spark's
``commitJob`` deletes, then renames, one partition at a time, so such a
crash in compaction can lose ``base`` rows, their only copy (ROADMAP
"A crash inside a partition commit must not lose the only copy").

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

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from podcast_audio_feature_extraction_spark.operators.resume import (
    _commit_manifest,
    commit_rebuilt_partitions,
    pin_layout,
    pinned_schema,
    read_buckets,
    record_pin,
    touched_aggs,
)
from podcast_audio_feature_extraction_spark.plans.backfill import (
    N_CONV_BUCKETS,
    build_feature_table,
    conv_bucket_col,
)


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
    # conv_id hashing serves this window and the feature build's after it
    return (
        b.unionByName(lg.select(*b.columns))
        .repartition("conv_id")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__src", "__b", "__rn")
    )


def _rebuild_batch(
    spark: SparkSession,
    buckets: list[int],
    base_path: str,
    log_path: str,
    features_path: str,
    n_buckets: int,
    val_col: str | None = "val",
) -> int:
    """Rebuild + commit the touched ``buckets``; returns their count.
    Snapshot = base (partition-pruned) merged with log (already includes
    this batch's directory), both read with base's pinned schema, under
    the log-wins-per-key rule of :func:`_merged_snapshot`."""
    if not buckets:
        return 0
    base = read_buckets(spark, base_path, buckets)
    # the log side has no conv_bucket directory to prune: the same layout
    # expression, evaluated per row
    log = spark.read.schema(pinned_schema(base_path)).parquet(log_path).filter(conv_bucket_col(n_buckets).isin(buckets))
    rebuilt = build_feature_table(_merged_snapshot(base, log), val_col=val_col)
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
    val_col: str | None = "val",
):
    """Start (and return) the streaming query that keeps the partitioned
    feature table current as new turns arrive.

    Per micro-batch: (1) land the batch in its own overwrite-idempotent
    ``log/batch=<id>`` directory, observing the touched-bucket rule (its
    rows and touched buckets) on the write, (2) rebuild ONLY those
    conv_bucket partitions (at most ``n_buckets`` for a batch of any
    size; a NULL conv_id touches none) from base ∪ log, (3) commit them
    to the feature table through the layout's one writer, (4) record the
    batch in the feature manifest. Re-delivered batchIds short-circuit
    at (4)'s record; every earlier step is idempotent on its own.

    ``base_path`` is normally bootstrapped with
    :func:`write_conv_partitioned` and ``features_path`` with
    ``jobs/backfill_job.py`` before the stream starts; a missing or
    not-yet-written base is treated as empty (the first batches build
    features from the log alone). The stream pins ``n_buckets`` and its
    schema into base and the log (at bootstrap too), and the rebuilt
    rows' schema into the feature table; a table pinned to another count
    or other columns raises ``ValueError`` here, before any write.
    """
    # every read of base and the log takes base's pinned schema: refuse
    # drift once, here, then record the pins base and the log lack
    features_schema = build_feature_table(new_turns_stream, val_col=val_col).schema
    pins = {p: pin_layout(p, n_buckets, new_turns_stream.schema) for p in (base_path, log_path)}
    pin_layout(features_path, n_buckets, features_schema)
    for path, manifest in pins.items():
        record_pin(path, manifest)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        manifest = pin_layout(features_path, n_buckets, features_schema)
        done = manifest.setdefault("delta_batches", {})
        if str(batch_id) in done:
            return  # clean re-delivery: committed end-to-end already
        obs = Observation()
        batch_df.observe(obs, *touched_aggs(n_buckets)).write.mode("overwrite").parquet(
            os.path.join(log_path, f"batch={batch_id}")
        )
        seen = obs.get
        n_buckets_touched = _rebuild_batch(
            spark, sorted(seen["buckets"]), base_path, log_path, features_path, n_buckets, val_col
        )
        done[str(batch_id)] = {
            "rows": seen["rows"],
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
    partitions (the layout's one writer: touched buckets only) and clear
    the log. Returns the number of log rows folded in. Feature results are
    unaffected — the merged snapshot is key-identical before and after
    (test-pinned).

    Crash safety: the merge itself uses the log-wins-per-key rule, so a
    crash AFTER the base overwrite but BEFORE the log delete leaves the
    same turns in both tables — which every snapshot reader (and a
    compaction re-run) collapses back to one row per key; the end state
    converges, nothing is double-counted. Single-writer contract: run
    this from the stream's own sink thread or while the stream is
    stopped — it deletes log directories an in-flight rebuild could
    otherwise be reading.

    The log is read with base's pinned schema (plus its ``batch``
    partition column); an unpinned base, or a base or log pinned to
    another identity, raises ``ValueError`` before anything is written."""
    import glob
    import shutil

    pin_layout(base_path, n_buckets, None)
    pin_layout(log_path, n_buckets, pinned_schema(base_path))
    if not glob.glob(os.path.join(log_path, "batch=*")):
        return 0
    # NULL conv_id touches nothing, as in the sink and the rebuild: folding
    # NULL-keyed rows into base's __HIVE_DEFAULT_PARTITION__ would REPLACE
    # that partition without reading it. Out-of-contract rows
    # (TRANSCRIPT_SCHEMA pins conv_id non-null) are dropped with their log.
    log = spark.read.schema(pinned_schema(base_path)).parquet(log_path).filter(F.col("conv_id").isNotNull())
    seen = log.select(*touched_aggs(n_buckets)).first()
    if not seen["rows"]:
        return 0
    # fresh pipeline: compaction CREATES the base's files from the log alone
    base = read_buckets(spark, base_path, sorted(seen["buckets"]))
    merged = _merged_snapshot(base, log).withColumn("conv_bucket", conv_bucket_col(n_buckets))
    commit_rebuilt_partitions(merged, base_path)
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
    return seen["rows"]
