"""Per-partition checkpoint/resume with lineage metrics (SURVEY.md §2.2 P7,
§2.1 S16/S17, §2.10 E2).

Re-expresses the reference's skip-if-output-exists incremental recompute
(/root/reference/src/features/FeatureExtractor.py:67-90) and its
failed-URI retry list (/root/reference/src/search/index.py:125-160) as
bucket-level checkpointing over the engine's one table layout:

- work is bucketed by conv_id (:func:`bucket_col`, ``crc32(conv_id) %
  n_buckets``) into hive partitions ``conv_bucket={b}`` — the layout the
  partitioned delta rebuild and the streaming loop maintain
  (``plans.backfill``, ``streaming.delta``), so a backfill's output is
  their feature table as-is;
- a JSON manifest records completed buckets with lineage (input/output row
  counts, wall seconds, throughput) — the local stand-in for Iceberg
  snapshot metadata (no Iceberg runtime jars in this sandbox; the commit
  unit and resume semantics are identical) — and pins ``n_buckets``
  (:func:`pin_n_buckets`), which every writer of the layout checks;
- resume = anti-join of the bucket work-list against the manifest: only
  missing buckets are recomputed, exactly-once per bucket (data land +
  manifest append happen per completed batch; a crash mid-batch re-runs
  only that batch).

Scale note: each batch is 3 Spark jobs over ``filter(conv_bucket IN
batch)``, a full scan per batch, so ``batch_size`` trades checkpoint
granularity against scan count (ceil(n_buckets/batch_size) scans worst
case). On a real cluster the input would itself be stored in the
conv_bucket layout so the filter prunes directories and each batch scans
only its own data. The feature plan is derived once per run, over the
whole source, and each batch filters it: building a plan costs hundreds
of py4j round trips, paid once per run instead of between batches.

Transform contract: a row of ``transform(df)`` depends only on rows of
its own conversation (every window partitions by ``conv_id``). The
bucket predicate then pushes through the transform to the scan, so a
batch reads and computes only its buckets' rows, as if the source had
been filtered first (plan-asserted). The same contract is what makes the
bucketed output equal a full build.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, functions as F

MANIFEST_NAME = "_manifest.json"


def write_features(
    df: DataFrame,
    path: str,
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    codec: str = "zstd",
    mode: str = "overwrite",
) -> None:
    """Feature-table sink (S11-S13 analog of the reference's complevel-6
    HDF5): zstd-compressed parquet written in stable (conv_id, turn_idx)
    order within files (the T4 deterministic-order invariant, and what
    earns ts/key row-group pruning on later ranged reads)."""
    df.sortWithinPartitions(*order_cols).write.option("compression", codec).mode(mode).parquet(path)


def bucket_col(key_col: str, n_buckets: int):
    """The table layout's bucket of a row: crc32 of the utf-8 key, mod
    ``n_buckets`` (Spark's crc32 is a non-negative bigint, so the remainder
    is a valid bucket). crc32 is the same polynomial in Spark and Python's
    zlib, so the driver can bucket conv_ids it has collected
    (``plans.backfill.touched_buckets`` collects a delta's distinct
    conv_ids in one bounded Spark job, then buckets them with zlib;
    parity test-pinned)."""
    return (F.crc32(F.col(key_col).cast("string")) % n_buckets).cast("int")


def load_manifest(out_dir: str) -> dict:
    path = os.path.join(out_dir, MANIFEST_NAME)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {"buckets": {}, "runs": []}


def _commit_manifest(out_dir: str, manifest: dict) -> None:
    path = os.path.join(out_dir, MANIFEST_NAME)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, path)  # atomic on POSIX


def pin_n_buckets(manifest: dict, path: str, n_buckets: int) -> dict:
    """Return ``manifest`` with ``n_buckets`` pinned; raise if the table at
    ``path`` is already pinned to another count. The bucket count is part
    of a layout table's identity: another modulus assigns conversations to
    other buckets, so a rebuild would read the wrong base rows and a
    dynamic overwrite would leave the old layout's rows beside the new
    ones. Every writer of the layout pins before it writes and records the
    pin with its manifest commit."""
    pinned = manifest.get("n_buckets")
    if pinned is not None and pinned != n_buckets:
        raise ValueError(
            f"manifest at {path} was written with n_buckets={pinned}; "
            f"got n_buckets={n_buckets} — use a fresh path to rebucket"
        )
    manifest["n_buckets"] = n_buckets
    return manifest


def run_resumable(
    transform,
    source: DataFrame,
    out_dir: str,
    n_buckets: int = 16,
    batch_size: int = 4,
    run_id: str | None = None,
) -> dict:
    """Execute ``transform(df) -> df`` bucket-by-bucket with resume.

    ``transform`` is called at most once per run, on the whole
    ``source``, and only when a bucket is left to compute (its plan
    build is timed in the run's ``wall_s``); each batch filters the
    returned plan to its buckets. It must return rows that keep
    ``conv_id`` and depend only on their own conversation (the module's
    transform contract). Output layout:
    ``{out_dir}/conv_bucket={b}/part-*.parquet`` + the manifest — the
    table ``streaming.delta.stream_incremental_feature_build`` maintains
    as its ``features_path``. Returns the run's metrics dict (also
    appended to the manifest).
    """
    os.makedirs(out_dir, exist_ok=True)
    manifest = pin_n_buckets(load_manifest(out_dir), out_dir, n_buckets)
    done = set(int(b) for b in manifest["buckets"])
    todo = [b for b in range(n_buckets) if b not in done]
    run = {
        "run_id": run_id or f"run-{len(manifest['runs'])}",
        "n_buckets": n_buckets,
        "resumed_buckets": sorted(done),
        "computed_buckets": [],
        "rows_out": 0,
        "wall_s": 0.0,
    }
    from pyspark.sql import Observation

    plan = None
    for i in range(0, len(todo), batch_size):
        batch = todo[i : i + batch_size]
        t0 = time.perf_counter()
        if plan is None:
            plan = transform(source).withColumn("conv_bucket", bucket_col("conv_id", n_buckets))
        # per-bucket row counts ride along as observed metrics of the write
        # job itself — recomputing them with a separate groupBy/collect
        # (round-1 design) re-executed the whole transform, a 2x compute
        # tax on every checkpointed batch. The observation sits ABOVE the
        # shuffle: when every bucket of the batch is empty, AQE replaces
        # the empty shuffle's subtree, and an observation below it would
        # vanish (Observation.get then fails instead of reporting None).
        # Hashing on the bucket alone puts each bucket in one task (one
        # file per bucket) and lets AQE coalesce the small write stage;
        # sorting by bucket first meets the partitioned writer's required
        # ordering, so the writer adds no second sort.
        obs = Observation(f"resume-batch-{i}")
        out = (
            plan.filter(F.col("conv_bucket").isin(batch))
            .repartition("conv_bucket")
            .sortWithinPartitions("conv_bucket", "conv_id")
            .observe(obs, *[F.sum((F.col("conv_bucket") == b).cast("long")).alias(f"b{b}") for b in batch])
        )
        # land data first, then commit the manifest — a crash between the
        # two re-runs the batch (idempotent: partition dirs are overwritten)
        (
            out.write.partitionBy("conv_bucket")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(out_dir)
        )
        dt = time.perf_counter() - t0
        metrics = obs.get
        for b in batch:
            n = int(metrics[f"b{b}"] or 0)  # None: the whole batch was empty
            manifest["buckets"][str(b)] = {
                "rows": n,
                "run_id": run["run_id"],
                "wall_s": round(dt / len(batch), 3),
                "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
            run["computed_buckets"].append(b)
            run["rows_out"] += n
        run["wall_s"] = round(run["wall_s"] + dt, 3)
        _commit_manifest(out_dir, manifest)
    run["rows_per_sec"] = round(run["rows_out"] / run["wall_s"], 1) if run["wall_s"] > 0 else None
    manifest["runs"].append(run)
    _commit_manifest(out_dir, manifest)
    return run
