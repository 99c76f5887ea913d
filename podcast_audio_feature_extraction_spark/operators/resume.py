"""Per-partition checkpoint/resume with lineage metrics (SURVEY.md §2.2 P7,
§2.1 S16/S17, §2.10 E2).

Re-expresses the reference's skip-if-output-exists incremental recompute
(/root/reference/src/features/FeatureExtractor.py:67-90) and its
failed-URI retry list (/root/reference/src/search/index.py:125-160) as
bucket-level checkpointing:

- work is hash-bucketed by conv_id (``pmod(xxhash64(conv_id), n_buckets)``);
- a JSON manifest records completed buckets with lineage (input/output row
  counts, wall seconds, throughput) — the local stand-in for Iceberg
  snapshot metadata (no Iceberg runtime jars in this sandbox; the commit
  unit and resume semantics are identical);
- resume = anti-join of the bucket work-list against the manifest: only
  missing buckets are recomputed, exactly-once per bucket (data land +
  manifest append happen per completed batch; a crash mid-batch re-runs
  only that batch).

Scale note: each batch is ONE Spark job over ``filter(bucket IN batch)``
— a full scan per batch, so ``batch_size`` trades checkpoint granularity
against scan count (ceil(n_buckets/batch_size) scans worst case). On a
real cluster the input would be bucket-partitioned Iceberg so the filter
prunes files and each batch scans only its own data.
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
    key_col: str = "conv_id",
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
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


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


def compact_buckets(
    spark,
    out_dir: str,
    key_col: str = "conv_id",
    files_per_bucket: int = 1,
) -> dict:
    """Small-file compaction for a resumable table: rewrite each completed
    bucket's directory down to ``files_per_bucket`` sorted files. Long
    incremental runs accrete one file per batch per bucket; scans then pay
    per-file open/footer costs. Row counts are re-verified against the
    manifest before the swap and the manifest records the compaction —
    data content is untouched (same rows, same sort order contract).
    """
    import shutil

    manifest = load_manifest(out_dir)
    stats = {"compacted": [], "skipped": [], "repaired": [], "rows": 0}
    # crash repair: a previous compaction interrupted between the two
    # renames leaves bucket=N.old (data intact) without bucket=N — restore
    # it; an .old WITH a live bucket is a completed swap's leftover.
    for name in list(os.listdir(out_dir)):
        if name.endswith(".old"):
            old, live = os.path.join(out_dir, name), os.path.join(out_dir, name[: -len(".old")])
            if os.path.isdir(live):
                shutil.rmtree(old)
            else:
                os.rename(old, live)
                stats["repaired"].append(name[: -len(".old")])
        elif name.endswith(".compact.tmp"):
            shutil.rmtree(os.path.join(out_dir, name), ignore_errors=True)
    for b, meta in sorted(manifest["buckets"].items(), key=lambda kv: int(kv[0])):
        bdir = os.path.join(out_dir, f"bucket={b}")
        if not os.path.isdir(bdir):
            stats["skipped"].append(int(b))
            continue
        n_files = len([f for f in os.listdir(bdir) if f.endswith(".parquet")])
        if n_files <= files_per_bucket:
            stats["skipped"].append(int(b))
            continue
        df = spark.read.parquet(bdir)
        tmp = bdir + ".compact.tmp"
        df.coalesce(files_per_bucket).sortWithinPartitions(key_col).write.mode("overwrite").parquet(tmp)
        n_new = spark.read.parquet(tmp).count()
        if n_new != meta["rows"]:  # refuse to swap on any row-count drift
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError(f"bucket {b}: compacted rows {n_new} != manifest {meta['rows']}")
        # two-rename swap: a crash anywhere leaves the data recoverable
        # (either bdir or bdir.old exists), never silently lost — the
        # repair pass above restores an interrupted swap on the next run
        old = bdir + ".old"
        os.rename(bdir, old)
        os.rename(tmp, bdir)
        shutil.rmtree(old)
        meta["compacted_at"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        stats["compacted"].append(int(b))
        stats["rows"] += n_new
    _commit_manifest(out_dir, manifest)
    return stats


def run_resumable(
    transform,
    source: DataFrame,
    out_dir: str,
    key_col: str = "conv_id",
    n_buckets: int = 16,
    batch_size: int = 4,
    run_id: str | None = None,
) -> dict:
    """Execute ``transform(df) -> df`` bucket-by-bucket with resume.

    Returns the run's metrics dict (also appended to the manifest).
    Output layout: ``{out_dir}/bucket={b}/part-*.parquet`` + manifest.
    """
    os.makedirs(out_dir, exist_ok=True)
    manifest = load_manifest(out_dir)
    # the bucketing scheme is part of the table's identity: resuming with a
    # different modulus would assign conversations to different buckets and
    # silently mix two layouts
    pinned = manifest.get("n_buckets")
    if pinned is not None and pinned != n_buckets:
        raise ValueError(
            f"manifest at {out_dir} was written with n_buckets={pinned}; "
            f"got n_buckets={n_buckets} — use a fresh out_dir to rebucket"
        )
    manifest["n_buckets"] = n_buckets
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

    src = source.withColumn("bucket", bucket_col(key_col, n_buckets))
    for i in range(0, len(todo), batch_size):
        batch = todo[i : i + batch_size]
        t0 = time.perf_counter()
        out = transform(src.filter(F.col("bucket").isin(batch)))
        if "bucket" not in out.columns:
            out = out.withColumn("bucket", bucket_col(key_col, n_buckets))
        # per-bucket row counts ride along as observed metrics of the write
        # job itself — recomputing them with a separate groupBy/collect
        # (round-1 design) re-executed the whole transform, a 2x compute
        # tax on every checkpointed batch. The observation sits ABOVE the
        # shuffle: when every bucket of the batch is empty, AQE replaces
        # the empty shuffle's subtree, and an observation below it would
        # vanish (Observation.get then fails instead of reporting None).
        # Sorting by bucket first meets the partitioned writer's required
        # ordering, so the writer adds no second sort.
        obs = Observation(f"resume-batch-{i}")
        out = (
            out.repartition(len(batch), "bucket")
            .sortWithinPartitions("bucket", key_col)
            .observe(obs, *[F.sum((F.col("bucket") == b).cast("long")).alias(f"b{b}") for b in batch])
        )
        # land data first, then commit the manifest — a crash between the
        # two re-runs the batch (idempotent: partition dirs are overwritten)
        (
            out.write.partitionBy("bucket")
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
