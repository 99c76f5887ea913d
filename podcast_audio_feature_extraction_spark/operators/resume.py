"""Per-partition checkpoint/resume with lineage metrics (SURVEY.md §2.2 P7,
§2.1 S16/S17, §2.10 E2), and the home of the engine's one table layout.

Re-expresses the reference's skip-if-output-exists incremental recompute
(/root/reference/src/features/FeatureExtractor.py:67-90) and its
failed-URI retry list (/root/reference/src/search/index.py:125-160) as
bucket-level checkpointing over the engine's one table layout, which this
module owns whole:

- work is bucketed by conv_id (:func:`bucket_col`, ``crc32(conv_id) %
  n_buckets``) into hive partitions ``conv_bucket={b}`` — the layout the
  partitioned delta rebuild and the streaming loop maintain
  (``plans.backfill``, ``streaming.delta``), so a backfill's output is
  their feature table as-is;
- a JSON manifest records completed buckets with lineage (input/output row
  counts, wall seconds, throughput) — the local stand-in for Iceberg
  snapshot metadata (no Iceberg runtime jars in this sandbox; the commit
  unit and resume semantics are identical) — and is the one record of the
  table's identity: ``n_buckets`` and the schema (:func:`pin_layout`),
  which every writer of the layout checks and every read takes, so no
  read of a layout table infers a schema;
- one writer (:func:`commit_rebuilt_partitions`, a dynamic overwrite of
  the partitions a frame holds), one reader (:func:`read_buckets`) and one
  touched-bucket rule (:func:`touched_aggs`) serve every user of the
  layout: ``run_resumable``, ``plans.backfill`` and ``streaming.delta``;
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

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T

MANIFEST_NAME = "_manifest.json"


def write_features(df: DataFrame, path: str) -> None:
    """Feature-table sink (S11-S13 analog of the reference's complevel-6
    HDF5): zstd-compressed parquet written in stable (conv_id, turn_idx)
    order within files (the T4 deterministic-order invariant, and what
    earns ts/key row-group pruning on later ranged reads)."""
    df.sortWithinPartitions("conv_id", "turn_idx").write.option("compression", "zstd").mode("overwrite").parquet(path)


def bucket_col(key_col: str, n_buckets: int):
    """The table layout's bucket of a row: crc32 of the utf-8 key, mod
    ``n_buckets`` (Spark's crc32 is a non-negative bigint, so the remainder
    is a valid bucket). The package computes every bucket with this
    expression, in Spark; perfbench's ``corpus.conv_bucket`` is its only
    driver-side twin (the same CRC-32 in Python; parity test-pinned)."""
    return (F.crc32(F.col(key_col).cast("string")) % n_buckets).cast("int")


def load_manifest(out_dir: str) -> dict:
    path = os.path.join(out_dir, MANIFEST_NAME)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {"buckets": {}, "runs": []}


def _commit_manifest(out_dir: str, manifest: dict) -> None:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, MANIFEST_NAME)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, path)  # atomic on POSIX


def pin_layout(path: str, n_buckets: int, schema: T.StructType | None) -> dict:
    """The manifest of the table at ``path`` with its identity pinned:
    ``n_buckets`` and ``schema`` without ``conv_bucket`` (``None`` checks
    the count alone). Raises ``ValueError`` if the table is pinned to
    another count, or to other (name, type) columns or column order
    (nullability aside: file sources read every column as nullable):
    a rebuild would read other conversations' buckets, or rebuild touched
    buckets in other columns than untouched ones keep. Every writer pins
    before it writes and commits the pin with its data; a value not
    pinned yet is pinned by the next writer."""
    manifest = load_manifest(path)
    pinned = manifest.setdefault("n_buckets", n_buckets)
    if pinned != n_buckets:
        raise ValueError(
            f"manifest at {path} was written with n_buckets={pinned}; "
            f"got n_buckets={n_buckets} — use a fresh path to rebucket"
        )
    if schema is not None:
        schema = T.StructType([f for f in schema.fields if f.name != "conv_bucket"])
        ident = lambda s: [(f.name, f.dataType.simpleString()) for f in s.fields]
        want, got = ident(schema), ident(T.StructType.fromJson(manifest.setdefault("schema", schema.jsonValue())))
        # a column whose type or presence differs; else one out of place
        if bad := {n for n, _ in set(want) ^ set(got)} or {a for (a, _), (b, _) in zip(want, got) if a != b}:
            raise ValueError(f"manifest at {path} pins other columns: {sorted(bad)} differ — use a fresh path")
    return manifest


def record_pin(path: str, manifest: dict) -> None:
    """Commit a :func:`pin_layout` result ahead of any data, if it is new."""
    if manifest != load_manifest(path):
        _commit_manifest(path, manifest)


def pinned_schema(path: str) -> T.StructType:
    """The schema pinned at ``path``; raises ``ValueError`` if none is: no
    read of the layout infers one."""
    if "schema" not in (manifest := load_manifest(path)):
        raise ValueError(f"no schema pinned at {path} — re-store it, or start the stream on it")
    return T.StructType.fromJson(manifest["schema"])


def touched_aggs(n_buckets: int):
    """The one touched-bucket rule of a conv_id-keyed frame: its row count
    (``rows``) and the buckets it touches (``buckets``). collect_set skips
    a NULL conv_id's NULL bucket, so such a row counts but touches
    nothing."""
    return F.count(F.lit(1)).alias("rows"), F.collect_set(bucket_col("conv_id", n_buckets)).alias("buckets")


def read_buckets(spark: SparkSession, path: str, buckets: list[int]) -> DataFrame:
    """The layout table's ``buckets`` partitions read with its pinned
    schema (:func:`pinned_schema`: no inference job; the filter prunes
    directories), without the ``conv_bucket`` column. A pinned table with
    no file yet reads as empty; every read failure (a corrupt footer, an
    IO or permission error) propagates: reading such a table as empty
    would let the caller overwrite the touched buckets with partial rows
    and lose the table's rows for good."""
    read_schema = T.StructType(pinned_schema(path).fields + [T.StructField("conv_bucket", T.IntegerType())])
    table = spark.read.schema(read_schema).parquet(path)
    return table.filter(F.col("conv_bucket").isin(buckets)).drop("conv_bucket")


def commit_rebuilt_partitions(rebuilt: DataFrame, path: str, *metrics):
    """The one writer of the layout: replaces exactly the ``conv_bucket``
    partitions present in ``rebuilt`` (dynamic partition overwrite); every
    other partition's files are untouched (no read, no rewrite), so an
    incremental commit's cost tracks the touched fraction. ``rebuilt``
    needs only a ``conv_bucket`` column, and ``path`` needs no manifest:
    pinning and recording are the caller's.

    Hashing on the bucket alone puts each bucket in one task (one file
    per bucket) and lets AQE coalesce the small write stage; sorting by
    bucket first meets the partitioned writer's required ordering, so the
    writer adds no second sort. A frame with a ``conv_id`` is sorted by it
    within the bucket, so the files keep conversations contiguous.

    ``metrics`` (aggregate Columns) ride the write job as observed
    metrics, returned as a Row (None when none are passed). The
    observation sits ABOVE the shuffle: when every bucket is empty, AQE
    replaces the empty shuffle's subtree, and an observation below it
    would vanish. The overwrite mode is a per-write option, never the
    session conf: a concurrent writer restoring a session-wide ``static``
    mid-write would turn this commit into a delete of every partition."""
    order = ["conv_bucket"] + (["conv_id"] if "conv_id" in rebuilt.columns else [])
    out = rebuilt.repartition("conv_bucket").sortWithinPartitions(*order)
    obs = Observation() if metrics else None
    if obs:
        out = out.observe(obs, *metrics)
    out.write.partitionBy("conv_bucket").mode("overwrite").option("partitionOverwriteMode", "dynamic").parquet(path)
    return obs.get if obs else None


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
    manifest = pin_layout(out_dir, n_buckets, None)
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
    plan = None
    for i in range(0, len(todo), batch_size):
        batch = todo[i : i + batch_size]
        t0 = time.perf_counter()
        if plan is None:
            plan = transform(source)
            manifest = pin_layout(out_dir, n_buckets, plan.schema)
            plan = plan.withColumn("conv_bucket", bucket_col("conv_id", n_buckets))
        # per-bucket row counts ride along as observed metrics of the write
        # job itself — recomputing them with a separate groupBy/collect
        # (round-1 design) re-executed the whole transform, a 2x compute
        # tax on every checkpointed batch. Data lands first, then the
        # manifest commits — a crash between the two re-runs the batch
        # (idempotent: partition dirs are overwritten)
        metrics = commit_rebuilt_partitions(
            plan.filter(F.col("conv_bucket").isin(batch)),
            out_dir,
            *[F.sum((F.col("conv_bucket") == b).cast("long")).alias(f"b{b}") for b in batch],
        )
        dt = time.perf_counter() - t0
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
