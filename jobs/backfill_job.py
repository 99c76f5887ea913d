"""Production entry point: resumable feature backfill via spark-submit.

    zip -r /tmp/engine.zip podcast_audio_feature_extraction_spark
    spark-submit --py-files /tmp/engine.zip jobs/backfill_job.py \
        --input  /data/transcripts_parquet \
        --output /data/features \
        --n-buckets 256 --batch-size 16

Reads the canonical transcript table (conv_id, turn_idx, role, text, tool,
ts [, val]), builds the per-turn feature table (sessionize -> rolling
functionals -> hash embedding; ``plans.backfill.build_feature_table``,
the one definition the delta stream also builds, so the job takes no
feature settings), and lands it bucket-by-bucket with the
checkpoint manifest — rerunning after a failure resumes from the last
committed bucket. Metrics (rows, wall_s, turns/sec per bucket and per run)
are written into the manifest alongside the data, the local stand-in for
Iceberg snapshot properties.

The output is the engine's one table layout (``conv_bucket={b}``
partitions, ``n_buckets`` and the schema pinned in ``_manifest.json``):
it is the ``features_path`` of
``streaming.delta.stream_incremental_feature_build`` as-is, which then
keeps it current (run the stream with the same ``--n-buckets``; another
count is refused).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="transcript parquet path")
    p.add_argument("--output", required=True, help="feature table output dir")
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--batch-size", type=int, default=8)
    p.add_argument("--master", default=None, help="override master (defaults to cluster conf)")
    p.add_argument("--run-id", default=None)
    args = p.parse_args(argv)

    from podcast_audio_feature_extraction_spark.operators.resume import run_resumable
    from podcast_audio_feature_extraction_spark.plans.backfill import build_feature_table
    from podcast_audio_feature_extraction_spark.session import get_spark

    spark = get_spark(app_name="feature-backfill", master=args.master)
    transcripts = spark.read.parquet(args.input)
    val_col = "val" if "val" in transcripts.columns else None

    def transform(df):
        return build_feature_table(df, val_col=val_col)

    run = run_resumable(
        transform, transcripts, args.output,
        n_buckets=args.n_buckets, batch_size=args.batch_size, run_id=args.run_id,
    )
    print(json.dumps(run))
    return 0


if __name__ == "__main__":
    sys.exit(main())
