"""Workload ``backfill_sparse``: the production offline job, end to end.

One op = ``jobs/backfill_job.py`` (``run_resumable(build_feature_table)``,
16 buckets in batches of 8) into a fresh directory, then
``backfill_features`` over the stored feature table and ``write_features``
of the point-in-time set. The corpus is sparse (one or two turns per 120 s
window), so this exercises sessionize, rolling, the embedding UDF, as-of
and resume, and bypasses functionals, search and the delta loop.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import shutil
import time

import numpy as np

import corpus
import stats

N_TURNS = 12_000
# The job's own --n-buckets/--batch-size options. At its defaults (64, 8)
# a fresh JVM compiles 8 batch plans: 30-50 s for the first job on the
# 4-core sandbox, and ~12 s a job only from the fourth, which a run's time
# budget (about 70 s) cannot hold. Two batches keep the batch loop,
# the per-batch manifest commits and resume.
N_BUCKETS, BATCH_SIZE = 16, 8
# A fresh JVM runs its first job 3-4x slower than a warm one (class
# loading, JIT, generated-code compilation), and later jobs keep getting
# a little faster (4-core sandbox: 14.8, 5.4, 4.5, 3.7, then 3.4-3.8 s).
# Three warm-up jobs are what the run time budget holds.
WARMUP_JOBS = 3
# A traced run compares traced and untraced ops of the same warmth inside
# its own window and has no bound to hold, so it warms up less (its sweep
# and search spans need the time within the run limit).
TRACE_WARMUP_JOBS = 2
CHECK_CONVS = 12
# functionals vector prefix the numpy oracle reimplements (the 11 turn
# descriptors and the four val mean/std/min/max); p20/p80/slope/cv follow
ORACLE_FUNCTIONALS = 15


def _load_job(root: str):
    spec = importlib.util.spec_from_file_location("backfill_job", os.path.join(root, "jobs", "backfill_job.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Backfill:
    name = "backfill_sparse"
    traced_kind = "backfill_job"

    def __init__(self, run):
        self.run = run
        self.spark = run.spark
        self.job = _load_job(run.root)
        self.src = None
        self.pdf = None
        self.last_out = None
        self.resume_runs: list[dict] = []

    def setup_data(self, rep: int) -> dict:
        t0 = time.perf_counter()
        pdf = corpus.make_corpus(self.run.seed, N_TURNS)
        t1 = time.perf_counter()
        src = os.path.join(self.run.tmp, f"setup{rep}", "transcripts")
        corpus.write_parquet_files(pdf, src, self.run.cores)
        t2 = time.perf_counter()
        self.pdf, self.src = pdf, src
        return {"setup.gen_s": t1 - t0, "setup.store_s": t2 - t1}

    def prepare(self) -> None:
        """Fail loudly if the seed's corpus leaves a bucket batch empty."""
        from podcast_audio_feature_extraction_spark.operators.resume import bucket_col

        ids = self.spark.createDataFrame(self.pdf[["conv_id"]].drop_duplicates())
        used = {r[0] for r in ids.select(bucket_col("conv_id", N_BUCKETS)).distinct().collect()}
        empty = [i for i in range(0, N_BUCKETS, BATCH_SIZE) if not used & set(range(i, i + BATCH_SIZE))]
        if empty:
            raise RuntimeError(f"seed {self.run.seed}: bucket batches starting at {empty} hold no rows")

    def start(self) -> float:
        return 0.0

    # -- the op --------------------------------------------------------------

    def job_op(self, src: str, out: str) -> dict:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = self.job.main(
                ["--input", src, "--output", os.path.join(out, "features"),
                 "--n-buckets", str(N_BUCKETS), "--batch-size", str(BATCH_SIZE)]
            )
        if rc != 0:
            raise RuntimeError(f"backfill job exited {rc}")
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def backfill_op(self, src: str, out: str) -> None:
        from podcast_audio_feature_extraction_spark.operators.resume import write_features
        from podcast_audio_feature_extraction_spark.plans.backfill import backfill_features

        feats = self.spark.read.parquet(os.path.join(out, "features")).drop("bucket")
        frame = self.spark.read.parquet(src).select("conv_id", "turn_idx", "role", "text", "ts")
        write_features(backfill_features(frame, feats), os.path.join(out, "backfill"))

    def _op(self, src: str, out: str):
        def op():
            self.resume_runs.append(self.job_op(src, out))
            self.backfill_op(src, out)
            prev = self.last_out
            self.last_out = out
            return (lambda: shutil.rmtree(prev, ignore_errors=True)) if prev else None

        return op

    def cycle(self, i: int):
        """A cycle is one job."""
        return [("backfill_job", self._op(self.src, os.path.join(self.run.tmp, "ops", f"op{i}")))]

    def warmup(self, traced: bool):
        return [
            ("backfill_job", self._op(self.src, os.path.join(self.run.tmp, "ops", f"warmup{i}")))
            for i in range(TRACE_WARMUP_JOBS if traced else WARMUP_JOBS)
        ]

    # -- results -------------------------------------------------------------

    def metrics(self) -> dict:
        ops = self.run.timed(ok_only=False)
        ok = [o.s for o in ops if o.ok]
        return {
            "turns_per_s": N_TURNS * len(ok) / sum(o.s for o in ops),
            "latency_p50_s": stats.median(ok),
            "samples": {"backfill_job": len(ok)},
        }

    def check(self) -> dict:
        """Row counts, and a seeded sample of conversations allclose to the
        numpy oracle (sessionize, turn features, embedding, as-of) with
        text byte-equal."""
        from podcast_audio_feature_extraction_spark.oracle import numpy_oracle as O
        from pyspark.sql import functions as F

        out = self.last_out
        feats = self.spark.read.parquet(os.path.join(out, "features"))
        bf = self.spark.read.parquet(os.path.join(out, "backfill"))
        counts = {
            "features": feats.count(),
            "backfill": bf.count(),
            "job_rows_out": self.resume_runs[-1]["rows_out"],
        }
        problems = [f"{k}={v} != {N_TURNS}" for k, v in counts.items() if v != N_TURNS]

        convs = sorted(self.pdf["conv_id"].unique())
        rng = np.random.default_rng([self.run.seed, 7])
        sample = sorted(rng.choice(convs, size=min(CHECK_CONVS, len(convs)), replace=False).tolist())
        got = (
            bf.filter(F.col("conv_id").isin(sample)).toPandas()
            .sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
        )
        want = self._oracle(O, self.pdf[self.pdf["conv_id"].isin(sample)])
        if len(got) != len(want):
            problems.append(f"sample rows {len(got)} != oracle {len(want)}")
        else:
            if not (got["text"].fillna("").to_numpy() == want["text"].fillna("").to_numpy()).all():
                problems.append("text differs from the corpus")
            if not (got["feat_turn_idx"].to_numpy() == want["feat_turn_idx"].to_numpy()).all():
                problems.append("as-of picked another turn")
            if not (got["feat_session_id"].to_numpy() == want["session_id"].to_numpy()).all():
                problems.append("session ids differ")
            gf = np.stack([np.asarray(v, dtype=float)[:ORACLE_FUNCTIONALS] for v in got["functionals"]])
            if not np.allclose(gf, np.stack(want["functionals"]), rtol=1e-9, atol=1e-9):
                problems.append("functionals not allclose to the oracle")
            ge = np.stack([np.asarray(v, dtype=float) for v in got["embedding"]])
            if not np.allclose(ge, np.stack(want["embedding"]), rtol=1e-12, atol=1e-12):
                problems.append("embedding not allclose to the oracle")
        return {"ok": not problems, "problems": problems, "counts": counts, "sample_convs": len(sample)}

    @staticmethod
    def _oracle(O, pdf):
        from podcast_audio_feature_extraction_spark.operators.rolling import FUNCTIONAL_COLS

        feats = O.turn_features_np(O.sessionize_np(pdf, gap_s=1800.0), k=5, val_col="val")
        cols = FUNCTIONAL_COLS[:ORACLE_FUNCTIONALS]
        feats["functionals"] = list(feats[cols].to_numpy(dtype=float))
        feats["embedding"] = [O.embed_text_oracle(t, dim=64) for t in feats["text"]]
        # paired (ts, turn_idx) ties: the as-of key is the turn's rank in
        # that order (turn_features_np returns rows in it), so a same-ts
        # later turn is never visible
        feats["__pos"] = feats.groupby("conv_id").cumcount()
        right = feats[["conv_id", "__pos", "turn_idx", "session_id", "functionals", "embedding"]].rename(
            columns={"turn_idx": "feat_turn_idx"}
        )
        left = feats[["conv_id", "turn_idx", "text", "__pos"]]
        got = O.asof_np(left, right, on="conv_id", ts_col="__pos",
                        value_cols=["feat_turn_idx", "session_id", "functionals", "embedding"])
        return got.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)

    # -- trace ---------------------------------------------------------------

    def untraced_op(self, i: int):
        return self._op(self.src, os.path.join(self.run.tmp, "trace", f"untraced{i}"))

    def traced_op(self, i: int) -> list[dict]:
        """The same op with the resume job and the as-of write as separate
        spans."""
        out = os.path.join(self.run.tmp, "trace", f"op{i}")
        a = self.run.span("backfill.resume_job", lambda: self.job_op(self.src, out))
        b = self.run.span("backfill.asof_write", lambda: self.backfill_op(self.src, out))
        shutil.rmtree(out, ignore_errors=True)
        self._job = a
        return [a, b]

    def trace_extras(self) -> list[dict]:
        return []

    def trace_layers(self, job_list: list[dict], build_s: float) -> dict:
        """``build_s``: the sweep's noop time of the same feature build, so
        resume self time is the job's wall minus the build's compute."""
        import eventlog

        job = self._job
        ev = eventlog.total(job_list, job["group_prefix"])
        return {
            "operators.resume.self_s": job["wall_s"] - build_s,
            "operators.resume.batches": len(job["result"]["computed_buckets"]) // BATCH_SIZE,
            "operators.resume.output_bytes": ev["output_bytes"],
        }
