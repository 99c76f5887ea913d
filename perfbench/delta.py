"""Workload ``delta_stream_sparse``: keeping the feature table fresh.

Setup stores the sparse corpus with ``write_conv_partitioned`` (the base
transcript), then bootstraps the feature table once and starts
``stream_incremental_feature_build`` with a continuous trigger on a landing
directory read by ``read_transcript_stream``. One op lands one pre-generated
micro-batch (written with pyarrow, then atomically renamed into place) and
ends when the feature manifest lists it: the op time is the batch's
freshness. Each batch appends turns to one of the 32 buckets (3%; the
generator's 1% rounded up to a whole bucket). Every
``CYCLE_BATCHES`` batches, ``compact_transcript_log`` folds the log into the
base while no batch is in flight (its own op kind). Most of the work is in
commit, partition pruning and compaction, little in compute: small reads
and small writes against the layout ``backfill_sparse`` writes in bulk.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import pandas as pd

import corpus
import stats

N_TURNS = 12_000
N_BUCKETS = 32
# Batch freshness keeps falling for about ten batches after the stream
# starts (4-core sandbox: 4.4, 3.1, then cycles of 2.8-2.3, 2.7-2.3 and
# from the third cycle on 2.2-1.8 s). The warm-up is two batches and one
# whole cycle, as much as the run time budget holds; a traced run (no
# bound to hold, see backfill.TRACE_WARMUP_JOBS) skips the cycle.
WARMUP_BATCHES = 2
WARMUP_CYCLES = 1
CYCLE_BATCHES = 3
MAX_BATCHES = 32
POLL_S = 0.01  # manifest polling; a finer poll competes with the sink thread
BATCH_TIMEOUT_S = 60.0


class DeltaStream:
    name = "delta_stream_sparse"
    traced_kind = "batch"

    def __init__(self, run):
        self.run = run
        self.spark = run.spark
        self.query = None
        self.landed: list[pd.DataFrame] = []
        self.fresh_info: list[dict] = []
        self.next_batch = 0
        self._traced: list[dict] = []

    def _paths(self, rep: int) -> None:
        d = os.path.join(self.run.tmp, f"setup{rep}")
        self.base, self.log = os.path.join(d, "base"), os.path.join(d, "log")
        self.features, self.ckpt = os.path.join(d, "features"), os.path.join(d, "ckpt")
        self.landing = os.path.join(d, "landing")
        self.src = self.base

    def setup_data(self, rep: int) -> dict:
        self._paths(rep)
        t0 = time.perf_counter()
        pdf = corpus.make_corpus(self.run.seed, N_TURNS)
        batches = corpus.make_delta_batches(pdf, self.run.seed, MAX_BATCHES, N_BUCKETS)
        self.batch_bytes = [corpus.to_parquet_bytes(b) for b in batches]
        self.pdf, self.batches = pdf, batches
        return {"setup.gen_s": time.perf_counter() - t0}

    def start(self) -> float:
        """Store the base, bootstrap the feature table from it and start the
        stream. Once per run: the repeated set-ups cover input generation
        (three base writes and feature builds do not fit the run budget)."""
        from podcast_audio_feature_extraction_spark.plans.backfill import (
            build_feature_table,
            write_conv_partitioned,
        )
        from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_VAL_SCHEMA
        from podcast_audio_feature_extraction_spark.streaming.delta import stream_incremental_feature_build
        from podcast_audio_feature_extraction_spark.streaming.sessions import read_transcript_stream

        t0 = time.perf_counter()
        write_conv_partitioned(
            self.spark.createDataFrame(self.pdf, schema=TRANSCRIPT_VAL_SCHEMA), self.base, N_BUCKETS
        )
        t1 = time.perf_counter()
        base = self.spark.read.parquet(self.base).drop("conv_bucket")
        write_conv_partitioned(build_feature_table(base, val_col="val"), self.features, N_BUCKETS)
        self.run.setup["setup.store_s"] = t1 - t0
        self.run.setup["setup.bootstrap_s"] = time.perf_counter() - t1
        os.makedirs(self.landing, exist_ok=True)
        self.query = stream_incremental_feature_build(
            read_transcript_stream(self.spark, self.landing),
            self.base, self.log, self.features, self.ckpt,
            n_buckets=N_BUCKETS, trigger_available_now=False, val_col="val",
        )
        # micro-batch jobs run under the query's run id as their job group
        self.stream_group = str(self.query.runId)
        deadline = time.monotonic() + 60
        while not self.query.status["message"].startswith("Waiting for data"):
            if time.monotonic() > deadline or not self.query.isActive:
                raise RuntimeError(f"stream did not start: {self.query.status}")
            time.sleep(0.01)
        return time.perf_counter() - t0

    def prepare(self) -> None:
        pass

    def stop(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()

    # -- ops -----------------------------------------------------------------

    def _committed(self) -> int:
        from podcast_audio_feature_extraction_spark.operators.resume import load_manifest

        return len(load_manifest(self.features).get("delta_batches", {}))

    def land(self, j: int) -> None:
        """Write batch j beside the landing dir's visible names, rename it
        in, and wait until the feature manifest lists it."""
        want = self._committed() + 1
        self.next_batch = max(self.next_batch, j + 1)
        tmp = os.path.join(self.landing, f"_batch-{j:05d}.parquet")
        with open(tmp, "wb") as f:
            f.write(self.batch_bytes[j])
        os.rename(tmp, os.path.join(self.landing, f"batch-{j:05d}.parquet"))
        t_land = time.time()
        deadline = time.monotonic() + BATCH_TIMEOUT_S
        while self._committed() < want:
            if time.monotonic() > deadline:
                raise TimeoutError(f"batch {j} not committed after {BATCH_TIMEOUT_S} s")
            if not self.query.isActive:
                raise RuntimeError(f"stream stopped: {self.query.exception()}")
            time.sleep(POLL_S)
        self.landed.append(self.batches[j])
        self.fresh_info.append(
            {"batch": j, "landed_ms": t_land * 1e3, "committed_ms": time.time() * 1e3,
             "log_files": _count_parquet(self.log), "new_turns": len(self.batches[j])}
        )

    def compact(self) -> None:
        from podcast_audio_feature_extraction_spark.streaming.delta import compact_transcript_log

        compact_transcript_log(self.spark, self.base, self.log, N_BUCKETS)

    def warmup(self, traced: bool):
        ops = [("batch", lambda j=j: self.land(j)) for j in range(WARMUP_BATCHES)]
        for c in range(0 if traced else WARMUP_CYCLES):
            ops += self._cycle_ops(c)
        return ops

    def cycle(self, i: int):
        return self._cycle_ops(WARMUP_CYCLES + i)

    def _cycle_ops(self, c: int):
        """Batches WARMUP_BATCHES + c*CYCLE_BATCHES ..., then a compaction."""
        ops = []
        for k in range(CYCLE_BATCHES):
            j = WARMUP_BATCHES + c * CYCLE_BATCHES + k
            if j >= MAX_BATCHES:
                raise RuntimeError("pre-generated delta batches exhausted; raise MAX_BATCHES")
            ops.append(("batch", lambda j=j: self.land(j)))
        ops.append(("compact", self.compact))
        return ops

    # -- results -------------------------------------------------------------

    def metrics(self) -> dict:
        ops = self.run.timed(ok_only=False)
        fresh = [o.s for o in ops if o.kind == "batch" and o.ok]
        timed_batches = [o for o in ops if o.kind == "batch"]
        landed_timed = self.landed[len(self.landed) - sum(o.ok for o in timed_batches):]
        new_turns = sum(len(b) for b in landed_timed)
        return {
            "turns_per_s": new_turns / sum(o.s for o in ops),
            "latency_p50_s": stats.median(fresh),
            "latency_tail_s": stats.tail(fresh),
            "compact_p50_s": stats.median([o.s for o in ops if o.kind == "compact" and o.ok]),
            "samples": {"batch": len(fresh), "compact": sum(o.kind == "compact" for o in ops)},
        }

    def check(self) -> dict:
        """The final feature table equals build_feature_table over base and
        every landed batch."""
        from podcast_audio_feature_extraction_spark.plans.backfill import FEATURE_COLS, build_feature_table
        from podcast_audio_feature_extraction_spark.schema import TRANSCRIPT_VAL_SCHEMA

        self.stop()
        full = pd.concat([self.pdf] + self.landed, ignore_index=True)
        want = build_feature_table(
            self.spark.createDataFrame(full, schema=TRANSCRIPT_VAL_SCHEMA), val_col="val"
        ).select(*FEATURE_COLS)
        got = self.spark.read.parquet(self.features).select(*FEATURE_COLS)
        counts = {"expected": len(full), "features": got.count()}
        # equal row counts and no expected row missing (as a multiset)
        # leave no room for an unexpected row
        missing = want.exceptAll(got).count()
        problems = []
        if counts["features"] != counts["expected"]:
            problems.append(f"feature rows {counts['features']} != {counts['expected']}")
        if missing:
            problems.append(f"{missing} expected rows missing or different")
        if self._committed() < len(self.landed):
            problems.append("manifest lists fewer batches than landed")
        return {"ok": not problems, "problems": problems, "counts": counts, "batches": len(self.landed)}

    # -- trace ---------------------------------------------------------------

    def untraced_op(self, i: int):
        return lambda: self.land(self.next_batch)

    def traced_op(self, i: int) -> list[dict]:
        """A landed batch as a span; its stream jobs are sliced from the
        event log by time."""
        rec = self.run.span("delta.batch", lambda: self.land(self.next_batch))
        rec["group_prefix"] = self.stream_group
        rec["stream_window_ms"] = (self.fresh_info[-1]["landed_ms"], self.fresh_info[-1]["committed_ms"])
        self._traced.append(self.fresh_info[-1])
        return [rec]

    def trace_extras(self) -> list[dict]:
        """A compaction span, and the delta plan's eager calls on the last
        batch against a copy of the feature table."""
        from podcast_audio_feature_extraction_spark.plans.backfill import (
            commit_rebuilt_partitions,
            delta_rebuild_partitioned,
            touched_buckets,
        )

        self._compact = self.run.span("delta.compact", self.compact)
        batch = self.spark.read.parquet(os.path.join(self.landing, f"batch-{self.next_batch - 1:05d}.parquet"))
        self._touched = self.run.span("plans.touched_buckets", lambda: touched_buckets(batch, N_BUCKETS))
        rebuilt = delta_rebuild_partitioned(self.spark, self.base, batch, N_BUCKETS, val_col="val").cache()
        rebuilt.count()
        copy = os.path.join(self.run.tmp, "trace", "features-copy")
        shutil.copytree(self.features, copy)
        self._commit = self.run.span("plans.commit", lambda: commit_rebuilt_partitions(rebuilt, copy))
        rebuilt.unpersist()
        self._progress = [p if isinstance(p, dict) else json.loads(p.json) for p in self.query.recentProgress]
        return [self._compact]

    def trace_layers(self, job_list: list[dict], build_s: float) -> dict:
        import eventlog

        traced_ms = [(f["landed_ms"], f["committed_ms"]) for f in self._traced]
        written = sum(eventlog.total(job_list, self.stream_group, a, b)["output_records"] for a, b in traced_ms)
        new_turns = sum(f["new_turns"] for f in self._traced)
        # the stream's own timings over every batch of the trace window
        # (as many untraced batches as traced ones)
        progs = [p for p in self._progress if p.get("numInputRows", 0) > 0][-2 * len(self._traced):]
        add = [p["durationMs"].get("addBatch", 0) / 1e3 for p in progs]
        trig = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in progs]
        from podcast_audio_feature_extraction_spark.operators.resume import load_manifest

        done = load_manifest(self.features).get("delta_batches", {})
        touched = [v["buckets"] / N_BUCKETS for _, v in sorted(done.items(), key=lambda kv: int(kv[0]))]
        return {
            "streaming.delta.batch_s": statistics.median(add) if add else 0.0,
            "streaming.delta.trigger_overhead_s": statistics.median(t - a for t, a in zip(trig, add)) if add else 0.0,
            "streaming.delta.compact_s": self._compact["wall_s"],
            # the sink writes the new turns to the log, then rewrites the
            # touched buckets' feature rows
            "streaming.delta.rows_rewritten_per_new_turn": (written - new_turns) / new_turns if new_turns else 0.0,
            "streaming.delta.buckets_touched_ratio": statistics.mean(touched) if touched else 0.0,
            "streaming.delta.log_files_read": statistics.median(f["log_files"] for f in self._traced),
            "plans.backfill.touched_buckets_s": self._touched["wall_s"],
            "plans.backfill.delta_commit_s": self._commit["wall_s"],
        }


def _count_parquet(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)
