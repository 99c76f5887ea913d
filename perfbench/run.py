"""Benchmark entry point.

    python3 perfbench/run.py --workload backfill_sparse --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of this repository. Builds the workload's
inputs from ``--seed``, sets it up several times (``setup_s`` reports the
median), runs the fixed warm-up, then closed-loop ops for ``--seconds`` of
summed op time, checks the outputs, and prints one metric per line followed
by a final JSON line. ``--trace 1`` runs the same set-up and a shorter
warm-up, then alternates untraced and traced ops for ``--seconds``, runs
the per-layer sweep, and prints the per-layer table instead. Workloads and metrics are
described in perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402
import procfs  # noqa: E402

WORKLOADS = ("backfill_sparse", "delta_stream_sparse")


def declared(section: str) -> dict:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def workload_class(name: str):
    if name == "backfill_sparse":
        from backfill import Backfill

        return Backfill
    from delta import DeltaStream

    return DeltaStream


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def checkout_ok() -> str | None:
    """The benchmark drives the package of the checkout it sits in."""
    for rel in ("podcast_audio_feature_extraction_spark/__init__.py", "jobs/backfill_job.py",
                "bench.py", "__spark_entry__.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return f"not a checkout of the engine: {rel} is missing under {ROOT}"
    return None


def main(argv=None) -> int:
    args = parse_args(argv)
    problem = checkout_ok()
    if problem:
        print(problem, file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run = harness.Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    run.prepare_env()
    t_imports = time.perf_counter() - T_PROCESS
    run.noise = {"throttle_probe_start_s": harness.throttle_probe(), "loadavg_start": harness.loadavg()}
    try:
        result = execute(run, args, t_imports)
    finally:
        t_stop = time.perf_counter()
        run.stop()
    result["record"]["stop_s"] = time.perf_counter() - t_stop
    run.noise["throttle_probe_end_s"] = harness.throttle_probe()
    run.noise["loadavg_end"] = harness.loadavg()
    result["record"]["noise"] = run.noise
    if args.trace:
        finish_trace(run, result)
    report(run, result)
    shutil.rmtree(run.tmp, ignore_errors=True)
    return 0 if result["correct"] else 1


def execute(run, args, t_imports: float) -> dict:
    run.start_spark()
    wl = run.workload_obj = workload_class(args.workload)(run)
    reps = []
    for rep in range(harness.SETUP_REPEATS):
        parts = wl.setup_data(rep)
        reps.append(parts)
        if rep:
            shutil.rmtree(os.path.join(run.tmp, f"setup{rep - 1}"), ignore_errors=True)
    data_s = [sum(r.values()) for r in reps]
    start_s = wl.start()
    setup_s = t_imports + run.setup["session.start_s"] + statistics.median(data_s) + start_s
    for k in reps[0]:
        run.setup[k] = statistics.median(r[k] for r in reps)
    wl.prepare()  # untimed: input guards and check baselines

    run.warm_up(wl.warmup(run.trace))
    ticks = harness.cpu_ticks()
    if run.trace:
        traced = trace_window(run, wl)
    else:
        with procfs.PeakMemory() as mem:
            run.closed_loop(wl.cycle)
        run.noise["peak_pss_parts_mb"] = {k: round(v / 2**20, 1) for k, v in mem.peak.items()}
        m = wl.metrics()
    run.noise["steal_share_ops"] = harness.steal_share(ticks, harness.cpu_ticks())
    t0 = time.perf_counter()
    try:
        check = wl.check()
    except Exception as e:  # a check that cannot run is a failed check
        check = {"ok": False, "problems": [f"check raised {type(e).__name__}: {e}"[:500]]}
    check["s"] = time.perf_counter() - t0

    timed_all = run.timed(ok_only=False)
    failed = sum(not o.ok for o in timed_all)
    if run.trace:
        metrics, extra = {}, {}
    else:
        metrics = {
            "setup_s": setup_s,
            "turns_per_s": m["turns_per_s"],
            "latency_p50_s": m["latency_p50_s"],
        }
        extra = {k: v for k, v in m.items() if k not in metrics}
        extra["peak_rss_mb"] = mem.peak["total"] / 2**20
    extra["failed_ops_ratio"] = failed / len(timed_all) if timed_all else 0.0
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "cores": run.cores,
        "nproc": run.nproc,
        "metrics": metrics,
        "extra": extra,
        "setup": {"imports_s": t_imports, "data_setup_s": data_s, "start_s": start_s, **run.setup},
        "warmup_op_s": [round(o.s, 4) for o in run.ops if o.phase == "warmup"],
        "ops": [
            {"kind": o.kind, "phase": o.phase, "ok": o.ok, "s": round(o.s, 4), **({"error": o.error} if o.error else {})}
            for o in run.ops
        ],
        "check": check,
    }
    result = {
        "correct": bool(check["ok"]) and failed < len(timed_all),
        "attempted": len(timed_all),
        "failed": failed,
        "metrics": metrics,
        "record": record,
    }
    if run.trace:
        import layers
        from search import SearchIndex

        t = run.spark.read.parquet(wl.src)
        if "conv_bucket" in t.columns:
            t = t.drop("conv_bucket")
        t1 = time.perf_counter()
        sweep = layers.sweep(run, t)
        t2 = time.perf_counter()
        srch = SearchIndex(run, wl.src, wl.pdf)
        t3 = time.perf_counter()
        srch.trace_ops(1)
        # where a traced run's time goes (it must end within the run limit)
        record["trace_phase_s"] = {"sweep": t2 - t1, "search_index": t3 - t2,
                                   "search_spans": time.perf_counter() - t3}
        result["trace"] = {"wl": wl, "search": srch, "traced": traced, "sweep": sweep}
    return result


def trace_window(run, wl) -> dict:
    """The traced run's window: untraced ops (timed, as in a timed run) and
    traced ops of the same kind in blocks of untraced, traced, traced,
    untraced, so the warm-up drift that remains after the warm-up cancels
    out of the difference, until the summed op time reaches ``seconds``;
    then the workload's extra spans. The tracing overhead is the mean
    traced op minus the mean untraced op."""
    spans, walls = [], []
    i, elapsed = 0, 0.0
    while elapsed < run.seconds:
        for traced in (False, True, True, False):
            if traced:
                recs = wl.traced_op(i)
                spans += recs
                walls.append(sum(r["wall_s"] for r in recs))
                elapsed += walls[-1]
            else:
                elapsed += run.run_op(wl.traced_kind, "timed", wl.untraced_op(i)).s
            i += 1
    untraced = [o.s for o in run.timed(wl.traced_kind)]
    overhead = statistics.mean(walls) - statistics.mean(untraced) if untraced else None
    return {"spans": spans + wl.trace_extras(), "overhead_s": overhead}


def finish_trace(run, result) -> None:
    """Slice the event log (complete once Spark has stopped) into the
    per-layer table: every measured metric goes into the record, the ones
    BENCHMARK.json declares into the final line."""
    import eventlog
    import layers

    tr = result.pop("trace")
    t0 = time.perf_counter()
    job_list = eventlog.jobs(eventlog.read_events(run.eventlog_path()))
    result["record"]["trace_phase_s"]["eventlog"] = time.perf_counter() - t0
    measured = {
        "session.start_s": run.setup["session.start_s"],
        "setup.gen_s": run.setup["setup.gen_s"],
        "setup.store_s": run.setup["setup.store_s"],
        "trace.overhead_s": tr["traced"]["overhead_s"],
    }
    measured.update(layers.layer_metrics(tr["sweep"], job_list))
    measured.update(layers.engine_metrics(tr["traced"]["spans"], job_list, run.cores))
    measured.update(tr["search"].trace_layers())
    build_s = next(r["wall_s"] for r in tr["sweep"] if r["layer"] == "functions.embedding")
    measured.update(tr["wl"].trace_layers(job_list, build_s))
    result["record"]["per_layer"] = measured
    result["record"]["spans"] = [(s["name"], round(s["wall_s"], 4), s["ok"]) for s in run.spans]


PER_LAYER_UNITS = {"_s": "s", "_bytes": "bytes", "_ratio": "ratio"}


def unit_of(name: str) -> str:
    for suffix, unit in PER_LAYER_UNITS.items():
        if name.endswith(suffix) or name.endswith(suffix + "_sent") or name.endswith(suffix + "_received"):
            return unit
    return "count"


def report(run, result) -> None:
    rec = result["record"]
    out = sys.stdout
    print(f"# perfbench {rec['workload']} seed={rec['seed']} seconds={rec['seconds']} "
          f"cores={rec['cores']} trace={int(run.trace)}", file=out)
    if not run.trace:
        for name, unit in declared("end_to_end").items():
            print(f"{name} {result['metrics'][name]} {unit}", file=out)
    for name, v in rec["extra"].items():
        print(f"{name} {json.dumps(v)}", file=out)
    print(f"check {'ok' if rec['check']['ok'] else 'FAILED'} {json.dumps(rec['check'].get('problems', []))}",
          file=out)
    for o in rec["ops"]:
        if "error" in o:
            print(f"failed_op {o['phase']} {o['kind']} {o['error']}", file=out)
    if run.trace:
        print("# per-layer (traced run)", file=out)
        table = rec["per_layer"]
        for name in sorted(table):
            v = "null" if table[name] is None else f"{table[name]:.6g}"
            print(f"{name} {v} {unit_of(name)}", file=out)
    os.makedirs(os.path.join(run.root, ".perfbench", "results"), exist_ok=True)
    path = os.path.join(
        run.root, ".perfbench", "results",
        f"{rec['workload']}-seed{rec['seed']}-trace{int(run.trace)}-{int(time.time())}.json",
    )
    with open(path, "w") as f:
        json.dump(rec, f, indent=1, default=str)
    print(f"# record {os.path.relpath(path, run.root)}", file=out)
    if run.trace:
        metrics = {k: {"value": rec["per_layer"][k], "unit": u} for k, u in declared("per_layer").items()}
    else:
        metrics = {k: {"value": result["metrics"][k], "unit": u} for k, u in declared("end_to_end").items()}
    final = {
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }
    print(json.dumps(final), file=out, flush=True)


if __name__ == "__main__":
    sys.exit(main())
