"""Tests for the benchmark's own helpers (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # perfbench/
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))  # checkout root

import corpus  # noqa: E402
import eventlog  # noqa: E402
import procfs  # noqa: E402
import stats  # noqa: E402

# -- the ">= 10 samples beyond" percentile rule -------------------------------


def test_tail_needs_more_than_ten_samples():
    assert stats.tail([float(i) for i in range(10)]) is None
    t = stats.tail([float(i) for i in range(11)])
    assert t == {"value": 0.0, "percentile": 9.1, "n": 11, "beyond": 10}


def test_tail_leaves_exactly_ten_samples_beyond():
    vals = [float(v) for v in range(100, 0, -1)]  # unsorted input
    t = stats.tail(vals)
    assert t["value"] == 90.0 and t["percentile"] == 90.0
    assert sum(v > t["value"] for v in vals) == 10
    assert stats.tail([1.0] * 20)["percentile"] == 50.0


# -- /proc process-tree CPU and memory, machine steal ------------------------------


def test_parse_stat_handles_spaces_and_parens_in_comm():
    fields = ["S", "42"] + ["0"] * 9 + ["300", "200", "50", "50"] + ["0"] * 6 + ["10"] + ["0"] * 20
    st = procfs.parse_stat("1234 (odd) (name) " + " ".join(fields))
    assert st["pid"] == 1234 and st["comm"] == "odd) (name" and st["ppid"] == 42
    assert st["cpu_s"] == pytest.approx(600 / os.sysconf("SC_CLK_TCK"))
    assert st["rss_bytes"] == 10 * os.sysconf("SC_PAGE_SIZE")


def test_descendants_walks_the_tree():
    procs = {p: {"pid": p, "ppid": pp, "comm": "x"} for p, pp in [(1, 0), (2, 1), (3, 2), (4, 1), (9, 8)]}
    assert sorted(procfs.descendants(procs, 2)) == [2, 3]
    assert sorted(procfs.descendants(procs, 1)) == [1, 2, 3, 4]


def test_tree_memory_counts_a_live_child():
    before = procfs.tree_memory()
    assert before["total"] > 0 and before["jvm"] == 0
    child = subprocess.Popen([sys.executable, "-c", "import time; x = bytearray(64 << 20); time.sleep(30)"])
    try:
        deadline = time.monotonic() + 10
        while procfs.tree_memory()["total"] < before["total"] + (32 << 20):
            assert time.monotonic() < deadline, "child memory never showed up in the tree"
            time.sleep(0.05)
        assert child.pid in procfs.descendants(procfs.snapshot(), os.getpid())
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.poll() is not None


def test_tree_memory_counts_pages_shared_with_a_forked_child_once():
    buf = bytearray(b"\x01") * (64 << 20)  # resident
    before = procfs.tree_memory()["total"]
    pid = os.fork()
    if pid == 0:
        time.sleep(30)
        os._exit(0)
    try:
        time.sleep(0.3)
        procs = procfs.snapshot()
        assert pid in procfs.descendants(procs, os.getpid())
        summed_rss = sum(procs[p]["rss_bytes"] for p in procfs.descendants(procs, os.getpid()))
        after = procfs.tree_memory()["total"]
        assert summed_rss > before + (48 << 20)  # RSS counts the shared buffer twice
        assert after < before + (16 << 20)
    finally:
        os.kill(pid, 9)
        os.waitpid(pid, 0)
    del buf


def test_tree_usage_splits_cpu_and_starts_at_zero_for_jvms():
    u = procfs.tree_usage()
    assert u["jvm_cpu_s"] == 0.0 and u["python_cpu_s"] == 0.0


def test_peak_memory_sampler_records_a_peak():
    with procfs.PeakMemory(interval_s=0.01) as mem:
        time.sleep(0.05)
    assert mem.peak["total"] >= procfs.tree_memory()["total"] // 2
    assert mem.peak["total"] >= mem.peak["driver"] > 0


# -- event-log slicer on a canned log -----------------------------------------


def _canned_jobs():
    return eventlog.jobs(eventlog.read_events(os.path.join(HERE, "data", "eventlog_small.jsonl")))


def test_slicer_sums_tasks_of_one_job_group():
    a = eventlog.total(_canned_jobs(), "bench-wd-trace:layer.a:1-")
    assert a["jobs"] == 1 and a["tasks"] == 2 and a["task_failures"] == 0
    assert a["executor_run_s"] == pytest.approx(2.0)
    assert a["executor_cpu_s"] == pytest.approx(1.25)
    assert a["gc_s"] == pytest.approx(0.02)
    assert (a["shuffle_write_bytes"], a["shuffle_write_records"]) == (300, 3)
    assert (a["output_bytes"], a["output_records"], a["spill_bytes"]) == (512, 5, 64)
    assert (a["python_bytes_sent"], a["python_bytes_received"]) == (100, 40)


def test_slicer_charges_a_reused_stage_to_its_first_job_and_counts_failures():
    b = eventlog.total(_canned_jobs(), "bench-wd-trace:layer.b:2-")
    # stage 1 ran under job 0; job 1 only adds stage 2 (one failed task)
    assert b["tasks"] == 1 and b["task_failures"] == 1
    assert b["executor_run_s"] == pytest.approx(0.25)


def test_slicer_filters_stream_jobs_by_submission_time():
    jobs = _canned_jobs()
    assert eventlog.total(jobs, "run-1234")["output_records"] == 3
    assert eventlog.total(jobs, "run-1234", 4000, 6000)["output_records"] == 1
    # prefix "" matches every job, including the one without a group
    assert eventlog.total(jobs, "")["jobs"] == 5


# -- generator determinism ------------------------------------------------------


def test_corpus_is_byte_identical_for_a_seed_and_differs_across_seeds():
    a = corpus.to_parquet_bytes(corpus.make_corpus(5, 1500))
    assert a == corpus.to_parquet_bytes(corpus.make_corpus(5, 1500))
    assert a != corpus.to_parquet_bytes(corpus.make_corpus(6, 1500))


def test_corpus_has_the_exact_size():
    pdf = corpus.make_corpus(5, 1500)
    assert len(pdf) == 1500
    assert "_" not in "".join(pdf["conv_id"].unique())


def test_delta_batches_are_deterministic_and_append_after_each_conversation():
    base = corpus.make_corpus(5, 1500)
    a = corpus.make_delta_batches(base, 5, 6, n_buckets=64)
    b = corpus.make_delta_batches(base, 5, 6, n_buckets=64)
    assert [corpus.to_parquet_bytes(x) for x in a] == [corpus.to_parquet_bytes(x) for x in b]
    c = corpus.make_delta_batches(base, 6, 6, n_buckets=64)
    assert [corpus.to_parquet_bytes(x) for x in a] != [corpus.to_parquet_bytes(x) for x in c]
    seen = base.groupby("conv_id").agg(ts=("ts", "max"), idx=("turn_idx", "max"))
    for batch in a:
        assert batch["conv_id"].map(lambda cid: corpus.conv_bucket(cid, 64)).nunique() == 1
        for conv, g in batch.groupby("conv_id"):
            assert g["ts"].min() > seen.loc[conv, "ts"]
            assert g["turn_idx"].min() == seen.loc[conv, "idx"] + 1
            seen.loc[conv] = [g["ts"].max(), g["turn_idx"].max()]


def test_queries_are_seeded():
    base = corpus.make_corpus(5, 1500)
    q = corpus.make_queries(base, 5, 4)
    assert q == corpus.make_queries(base, 5, 4) and q != corpus.make_queries(base, 6, 4)
    assert all(len(x.split()) == 3 for x in q)


def test_parquet_files_split_at_conversation_boundaries(tmp_path):
    base = corpus.make_corpus(5, 1500)
    corpus.write_parquet_files(base, str(tmp_path / "t"), 4)
    parts = [pd.read_parquet(tmp_path / "t" / f) for f in sorted(os.listdir(tmp_path / "t"))]
    assert len(parts) == 4 and sum(len(p) for p in parts) == 1500
    ids = [set(p["conv_id"]) for p in parts]
    assert all(not (ids[i] & ids[j]) for i in range(4) for j in range(i + 1, 4))


def test_steal_share_reads_the_steal_column():
    import harness

    t0 = [100, 0, 10, 500, 0, 0, 0, 40, 0, 0]
    t1 = [200, 0, 20, 600, 0, 0, 0, 70, 0, 0]
    assert harness.steal_share(t0, t1) == pytest.approx(30 / 240)
    assert len(harness.cpu_ticks()) >= 8
