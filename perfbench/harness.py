"""Run scaffolding shared by the workloads: the Spark session, the wedge
guard around each op, the closed-loop op schedule, trace spans and the
noise record."""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass

import procfs

# Longer than any legitimate op at the benchmark's sizes; a wedged op is
# cancelled after this and counted as failed.
OP_LIMIT_S = 60.0
SETUP_REPEATS = 3
CODEGEN_64KB = "Code grows beyond 64 KB"


def throttle_probe(n: int = 2000) -> list[float]:
    """Two back-to-back n x n matmuls (identical work), as bench.py's probe
    but smaller: a slow pair, or a big gap between the two, marks a run
    taken during one of the sandbox's throttle phases."""
    import numpy as np

    a = np.random.default_rng(0).standard_normal((n, n))
    out = []
    for _ in range(2):
        t0 = time.perf_counter()
        _ = a @ a
        out.append(round(time.perf_counter() - t0, 4))
    return out


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user nice system idle
    iowait irq softirq steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(t0: list[int], t1: list[int]) -> float:
    """Share of the machine's CPU time between two ``cpu_ticks`` readings
    that the hypervisor gave to other guests (steal)."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if sum(d) else 0.0


@dataclass
class Op:
    kind: str
    phase: str  # "warmup" | "timed"
    ok: bool
    s: float
    error: str | None = None


class Run:
    """One benchmark process: a per-run temp dir inside the checkout, one
    local Spark session on half the cores, and the op log."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool):
        self.root, self.workload, self.seed = root, workload, seed
        self.seconds, self.trace = seconds, trace
        self.nproc = len(os.sched_getaffinity(0))
        # Spark gets half the cores: the ops are bound by per-job driver
        # work (planning, code generation, Python), and the JVM's JIT and
        # GC threads, the Python driver and the Python workers need the
        # rest. On the 4-core sandbox local[2] ran the ops as fast as
        # local[4] and started the session ~2 s sooner.
        self.cores = max(1, self.nproc // 2)
        self.tmp = os.path.join(root, ".perfbench", "tmp", f"{workload}-s{seed}-p{os.getpid()}")
        self.ops: list[Op] = []
        self.spans: list[dict] = []
        self.setup: dict = {}
        self.noise: dict = {}
        self.spark = None
        self.watchdog = None
        self.workload_obj = None
        self.stderr_log = os.path.join(self.tmp, "stderr.log")
        self._span_seq = 0

    # -- lifecycle ---------------------------------------------------------

    def prepare_env(self) -> None:
        shutil.rmtree(self.tmp, ignore_errors=True)
        os.makedirs(os.path.join(self.tmp, "jtmp"))
        os.makedirs(os.path.join(self.tmp, "spark-local"))
        # python workers import the package only with the checkout on the path
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.tmp, "spark-local")
        os.environ["TMPDIR"] = os.path.join(self.tmp, "jtmp")
        # keep the JVMs' files in the run dir too: no /tmp/hsperfdata, and
        # the launcher JVM spark-submit starts gets the same temp dir
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
        # get_spark sizes the session from these; jobs/backfill_job.py calls
        # get_spark again and must see the same settings
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_DRIVER_MEM"] = "2g"
        if self.trace:
            # the JVM inherits fd 2: its log lines (codegen fallbacks) land
            # in a file the trace can count
            fd = os.open(self.stderr_log, os.O_WRONLY | os.O_CREAT | os.O_APPEND)
            os.dup2(fd, 2)
            os.close(fd)

    def start_spark(self):
        from podcast_audio_feature_extraction_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(self.tmp, 'jtmp')}"
            " -Dderby.system.home=" + os.path.join(self.tmp, "derby"),
        }
        if self.trace:
            os.makedirs(os.path.join(self.tmp, "eventlog"))
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.join(self.tmp, "eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}", master=f"local[{self.cores}]", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup["session.start_s"] = time.perf_counter() - t0
        from bench import _PassWatchdog

        self.watchdog = _PassWatchdog(self.spark, limit_s=OP_LIMIT_S)
        return self.spark

    def stop(self) -> None:
        """Stop Spark, end the JVM gateway (and with it the Python workers)
        and wait for every child process."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        stop_workload = getattr(self.workload_obj, "stop", None)
        if stop_workload is not None:
            stop_workload()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        self.spark = None
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()  # the gateway exits when its stdin closes
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        reap_children()

    def eventlog_path(self) -> str | None:
        d = os.path.join(self.tmp, "eventlog")
        names = sorted(os.listdir(d)) if os.path.isdir(d) else []
        return os.path.join(d, names[0]) if names else None

    # -- ops ---------------------------------------------------------------

    def guarded(self, label: str, fn) -> tuple[bool, float, str | None, object]:
        """Run ``fn`` under the job-group wedge guard. Returns (ok, seconds,
        error, fn's result). A cancelled or raising op is not ok."""
        result = [None]

        def body():
            result[0] = fn()

        t0 = time.perf_counter()
        try:
            ok = self.watchdog.run(label, body)
            err = None if ok else "cancelled by wedge guard"
        except Exception as e:  # the op failed: record it, keep the run going
            traceback.print_exc(file=sys.stderr)
            ok, err = False, f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
        return ok, time.perf_counter() - t0, err, result[0]

    def run_op(self, kind: str, phase: str, fn) -> Op:
        """Time one op. ``fn`` may return a cleanup callable, which runs
        after the clock stops (deletions stay out of the timed window)."""
        self._span_seq += 1
        ok, s, err, cleanup = self.guarded(f"{phase}:{kind}:{self._span_seq}", fn)
        op = Op(kind, phase, ok, s, err)
        self.ops.append(op)
        if callable(cleanup):
            cleanup()
        return op

    def warm_up(self, ops) -> None:
        """Run the workload's fixed warm-up ops, (kind, fn) pairs."""
        for kind, fn in ops:
            self.run_op(kind, "warmup", fn)

    def closed_loop(self, cycle_fn) -> None:
        """Whole timed cycles until the summed op time reaches ``seconds``.
        ``cycle_fn(i)`` returns the i-th cycle's (kind, fn) ops; the sequence
        depends only on the seed."""
        i, elapsed = 0, 0.0
        while elapsed < self.seconds:
            for kind, fn in cycle_fn(i):
                elapsed += self.run_op(kind, "timed", fn).s
            i += 1

    def timed(self, kind: str | None = None, ok_only: bool = True) -> list[Op]:
        return [
            o for o in self.ops
            if o.phase == "timed" and (kind is None or o.kind == kind) and (o.ok or not ok_only)
        ]

    # -- trace spans ---------------------------------------------------------

    def span(self, name: str, fn, **info) -> dict:
        """Trace span: ``fn`` under its own job group, with wall time,
        process-tree CPU and the codegen-fallback lines it caused."""
        self._span_seq += 1
        label = f"trace:{name}:{self._span_seq}"
        u0, n0 = procfs.tree_usage(), self._stderr_hits()
        ok, s, err, res = self.guarded(label, fn)
        u1, n1 = procfs.tree_usage(), self._stderr_hits()
        rec = {
            "name": name,
            "group_prefix": f"bench-wd-{label}-",
            "ok": ok,
            "error": err,
            "wall_s": s,
            "jvm_cpu_s": u1["jvm_cpu_s"] - u0["jvm_cpu_s"],
            "python_cpu_s": u1["python_cpu_s"] - u0["python_cpu_s"],
            "codegen_fallbacks": n1 - n0,
            "result": res,
            **info,
        }
        self.spans.append(rec)
        return rec

    def _stderr_hits(self) -> int:
        try:
            with open(self.stderr_log, errors="replace") as f:
                return f.read().count(CODEGEN_64KB)
        except OSError:
            return 0


def reap_children() -> None:
    """Terminate and wait for any process this one still has below it."""
    import signal

    for pid in procfs.descendants(procfs.snapshot(), os.getpid()):
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                left = [p for p in procfs.descendants(procfs.snapshot(), os.getpid()) if p != os.getpid()]
                if not left:
                    return
                time.sleep(0.1)
        except ChildProcessError:
            return
