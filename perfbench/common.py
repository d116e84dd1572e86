"""Execution environment shared by every workload: fixed work directory,
Spark session on ``local[nproc]``, environment record, peak memory,
process shutdown and small statistics helpers.

Everything the benchmark writes lives under ``<checkout>/.perfbench_work``:
Spark scratch, the JVM and Python temp directories, generated inputs,
warehouses and traces. There is no failover to another disk, so two runs
always measure the same program on the same storage.
"""

from __future__ import annotations

import hashlib
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = os.path.join(ROOT, "drought_t_spark")
WORK = os.path.join(ROOT, ".perfbench_work")


def nproc() -> int:
    """CPUs this process may run on (affinity-aware, ignores OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def source_sha(top: str) -> str:
    """Content hash of the Python sources under `top`: identifies the
    program measured, also in a checkout that is not a git repository."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(top)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    """HEAD commit read from ``.git`` without running git; None outside a repo."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if not ref.startswith("ref: "):
            return ref
        name = ref[5:]
        loose = os.path.join(ROOT, ".git", name)
        if os.path.exists(loose):
            with open(loose) as fh:
                return fh.read().strip()
        with open(os.path.join(ROOT, ".git", "packed-refs")) as fh:
            for line in fh:
                if line.rstrip().endswith(" " + name):
                    return line.split()[0]
    except OSError:
        return None
    return None


def disk_mb_s(dirpath: str, mb: int = 32) -> float:
    """Sequential write + fsync throughput of the work directory."""
    blob = os.urandom(1 << 20) * mb
    p = os.path.join(dirpath, "disk_probe.bin")
    t0 = time.perf_counter()
    with open(p, "wb") as fh:
        fh.write(blob)
        fh.flush()
        os.fsync(fh.fileno())
    dt = time.perf_counter() - t0
    os.unlink(p)
    return mb / dt


def mem_available_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def prepare_workdir() -> None:
    """Create the fixed work tree and point every temp directory into it.
    Must run before pyspark is imported (the JVM inherits the env)."""
    for sub in ("tmp", "spark", "runs", "results", "traces"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # Python workers started by the JVM import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.pop("SPARK_GRAFT_LOCAL_DIR", None)


def fresh_dir(*parts: str) -> str:
    p = os.path.join(WORK, *parts)
    shutil.rmtree(p, ignore_errors=True)
    os.makedirs(p)
    return p


class Session:
    """The one Spark session of a benchmark process and its JVM."""

    def __init__(self):
        from drought_t_spark.session import build_session

        self.cores = nproc()
        self.master = f"local[{self.cores}]"
        tmp = os.path.join(WORK, "tmp")
        self.conf = {
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(WORK, "spark"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "spark", "sql-warehouse"),
            # no JVM perf-data file in the system temp directory: the run
            # writes only inside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            # keep every job/stage/execution of a run in the status stores
            # the tracer reads (identical in traced and untraced runs)
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        }
        self.spark = build_session("perfbench", master=self.master, extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sc = self.spark.sparkContext
        self.jvm_pid = self.sc._gateway.proc.pid

    def cpu_seconds(self) -> float:
        """User + system CPU time of this process, its JVM and the JVM's
        descendants (the Python workers), counting exited workers through
        their parents' reaped-children times."""
        total = 0
        for pid in [os.getpid(), self.jvm_pid] + _descendants(self.jvm_pid):
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # exited since the scan
                continue
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        return total / os.sysconf("SC_CLK_TCK")

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb(os.getpid()) + vm_hwm_mb(self.jvm_pid)

    def environment(self) -> dict:
        import pyspark

        return {
            "nproc": self.cores,
            "master": self.master,
            "disk_mb_s": round(disk_mb_s(os.path.join(WORK, "tmp")), 1),
            "mem_available_mb": round(mem_available_mb(), 1),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": self.sc._jvm.java.lang.System.getProperty("java.version"),
            "git_commit": git_commit(),
            "engine_sha": source_sha(ENGINE),
            "bench_sha": source_sha(os.path.dirname(os.path.abspath(__file__))),
            "spark_conf": self.conf,
        }

    def stop(self) -> None:
        """Stop Spark, close the JVM and wait until it and its Python
        workers have exited."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = gw.proc
        kids = _descendants(proc.pid)
        self.spark.stop()
        gw.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.time() + 30
        while kids and time.time() < deadline:
            kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
            time.sleep(0.05)


def _descendants(pid: int) -> list[int]:
    """All live descendants of `pid` (from /proc)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
