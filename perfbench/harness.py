"""Host-safe launch of the engine for the benchmark, and the process
counters read from outside it.

Everything a run writes lives under one scratch root inside the
checkout (``.perfbench/``): the per-run directory holds Spark's local
dirs, the JVM and Python temp dirs, the JVM's crash logs and every out
dir, checkpoint and strip dir a workload creates; it is removed when
the run ends, and a run that cannot remove it fails.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

CHECKOUT = Path(__file__).resolve().parent.parent
SCRATCH = CHECKOUT / ".perfbench"
# Largest heap the benchmark asks for, and the share of MemAvailable it
# may take: the rest is left to the Python workers and the page cache.
HEAP_CAP_MB = 4096
HEAP_SHARE = 0.3


def meminfo() -> dict[str, int]:
    """/proc/meminfo in MiB."""
    out = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            key, rest = line.split(":", 1)
            out[key] = int(rest.split()[0]) // 1024
    return out


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def heap_mb(mem: dict[str, int]) -> int:
    return max(512, min(HEAP_CAP_MB, int(mem["MemAvailable"] * HEAP_SHARE)))


def fingerprint(cores: int, heap: int) -> dict:
    import numpy
    import pyarrow
    import pyspark
    java = "unknown"
    java_home = os.environ.get("JAVA_HOME")
    release = Path(java_home, "release") if java_home else None
    if release and release.exists():
        for line in release.read_text().splitlines():
            if line.startswith("JAVA_VERSION="):
                java = line.split("=", 1)[1].strip('"')
    mem = meminfo()
    return {"nproc": cores, "mem_total_mb": mem["MemTotal"],
            "heap_mb": heap, "java": java, "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
            "python": sys.version.split()[0]}


class RunDir:
    """The per-run scratch directory and the environment that points
    Spark, the JVM and the Python workers into it."""

    def __init__(self) -> None:
        self.root = SCRATCH / f"run-{os.getpid()}"
        shutil.rmtree(self.root, ignore_errors=True)
        self.local = self.root / "local"
        self.tmp = self.root / "tmp"
        self.work = self.root / "work"
        for d in (self.local, self.tmp, self.work):
            d.mkdir(parents=True)
        self.before = set(os.listdir(CHECKOUT))

    def configure(self, cores: int, heap: int) -> None:
        """Must run before the JVM starts: the JVM and its Python
        workers inherit this environment."""
        env = os.environ
        env["SPARK_GRAFT_CPUS"] = str(cores)
        env["SPARK_GRAFT_DRIVER_MEM"] = f"{heap}m"
        env["SPARK_LOCAL_DIRS"] = str(self.local)
        env["TMPDIR"] = str(self.tmp)
        env["PYSPARK_PYTHON"] = sys.executable
        env["PYSPARK_DRIVER_PYTHON"] = sys.executable
        # Workers must import the package from this checkout; without
        # it they fail at import and the JVM has been seen to crash.
        paths = [str(CHECKOUT)] + [p for p in env.get("PYTHONPATH", "")
                                   .split(os.pathsep) if p]
        env["PYTHONPATH"] = os.pathsep.join(paths)
        env["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={self.tmp} "
            f"-XX:ErrorFile={self.root}/hs_err_pid%p.log")
        os.chdir(self.work)

    def crash_logs(self) -> list[str]:
        return sorted(p.name for p in self.root.glob("hs_err_pid*.log"))

    def remove(self) -> list[str]:
        """Delete the run directory; return what was left behind
        (anything undeletable, or new entries in the checkout root)."""
        os.chdir(CHECKOUT)
        shutil.rmtree(self.root, ignore_errors=True)
        left = [str(self.root)] if self.root.exists() else []
        new = set(os.listdir(CHECKOUT)) - self.before - {SCRATCH.name}
        return left + sorted(new)


# --------------------------------------------------------------------------
# Process-tree counters (/proc), read from outside the engine.
# --------------------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    task_dir = Path(f"/proc/{pid}/task")
    try:
        for tid in os.listdir(task_dir):
            try:
                out += [int(c) for c in
                        (task_dir / tid / "children").read_text().split()]
            except OSError:
                pass
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo += _children(p)
    return seen


def _stat(pid: int) -> tuple[float, float, float, float] | None:
    """CPU seconds (user, sys, reaped children's user, reaped
    children's sys) of ``pid``."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    f = raw[raw.rindex(")") + 2:].split()
    utime, stime, cutime, cstime = (int(x) / _CLK for x in f[11:15])
    return utime, stime, cutime, cstime


def _status_mb(pid: int, key: str) -> float:
    """A memory line (``VmRSS``, ``VmHWM``) of /proc/<pid>/status in MiB."""
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class ProcTree:
    """CPU and peak memory of the JVM and the Python workers it forks.
    The JVM's own row excludes its children; reaped workers' CPU is
    carried in their parent's children counters, so totals never
    drop while a run lasts."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid

    def sample(self) -> dict:
        jvm = _stat(self.jvm_pid)
        out = {"jvm_user": 0.0, "jvm_sys": 0.0, "py_user": 0.0,
               "py_sys": 0.0, "jvm_rss_mb": 0.0, "py_rss_mb": 0.0}
        if jvm is None:
            return out
        # The JVM row: its own threads only; its live children are
        # counted below through their own rows, its reaped ones here.
        out["jvm_user"], out["jvm_sys"] = jvm[0], jvm[1]
        out["py_user"], out["py_sys"] = jvm[2], jvm[3]
        out["jvm_rss_mb"] = _status_mb(self.jvm_pid, "VmHWM")
        for pid in descendants(self.jvm_pid)[1:]:
            st = _stat(pid)
            if st is None:
                continue
            out["py_user"] += st[0] + st[2]
            out["py_sys"] += st[1] + st[3]
            out["py_rss_mb"] += _status_mb(pid, "VmHWM")
        return out


class RssPeak:
    """Samples the resident memory of the JVM and all its descendants
    together, every ``period`` seconds, and keeps the maximum: the
    peak of the process tree, which per-process high-water marks
    overstate (workers come and go)."""

    def __init__(self, period: float = 0.25) -> None:
        import threading
        self.period = period
        self.peak_mb = 0.0
        self.pid: int | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="perfbench-rss")

    def start(self, pid: int) -> None:
        self.pid = pid
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            total = sum(_status_mb(p, "VmRSS") for p in descendants(self.pid))
            self.peak_mb = max(self.peak_mb, total)

    def stop(self) -> float:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
        return self.peak_mb


def cpu_delta(a: dict, b: dict) -> dict:
    jvm = (b["jvm_user"] + b["jvm_sys"]) - (a["jvm_user"] + a["jvm_sys"])
    py = (b["py_user"] + b["py_sys"]) - (a["py_user"] + a["py_sys"])
    sys_ = (b["jvm_sys"] + b["py_sys"]) - (a["jvm_sys"] + a["py_sys"])
    return {"jvm_cpu_s": jvm, "python_cpu_s": py, "cpu_s": jvm + py,
            "sys_cpu_s": sys_}


# --------------------------------------------------------------------------
# Session lifecycle.
# --------------------------------------------------------------------------

class Engine:
    """One SparkSession of the engine under test, started through the
    public ``session.get_spark``; knows its JVM process and stops it."""

    def __init__(self, cores: int, run: RunDir) -> None:
        self.cores = cores
        self.run = run
        self.spark = None
        self.proc = None

    def start(self) -> float:
        """Start (or restart, in the live JVM) a session; returns its
        wall time."""
        from dragnet_spark.session import get_spark
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cores=self.cores)
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.conf.set("spark.dragnet.cc.checkpointDir",
                            str(self.run.work / "cc"))
        from pyspark import SparkContext
        self.proc = SparkContext._gateway.proc
        return dt

    def restart(self) -> float:
        self.spark.stop()
        return self.start()

    @property
    def tree(self) -> ProcTree:
        return ProcTree(self.proc.pid)

    def jvm_alive(self) -> bool:
        return self.proc is not None and self.proc.poll() is None

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait until the JVM and
        every Python worker it forked have exited."""
        from pyspark import SparkContext
        kids = descendants(self.proc.pid)[1:] if self.jvm_alive() else []
        if self.spark is not None and self.jvm_alive():
            try:
                self.spark.stop()
            except Exception as e:          # noqa: BLE001 - best effort
                print(f"# session stop failed: {e!r}", file=sys.stderr)
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:               # noqa: BLE001 - JVM may be gone
                pass
        if self.proc is not None:
            # The JVM exits when its stdin pipe closes.
            try:
                self.proc.stdin.close()
            except OSError:
                pass
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None
        _reap(kids)


def _running(pid: int) -> bool:
    try:
        state = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state not in ("Z", "X")


def _reap(pids: list[int], timeout: float = 10.0) -> None:
    """Wait for ``pids`` to exit; kill what is still running after
    ``timeout``."""
    import signal
    end = time.monotonic() + timeout
    while any(_running(p) for p in pids) and time.monotonic() < end:
        time.sleep(0.05)
    for p in pids:
        if _running(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
