"""Process hygiene for one benchmark run: work dir, Spark session, stamp.

Everything the run writes (Spark local dirs, the JVM's temp dir, the
warehouse dir, corpus files, indexes) lives under one work directory inside
the checkout, removed at exit. Spark is stopped in ``finally`` and on
SIGTERM; the gateway JVM and every process below it are then terminated and
waited for, so a run leaves no orphan JVM or Python worker behind.
"""

from __future__ import annotations

import os
import platform
import shutil
import signal
import subprocess
import time

WORK_DIR_NAME = ".bm25bench_work"
DRIVER_MEMORY = "2g"


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def descendants(pid: int) -> list[int]:
    """All live processes below ``pid`` (from /proc)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            pp = _ppid(int(name))
            if pp is not None:
                children.setdefault(pp, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb() -> float:
    """Sum of per-process peak resident set size (VmHWM) over this process
    and everything below it, read now. Peaks of different processes need
    not coincide, so this is an upper bound of the tree's joint peak."""
    me = os.getpid()
    return sum(_status_kb(p, "VmHWM") for p in [me, *descendants(me)]) / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap(pids: list[int], timeout: float) -> None:
    end = time.monotonic() + timeout
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            if _alive(p):
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        while time.monotonic() < end and any(_alive(p) for p in pids):
            time.sleep(0.05)
        end = time.monotonic() + timeout


def _on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


class SparkRun:
    """Context manager owning the work dir and the Spark session."""

    def __init__(self, root: str, cores: int):
        self.root = root
        self.cores = cores
        self.work = os.path.join(root, WORK_DIR_NAME, f"run-{os.getpid()}")
        self.spark = None
        self.session_start_s = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def __enter__(self):
        self._old_sigterm = signal.signal(signal.SIGTERM, _on_sigterm)
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("spark-local", "tmp", "warehouse", "data"):
            os.makedirs(self.path(d))
        # Python workers import the engine from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p)
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
            # no hsperfdata file under /tmp: the run writes only in the work dir
            "--driver-java-options",
            f"'-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData'",
            "--conf", f"spark.local.dir={self.path('spark-local')}",
            "--conf", f"spark.sql.warehouse.dir={self.path('warehouse')}",
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ])
        from lucene_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(self.cores, app="bm25bench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).collect()
        self.session_start_s = time.perf_counter() - t0
        return self

    def __exit__(self, *exc):
        try:
            self.stop()
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
            parent = os.path.dirname(self.work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)
            signal.signal(signal.SIGTERM, self._old_sigterm)
        return False

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        kids = descendants(os.getpid())
        gateway = SparkContext._gateway
        try:
            self.spark.stop()
        finally:
            self.spark = None
            proc = getattr(gateway, "proc", None)
            if gateway is not None:
                gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=15)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=15)
            SparkContext._gateway = None
            SparkContext._jvm = None
            _reap([p for p in kids if p != os.getpid()], timeout=10)


def _first_line(path: str, key: str) -> str:
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return "unknown"


def source_digest(root: str) -> str:
    """Digest of the engine's source files (the checkout may have no .git)."""
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(root, "lucene_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_revision(root: str) -> str:
    if not os.path.isdir(os.path.join(root, ".git")):
        return "unknown"  # e.g. an exported checkout
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def stamp(root: str, spark, args, cores: int) -> dict:
    """Hardware and software identity of a result."""
    import pyspark

    mem_kb = _first_line("/proc/meminfo", "MemTotal").split()[0]
    return {
        "nproc": cores,
        "cpu_model": _first_line("/proc/cpuinfo", "model name"),
        "ram_gb": round(int(mem_kb) / 1024 / 1024, 1) if mem_kb.isdigit() else None,
        "git_revision": git_revision(root),
        "source_digest": source_digest(root),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "master": spark.sparkContext.master,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "workload": args.workload,
        "turns": args.turns,
    }


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1
