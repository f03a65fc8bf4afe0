"""Process-level plumbing for the benchmark: where it may write, the
box-fit Spark session, the process-tree memory sampler and the contention
probes (load average, fixed-work CPU calibration and hypervisor steal time).

Everything the benchmark writes lives under ``<checkout>/.perfbench_work``:
generated inputs, Spark's local and warehouse dirs, the JVM/Python temp
dirs, pipeline workdirs and the traced run's event log.
"""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_work"


def prepare_process_env() -> None:
    """Point every temp/scratch location of this process and its children
    (JVM, Python workers) inside the checkout, and make the program
    importable by the Python workers. Must run before pyspark starts."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    # the JVM that spark-submit runs first to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def cores() -> int:
    return len(os.sched_getaffinity(0))


def physical_ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def session_settings(event_log_dir: Path | None = None) -> dict:
    """Box-fit arguments for ``get_spark``: local[nproc], driver memory an
    eighth of physical RAM (1-8 GiB), and every Spark scratch path inside
    the checkout (a run may write only there, so shuffle and spill go to
    the checkout's disk rather than the program's /dev/shm default)."""
    mem_mb = max(1024, min(8192, physical_ram_bytes() // 8 // (1 << 20)))
    tmp = WORK / "tmp"
    extra = {
        "spark.local.dir": str(WORK / "spark_local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        # JVM temp files and the hsperfdata mmap would otherwise land in /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        event_log_dir.mkdir(parents=True, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(event_log_dir),
            "spark.eventLog.compress": "false",
        })
    return {
        "app_name": "perfbench",
        "master": f"local[{cores()}]",
        "driver_memory": f"{mem_mb}m",
        "extra_conf": extra,
    }


def clean_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True, exist_ok=True)
    return path


# ------------------------------------------------------- child processes


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    PR_SET_CHILD_SUBREAPER), so a Python worker whose JVM died first stays
    in this process's tree and ``stop_descendants`` still finds it."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _descendants(pid: int) -> list[int]:
    out, stack = [], _children(pid)
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(_children(p))
    return out


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace_s: float = 30.0) -> None:
    """Stop the Spark session and every process this one started, and wait
    until each has ended. The py4j gateway JVM exits by itself once its
    stdin closes (running Spark's shutdown hooks); whatever is still alive
    after ``grace_s`` gets SIGTERM, then SIGKILL. Safe to call twice."""
    import signal

    ctx = getattr(sys.modules.get("pyspark"), "SparkContext", None)
    gateway = getattr(ctx, "_gateway", None)
    if ctx is not None and ctx._active_spark_context is not None:
        try:
            ctx._active_spark_context.stop()
        except Exception:  # the JVM may already be gone
            pass
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None and not proc.stdin.closed:
        try:
            proc.stdin.close()
        except OSError:
            pass
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        _reap()
        left = _descendants(me)
        if not left:
            break
        now = time.monotonic()
        if now >= deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            deadline = now + 5.0
            for pid in left:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        time.sleep(0.05)


# ----------------------------------------------------------- contention


def calibrate_ms() -> float:
    """Fixed single-thread work (pure-Python integer loop), in ms. Inflates
    only when something else is competing for this process's core."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    return (time.perf_counter() - t0) * 1000.0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed over
    this machine's CPUs (the ``steal`` column of /proc/stat); 0 where the
    kernel does not report it."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def contention_probe() -> dict:
    return {"loadavg_1m": os.getloadavg()[0], "calib_ms": round(calibrate_ms(), 3),
            "steal_s": steal_s()}


# ------------------------------------------------------------- RSS sampler


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_rss_mb(root: int) -> float:
    """Summed RSS of the driver Python `root`, the JVM it launched and the
    JVM's Python daemon and workers. Other processes under the JVM are
    skipped: they are short-lived helpers, and while a spawn child has not
    yet exec'd it shares the JVM's address space and would count the JVM
    twice. (VmRSS, not PSS: reading smaps_rollup walks the JVM's page
    tables under its mmap lock, ~40 ms a read, and slowed the workload.)"""
    total = _rss_kb(root)
    for jvm in _children(root):
        total += _rss_kb(jvm)
        stack = _children(jvm)
        while stack:
            pid = stack.pop()
            if _comm(pid).startswith("python"):
                total += _rss_kb(pid)
                stack.extend(_children(pid))
    return total / 1024.0


class RssSampler:
    """Samples the process tree's resident memory from /proc on a daemon
    thread; the peak since the last ``reset()`` is ``peak_mb``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.interval_s)

    def reset(self) -> None:
        self.peak_mb = tree_rss_mb(os.getpid())

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
