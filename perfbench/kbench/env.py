"""Per-run isolation, machine sizing, resource sampling and teardown.

Every run gets a scratch directory under ``perfbench/.runs/``; ``TMPDIR``,
``SPARK_LOCAL_DIRS``, ``spark.local.dir``, ``java.io.tmpdir`` and
``SPARK_GRAFT_WAREHOUSE`` all point into it, the process works from inside
it, and it is removed when the run ends.  Registry queries that call
``tempfile.mkdtemp`` without cleaning up therefore leave nothing behind,
and their disk use is measured (``disk.tmp_peak_bytes``).
"""

from __future__ import annotations

import os
import shlex
import shutil
import signal
import tempfile
import threading
import time
import uuid

from . import PERFBENCH_DIR

RUNS_DIR = os.path.join(PERFBENCH_DIR, ".runs")


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux
        return os.cpu_count() or 1


def meminfo_mb() -> dict:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, _, rest = line.partition(":")
            if key in ("MemTotal", "MemAvailable"):
                out[key] = int(rest.split()[0]) // 1024
    return out


def driver_heap_mb(mem_available_mb: int) -> int:
    """A driver heap that fits free memory: 2 GiB when at least 6 GiB are
    free (enough for every workload's inputs, and a fixed value keeps
    ``peak_rss_mb`` comparable between runs), else a third of what is
    free, never under 512 MiB."""
    if mem_available_mb >= 6144:
        return 2048
    return max(512, mem_available_mb // 3)


def stamp() -> dict:
    mem = meminfo_mb()
    return {
        "cpus": cpu_count(),
        "mem_total_mb": mem.get("MemTotal", 0),
        "mem_available_mb": mem.get("MemAvailable", 0),
        "load1": round(os.getloadavg()[0], 2),
    }


class RunDir:
    """The run's private scratch tree; ``close`` removes it."""

    def __init__(self) -> None:
        self.root = os.path.join(RUNS_DIR, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
        self.tmp = os.path.join(self.root, "tmp")
        self.local = os.path.join(self.root, "spark-local")
        self.warehouse = os.path.join(self.root, "warehouse")
        self.work = os.path.join(self.root, "work")
        for d in (self.tmp, self.local, self.warehouse, self.work):
            os.makedirs(d)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            os.rmdir(RUNS_DIR)  # only when no other run is live
        except OSError:
            pass


def configure(run: RunDir, cpus: int, heap_mb: int) -> None:
    """Environment for the session the workload starts.  Must run before
    pyspark launches its JVM."""
    java_opts = f"-Djava.io.tmpdir={run.tmp} -Dderby.system.home={run.tmp} -XX:-UsePerfData"
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": run.local,
        "spark.driver.extraJavaOptions": java_opts,
        # keep every job of a run in the status store for span attribution
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
            "SPARK_GRAFT_WAREHOUSE": run.warehouse,
            "SPARK_LOCAL_DIRS": run.local,
            "TMPDIR": run.tmp,
            "PYTHONDONTWRITEBYTECODE": "1",
            "PYSPARK_SUBMIT_ARGS": shlex.join(args + ["pyspark-shell"]),
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(run.work)


# ---------------------------------------------------------------- processes


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                data = f.read()
        except OSError:
            continue
        # comm may hold spaces: the ppid is the 2nd field after ')'
        out[int(name)] = int(data.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
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


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and every live descendant.  Time stolen by the hypervisor is
    not in it, so it is steadier than wall time on a shared host."""
    me = os.getpid()
    total = 0
    for pid in [me, *descendants(me)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def cpu_times() -> list[int]:
    """Machine-wide /proc/stat cpu counters (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def tree_rss_mb() -> float:
    """Resident memory of this process plus every descendant: the driver
    Python, the JVM and its Python workers together."""
    me = os.getpid()
    return sum(_rss_kb(p) for p in [me, *descendants(me)]) / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.lstat(os.path.join(base, fn)).st_size
            except OSError:
                pass
    return total


#: seconds between two samples of memory and scratch-dir size
SAMPLE_PERIOD_S = 0.25


class Sampler:
    """Background sampler of peak tree RSS and peak scratch-dir bytes."""

    def __init__(self, run: RunDir) -> None:
        self._run = run
        self._stop = threading.Event()
        self.peak_rss_mb = 0.0
        self.peak_tmp_bytes = 0
        self._thread = threading.Thread(target=self._loop, name="kbench-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(SAMPLE_PERIOD_S)

    def sample(self) -> None:
        self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb())
        self.peak_tmp_bytes = max(self.peak_tmp_bytes, dir_bytes(self._run.root))

    def start(self) -> "Sampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=30)
        self.sample()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM pyspark launched, and wait until
    every process this run started has ended (Python workers included:
    they are listed before the JVM goes, because they are re-parented
    once it has)."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - JVM already gone
            pass
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            try:
                proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - subprocess.TimeoutExpired
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    wait_ended(started + descendants(os.getpid()))


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":
        try:  # our own zombie: reap it
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True


def wait_ended(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every pid has ended; SIGKILL stragglers after the
    timeout and raise if even that does not end them."""
    deadline = time.monotonic() + timeout_s
    killed = False
    while True:
        left = [p for p in pids if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes did not end: {left}")
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            killed = True
            deadline = time.monotonic() + 10.0
        time.sleep(0.1)
