"""Host-side plumbing: the Spark session, memory high-water mark and a
CPU-quota probe. Everything the benchmark writes goes under its work
directory inside the checkout."""

from __future__ import annotations

import ctypes
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

CORES = 4
# bounded well below a 15 GB host: the engine's session factory would
# otherwise ask for a 48g driver heap
DRIVER_MEM = "2g"
_T0 = time.perf_counter()


def start_spark(work: str, shuffle_partitions: int, event_log: bool = False):
    """One ``local[4]`` session whose scratch, shuffle and temp files all
    live under ``work``."""
    from dbp_etl_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = log_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return get_spark(
        app_name="perfbench",
        cores=CORES,
        shuffle_partitions=shuffle_partitions,
        extra_conf=conf,
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that ignores stdin close
            proc.kill()
            proc.wait(timeout=30)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> dict[str, float]:
    """Resident memory of ``root`` (the Python driver), the JVM it
    launched, and the Python workers the JVM forks, in MB."""
    kids = _children()
    out = {"driver": _rss_kb(root) / 1024.0, "jvm": 0.0, "workers": 0.0}
    todo = [(pid, "jvm") for pid in kids.get(root, ())]
    while todo:
        pid, kind = todo.pop()
        out[kind] += _rss_kb(pid) / 1024.0
        todo.extend((child, "workers") for child in kids.get(pid, ()))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by ``root`` (default: this process) and every process below it."""
    kids = _children()
    todo, total = [root or os.getpid()], 0
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15])
        todo.extend(kids.get(pid, ()))
    return total / _TICK


class PeakRss:
    """Samples the process tree's RSS on a background thread.

    ``peak_mb`` is the high-water mark of the Python driver plus the
    JVM; the Python workers' peak is kept apart in ``peak_by_kind``
    because how many are alive at one instant is up to the scheduler,
    which made the combined figure swing by a third between runs."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.peak_mb = 0.0
        self.peak_by_kind: dict[str, float] = {}
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            rss = tree_rss_mb(me)
            self.peak_mb = max(self.peak_mb, rss["driver"] + rss["jvm"])
            for kind, mb in rss.items():
                self.peak_by_kind[kind] = max(self.peak_by_kind.get(kind, 0.0), mb)
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


_BURN = """
import sys, time
t0 = time.perf_counter()
s = 0
for i in range(int(sys.argv[1])):
    s += i
print(time.perf_counter() - t0)
"""


def host_probe(nproc: int = CORES, iters: int = 4_000_000) -> float:
    """Slowest of ``nproc`` parallel busy loops, each timed inside its
    own process so that process start-up is left out: a throttled or
    contended host reads well above its usual figure. Plain child
    processes, each waited for (a multiprocessing pool would leave its
    resource-tracker process behind)."""
    procs = [
        subprocess.Popen([sys.executable, "-c", _BURN, str(iters)], stdout=subprocess.PIPE, text=True)
        for _ in range(nproc)
    ]
    return max(float(p.communicate()[0]) for p in procs)


_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of every process below it, so one
    that outlives its parent (a Python worker daemon of a stopped JVM,
    say) is re-parented here and ``reap`` can wait for it. Linux only;
    elsewhere a no-op."""
    try:
        ctypes.CDLL(None).prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _descendants(root: int) -> list[int]:
    kids = _children()
    todo, out = list(kids.get(root, ())), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _wait_exited() -> None:
    """Collect every child of this process that has already exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap(grace_s: float = 20.0) -> None:
    """Stop every process still below this one and wait until each has
    ended: SIGTERM first, SIGKILL after ``grace_s`` seconds. Gives up
    ten seconds after that on a process that ignores SIGKILL."""
    me = os.getpid()
    deadline = time.monotonic() + grace_s
    while True:
        _wait_exited()
        pids = _descendants(me)
        if not pids or time.monotonic() > deadline + 10:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def log(msg: str) -> None:
    """Progress on stderr, stamped with seconds since the run began."""
    print(f"perfbench [{time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def sweep(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
