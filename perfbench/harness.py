"""Session lifetime, run hygiene and outside-in measurements.

Everything here runs outside the timed region: starting and stopping
the Spark session, releasing what a run left persisted, reading shuffle
bytes from Spark's own stage accounting, sampling the resident memory of
the driver's process tree, and timing a fixed CPU probe that shows
whether the box was contended.
"""

from __future__ import annotations

import gc
import os
import shlex
import signal
import subprocess
import threading
import time

CORES = 4
_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def start_session(work: str, event_log_dir: str | None = None):
    """The engine's own session (``reflexiv_spark.get_spark``) on
    ``local[CORES]``. The benchmark adds only scratch paths inside
    ``work``, status-store retention and, if asked, the event log, passed
    as launch arguments of the JVM, so every setting of the engine's
    (driver memory included) applies as a user would get it."""
    from reflexiv_spark import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage for StageAccounting
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()] + ["pyspark-shell"]
    )
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def shutdown_jvm(tracked_pids: set[int]) -> None:
    """Stop the gateway JVM and wait until it and every process seen in
    its tree (Python workers included) has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    alive = set(tracked_pids)
    while alive and time.time() < deadline:
        alive = {p for p in alive if _alive(p)}
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def release(spark) -> int:
    """Record, then release, the persistent RDDs a run left behind;
    collect garbage on both sides of the gateway. Returns the count."""
    sc = spark.sparkContext
    rdds = list(sc._jsc.getPersistentRDDs().values())
    spark.catalog.clearCache()
    for rdd in rdds:
        rdd.unpersist(True)
    gc.collect()
    sc._jvm.System.gc()
    return len(rdds)


class StageAccounting:
    """Shuffle bytes written by stages completed since the last call,
    read from the application status store (no extra Spark jobs)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.jsc = sc._jsc.sc()
        self.no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self.seen: set[tuple[int, int]] = set()
        self.take()

    def take(self) -> int:
        self.jsc.listenerBus().waitUntilEmpty()
        # stageList(statuses, details, withSummaries, quantiles, taskStatuses)
        it = self.jsc.statusStore().stageList(
            None, False, False, self.no_quantiles, None
        ).iterator()
        total = 0
        while it.hasNext():
            st = it.next()
            key = (st.stageId(), st.attemptId())
            if key not in self.seen:
                self.seen.add(key)
                total += st.shuffleWriteBytes()
        return total


def _tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (FileNotFoundError, ProcessLookupError):
        return 0


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    on a background thread; ``peak()`` returns the maximum since the last
    ``reset()``. Every pid seen is kept for :func:`shutdown_jvm`."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.pids: set[int] = set()
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> int:
        pids = _tree(os.getpid())
        self.pids.update(pids[1:])  # descendants only
        rss = sum(_rss_bytes(p) for p in pids)
        self._peak = max(self._peak, rss)
        return rss

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def reset(self) -> None:
        self._peak = self.sample()

    def peak(self) -> int:
        self.sample()
        return self._peak


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and all its
    descendants, children they have reaped included. Time the hypervisor
    stole is not in it."""
    total = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine since boot. Steal is
    time the hypervisor gave this VM's CPUs to someone else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_share(start: tuple[int, int]) -> float:
    steal, total = cpu_ticks()
    return (steal - start[0]) / max(1, total - start[1])


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop (best of 3). On an idle box
    it repeats within a few percent; a reading well above the run's
    first one means the box was loaded at that point."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        x = 0
        for i in range(300_000):
            x += i * i
        best = min(best, time.perf_counter() - t)
    return best
