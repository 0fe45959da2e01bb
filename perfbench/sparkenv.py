"""Spark session, status-store collector, worker-memory sampler and
process reaping.

The session is built the way ``bench.py`` builds one (the engine's
``ENGINE_CONF`` at build time, UTC, no UI), scaled to this harness:
``local[cores]``, a small driver heap, and every scratch directory
inside the work dir.
"""

from __future__ import annotations

import ctypes
import os
import signal
import statistics
import threading
import time

SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"


def build_session(cores: int, work: str):
    from pyspark.sql import SparkSession

    from karanta_ocr_spark.plans.partitioning import ENGINE_CONF

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = ENGINE_CONF.get("spark.driver.extraJavaOptions", "")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "spark-warehouse"))
    )
    for k, v in ENGINE_CONF.items():
        b = b.config(k, v)
    b = b.config(
        "spark.driver.extraJavaOptions",
        f"{java_opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip(),
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit: it exits when the pipe
    to its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


#: prctl option: orphaned descendants are re-parented to this process.
PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make this process the one orphaned descendants are re-parented
    to (the pyspark daemon and workers once the JVM has exited), so that
    ``reap_descendants`` can wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap_zombies() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap_descendants(grace: float = 15.0) -> None:
    """Wait until every process started under this one has ended: give
    them *grace* seconds to exit on their own (the Python workers follow
    the JVM out), then kill the rest and wait for them."""
    me = os.getpid()
    deadline = time.monotonic() + grace
    while True:
        _reap_zombies()
        left = _descendants(me)
        if not left:
            return
        if time.monotonic() >= deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:  # it ended meanwhile
                    pass
        time.sleep(0.05)


class StageStats:
    """Stage metrics of every job run under the given job groups, read
    from the status store (works with ``spark.ui.enabled=false``)."""

    def __init__(self, spark, groups: list[str]):
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        job_ids = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        self.jobs = len(job_ids)
        self.stages = 0
        self.tasks = 0
        run_ms = cpu_ns = sw = sr = spill = 0
        heaviest = (-1, None)
        for s in sorted(stage_ids):
            try:
                sd = store.lastStageAttempt(s)
            except Exception:  # a stage that never ran has no attempt
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            self.stages += 1
            self.tasks += sd.numCompleteTasks()
            run_ms += sd.executorRunTime()
            cpu_ns += sd.executorCpuTime()
            sw += sd.shuffleWriteBytes()
            sr += sd.shuffleReadBytes()
            spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            if sd.executorRunTime() > heaviest[0]:
                heaviest = (sd.executorRunTime(), (s, sd.attemptId(), sd.numCompleteTasks()))
        self.executor_run_s = run_ms / 1000.0
        self.executor_cpu_s = cpu_ns / 1e9
        self.shuffle_write_mb = sw / 1e6
        self.shuffle_read_mb = sr / 1e6
        self.spill_mb = spill / 1e6
        self.task_skew = 0.0
        if heaviest[1] is not None:
            s, attempt, n = heaviest[1]
            tasks = store.taskList(s, attempt, max(n, 1))
            durs = []
            for i in range(tasks.size()):
                d = tasks.apply(i).duration()
                if d.isDefined():
                    durs.append(d.get())
            if durs and statistics.median(durs) > 0:
                self.task_skew = max(durs) / statistics.median(durs)


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _worker_pids(root: int) -> list[int]:
    """pyspark Python worker processes (daemon and forked workers) that
    descend from *root*."""
    out = []
    for pid in _descendants(root):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            out.append(pid)
    return out


def pin_process_tree(cpus: set[int]) -> None:
    """Pin this process, the JVM and the Python workers, thread by thread
    (what ``taskset -a -p`` does); threads created later inherit it."""
    for pid in [os.getpid()] + _descendants(os.getpid()):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:  # the thread ended meanwhile
                pass


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class WorkerRssSampler:
    """Samples the summed RSS of the pyspark Python workers every
    *interval* seconds on a background thread; ``peak_mb`` is the
    largest sum seen while the sampler was armed."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0
        self.samples = 0
        self._armed = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def arm(self) -> None:
        self._armed = True

    def disarm(self) -> None:
        self._armed = False

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.wait(self.interval):
            if not self._armed:
                continue
            total = sum(_rss_bytes(p) for p in _worker_pids(root))
            self.samples += 1
            self.peak = max(self.peak, total)


def timed(fn, *args, **kwargs) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out
