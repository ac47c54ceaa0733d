"""Shared machinery for the benchmark: the run's directories and Spark
session, wall/steal timing, peak-RSS sampling, and the span tracer.

Nothing here starts a thread, a process or a JVM at import time; the
objects below are created by ``run.py`` for one run and closed by it.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
DRIVER_MEM = "3g"


def require_program() -> None:
    """Fail fast when the checkout does not hold the program under test."""
    missing = [p for p in ("bench.py", "logshipper_spark") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        raise SystemExit(f"perfbench: program files missing from {ROOT}: {missing}")


class RunDirs:
    """Every file the run writes lives under ``.perfbench_work/<tag>-<pid>``
    in the checkout; the environment points Spark, the JVMs and Python's
    tempfile there before any JVM starts."""

    def __init__(self, tag: str):
        self.root = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
        self.tmp = os.path.join(self.root, "tmp")
        self.local = os.path.join(self.root, "spark-local")
        self.data = os.path.join(self.root, "data")
        for d in (self.tmp, self.local, self.data):
            os.makedirs(d, exist_ok=True)
        os.environ["TMPDIR"] = self.tmp
        # every JVM (spark-submit launcher and Spark): temp files here, no hsperfdata in /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
        os.environ["PYSPARK_PYTHON"] = sys.executable
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)

    def path(self, *parts: str) -> str:
        return os.path.join(self.data, *parts)

    def remove(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        parent = os.path.dirname(self.root)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def spark_conf(dirs: RunDirs, traced: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(dirs.root, "warehouse"),
    }
    if traced:
        # the status store must still hold every job of the traced run
        # when its spans are settled
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    return conf


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for it, then wait for every
    process it leaves behind (see ``adopt_orphans``)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    reap_children()


def adopt_orphans() -> None:
    """Make this process the subreaper of its tree (Linux ``prctl``).

    The JVM only signals the PySpark daemon when it stops; the daemon and
    its forked workers may outlive it.  As a subreaper this process becomes
    their parent, so ``reap_children`` sees and waits for them."""
    import ctypes

    pr_set_child_subreaper = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(pr_set_child_subreaper, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_children(grace: float = 30.0) -> None:
    """Return once this process has no child left.  Children that have not
    ended after ``grace`` seconds get SIGTERM, then SIGKILL every 5 s; the
    orphans of a killed child become children in turn (``adopt_orphans``)
    and are waited for the same way."""
    deadline = time.monotonic() + grace
    sig = signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] != 0:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            for pid in _children().get(os.getpid(), []):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sig, deadline = signal.SIGKILL, time.monotonic() + 5.0
        time.sleep(0.05)


def noop(df) -> None:
    """Materialize every column of ``df`` without writing anything."""
    df.write.mode("overwrite").format("noop").save()


def timed_call(fn) -> tuple[float, float | None]:
    """(wall seconds at full precision, steal %) — steal from bench.timed's
    /proc/stat protocol."""
    from bench import timed

    t0 = time.perf_counter()
    _, steal = timed(fn)
    return time.perf_counter() - t0, steal


def tree_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the parquet data files under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def fingerprint(parquet_glob: str) -> dict:
    """Row count and an order-insensitive content hash of a staged input."""
    import duckdb

    con = duckdb.connect()
    try:
        rows, h = con.execute(
            f"SELECT count(*), sum(hash(t))::VARCHAR FROM read_parquet('{parquet_glob}') t"
        ).fetchone()
    finally:
        con.close()
    return {"rows": int(rows), "hash": h}


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float]) -> tuple[float, float, int] | None:
    """(percentile, value, samples) for the highest percentile with at
    least ten samples beyond it; None below eleven samples."""
    n = len(xs)
    if n < 11:
        return None
    k = n - 10  # rank with exactly ten samples above it
    return 100.0 * k / n, sorted(xs)[k - 1], n


# ---------------------------------------------------------------- host --

def host_telemetry(spark) -> dict:
    mem_kb = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    conf = spark.sparkContext.getConf()
    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": round(mem_kb / 1024) if mem_kb else None,
        "master": spark.sparkContext.master,
        "cores": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": conf.get("spark.driver.memory"),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(pid: int) -> int:
    """Resident bytes of ``pid`` and all its descendants."""
    kids = _children()
    total, todo = 0, [pid]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, []))
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the RSS of this process tree (this process, the JVM, Python workers)
    every ``interval`` seconds and keeps the peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


# -------------------------------------------------------------- tracer --

@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    iteration: str
    start: float
    end: float = 0.0
    overhead: float = 0.0  # bookkeeping outside [start, end]
    counts: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans and counts recorded around calls into the package.

    Each span tags its thread's Spark jobs with its own job group; when the
    span ends, the listener bus is drained and the group's jobs, tasks and
    failed tasks are read from ``statusTracker()``; callers add rows, files
    and bytes to ``Span.counts`` where they count them.  Jobs a package call
    submits from threads of its own carry no group: the innermost span that
    was open while they appeared claims them, so spans that start package
    threads must not run concurrently with other spans.  Everything stays
    in memory until ``dump``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = iter(range(1, 1 << 30))
        self._local = threading.local()
        self._lock = threading.Lock()
        self._claimed: set[int] = set()
        self.iteration = ""

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _untagged(self) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(None))

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _tag(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"perfbench-{span.id}", f"{span.layer}:{span.name}")

    @contextmanager
    def span(self, name: str, layer: str, parent: Span | None = None):
        t_enter = time.perf_counter()
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        self._drain()
        before = self._untagged()
        s = Span(next(self._ids), name, layer, parent.id if parent else None,
                 self.iteration, 0.0)
        self._tag(s)
        stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self._tag(stack[-1] if stack else None)
            self._settle(s, before)
            s.overhead = (s.start - t_enter) + (time.perf_counter() - s.end)
            with self._lock:
                self.spans.append(s)

    def _settle(self, s: Span, before: set[int]) -> None:
        self._drain()
        st = self.sc.statusTracker()
        with self._lock:
            stray = self._untagged() - before - self._claimed
            self._claimed |= stray
        jobs = sorted(set(st.getJobIdsForGroup(f"perfbench-{s.id}")) | stray)
        tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                stage = st.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numCompletedTasks
                    failed += stage.numFailedTasks
        s.counts.update(jobs=len(jobs), tasks=tasks, tasks_failed=failed)

    def self_time(self, s: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == s.id)
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return s.wall - covered

    def overhead(self, iteration_prefix: str) -> float:
        """Seconds the tracer itself spent around the spans of matching
        iterations: job-group tagging, listener-bus drains, status reads."""
        return sum(s.overhead for s in self.spans if s.iteration.startswith(iteration_prefix))

    def layer_counts(self, layer: str) -> dict[str, int]:
        out = {"jobs": 0, "tasks": 0, "tasks_failed": 0}
        for s in self.spans:
            if s.layer == layer:
                for k in out:
                    out[k] += s.counts.get(k, 0)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s.start for s in self.spans), default=0.0)
        rows = [
            {"id": s.id, "name": s.name, "layer": s.layer, "parent": s.parent,
             "iteration": s.iteration, "start": s.start - t0, "end": s.end - t0,
             "self_s": self.self_time(s), "overhead_s": s.overhead, "counts": s.counts}
            for s in sorted(self.spans, key=lambda s: s.start)
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)
