"""Run plumbing shared by the workloads: work directory, session start,
span tracing, Spark status-store counters, process-tree sampling from
/proc and the host drift sentinel.

All measurement happens here, around calls into the package's public
functions; nothing inside the package is instrumented."""

from __future__ import annotations

import ctypes
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time
import uuid
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")


class WorkDir:
    """A per-run directory inside the checkout; every temp file of the
    run (Python, JVM, Spark local dirs, checkpoints) lands under it and it
    is removed at the end."""

    def __init__(self, workload: str, seed: int):
        self.path = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.sub("tmp"))

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass                  # another run's directory is still there


class Context:
    """What a workload gets: session, work dir, seed, tracer, status-store
    counters and the process sampler."""

    def __init__(self, spark, work: WorkDir, seed: int, tracer: "Tracer",
                 sampler: "TreeSampler | None" = None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.counters = StatusCounters(spark)
        self.sampler = sampler


def start_session(work: WorkDir, cores: str | None = None):
    """`session.get_spark` with every scratch location redirected into the
    run's work directory. Returns the session."""
    adopt_orphans()
    tmp = work.sub("tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no hsperfdata file under the system /tmp, for the launcher JVM too
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    if cores:
        os.environ["SPARK_GRAFT_CPUS"] = cores
    import tempfile
    tempfile.tempdir = None                       # re-read TMPDIR
    from kafka_streams_in_action_spark.session import get_spark
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    return get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": work.sub("warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executor.extraJavaOptions": java_opts,
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    })


# ---------------------------------------------------------------------------
# process lifetime
# ---------------------------------------------------------------------------

_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of every process below it, so that a
    grandchild whose parent ends first (a Python worker of the JVM, the JVM
    of a child session) stays in this process's tree for `stop_tree`."""
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_tree(grace_s: float = 20.0) -> None:
    """Stop the Spark session and every process below this one, and wait
    until each has ended. The JVM exits by itself once the pipe to its
    stdin closes; what is left after `grace_s` is sent SIGTERM, then
    SIGKILL."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except (Py4JError, OSError) as e:      # the JVM is already gone
            print(f"# session stop: {e!r}", file=sys.stderr)
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.poll() is None:
        try:
            proc.stdin.close()
        except OSError:
            pass                              # pipe broken: JVM is exiting
        try:
            proc.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            pass                              # signalled below
    me = os.getpid()
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 30.0)):
        deadline = time.monotonic() + wait_s
        sent = False
        while True:
            _reap()
            left = [p for p in process_tree(me, _proc_table()) if p != me]
            if not left:
                return
            if not sent:
                for p in left:
                    try:
                        os.kill(p, sig)
                    except ProcessLookupError:
                        pass
                sent = True
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
    raise RuntimeError(f"processes still running: {left}")


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, run id, attributes).
    Disabled tracers record nothing and cost one attribute check."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.own_s = 0.0          # time spent inside tracing bookkeeping

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    @contextmanager
    def bookkeeping(self):
        """Wrap tracing-only work (status-store reads) so its cost is
        reported as tracing overhead."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.own_s += time.perf_counter() - t

    def self_times(self) -> dict[str, float]:
        """Span duration minus the part covered by its direct children,
        summed per span name (seconds)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - child[i])
        return out

    def dump(self, path: str) -> None:
        import json
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_s": self.self_times()}, f, default=str)


# ---------------------------------------------------------------------------
# Spark status-store counters
# ---------------------------------------------------------------------------

_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
          "TiB": 1024 ** 4, "ns": 1e-6, "ms": 1.0, "s": 1000.0,
          "min": 60_000.0, "h": 3_600_000.0}
_NUM = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")

#: SQL metric name → reported counter (bytes or ms)
SQL_METRICS = {
    "shuffle bytes written": "shuffle_write_bytes",
    "spill size": "spill_bytes",
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "data sent to Python workers": "arrow_sent_bytes",
    "data returned from Python workers": "arrow_returned_bytes",
}


def parse_metric(text: str) -> float:
    """A formatted SQL metric value ('1.5 MiB', 'total (min, med, max
    ...)\\n7.4 s (...)', '2,000,000') as a number in bytes / ms / units."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2) or "", 1.0)


class StatusCounters:
    """Diffs the SQL status store between a mark and now: SQL executions,
    their jobs and stages, and the SQL metrics in SQL_METRICS."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> int:
        return self._store.executionsCount()

    def since(self, mark: int) -> dict[str, float]:
        out = {"executions": 0, "jobs": 0, "stages": 0,
               **{v: 0.0 for v in SQL_METRICS.values()}}
        ex = self._store.executionsList(mark, self._store.executionsCount()
                                        - mark)
        for i in range(ex.size()):
            e = ex.apply(i)
            out["executions"] += 1
            out["jobs"] += e.jobs().size()
            out["stages"] += e.stages().size()
            wanted = {}
            ms = e.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                key = SQL_METRICS.get(m.name())
                if key:
                    wanted[m.accumulatorId()] = key
            if not wanted:
                continue
            vals = self._store.executionMetrics(e.executionId())
            for acc, key in wanted.items():
                v = vals.get(acc)
                if v is not None and not v.isEmpty():
                    out[key] += parse_metric(str(v.get()))
        return out


# ---------------------------------------------------------------------------
# /proc sampling
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float, str]]:
    """pid → (ppid, cpu_ms incl. reaped children, comm)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1:raw.rindex(")")]
        f = raw[raw.rindex(")") + 2:].split()
        cpu = sum(int(x) for x in f[11:15]) * 1000.0 / _TICK
        out[int(d)] = (int(f[1]), cpu, comm)
    return out


def process_tree(root: int, table, exclude=()) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        if p in exclude:
            continue
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages (a forked Python worker shares
    most of the daemon it forked from) are split between their sharers
    instead of being counted once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class TreeSampler:
    """Background sampler of the benchmark's own process tree (driver
    Python, the JVM, Python workers), excluding registered pids such as
    the load generator: peak summed PSS, and CPU time of the Python worker
    processes (every python process below the JVM)."""

    PERIOD_S = 0.25

    def __init__(self):
        self.exclude: set[int] = set()
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    def tree_pss(self) -> int:
        """Summed PSS of the tree now (bytes)."""
        t = _proc_table()
        return sum(_pss_bytes(p) for p in
                   process_tree(os.getpid(), t, self.exclude) if p in t)

    def sample(self) -> None:
        self.peak_rss = max(self.peak_rss, self.tree_pss())

    def _loop(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            self.sample()

    def python_worker_cpu_ms(self) -> float:
        t = _proc_table()
        me = os.getpid()
        jvms = [p for p in process_tree(me, t, self.exclude)
                if p in t and t[p][2] == "java"]
        total = 0.0
        for j in jvms:
            for p in process_tree(j, t):
                if p != j and p in t and t[p][2].startswith("python"):
                    total += t[p][1]
        return total

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def resident_after_gc(spark, sampler: TreeSampler,
                      settle_s: float = 5.0) -> int:
    """Summed PSS of the tree (bytes) once the JVM has run a full GC, less
    the heap the JVM keeps committed but free: the memory the run holds on
    to. Peak PSS is mostly garbage heap, whose resident size follows when
    G1 chose to grow the heap (1.6-3.4 GB committed at the end of runs of
    the same workload); after a full GC G1 still keeps up to 70% of the
    heap free (MaxHeapFreeRatio), so 50 MB more live heap reads as ~180 MB
    more PSS. What is left follows the live heap, the JVM's native memory
    (RocksDB, metaspace, code) and the Python processes. G1 uncommits on a
    background thread, so PSS is read once it stops falling."""
    spark._jvm.System.gc()
    time.sleep(1.0)
    pss = sampler.tree_pss()
    deadline = time.monotonic() + settle_s
    while time.monotonic() < deadline:
        time.sleep(0.25)
        now = sampler.tree_pss()
        if now >= pss * 0.995:
            break
        pss = now
    heap = spark._jvm.java.lang.management.ManagementFactory \
        .getMemoryMXBean().getHeapMemoryUsage()
    return pss - (heap.getCommitted() - heap.getUsed())


# ---------------------------------------------------------------------------
# host drift sentinel
# ---------------------------------------------------------------------------

def cpu_steal(since: tuple[int, int] | None = None):
    """Without `since`: the (steal, total) CPU tick counters of
    /proc/stat. With it: the percentage of CPU time since then that the
    hypervisor gave to other guests — a direct reading of host contention."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    now = (ticks[7] if len(ticks) > 7 else 0, sum(ticks))
    if since is None:
        return now
    total = now[1] - since[1]
    return 100.0 * (now[0] - since[0]) / total if total else 0.0


#: CPU steal share (%) above which a measurement is taken again. Quiet
#: runs read 0-2%; a neighbour's burst (10-40% for 30-60 s) stretches every
#: time metric of a run by 50-80%
STEAL_LIMIT_PCT = 5.0
RETRY_PAUSE_S = 5.0           # lets a burst pass before the next try
RETRY_BUDGET_S = 35.0         # most extra time a run spends on retries


def measure_quietly(measure, retry: bool = True):
    """`measure()`, taken again after a pause while the hypervisor took
    more than STEAL_LIMIT_PCT of the CPU time during the last try and the
    retries still fit in RETRY_BUDGET_S. Returns the result of the try
    with the least steal, that try's steal share and the number of tries."""
    tries, spent = [], 0.0
    while True:
        s0, t = cpu_steal(), time.perf_counter()
        res = measure()
        took = time.perf_counter() - t
        tries.append((cpu_steal(s0), res))
        if not retry or tries[-1][0] <= STEAL_LIMIT_PCT \
                or spent + RETRY_PAUSE_S + took > RETRY_BUDGET_S:
            break
        time.sleep(RETRY_PAUSE_S)
        spent += RETRY_PAUSE_S + took
    steal, res = min(tries, key=lambda x: x[0])
    return res, steal, len(tries)


def sentinel_s(spark, reps: int = 3) -> float:
    """Median wall time of a fixed-work shuffle + aggregation sized for 4
    cores. It reads nothing of the package, so a move in it is the host,
    not the code."""
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        (spark.range(0, 1_000_000, numPartitions=4)
         .selectExpr("id % 20011 AS k", "id * 7 % 1009 AS v")
         .groupBy("k").agg({"v": "sum"})
         .write.format("noop").mode("overwrite").save())
        times.append(time.perf_counter() - t)
    return sorted(times)[len(times) // 2]
