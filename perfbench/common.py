"""Shared machinery of the benchmark: work directory, Spark session,
spans, process-tree memory, JVM and Spark counters, and statistics.

Nothing here changes what the program computes. The session comes from
``session.get_spark`` with the program's own defaults; the benchmark only
points every scratch directory (Spark, Derby, JVM and Python temp files)
into its work directory so that a run writes nothing outside the checkout.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass


def task_threads() -> int:
    """Spark task threads: the machine's cores, at most four."""
    return max(1, min(4, os.cpu_count() or 1))


def prepare_env(work: str) -> None:
    """Point temp files and the session's parallelism at this run before
    pyspark or the program is imported (both read the environment once)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM (Spark's launcher and the session's own) keeps temp files,
    # Derby's home and no perf-data file under the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={work}")
    os.environ["SPARK_GRAFT_CPUS"] = str(task_threads())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ.setdefault("PYSPARK_PYTHON", "python3")


def start_spark(work: str):
    """One session per run, from the program's own factory."""
    from medallion_data_lake_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{task_threads()}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the heap starts at its full size, so peak memory does not
            # depend on when the collector chose to grow it; the JIT
            # compiler threads live for the whole run, so the same threads
            # are left out of every CPU figure (see cpu_between)
            "spark.driver.extraJavaOptions":
                "-Xms1g -XX:-UseDynamicNumberOfCompilerThreads",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it and for
    any process it left behind (Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError, ValueError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    wait_gone(started)


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_gone(pids: list[int], timeout: float = 10.0) -> None:
    """Wait until every process in ``pids`` has ended (a worker orphaned
    by the JVM's exit is no longer our child, so poll rather than wait);
    terminate any still running at the deadline."""
    deadline = time.monotonic() + timeout
    while (left := [p for p in pids if _alive(p)]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in left:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        end = time.monotonic() + 5
        while (left := [p for p in left if _alive(p)]) and time.monotonic() < end:
            time.sleep(0.1)


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None


class Tracer:
    """In-memory spans (name, start, end, parent), written when the run
    ends. Disabled tracers record nothing and cost one attribute check."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack = threading.local()

    def _parents(self) -> list[int]:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parents = self._parents()
        sp = Span(name, time.perf_counter(), 0.0,
                  parents[-1] if parents else None)
        self.spans.append(sp)
        parents.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            parents.pop()
            sp.end = time.perf_counter()

    def self_times(self) -> list[float]:
        """Each span's duration minus the union of its children's
        intervals (children of one span never overlap here: one thread
        drives every traced call)."""
        covered = [0.0] * len(self.spans)
        for sp in self.spans:
            if sp.parent is not None:
                covered[sp.parent] += sp.end - sp.start
        return [max(0.0, sp.end - sp.start - c)
                for sp, c in zip(self.spans, covered)]

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def dump(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {"id": i, "name": s.name, "parent": s.parent,
             "start_s": round(s.start - t0, 6), "end_s": round(s.end - t0, 6),
             "self_s": round(st, 6)}
            for i, (s, st) in enumerate(zip(self.spans, self.self_times()))
        ]


@contextlib.contextmanager
def patched(targets: list[tuple[object, str]], tracer: Tracer, prefix: str):
    """Rebind each ``owner.attr`` to a span-recording wrapper for the
    duration of the block, then restore the original."""
    saved = []
    for owner, attr in targets:
        orig = getattr(owner, attr)
        name = f"{prefix}{attr}"

        def wrapper(*a, __orig=orig, __name=name, **kw):
            with tracer.span(__name):
                return __orig(*a, **kw)

        saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper)
    try:
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


# ---------------------------------------------------------------------------
# process-tree memory
# ---------------------------------------------------------------------------

# the JVM's JIT compiler threads: their work is the warm-up of the JVM,
# not of the program, and it drains at a rate set by wall time
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _ticks(path: str, waited: bool = False) -> tuple[str, int]:
    """(name, user + system clock ticks) from a /proc stat file; with
    ``waited``, only those of the children it has reaped, so the CPU of a
    Python worker that ends during a batch is not lost."""
    with open(path) as f:
        raw = f.read()
    name = raw[raw.index("(") + 1:raw.rindex(")")]
    fields = raw[raw.rindex(")") + 1:].split()
    return name, sum(int(x) for x in (fields[13:15] if waited else fields[11:13]))


def _process_cpu_s(pid: int) -> float:
    """CPU seconds of a whole process, its ended threads included, to the
    nanosecond: the kernel's process CPU clock (CPUCLOCK_SCHED)."""
    return time.clock_gettime(((~pid) << 3) | 2)


def cpu_snapshot() -> tuple[float, dict[tuple[int, str], int]]:
    """CPU seconds of this process and its descendants (and of the
    children they reaped), and the clock ticks of each JIT compiler
    thread among them."""
    total, jit = 0.0, {}
    tck = os.sysconf("SC_CLK_TCK")
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            total += (_process_cpu_s(pid)
                      + _ticks(f"/proc/{pid}/stat", waited=True)[1] / tck)
            tids = os.listdir(f"/proc/{pid}/task")
        except (OSError, ValueError):
            continue
        for tid in tids:
            try:
                name, ticks = _ticks(f"/proc/{pid}/task/{tid}/stat")
            except (OSError, ValueError):
                continue
            if name in JIT_THREADS:
                jit[(pid, tid)] = ticks
    return total, jit


def cpu_between(a, b) -> float:
    """CPU seconds of the process tree between two snapshots, less what
    the JIT compiler threads alive at both used (with a fixed set of
    compiler threads, that is all of them). A change that only adds JIT
    work does not show here."""
    jit = sum(b[1][k] - a[1][k] for k in a[1].keys() & b[1].keys())
    return b[0] - a[0] - jit / os.sysconf("SC_CLK_TCK")


def steal_snapshot() -> tuple[int, int]:
    """(stolen, all) clock ticks of the whole machine so far, from the
    first line of /proc/stat: time the hypervisor gave this machine's
    virtual CPUs to other guests."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_between(a: tuple[int, int], b: tuple[int, int]) -> float:
    """Share of the machine's CPU time stolen between two snapshots."""
    return (b[0] - a[0]) / max(1, b[1] - a[1])


# CPU time per unit of work rises with the share of time the hypervisor
# gives to other guests, which share this machine's caches and cores: over
# 20 runs of each workload on a 4-vCPU virtual machine, by 2.25 (requests)
# and 2.7 (queries) per cent per point of steal, the runs' mean steal
# explaining 81% and 61% of the spread of their median batch CPU
STEAL_FACTOR = 2.5


def unstolen(cpu_s: float, steal: float) -> float:
    """CPU seconds as if no time had been stolen meanwhile."""
    return cpu_s / (1.0 + STEAL_FACTOR * steal)


class RssSampler:
    """Peak resident memory of this process and every descendant (the
    JVM and any Python workers), sampled from /proc.

    A descendant counts from its second sample on: a child the JVM has
    just forked shares the JVM's pages until it runs another program, and
    counting it then would count the JVM twice."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._seen: set[int] = set()

    def _tree_rss(self) -> int:
        total = 0
        pids = set(descendants(os.getpid()))
        counted = [os.getpid(), *(pids & self._seen)]
        self._seen = pids
        for pid in counted:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)


# ---------------------------------------------------------------------------
# JVM and Spark counters (read from outside the program)
# ---------------------------------------------------------------------------

class JvmCounters:
    """Cumulative counters from the JVM's management beans and Spark's
    CodegenMetrics; ``delta(before)`` gives the per-batch difference.

    ``codegen_ms`` is an estimate: Spark keeps compile times in a
    decaying sample, not a sum, so a batch's figure is its compilations
    times the sample's mean at the batch's end."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._mf = jvm.java.lang.management.ManagementFactory
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics

    def read(self) -> dict[str, float]:
        gc_ms = sum(b.getCollectionTime() for b in
                    self._mf.getGarbageCollectorMXBeans())
        hist = self._codegen.METRIC_COMPILATION_TIME()
        compiles = hist.getCount()
        return {
            "codegen_compiles": float(compiles),
            "codegen_mean_ms": float(hist.getSnapshot().getMean()),
            "jit_ms": float(self._mf.getCompilationMXBean()
                            .getTotalCompilationTime()),
            "gc_ms": float(gc_ms),
            "classes_loaded": float(self._mf.getClassLoadingMXBean()
                                    .getTotalLoadedClassCount()),
        }

    @staticmethod
    def delta(after: dict, before: dict) -> dict[str, float]:
        out = {k: after[k] - before[k] for k in after if k != "codegen_mean_ms"}
        out["codegen_ms"] = out["codegen_compiles"] * after["codegen_mean_ms"]
        return out


class SparkCounters:
    """Jobs, completed tasks, shuffle writes and spill of the jobs that
    started since the previous ``take()``: job and stage ids from the
    status tracker, stage figures from the application status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._seen = set(self._tracker.getJobIdsForGroup())

    def take(self) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        ids = set(self._tracker.getJobIdsForGroup())
        new = ids - self._seen
        self._seen |= ids
        stage_ids: set[int] = set()
        for j in new:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        tasks = shuffle = spill = 0
        for sid in stage_ids:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store
                continue
            tasks += sd.numCompleteTasks()
            shuffle += sd.shuffleWriteBytes()
            spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        mb = 1024 * 1024
        return {"jobs": float(len(new)), "tasks": float(tasks),
                "shuffle_write_mb": shuffle / mb, "spill_mb": spill / mb}


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            with contextlib.suppress(OSError):
                total += os.stat(os.path.join(root, f)).st_size
    return total / (1024 * 1024)


def write_json(path: str, payload: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
