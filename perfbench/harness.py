"""Shared machinery of the benchmark: the self-contained Spark environment, the
process-tree meter, the span tracer, Spark status-store counters and the
small statistics helpers every workload uses.

Everything here measures the program from outside. Nothing is patched
into ``extract_ocr_spark``: layers are timed around calls into its public
functions, through the ``sink=`` seam of ``ExtractionRun``, and through
Spark's own job groups and status store.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from pathlib import Path

_CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class Scale:
    """Input sizes of one benchmark run. ``FULL`` is what the command
    measures; ``TINY`` only exists for the harness smoke test."""

    docs: int              # extract_commit corpus
    batches: int           # extract_commit micro-batches
    registry_rows: int | None  # registry_hot table rows (None: whole table)
    table_reps: int        # registry_hot table copies, median reported
    probe_reps: int        # repeats of each per-layer probe, median reported
    kernel_samples: int    # spans per kind timed by the kernel probe


FULL = Scale(docs=4000, batches=2, registry_rows=None, table_reps=3,
             probe_reps=3, kernel_samples=1000)
TINY = Scale(docs=300, batches=2, registry_rows=200, table_reps=2,
             probe_reps=1, kernel_samples=30)

# A percentile is reported only with at least ten samples beyond it; the
# traced extraction loop runs until the per-batch median has that many.
BATCH_SAMPLES = 20


def cores() -> int:
    return len(os.sched_getaffinity(0))


# -- environment -------------------------------------------------------------

HEAP = "2g"  # JVM heap; local mode runs every task inside this one JVM


def prepare_environment(work: Path) -> None:
    """Point every temporary location of Spark, the JVM and Python at
    ``work`` (inside the checkout) and keep the JVM heap modest."""
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        # The status store is the per-layer source of job, task and
        # shuffle counts; keep every job and stage of a run in it.
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        # A fixed, pre-touched heap: the JVM's resident size no longer
        # depends on when its collector chose to grow the heap (unfixed,
        # peak_rss_mb spread 41% between runs). peak_rss_mb then cannot
        # see heap use below HEAP; spark.peak_execution_mb covers that.
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Xms{HEAP} -XX:+AlwaysPreTouch'",
        "pyspark-shell",
    ])


def start_spark():
    """Start the session the program's own factory builds, at
    ``local[nproc]``. Returns (spark, seconds)."""
    from extract_ocr_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"local[{cores()}]", app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort at shutdown
            proc.kill()
            proc.wait(timeout=30)


def reap_children() -> None:
    """Stop and wait for any process this one started that is still alive
    (the JVM's Python workers normally end with it): SIGTERM first,
    SIGKILL after five seconds."""
    import signal

    me = os.getpid()
    start = time.monotonic()
    while True:
        kids = [p for p in _tree_pids(me) if p != me]
        if not kids or time.monotonic() - start > 30:
            break
        sig = signal.SIGTERM if time.monotonic() - start < 5 else signal.SIGKILL
        for p in kids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.2)


# -- process-tree meter --------------------------------------------------------

def _scan_proc() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, cpu ticks including reaped children)."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                data = f.read()
            rest = data.rsplit(b")", 1)[1].split()
            procs[int(name)] = (
                int(rest[1]),
                int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14]))
        except (OSError, IndexError, ValueError):
            continue  # exited mid-scan
    return procs


def _tree(procs, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        if p in procs:
            out.append(p)
        stack.extend(children.get(p, []))
    return out


def _tree_pids(root: int) -> list[int]:
    return _tree(_scan_proc(), root)


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared by the forked Python workers
    are split between them instead of counted once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited mid-scan
    return 0


def tree_usage(root: int) -> tuple[int, int]:
    """(cpu ticks, resident bytes) of ``root`` and all its descendants:
    this process, the local-mode JVM and its Python workers."""
    procs = _scan_proc()
    pids = _tree(procs, root)
    return (sum(procs[p][1] for p in pids), sum(_pss_bytes(p) for p in pids))


@dataclass
class Window:
    wall_s: float = 0.0
    cpu_s: float = 0.0
    peak_rss_mb: float = 0.0
    steal_frac: float = 0.0
    foreign_busy_frac: float = 0.0


def box_share(windows: list[Window]) -> dict[str, float]:
    """Wall-weighted hypervisor steal and foreign busy share of windows."""
    wall = sum(w.wall_s for w in windows)
    return {k: sum(getattr(w, k) * w.wall_s for w in windows) / wall
            for k in ("steal_frac", "foreign_busy_frac")}


class Meter:
    """Samples the resident memory of this process tree in a background
    thread, and measures wall, CPU, peak RSS and box contention over a
    window."""

    def __init__(self, interval_s: float = 0.1):
        self.root = os.getpid()
        self.interval_s = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            rss = tree_usage(self.root)[1]
            with self._lock:
                self._peak = max(self._peak, rss)

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @contextmanager
    def window(self):
        from bench_scaling import _stat, _steal_fraction

        w = Window()
        ticks0, rss0 = tree_usage(self.root)
        with self._lock:
            self._peak = rss0
        s0 = _stat()
        t0 = time.perf_counter()
        yield w
        w.wall_s = time.perf_counter() - t0
        s1 = _stat()
        ticks1, rss1 = tree_usage(self.root)
        with self._lock:
            peak = max(self._peak, rss1)
        ours = ticks1 - ticks0
        total = max(1, sum(s1) - sum(s0))
        # busy excludes idle, iowait and steal, as in bench.timed
        busy = total - ((s1[3] + s1[4]) - (s0[3] + s0[4])) - (s1[7] - s0[7])
        w.cpu_s = ours / _CLK_TCK
        w.peak_rss_mb = peak / 1e6
        w.steal_frac = _steal_fraction(s0, s1)
        w.foreign_busy_frac = max(0, busy - ours) / total


# -- tracing -------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent), written out once at the
    end of the run. Only traced passes open spans."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield idx
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def maybe(self, traced: bool, name: str):
        """``span(name)`` in a traced pass, a no-op otherwise."""
        return self.span(name) if traced else nullcontext()

    def duration(self, idx: int) -> float:
        s = self.spans[idx]
        return s["end"] - s["start"]

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s["parent"] == idx]

    def descendants(self, idx: int, name: str) -> list[int]:
        out, stack = [], self.children(idx)
        while stack:
            i = stack.pop()
            if self.spans[i]["name"] == name:
                out.append(i)
            stack.extend(self.children(i))
        return out

    def coverage(self, idx: int) -> float:
        """Time covered by the direct children of span ``idx`` over its
        duration."""
        return sum(self.duration(c) for c in self.children(idx)) \
            / max(1e-9, self.duration(idx))

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [dict(s, start=s["start"] - t0, end=s["end"] - t0)
                 for s in self.spans]
        path.write_text(json.dumps({"spans": spans}))


# -- Spark status store ----------------------------------------------------------

def drain_listener(spark) -> None:
    """Wait until the status store has seen every finished job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def spark_totals(spark) -> dict[str, float]:
    """Cumulative jobs, completed tasks, shuffle-write and disk-spill bytes
    of the session, and the id of its newest stage, read from Spark's
    status store."""
    drain_listener(spark)
    sc = spark.sparkContext
    tasks = shuffle = spill = 0
    last = -1
    for st in _stages(spark):
        tasks += st.numCompleteTasks()
        shuffle += st.shuffleWriteBytes()
        spill += st.diskBytesSpilled()
        last = max(last, st.stageId())
    jobs = sc._jsc.sc().statusStore().jobsList(None).size()
    return {"jobs": jobs, "tasks": tasks, "shuffle_write_mb": shuffle / 1e6,
            "spill_mb": spill / 1e6, "last_stage": last}


def spark_delta(spark, before: dict) -> dict[str, float]:
    """Status-store figures since ``before`` (a ``spark_totals``): job,
    task, shuffle and spill counts, and the largest peak execution memory
    (the task memory of joins, aggregates and sorts) of any stage since."""
    after = spark_totals(spark)
    out = {k: after[k] - before[k]
           for k in ("jobs", "tasks", "shuffle_write_mb", "spill_mb")}
    out["peak_execution_mb"] = max(
        (st.peakExecutionMemory() for st in _stages(spark)
         if st.stageId() > before["last_stage"]), default=0) / 1e6
    return out


def _stages(spark):
    sc = spark.sparkContext
    jvm = sc._jvm
    stages = sc._jsc.sc().statusStore().stageList(
        None, False, False, sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList())
    return jvm.scala.jdk.javaapi.CollectionConverters.asJava(stages)


def group_jobs(spark, group: str) -> int:
    drain_listener(spark)
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


# -- statistics ----------------------------------------------------------------------

def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def percentile(values, q: float) -> float | None:
    """Nearest-rank percentile, or None when fewer than ten samples lie
    beyond it (too few to report)."""
    values = sorted(values)
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))
    if n - rank < 10:
        return None
    return values[rank - 1]


# -- files -------------------------------------------------------------------------

def file_sizes(root: Path) -> dict[str, int]:
    out = {}
    if not root.exists():
        return out
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out[p] = os.path.getsize(p)
    return out


def dir_bytes(root: Path) -> int:
    return sum(file_sizes(root).values())


def remove_stale_work(parent: Path) -> None:
    """Remove ``<name>-<pid>`` working directories left by runs that were
    killed before they could clean up."""
    for d in parent.glob("*-*"):
        pid = d.name.rsplit("-", 1)[1]
        if pid.isdigit() and not Path(f"/proc/{pid}").exists():
            shutil.rmtree(d, ignore_errors=True)


def reset_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


class Phases:
    """Wall time of each phase of a run, for the summary line."""

    def __init__(self):
        self.seconds: dict[str, float] = {}
        self._t = time.perf_counter()

    def mark(self, name: str) -> None:
        now = time.perf_counter()
        self.seconds[name] = round(now - self._t, 2)
        self._t = now


@dataclass
class Context:
    """What a workload receives: the live session and the run settings."""

    spark: object
    scale: Scale
    seed: int
    seconds: float
    trace: bool
    work: Path
    session_s: float
    meter: Meter
    tracer: Tracer


@dataclass
class Result:
    end_to_end: dict[str, float]
    per_layer: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    summary: dict = field(default_factory=dict)
