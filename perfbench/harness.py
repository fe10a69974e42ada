"""Measurement plumbing shared by the workloads: the Spark session, the
CPU time of the process tree, the per-operation Spark counters read from
the status store, in-memory spans, the process-tree RSS sampler, a
percentile helper and host facts.

Nothing here reaches inside ``kafka_sink_azure_kusto_spark``: layers are
timed at the calls the benchmark makes into them and from Spark's own
status store.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field
from typing import Optional

# A fixed, pre-touched heap (-Xms = -Xmx, AlwaysPreTouch): a heap the
# JVM grows, or touches, as GC timing decides made the process-tree RSS
# swing by 20% between runs of the same code. Being fixed and resident,
# it is subtracted from the measured RSS (see ``RssSampler``).
DRIVER_HEAP_MB = 2048
# Task slots. Fewer than the host's 4 cores, so that the driver's Python,
# the JVM's own threads and the Python workers do not queue for a core
# behind the tasks.
SPARK_CORES = 2


def build_session(cores: int, app: str, local_dir: str):
    """One local Spark session sized for a 4-core, 15 GB host shared
    with other work."""
    from pyspark.sql import SparkSession

    # C1 only: the JIT's own CPU ends within set-up and the per-operation
    # CPU is flat from the first measured operation, where the default C2
    # tier kept compiling (its CPU per epoch halved over twelve epochs)
    # and the figure depended on how many operations a run fitted. The
    # serial collector runs no GC threads beside the tasks.
    java_opts = f"-Xms{DRIVER_HEAP_MB}m -XX:+AlwaysPreTouch -XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:+UseSerialGC"
    if os.environ.get("TMPDIR"):
        # JVM temp files go where the driver's do
        java_opts += f" -Djava.io.tmpdir={os.environ['TMPDIR']}"
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.driver.memory", f"{DRIVER_HEAP_MB}m")
        .config("spark.driver.extraJavaOptions", java_opts)
        # the driver's peak heap reaches the status store with each heartbeat
        .config("spark.executor.heartbeatInterval", "1s")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the status store must keep every job of one operation
        .config("spark.ui.retainedJobs", "20000")
        .config("spark.ui.retainedStages", "40000")
        .config("spark.sql.streaming.ui.enabled", "false")
        .config("spark.local.dir", local_dir)
        .config("spark.sql.warehouse.dir", os.path.join(local_dir, "warehouse"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    spark.stop()
    # the next builder must create a fresh context, not reuse the stopped one
    from pyspark.sql import SparkSession

    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None


def shutdown_jvm(timeout_s: float = 60.0) -> None:
    """End the JVM this process launched and wait for it: it exits when
    its stdin closes, and its Python worker daemon exits with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout_s)


# ------------------------------------------------------------------ spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    trace: str
    parent: Optional[str] = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory and written once, at exit. A disabled tracer
    records nothing, so untraced runs pay only the ``if``."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()

    def add(self, name, start, end, trace, parent=None, **attrs) -> None:
        if self.enabled:
            with self._lock:
                self.spans.append(Span(name, start, end, str(trace), parent, attrs))

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part covered by its
        child spans (children name their parent and share its trace)."""
        children: dict[tuple, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault((s.trace, s.parent), []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            kids = [(max(c.start, s.start), min(c.end, s.end)) for c in children.get((s.trace, s.name), [])]
            covered = union_length([k for k in kids if k[1] > k[0]])
            out[s.name] = out.get(s.name, 0.0) + max(0.0, (s.end - s.start) - covered)
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(
                {
                    **extra,
                    "self_time_s": self.self_times(),
                    "spans": [s.__dict__ for s in self.spans],
                },
                f,
            )


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------- Spark job counters


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_records: int = 0
    first_submit: Optional[float] = None
    # (submit, end) seconds of every job, for idle time and spans
    intervals: list = field(default_factory=list)

    def idle_ms(self, start: float, end: float) -> float:
        clipped = [(max(s, start), min(e, end)) for s, e in self.intervals]
        return max(0.0, (end - start) - union_length([c for c in clipped if c[1] > c[0]])) * 1000


class SparkProbe:
    """Counts the jobs, stages and tasks of one operation by its job
    group, read from the status tracker and the status store after the
    operation ends (never from the length of the job list, which the
    store caps). A streaming query started inside the operation runs its
    jobs under its own run id as job group; a query listener records
    those run ids so their jobs count too."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.runs: list[tuple[float, str]] = []
        runs = self.runs

        class _RunIds(StreamingQueryListener):
            def onQueryStarted(self, event):
                runs.append((time.time(), str(event.runId)))

            def onQueryProgress(self, event):
                pass

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _RunIds()
        spark.streams.addListener(self._listener)

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group, False)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def _settle(self, job_ids, timeout_s: float = 10.0) -> None:
        """Wait for the listener bus to record the jobs' completion."""
        from py4j.protocol import Py4JJavaError

        deadline = time.time() + timeout_s
        store = self._jsc.statusStore()
        while time.time() < deadline:
            pending = 0
            for j in job_ids:
                try:
                    if store.job(j).completionTime().isEmpty():
                        pending += 1
                except Py4JJavaError:  # not in the store yet
                    pending += 1
            if not pending:
                return
            time.sleep(0.02)

    def stats(self, group: str, since: Optional[float] = None) -> JobStats:
        """Jobs of ``group``, plus, with ``since``, those of the streaming
        queries started since then (operations run one at a time)."""
        from py4j.protocol import Py4JJavaError

        tracker = self.sc.statusTracker()
        ids = set(tracker.getJobIdsForGroup(group))
        if since is not None:
            for t, run_id in self.runs:
                if t >= since:
                    ids.update(tracker.getJobIdsForGroup(run_id))
        ids = sorted(ids)
        self._settle(ids)
        store = self._jsc.statusStore()
        out = JobStats(jobs=len(ids))
        seen: set[int] = set()
        for j in ids:
            job = store.job(j)
            sub, done = job.submissionTime(), job.completionTime()
            if not sub.isEmpty():
                s = sub.get().getTime() / 1000.0
                e = done.get().getTime() / 1000.0 if not done.isEmpty() else s
                out.intervals.append((s, e))
                out.first_submit = s if out.first_submit is None else min(out.first_submit, s)
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage never ran
                    continue
                if str(st.status().toString()) == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += st.numCompleteTasks()
                out.executor_run_ms += st.executorRunTime()
                out.shuffle_write_bytes += st.shuffleWriteBytes()
                out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out.input_records += st.inputRecords()
        return out


def op_metrics(ops) -> dict:
    """The ``op.*`` and ``spark.*`` per-layer metrics of traced
    operations, each given as (JobStats, start, end, input records): the
    median wall, and per-operation means of the Spark counters."""
    n = len(ops)

    def mean(f) -> float:
        return sum(f(st, s, e) for st, s, e, _ in ops) / n

    return {
        "op.wall_ms_p50": statistics.median([e - s for _, s, e, _ in ops]) * 1000,
        "op.first_job_ms": mean(lambda st, s, e: ((st.first_submit or e) - s) * 1000),
        "spark.jobs_per_op": mean(lambda st, s, e: st.jobs),
        "spark.stages_per_op": mean(lambda st, s, e: st.stages),
        "spark.tasks_per_op": mean(lambda st, s, e: st.tasks),
        "spark.executor_run_ms_per_op": mean(lambda st, s, e: st.executor_run_ms),
        "spark.job_idle_ms_per_op": mean(lambda st, s, e: st.idle_ms(s, e)),
        "spark.shuffle_write_bytes_per_op": mean(lambda st, s, e: st.shuffle_write_bytes),
        "spark.spill_bytes_per_op": mean(lambda st, s, e: st.spill_bytes),
        "spark.source_reads_per_record": sum(st.input_records for st, *_ in ops) / max(1, sum(r for *_, r in ops)),
    }


def peak_heap_mb(spark) -> float:
    """The driver JVM's peak used heap so far, from the status store's
    executor summary (updated with each heartbeat)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    execs = store.executorList(True)
    for i in range(execs.size()):
        ex = execs.apply(i)
        if ex.id() == "driver" and not ex.peakMemoryMetrics().isEmpty():
            return ex.peakMemoryMetrics().get().getMetricValue("JVMHeapMemory") / 2**20
    return 0.0


# ------------------------------------------------------------ memory


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, CPU ticks of its own threads, CPU ticks of the
    children it has reaped), for every process in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                fields = f.read().decode("ascii", "replace").rsplit(")", 1)[1].split()
        except OSError:
            continue
        # after the command name: state, ppid, ..., utime, stime, cutime, cstime
        out[int(name)] = (int(fields[1]), int(fields[11]) + int(fields[12]), int(fields[13]) + int(fields[14]))
    return out


def _tree_pids(root: int, table=None) -> list[int]:
    """``root`` and its descendants."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in (table if table is not None else _proc_table()).items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants: the Python driver, the JVM and the Python workers,
    including workers that have exited. Children this process itself
    has reaped (``git``, ``java -version``) are left out.

    CPU time, unlike wall time, leaves out the time a process waits for
    a core, on this host (other processes) or on its hypervisor (steal).
    It still rises when the host is loaded, by about a third as much as
    wall time (see the README)."""
    table = _proc_table()
    root = os.getpid()
    ticks = 0
    for pid in _tree_pids(root, table):
        _, own, reaped = table.get(pid, (0, 0, 0))
        ticks += own + (reaped if pid != root else 0)
    return ticks / _CLK_TCK


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


class RssSampler:
    """Summed RSS of this process and all its descendants (the Python
    driver, the JVM and the Python workers), sampled every ``period_s``,
    with the host's CPU tick counters. ``non_heap_mb_between`` leaves
    out the driver's fixed, pre-touched heap, which is resident from JVM
    start whatever the program does."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.samples: list[tuple[float, int, tuple[int, int]]] = []  # (time, kB, (steal, total) ticks)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples.append((time.time(), sum(_rss_kb(p) for p in _tree_pids(os.getpid())), _host_cpu_ticks()))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def non_heap_mb_between(self, start: float, end: float) -> list[float]:
        return [kb / 1024.0 - DRIVER_HEAP_MB for t, kb, _ in self.samples if start <= t <= end]

    def steal_pct_between(self, start: float, end: float) -> float:
        """Share of the host's CPU time the hypervisor gave to other
        guests: when it is high, every wall time of the run stretches."""
        inside = [ticks for t, _, ticks in self.samples if start <= t <= end]
        (s0, t0), (s1, t1) = inside[0], inside[-1]
        return 100 * (s1 - s0) / max(1, t1 - t0)


# ------------------------------------------------------------- statistics


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# ------------------------------------------------------------- host facts


def _run_quiet(cmd: list[str]) -> str:
    try:
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=20)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    text = (p.stdout + p.stderr).strip()
    return text.splitlines()[0] if p.returncode == 0 and text else "unknown"


def host_facts() -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "loadavg_1m": os.getloadavg()[0],
        "git_commit": _run_quiet(["git", "rev-parse", "HEAD"]),
        "pyspark": pyspark.__version__,
        "java": _run_quiet(["java", "-version"]),
        "python": platform.python_version(),
    }
