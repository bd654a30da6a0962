"""Shared plumbing: the run's scratch directory, session set-up, sample
statistics, memory peak, and the tracer used by ``--trace 1``.

The benchmark treats the engine as a black box: every timer and span
here wraps a call into one of its public modules (``session``,
``catalog``, ``registry``/``specs``, ``plans.inspect``,
``streaming.runtime``/``streaming.windows``, ``pipeline.*``).
"""

from __future__ import annotations

import gc
import json
import os
import re
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from statistics import median  # noqa: F401  (re-exported)

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``q`` in [0, 1]) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[str, float]:
    """The highest percentile with at least ten samples beyond it (p50
    when there are fewer than 20 samples), as ``("p90", value)``."""
    n = len(values)
    pct = 50
    for p in (99, 95, 90, 80, 75):
        if n * (100 - p) / 100 >= 10:
            pct = p
            break
    return f"p{pct}", quantile(values, pct / 100)


# ---------------------------------------------------------------------------
# run directory and session
# ---------------------------------------------------------------------------

class RunDir:
    """Per-run scratch under ``perfbench/_work``: inputs, warehouse,
    checkpoints, Spark local dirs and event logs. Removed on close."""

    def __init__(self, workload: str, seed: int):
        self.path = os.path.join(BENCH_DIR, "_work", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("tmp", "local", "warehouse", "eventlog"):
            os.makedirs(os.path.join(self.path, sub))

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def isolate_env(run_dir: RunDir) -> None:
    """Point every temp/scratch location the engine or Spark may use at
    the run directory. Must run before pyspark starts its JVM."""
    tmp = run_dir.sub("tmp")
    os.environ["TMPDIR"] = tmp
    # every JVM started from here (Spark's launcher and driver) keeps its
    # temp files in the run directory and writes no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = run_dir.sub("local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = run_dir.sub("warehouse")
    # a 1 GB heap ceiling instead of the engine's 8 GB default keeps the
    # run small on a shared machine; the heap still starts small and grows
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")


def spark_conf(run_dir: RunDir, traced: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # -Xmn: a fixed young generation, so the memory peak follows what
        # the engine keeps (old generation, caches, state, code) rather
        # than G1's timing-driven young-generation sizing; and every JIT
        # compiler thread kept alive, so the CPU they use stays visible
        # per thread and work_cpu_s can leave it out
        "spark.driver.extraJavaOptions": "-Xmn256m -XX:-UseDynamicNumberOfCompilerThreads",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + run_dir.sub("eventlog"),
            # Spark 4 writes zstd event logs by default; keep them readable
            "spark.eventLog.compress": "false",
        })
    return conf


def _mem_pids(spark) -> tuple[int, int]:
    """(driver JVM pid, this Python process's pid)."""
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid(), os.getpid()


def reset_mem_peak(spark) -> None:
    """Start a fresh memory peak: collect garbage in the driver JVM (a full
    GC also shrinks its heap back towards the live set) and in Python,
    then reset both processes' ``VmHWM`` to their current resident size,
    so the peak read by :func:`mem_peak_mb` covers only what runs after
    this call, not input generation, set-up or the correctness gate."""
    spark.sparkContext._jvm.java.lang.System.gc()
    gc.collect()
    for pid in _mem_pids(spark):
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def mem_peak_mb(spark) -> float:
    """Driver JVM ``VmHWM`` plus this Python process's ``VmHWM`` (its
    ``ru_maxrss``, but resettable) since :func:`reset_mem_peak`."""
    kb = 0
    for pid in _mem_pids(spark):
        with open(f"/proc/{pid}/status") as f:
            kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


#: HotSpot's JIT compiler threads, as ``/proc`` shows their names
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: str) -> int:
    """CPU ticks the JIT compiler threads of process ``pid`` used so far."""
    ticks = 0
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if raw[raw.index("(") + 1:raw.rindex(")")].startswith(_JIT_THREADS):
            fields = raw.rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks


def work_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant — the Spark driver JVM and its Python workers — less
    the JVM's JIT compiler threads. The driver JVM starts cold in every
    run, and compiling its hot code takes as much CPU as the work in the
    first minute and varies from run to run; the work itself is what an
    engine change moves. Time the hypervisor steals from the guest is
    not charged to processes."""
    root = root or os.getpid()
    parent, ticks = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        parent[int(pid)] = int(fields[1])
        ticks[int(pid)] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t - _jit_ticks(str(pid))
    return total / os.sysconf("SC_CLK_TCK")


def force(df) -> None:
    """Run a frame to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans around calls into the engine, plus Spark job-group
    attribution. Disabled (the ``--trace 0`` default) every method is a
    no-op and no job group is set."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str, group: bool = False, **attrs):
        """Record a span; with ``group`` the Spark jobs launched inside
        it are tagged with a fresh job group (``span.run_id``)."""
        if not self.enabled:
            yield None
            return
        sp = Span(name, time.perf_counter(),
                  parent=self._stack[-1] if self._stack else None, attrs=attrs)
        idx = len(self.spans)
        self.spans.append(sp)
        self._stack.append(idx)
        if group:
            self._seq += 1
            sp.run_id = f"pb-{os.getpid()}-{self._seq}"
            self.spark.sparkContext.setJobGroup(sp.run_id, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if group:
                self.spark.sparkContext._jsc.clearJobGroup()

    def jobs_of(self, sp: Span | None) -> list[int]:
        if sp is None or sp.run_id is None:
            return []
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(sp.run_id))

    def self_times(self) -> dict[str, float]:
        """Per span name: Σ (duration − time covered by child spans)."""
        child: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] = child.get(sp.parent, 0.0) + (sp.end - sp.start)
        out: dict[str, float] = {}
        for i, sp in enumerate(self.spans):
            layer = sp.name.split(":")[0]
            out[layer] = out.get(layer, 0.0) + (sp.end - sp.start) - child.get(i, 0.0)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, sp in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": sp.name, "start": sp.start, "end": sp.end,
                    "parent": sp.parent, "run_id": sp.run_id, **sp.attrs,
                }) + "\n")


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Fold the uncompressed Spark event logs under ``log_dir`` into
    per-job-group stage/task totals (job group = span run id, or the
    streaming query's ``runId`` for stream jobs)."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def g(name: str) -> dict:
        return groups.setdefault(name, {
            "jobs": 0, "stages": set(), "tasks": 0, "failed_tasks": 0,
            "task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
        })

    # Spark 4 rolls logs: eventlog_v2_<app>/events_<n>_<app> (plus an
    # empty appstatus marker); older layouts write one file per app
    paths = [os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
             if not f.startswith(("appstatus", "."))]
    roll = re.compile(r"events_(\d+)_")
    paths.sort(key=lambda p: (os.path.dirname(p),
                              int(m.group(1)) if (m := roll.search(p)) else 0))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if grp is None:
                        continue
                    g(grp)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = grp
                elif kind == "SparkListenerTaskEnd":
                    grp = stage_group.get(ev.get("Stage ID"))
                    if grp is None:
                        continue
                    acc = g(grp)
                    acc["stages"].add(ev["Stage ID"])
                    acc["tasks"] += 1
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if reason != "Success":
                        acc["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    acc["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    acc["shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
                    acc["spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0))
    for acc in groups.values():
        acc["stages"] = len(acc["stages"])
    return groups


def exec_totals(groups: dict[str, dict], run_ids: list[str]) -> dict[str, float]:
    """Sum the event-log totals of the given job groups."""
    keys = ("jobs", "stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s",
            "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")
    out = {k: 0.0 for k in keys}
    for rid in run_ids:
        acc = groups.get(rid)
        if acc:
            for k in keys:
                out[k] += acc[k]
    return out


_SCAN = re.compile(r"^\(\d+\) (InMemoryTableScan|Scan \w+|FileScan \w+|BatchScan \w+)", re.M)


def scan_kinds(plan: str) -> tuple[int, int]:
    """(in-memory scans, all scans) in a formatted physical plan."""
    kinds = _SCAN.findall(plan)
    return sum(k == "InMemoryTableScan" for k in kinds), len(kinds)
