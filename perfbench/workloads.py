"""The three workloads. Each returns a :class:`Result` holding the
end-to-end figures (contract names), the same figures under their
workload-specific names, and — in a traced run — the per-layer figures.

Every workload sets up once, cold, in a fresh driver JVM (session
start, its store, a warm-up: ``setup_s``); then runs its correctness
gate outside any timer; then resets the memory peak and measures its
loop for ``seconds``. A traced run alternates untraced and traced
passes (or drain cycles) through the window, so the tracing overhead
comes from one process and one input, with JIT warm-up shared evenly.
"""

from __future__ import annotations

import glob
import json
import os
import random
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from flink_snappydata_spark import registry
from flink_snappydata_spark.catalog import enable_table_cache, load_table
from flink_snappydata_spark.plans import inspect as plan_inspect
from flink_snappydata_spark.session import get_spark, stop_spark
from flink_snappydata_spark.streaming import runtime as stream_runtime
from flink_snappydata_spark.streaming import windows as stream_windows
from flink_snappydata_spark.util import release_caches

from perfbench import gen, oracle
from perfbench.harness import (
    BENCH_DIR,
    RunDir,
    Tracer,
    exec_totals,
    force,
    median,
    mem_peak_mb,
    read_event_log,
    reset_mem_peak,
    scan_kinds,
    spark_conf,
    tail,
    work_cpu_s,
)

PASSES = 2  # runs of every query in a closed loop's window; the best one counts
QUERIES = registry.QUERIES

# ---------------------------------------------------------------------------
# workload parameters (also stated in BENCHMARK.json and README.md)
# ---------------------------------------------------------------------------

OLAP_SF = 0.01
OLAP_MIX = [
    "q1_pricing_summary", "q3_shipping_priority", "q4_order_priority",
    "q5_local_supplier_volume", "q6_forecast_revenue",
    "q18_large_volume_customer", "q21_waiting_supplier", "star_join_revenue",
    "broadcast_dim_join", "window_rank", "agg_rollup",
    "events_tumbling_window", "stream_stream_join", "count_window",
    "asof_join", "interval_join",
]
OLAP_DOCS = 1_000
STORE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings"]

INGEST_RATE = 5_000.0        # offered events per wall second (open loop)
INGEST_FILE_EVENTS = 1_000   # events per file → 5 files/s
INGEST_USERS = 2_000
INGEST_ZIPF = 1.1
INGEST_OOO_SHARE = 0.1       # share of events with ts pushed back
INGEST_MAX_LATENESS_S = 3_600.0
INGEST_ADVANCE = 60.0        # event-time seconds per wall second
INGEST_CADENCE_S = 2.5       # one drain + state read per slot of this length
INGEST_PRE_DRAINS = 4        # untimed drain slots before the window opens

CURATION_DOCS = 2_000
CURATION_DUP_SHARE = 0.1
CURATION_VECTORS = 1_000
CURATION_STAGES = ["dedup_minhash", "dedup_exact", "text_quality",
                   "pii_redaction", "seq_packing", "ann_cosine_topk"]
STAGE_LAYER = {
    "dedup_minhash": "pipeline.dedup.minhash_s",
    "dedup_exact": "pipeline.dedup.exact_s",
    "text_quality": "pipeline.text.quality_s",
    "pii_redaction": "pipeline.text.pii_s",
    "seq_packing": "pipeline.packing.seq_s",
    "ann_cosine_topk": "pipeline.similarity.ann_topk_s",
}

#: Every per-layer metric with its unit. A workload that does not use a
#: layer reports 0 for it.
PER_LAYER = {
    "session.start_s": "s",
    "catalog.cache_load_s": "s",
    "catalog.inmemory_scan_share": "ratio",
    "specs.build_s": "s",
    "specs.build_jobs": "count",
    "plans.exchanges": "count",
    "plans.broadcast_joins": "count",
    "plans.codegen_spans": "count",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.busy_cores": "cores",
    "ingest.drain_s": "s",
    "ingest.compaction_drain_s": "s",
    "ingest.trigger_ms": "ms",
    "ingest.add_batch_ms": "ms",
    "ingest.planning_ms": "ms",
    "ingest.wal_commit_ms": "ms",
    "ingest.commit_offsets_ms": "ms",
    "ingest.latest_offset_ms": "ms",
    "ingest.query_overhead_s": "s",
    "ingest.batches_per_drain": "count",
    "ingest.rows_per_batch": "count",
    "ingest.backlog_files": "count",
    "gen.lateness_s": "s",
    "windows.fold_build_s": "s",
    "windows.fold_jobs": "count",
    "ingest.state_partitions": "count",
    "ingest.state_bytes": "bytes",
    "pipeline.dedup.minhash_s": "s",
    "pipeline.dedup.exact_s": "s",
    "pipeline.text.quality_s": "s",
    "pipeline.text.pii_s": "s",
    "pipeline.packing.seq_s": "s",
    "pipeline.similarity.ann_topk_s": "s",
    "pipeline.dedup.planted_recall": "ratio",
    "self.bench_s": "s",
    "self.session_s": "s",
    "self.catalog_s": "s",
    "self.specs_s": "s",
    "self.plans_s": "s",
    "self.exec_s": "s",
    "self.streaming_s": "s",
    "self.windows_s": "s",
    "self.pipeline_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
}

#: Times of a layer that only one of the regression-checked workloads
#: (olap_store, stream_ingest) uses. The other reads 0 on every run, so
#: these stay in the printed table and out of the result line.
TABLE_ONLY = {
    "catalog.cache_load_s", "specs.build_s", "self.catalog_s", "self.specs_s",
    "self.plans_s", "self.pipeline_s", "self.streaming_s", "self.windows_s",
    "windows.fold_build_s", "gen.lateness_s", "ingest.drain_s",
    "ingest.compaction_drain_s", "ingest.query_overhead_s",
    "ingest.trigger_ms", "ingest.add_batch_ms", "ingest.planning_ms",
    "ingest.wal_commit_ms", "ingest.commit_offsets_ms", "ingest.latest_offset_ms",
    "pipeline.dedup.minhash_s", "pipeline.dedup.exact_s", "pipeline.text.quality_s",
    "pipeline.text.pii_s", "pipeline.packing.seq_s", "pipeline.similarity.ann_topk_s",
}

#: Span name prefix → the ``self.*`` metric its self time feeds.
SPAN_LAYER = {
    "bench": "self.bench_s", "session": "self.session_s",
    "catalog": "self.catalog_s", "specs": "self.specs_s",
    "plans": "self.plans_s", "exec": "self.exec_s",
    "streaming": "self.streaming_s", "windows": "self.windows_s",
    "pipeline": "self.pipeline_s",
}


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    e2e: dict[str, tuple[float, str]] = field(default_factory=dict)
    named: dict[str, tuple[float, str, str]] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)

    def check(self, label: str, problems: list[str]) -> None:
        """Count one gate check; a mismatch is a failed operation."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.append(f"{label}: {problems[:3]}")


@dataclass
class Ctx:
    seed: int
    seconds: float
    traced: bool
    run_dir: RunDir
    scale: float = 1.0           # self-test shrinks inputs with this
    corrupt: bool = False        # self-test: feed the gate a wrong answer


# ---------------------------------------------------------------------------
# shared pieces
# ---------------------------------------------------------------------------

def _setup(ctx: Ctx, res: Result, tracer: Tracer, prepare) -> object:
    """Start the session and run ``prepare`` (store load + warm-up) once:
    ``setup_s`` is this cold set-up. It is not repeated, because pyspark
    keeps the driver JVM after ``stop()``, so a second set-up in the same
    process would time a warm restart, not what a user waits for."""
    tracer.enabled = ctx.traced
    with tracer.span("bench:setup"):
        t0 = time.perf_counter()
        with tracer.span("session:start"):
            spark = get_spark(extra_conf=spark_conf(ctx.run_dir, ctx.traced))
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        tracer.spark = spark
        prepare(spark)
        t2 = time.perf_counter()
    tracer.enabled = False
    log(f"setup: {t2 - t0:.2f} s (session start {t1 - t0:.2f} s)")
    res.e2e["setup_s"] = (t2 - t0, "s")
    res.named["setup_s"] = (t2 - t0, "s", "cold, fresh driver JVM")
    res.layer["session.start_s"] = t1 - t0
    return spark


def _latency_figures(res: Result, prefix: str, samples: list[float]) -> None:
    """Median plus the highest percentile with ten samples beyond it."""
    res.named[f"{prefix}_p50_s"] = (median(samples), "s", f"n={len(samples)}")
    label, value = tail(samples)
    if label != "p50":
        res.named[f"{prefix}_{label}_s"] = (value, "s", f"n={len(samples)}")


def log(msg: str) -> None:
    """Progress line on stderr (stdout ends with the result line)."""
    print(f"# {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def _finish(ctx: Ctx, res: Result, tracer: Tracer, phases: dict,
            cpu_per_op: float) -> None:
    """Fill the contract metrics (CPU per operation, the window's memory
    peak in ``phases``; set-up time came from ``_setup``) and — traced —
    the event-log, self-time and overhead figures. Wall-clock figures
    stay in the workload's own table: on a host that steals CPU they
    spread too far between runs to bound a regression (README.md,
    Steadiness)."""
    res.attempted += phases["attempted"]
    res.e2e["cpu_per_op_s"] = (cpu_per_op, "s")
    res.e2e["mem_peak_mb"] = (phases["mem_peak_mb"], "MB")
    res.named["cpu_per_op_s"] = (cpu_per_op, "s", "process-tree CPU less JIT, per operation")
    res.named["mem_peak_mb"] = (phases["mem_peak_mb"], "MB", "JVM + Python, window only")
    share = res.failed / max(res.attempted, 1)
    res.named["error_share"] = (share, "ratio", f"{res.failed}/{res.attempted}")
    if not ctx.traced:
        return
    traced = phases["traced"]
    res.layer["trace.overhead_s"] = median(traced) - median(phases["untraced"])
    res.layer["trace.overhead_share"] = (
        median(traced) / median(phases["untraced"]) - 1.0)
    for layer, secs in tracer.self_times().items():
        if layer in SPAN_LAYER:
            res.layer[SPAN_LAYER[layer]] = secs
    groups_ran = [rid for sp in tracer.spans if sp.attrs.get("phase") == "traced"
                  for rid in (sp.run_id, sp.attrs.get("stream_run_id")) if rid]
    exec_wall = sum(sp.end - sp.start for sp in tracer.spans
                    if sp.run_id and sp.attrs.get("phase") == "traced")
    stop_spark()  # flushes the event log
    totals = exec_totals(read_event_log(ctx.run_dir.sub("eventlog")), groups_ran)
    ops = max(phases.get("ops", 1), 1)
    for k in ("jobs", "stages", "tasks"):
        res.layer[f"exec.{k}"] = totals[k] / ops
    res.layer["exec.failed_tasks"] = totals["failed_tasks"]
    for k in ("task_run_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes"):
        res.layer[f"exec.{k}"] = totals[k] / ops
    res.layer["exec.busy_cores"] = totals["task_run_s"] / max(exec_wall, 1e-9)
    tracer.dump(os.path.join(BENCH_DIR, "_traces",
                             f"{os.path.basename(ctx.run_dir.path)}.spans.jsonl"))


# ---------------------------------------------------------------------------
# stream_ingest — open-loop event files → streaming rollup → state reads
# ---------------------------------------------------------------------------

class Feed(threading.Thread):
    """The open-loop generator: file ``i`` is due at ``start + i *
    interval`` whatever the engine is doing; each file is written under
    a hidden temp name and renamed in, and its due and written times are
    kept by name."""

    def __init__(self, generator: gen.EventFileGenerator, directory: str):
        super().__init__(daemon=True)
        self.generator = generator
        self.directory = directory
        self.interval = generator.file_events / generator.rate
        self.files: dict[str, tuple[float, float, int]] = {}
        self.stop_event = threading.Event()
        self.lock = threading.Lock()

    def run(self) -> None:
        start = time.perf_counter()
        i = 0
        while True:
            due = start + i * self.interval
            if self.stop_event.wait(max(0.0, due - time.perf_counter())):
                return
            # known before it is renamed in, so a drain never lands a file
            # the feed has no due time for
            name = self.generator.file_name(i)
            with self.lock:
                self.files[name] = (due, due, self.generator.file_events)
            _, n = self.generator.write_file(self.directory, i)
            with self.lock:
                self.files[name] = (due, time.perf_counter(), n)
            i += 1

    def stop(self) -> None:
        self.stop_event.set()
        self.join(timeout=30)
        if self.is_alive():
            raise RuntimeError("event generator did not stop")

    def snapshot(self) -> dict[str, tuple[float, float, int]]:
        with self.lock:
            return dict(self.files)


def _source_log_files(checkpoint: str) -> set[str]:
    """File names the file source has committed to its checkpoint log."""
    names = set()
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    names.add(os.path.basename(json.loads(line)["path"]))
    return names


_PROGRESS_KEYS = {
    "trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
    "planning_ms": "queryPlanning", "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets", "latest_offset_ms": "latestOffset",
}


def _event_stream(spark, directory: str, schema):
    df = (spark.readStream.schema(schema)
          .option("pathGlobFilter", "ev-*.parquet").parquet(directory))
    return stream_runtime.ensure_event_time(df)


def stream_ingest(ctx: Ctx) -> Result:
    res = Result()
    tracer = Tracer()
    pid = os.getpid()
    feed_gen = gen.EventFileGenerator(
        seed=ctx.seed, rate=INGEST_RATE * ctx.scale,
        file_events=max(10, int(INGEST_FILE_EVENTS * ctx.scale)),
        n_users=INGEST_USERS, zipf_s=INGEST_ZIPF,
        out_of_order_share=INGEST_OOO_SHARE,
        max_lateness_s=INGEST_MAX_LATENESS_S, event_time_advance=INGEST_ADVANCE)
    warm_gen = gen.EventFileGenerator(seed=ctx.seed + 7919, file_events=200)

    def prepare(spark):
        # warm-up: one drain and one state read on a throwaway stream
        warm = ctx.run_dir.sub("warm")
        warm_gen.write_file(warm, 0)
        table = f"pb_warm_{pid}"
        stream_windows.streaming_rollup_ingest(
            _event_stream(spark, warm, spark.read.parquet(warm).schema), table,
            checkpoint=os.path.join(ctx.run_dir.path, "warm-ckpt"))
        force(stream_windows.rollup_from_state(spark, table))
        release_caches()
        spark.sql(f"DROP TABLE IF EXISTS {table}")

    spark = _setup(ctx, res, tracer, prepare)

    src = ctx.run_dir.sub("events")
    ckpt = os.path.join(ctx.run_dir.path, "ckpt")
    table = f"pb_rollup_{pid}"
    schema = spark.read.parquet(ctx.run_dir.sub("warm")).schema
    stream = _event_stream(spark, src, schema)
    feed = Feed(feed_gen, src)

    landed: set[str] = set()
    fresh: dict = {"warm": [], "untraced": [], "traced": [], "final": []}
    phases: dict = {"warm": [], "untraced": [], "traced": [], "final": [], "ops": 0}
    drains: list[dict] = []
    read_runs, fold_build, fold_jobs = [], [], []

    def drain(phase: str) -> None:
        known = feed.snapshot()
        backlog = len(set(known) - landed)
        with tracer.span("streaming:drain", group=True, phase=phase) as sp:
            t0 = time.perf_counter()
            q = stream_windows.streaming_rollup_ingest(stream, table, checkpoint=ckpt)
            t1 = time.perf_counter()
        if sp is not None:
            sp.attrs["stream_run_id"] = str(q.runId)
        new = _source_log_files(ckpt) - landed
        landed.update(new)
        known = feed.snapshot()
        events = 0
        for name in new:
            due, _, n = known[name]
            fresh[phase].append(t1 - due)
            events += n
        progress = q.recentProgress
        d = {"phase": phase, "wall": t1 - t0, "events": events, "backlog": backlog,
             "batches": len(progress),
             "rows": [p["numInputRows"] for p in progress],
             "compaction": any(p["batchId"] > 0 and p["batchId"] % 8 == 0
                               for p in progress)}
        for key, field_name in _PROGRESS_KEYS.items():
            d[key] = sum(p["durationMs"].get(field_name, 0) for p in progress)
        drains.append(d)

    def read(phase: str) -> None:
        with tracer.span("bench:read", phase=phase):
            t0 = time.perf_counter()
            with tracer.span("windows:fold_build", group=True, phase=phase) as b:
                df = stream_windows.rollup_from_state(spark, table)
            t1 = time.perf_counter()
            with tracer.span("exec:run", group=True, phase=phase):
                force(df)
            t2 = time.perf_counter()
        phases[phase].append(t2 - t0)
        if tracer.enabled:
            read_runs.append(t2 - t1)
            fold_build.append(t1 - t0)
            fold_jobs.append(len(tracer.jobs_of(b)))
        release_caches()

    # Drains run on a fixed cadence, like a processing-time trigger: one
    # drain and one state read per slot, the rest of the slot idle. The
    # window is a fixed number of slots, so it does a fixed amount of
    # work, and its CPU per landed file moves with the engine's cost.
    slots = max(2, round(ctx.seconds / INGEST_CADENCE_S))
    t_next = time.perf_counter()

    def wait_slot() -> None:
        nonlocal t_next
        t_next += INGEST_CADENCE_S
        time.sleep(max(0.0, t_next - time.perf_counter()))

    feed.start()
    try:
        # stream warm-up, untimed: the window then opens at batch
        # INGEST_PRE_DRAINS, so the batch-8 compaction falls inside it
        for _ in range(INGEST_PRE_DRAINS):
            wait_slot()
            drain("warm")
            read("warm")
        reset_mem_peak(spark)
        wait_slot()
        t_start, cpu0 = time.perf_counter(), work_cpu_s()
        busy = []
        for k in range(slots):
            if k:
                wait_slot()
            # a traced run alternates untraced and traced slots
            phase = "traced" if ctx.traced and k % 2 else "untraced"
            tracer.enabled = phase == "traced"
            t0 = time.perf_counter()
            drain(phase)
            read(phase)
            busy.append(time.perf_counter() - t0)
            phases["ops"] += tracer.enabled
        tracer.enabled = False
        wait_slot()  # the last slot runs out: the window is `slots` slots long
        window_cpu = work_cpu_s() - cpu0
        fresh["mem_peak_mb"] = mem_peak_mb(spark)
        window_s = time.perf_counter() - t_start
        files_in_window = len(fresh["untraced"]) + len(fresh["traced"])
    finally:
        feed.stop()
    log(f"measured window done: {slots} slots in {window_s:.2f} s, "
        f"{files_in_window} files landed, drain + read {min(busy):.2f}"
        f"-{max(busy):.2f} s per {INGEST_CADENCE_S:g} s slot")
    # land what the feed wrote last, outside the window's figures
    drain("final")
    generated = feed.snapshot()
    lateness = max(w - d for d, w, _ in generated.values())

    got = stream_windows.rollup_from_state(spark, table).toPandas()
    release_caches()
    con = oracle.duck_views({"events": f"{src}/ev-*.parquet"})
    want = con.execute(QUERIES["rollup_multires"].oracle).df()
    con.close()
    if ctx.corrupt:
        want.loc[0, "n_events"] += 1
    res.check("rollup_from_state vs rollup_multires", oracle.compare(got, want))
    res.check("every generated file landed",
              [] if landed >= set(generated) else
              [f"{len(set(generated) - landed)} files never landed"])
    log(f"gate: {res.attempted - res.failed}/{res.attempted} checks passed")

    if ctx.traced:
        parts = spark.sql(f"SHOW PARTITIONS {table}").count()
        tdir = os.path.join(ctx.run_dir.sub("warehouse"), table)
        nbytes = sum(os.path.getsize(os.path.join(d, f))
                     for d, _, fs in os.walk(tdir) for f in fs)
    spark.sql(f"DROP TABLE IF EXISTS {table}")

    samples = fresh["untraced"]
    _latency_figures(res, "ingest.freshness", samples)
    _latency_figures(res, "ingest.read", phases["untraced"])
    timed = [d for d in drains if d["phase"] in ("untraced", "traced")]
    events_in = sum(d["events"] for d in timed)
    capacity = events_in / sum(d["wall"] for d in timed)
    res.named["ingest.capacity_eps"] = (capacity, "events/s",
                                        f"{events_in} events landed")
    res.named["gen.lateness_s"] = (lateness, "s", "worst file write vs due time")
    if ctx.traced:
        # Spark's own progress figures are read for every drain; the
        # window's drains (both phases) feed the per-layer medians
        compactions = [d["wall"] for d in timed if d["compaction"]]
        rows = [r for d in timed for r in d["rows"]]
        res.layer.update({
            "ingest.drain_s": median([d["wall"] for d in timed]),
            "ingest.compaction_drain_s": median(compactions) if compactions else 0.0,
            "ingest.query_overhead_s": median(
                [d["wall"] - d["trigger_ms"] / 1e3 for d in timed]),
            "ingest.batches_per_drain": sum(d["batches"] for d in timed) / len(timed),
            "ingest.rows_per_batch": sum(rows) / max(len(rows), 1),
            "ingest.backlog_files": sum(d["backlog"] for d in timed) / len(timed),
            "gen.lateness_s": lateness,
            "windows.fold_build_s": median(fold_build),
            "windows.fold_jobs": sum(fold_jobs) / len(fold_jobs),
            "ingest.state_partitions": parts,
            "ingest.state_bytes": nbytes,
            "exec.run_s": median(read_runs),
        })
        for key in _PROGRESS_KEYS:
            res.layer[f"ingest.{key}"] = median([d[key] for d in timed])
    fresh["ops"] = phases["ops"]
    fresh["attempted"] = len(drains) + len(fresh["untraced"]) + len(fresh["traced"])
    _finish(ctx, res, tracer, fresh, window_cpu / files_in_window)
    return res


# ---------------------------------------------------------------------------
# closed loops: olap_store and curation_batch
# ---------------------------------------------------------------------------

def _collect_all(spark, data_dir: str, names: list[str]) -> list:
    """Every query of ``names`` collected to pandas, ``nproc`` at a time:
    the cold first run of each query compiles its code, and that
    compiles in parallel. Library-internal persists are released once
    all are done, never under a running query."""
    def one(name):
        return QUERIES[name].fn(spark, data_dir).toPandas()

    with ThreadPoolExecutor(max_workers=os.cpu_count() or 4) as pool:
        out = list(pool.map(one, names))
    release_caches()
    return out


def _gate(ctx: Ctx, res: Result, spark, data_dir: str, names: list[str],
          tables: list[str], planted: list[tuple[int, int]]) -> None:
    """Every query against its DuckDB oracle, plus the planted
    near-duplicate recall of ``dedup_minhash``."""
    results = _collect_all(spark, data_dir, names)
    con = oracle.duck_views({t: f"{data_dir}/{t}.parquet" for t in tables})
    for name, got in zip(names, results):
        want = con.execute(QUERIES[name].oracle).df()
        if ctx.corrupt and name == names[0]:
            want = want.iloc[1:]
        res.check(name, oracle.compare(got, want))
        if name == "dedup_minhash":
            found = set(zip(got["doc_a"].astype(int), got["doc_b"].astype(int)))
            recall = sum(p in found for p in planted) / len(planted)
            res.layer["pipeline.dedup.planted_recall"] = recall
            res.named["pipeline.dedup.planted_recall"] = (
                recall, "ratio", f"{len(planted)} planted pairs")
            res.check("planted near-duplicate recall",
                      [] if recall == 1.0 else [f"recall {recall:.4f}"])
    con.close()
    log(f"gate: {res.attempted - res.failed}/{res.attempted} checks passed")


def _closed_loop(ctx: Ctx, res: Result, tracer: Tracer, spark, data_dir: str,
                 mix: list[str], shuffle: bool) -> dict:
    """One client running ``mix`` over and over (seed-permuted per cycle
    when ``shuffle``). Each query is built (the registry builder call)
    and then forced with a ``noop`` write, and its wall and process-tree
    CPU time are kept per query name. The window lasts ``seconds`` and
    at least until every query has run ``PASSES`` times; each query
    counts once, with its best run, so every run weighs the same queries
    and a burst of CPU steal on the shared host, or the JIT still
    compiling during a query's first timed run, does not decide the
    figure. A traced run alternates untraced and traced passes through
    the mix, each phase covering the mix as above. The memory peak is
    reset when the window opens and read when it closes."""
    rng = random.Random(ctx.seed)
    phases = ("untraced", "traced") if ctx.traced else ("untraced",)
    out: dict = {"walls": {"untraced": {}, "traced": {}},
                 "cpus": {"untraced": {}, "traced": {}}, "ops": 0,
                 "builds": [], "runs": [], "build_jobs": [],
                 "plans": {"exchanges": [], "broadcast_joins": [], "codegen_spans": []},
                 "scans": [0, 0]}
    pending: list[str] = []
    passes = 0

    def covered() -> bool:
        return all(len(out["walls"][p].get(n, ())) >= PASSES for p in phases for n in mix)

    reset_mem_peak(spark)
    t_start = time.perf_counter()
    while not covered() or time.perf_counter() - t_start < ctx.seconds:
        if not pending:
            phase = phases[passes % len(phases)]
            passes += 1
            tracer.enabled = phase == "traced"
            walls, cpus = out["walls"][phase], out["cpus"][phase]
            pending = mix[:]
            if shuffle:
                rng.shuffle(pending)
        name = pending.pop(0)
        layer = f"pipeline:{name}" if name in STAGE_LAYER else "exec:run"
        cpu0 = work_cpu_s()
        with tracer.span("bench:query", query=name, phase=phase):
            t0 = time.perf_counter()
            with tracer.span("specs:build", group=True, phase=phase) as b:
                df = QUERIES[name].fn(spark, data_dir)
            t1 = time.perf_counter()
            with tracer.span(layer, group=True, phase=phase):
                force(df)
            t2 = time.perf_counter()
        cpus.setdefault(name, []).append(work_cpu_s() - cpu0)
        walls.setdefault(name, []).append(t2 - t0)
        if tracer.enabled:
            out["ops"] += 1
            out["builds"].append(t1 - t0)
            out["runs"].append(t2 - t1)
            out["build_jobs"].append(len(tracer.jobs_of(b)))
            with tracer.span("plans:inspect"):
                text = plan_inspect.formatted_plan(df)
                stats = out["plans"]
                stats["exchanges"].append(plan_inspect.exchange_count(df))
                stats["broadcast_joins"].append(plan_inspect.broadcast_join_count(df))
                stats["codegen_spans"].append(plan_inspect.codegen_span_count(df))
            mem, total = scan_kinds(text)
            out["scans"][0] += mem
            out["scans"][1] += total
        release_caches()
    out["mem_peak_mb"] = mem_peak_mb(spark)
    tracer.enabled = ctx.traced
    n = sum(len(v) for v in out["walls"]["untraced"].values())
    log(f"measured loop done: {n} untraced queries")
    # per phase: one latency per query name, so every run weighs the
    # same queries equally
    for phase in ("untraced", "traced"):
        out[phase] = [min(v) for v in out["walls"][phase].values()]
    out["cpu_per_query"] = [min(v) for v in out["cpus"]["untraced"].values()]
    out["executions"] = n
    out["attempted"] = n + out["ops"]
    return out


def _closed_loop_layers(res: Result, loop: dict) -> None:
    """Per-layer figures of a traced closed loop."""
    res.layer["specs.build_s"] = median(loop["builds"])
    res.layer["specs.build_jobs"] = sum(loop["build_jobs"]) / len(loop["build_jobs"])
    res.layer["exec.run_s"] = median(loop["runs"])
    for k, v in loop["plans"].items():
        res.layer[f"plans.{k}"] = sum(v) / len(v)
    res.layer["catalog.inmemory_scan_share"] = (
        loop["scans"][0] / max(loop["scans"][1], 1))
    for name, layer in STAGE_LAYER.items():
        if name in loop["walls"]["traced"]:
            res.layer[layer] = median(loop["walls"]["traced"][name])


def olap_store(ctx: Ctx) -> Result:
    """The SnappyData analog: every table cached in the in-memory store,
    one client cycling a seed-permuted mix of structured queries and the
    curation stages over it."""
    res = Result()
    tracer = Tracer()
    store = ctx.run_dir.sub("store")
    gen.write_star_schema(store, ctx.seed, OLAP_SF * ctx.scale)
    planted = gen.write_curation_corpus(
        store, ctx.seed, max(100, int(OLAP_DOCS * ctx.scale)), CURATION_DUP_SHARE,
        n_vectors=max(50, int(CURATION_VECTORS * ctx.scale)))

    def prepare(spark):
        enable_table_cache(True)
        with tracer.span("catalog:cache_load"):
            t0 = time.perf_counter()
            for t in STORE_TABLES:
                load_table(spark, store, t).count()
            res.layer["catalog.cache_load_s"] = time.perf_counter() - t0
        force(QUERIES["q6_forecast_revenue"].fn(spark, store))  # warm-up

    spark = _setup(ctx, res, tracer, prepare)
    mix = OLAP_MIX + CURATION_STAGES
    _gate(ctx, res, spark, store, mix, STORE_TABLES, planted)
    loop = _closed_loop(ctx, res, tracer, spark, store, mix, shuffle=True)
    samples = loop["untraced"]
    _latency_figures(res, "olap.query", samples)
    qps = len(samples) / sum(samples)
    res.named["olap.qps"] = (qps, "queries/s", f"{loop['executions']} queries run")
    if ctx.traced:
        _closed_loop_layers(res, loop)
    _finish(ctx, res, tracer, loop,
            sum(loop["cpu_per_query"]) / len(loop["cpu_per_query"]))
    return res


def curation_batch(ctx: Ctx) -> Result:
    """One LLM-data curation job run back to back over a seeded corpus
    with the table cache off: every stage scans its parquet afresh."""
    res = Result()
    tracer = Tracer()
    corpus = ctx.run_dir.sub("corpus")
    n_docs = max(100, int(CURATION_DOCS * ctx.scale))
    planted = gen.write_curation_corpus(
        corpus, ctx.seed, n_docs, CURATION_DUP_SHARE,
        n_vectors=max(50, int(CURATION_VECTORS * ctx.scale)))

    def prepare(spark):
        enable_table_cache(False)
        force(QUERIES["dedup_exact"].fn(spark, corpus))  # warm-up

    spark = _setup(ctx, res, tracer, prepare)
    _gate(ctx, res, spark, corpus, CURATION_STAGES, ["documents", "embeddings"], planted)
    loop = _closed_loop(ctx, res, tracer, spark, corpus, CURATION_STAGES, shuffle=False)
    job_s = sum(loop["untraced"])  # one run of every stage
    docs_per_s = n_docs / job_s
    res.named["curation.job_p50_s"] = (job_s, "s", "sum of per-stage medians")
    _latency_figures(res, "curation.stage", loop["untraced"])
    res.named["curation.docs_per_s"] = (docs_per_s, "docs/s", f"{n_docs} docs per job")
    if ctx.traced:
        _closed_loop_layers(res, loop)
    _finish(ctx, res, tracer, loop,
            sum(loop["cpu_per_query"]) / len(loop["cpu_per_query"]))
    return res


WORKLOADS = {
    "olap_store": olap_store,
    "stream_ingest": stream_ingest,
    "curation_batch": curation_batch,
}
