"""The benchmark's workloads and the metrics each reports.

Each workload runs in one process against one ``local[N]`` session
(N = usable cores) and drives the engine only through its public entry
points: ``session.get_spark``, ``pipelines.ingest_historic`` /
``transform_views`` and ``queries.registry.all_queries()[name].fn``.
A run is:

1. generate (or reuse) the seeded inputs — never timed;
2. build the session ``SETUPS`` times, each time in a fresh JVM
   (``setup_s``), and keep the last one;
3. a fixed number of jobs on the kept session, closed loop, one caller,
   timed from the session's first job on: as many as fill ``--seconds``
   at a nominal job time measured on a 4-core host, and at least two;
4. check the jobs' outputs against independent DuckDB computations,
   after the last job, outside the timing.

The jobs are timed from a cold session on purpose. A fresh JVM spends
its first minute or so loading classes, generating code and JIT-compiling
the engine, and the job times fall steeply while it does; how fast they
fall depends on how the JIT compiler threads race the engine for the
cores, so any slice of that curve varies a lot from run to run. The whole
sequence from the cold start, in contrast, is a fixed amount of work from
a fixed state, and it is what a ``spark-submit`` of the daily batch, or a
fresh session serving queries, pays.

End-to-end metrics, reported by both workloads:

- ``setup_s``: median of the session builds, each a cold JVM plus
  ``get_spark``: what every ``spark-submit`` pays;
- ``job_cpu_s``: CPU time (user + system) the whole process tree — this
  Python process, its JVM with its JIT and GC threads, and Spark's Python
  workers — spends on the job sequence, divided by its number of jobs.
  A job is, for ``taxi_batch``, the daily batch (``ingest_historic`` then
  ``transform_views``); for ``registry_sweep``, one pass over the query
  list. The JVM's threads race one another from a cold start, and the CPU
  time they add up to varies less than how the wall time splits among
  them; nor does it count time the host gives to other tenants.

The wall time of the same sequence, ``session.job_s``, is a per-layer
metric only: on a shared host it moved with other tenants' load by more
than any bound a regression gate could use, so a regression that only
waits (a stage serialized onto one core, an added trigger wait) is not
gated.

Per-layer metrics of the whole session: ``session.job_s`` (above);
``session.first_job_s`` and ``session.warm_job_s``, the wall times of the
first (cold) job and the median of the others; ``session.latency_p50_s``,
the median time a caller waits for one result (``transform_views``; one
query built and collected); ``session.late_ratio``, the last job over the
second (a leak that slows later jobs raises it; over the first when there
are only two); ``session.peak_rss_mb``, the peak resident memory of the
Python process plus its JVM; and ``session.jit_cpu_s``, the CPU time of
the JVM's JIT compiler threads per job.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

import gen
import oracle
from spans import Tracer

YEAR = 2017
# Distinct trips; the CSV holds 10% more rows (duplicates). The largest
# size whose runs keep the benchmark's whole schedule within its time
# budget on a 4-core host.
BATCH_TRIPS = 80_000
SETUPS = 3             # cold session builds per run; setup_s is their median
SWEEP_SCALE = 0.005    # star schema at 30k lineitem rows
STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings")
# A fixed slice of the registry, one query per layer the sweep exercises:
# a scan-aggregate and a five-way join (batch SQL), a stateful windowed
# drain (streaming) and a connected-components consumer (iterative
# rounds). The whole registry does not fit a run.
SWEEP_QUERIES = (
    "sql_q1_pricing_summary",
    "sql_q5_local_supplier",
    "stream_window_rollup",
    "dedup_cluster_canonical",
)
STREAM_QUERIES = ("stream_window_rollup",)
CC_QUERIES = ("dedup_cluster_canonical",)


@dataclass
class Run:
    """State of one benchmark invocation."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str      # temporary outputs of this run
    cache: str     # generated inputs, shared across runs
    tracer: Tracer = field(default_factory=Tracer)
    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    extra: dict = field(default_factory=dict)

    def op(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED {what}", file=sys.stderr)
        return ok

    def call(self, name: str, kind: str, fn, *args):
        """One engine call in its own span; an exception counts as a
        failed operation and yields None."""
        with self.tracer.span(name, kind):
            try:
                return fn(*args)
            except Exception:
                traceback.print_exc()
                self.op(False, name)
                return None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


# -- session ---------------------------------------------------------------

def start_session(run: Run):
    """Build the session ``SETUPS`` times, each in a fresh JVM, and keep
    the last one. ``run.setup_s`` is the median build time: the cold JVM
    plus ``get_spark``, which every ``spark-submit`` pays and where work
    moved into the engine's set-up shows."""
    from tfm_taxitrips_spark.session import get_spark

    conf = {"spark.sql.warehouse.dir": run.path("warehouse")}
    if run.trace:  # keep every job, stage and SQL execution for attribution
        conf.update({"spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000",
                     "spark.sql.ui.retainedExecutions": "100000"})
    os.sync()  # the generated inputs' write-back must not overlap the timing
    times = []
    for k in range(SETUPS):
        if k:
            stop_session(spark)
        t0 = time.perf_counter()
        with run.tracer.span("session.get_spark", "session.build"):
            spark = get_spark(app_name=f"perfbench-{run.workload}", extra_conf=conf)
        times.append(time.perf_counter() - t0)
    run.setup_s = statistics.median(times)
    run.extra["setup_times"] = times
    return spark


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus the JVM it launched."""
    total_kb = 0
    for pid in (os.getpid(), _jvm_pid()):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def _stat(path: str) -> list[str]:
    """The fields of a /proc ``stat`` file after the command name."""
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def _cpu(stat: str) -> float:
    """CPU time (user + system) from a /proc ``stat`` file, in seconds."""
    fields = _stat(stat)
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def tree_cpu_seconds() -> float:
    """CPU time (user + system) used so far by this process and all its
    descendants: the JVM with every thread, and Spark's Python workers.
    Descendants that have ended count through their parent's
    ``cutime``/``cstime`` once the parent has waited for them."""
    ticks: dict[int, int] = {}
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                fields = _stat(f"/proc/{d}/stat")
            except OSError:  # the process ended meanwhile
                continue
            ticks[int(d)] = sum(int(x) for x in fields[11:15])
            children[int(fields[1])].append(int(d))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children[pid])
    return total / os.sysconf("SC_CLK_TCK")


class JitCpu:
    """CPU time of the JVM's JIT compiler threads, read every 0.1 s
    (traced runs only).

    HotSpot retires a compiler thread that has idled for a while, and a
    retired thread's CPU time can no longer be read; the last reading of
    each thread is kept, so its work still counts."""

    _NAMES = ("C1 CompilerThre", "C2 CompilerThre")  # /proc comm is cut at 15

    def __init__(self) -> None:
        self._task = f"/proc/{_jvm_pid()}/task"
        self._compiler: dict[str, bool] = {}  # thread id -> is a compiler thread
        self._cpu: dict[str, float] = {}      # compiler thread id -> last reading
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self.read()
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()

    def _poll(self) -> None:
        while not self._stop.wait(0.1):
            self.read()

    def read(self) -> float:
        """Compiler threads' CPU seconds so far, retired threads included."""
        with self._lock:
            for tid in os.listdir(self._task):
                try:
                    if tid not in self._compiler:
                        with open(f"{self._task}/{tid}/comm") as f:
                            self._compiler[tid] = f.read().startswith(self._NAMES)
                    if self._compiler[tid]:
                        self._cpu[tid] = _cpu(f"{self._task}/{tid}/stat")
                except OSError:  # the thread ended meanwhile
                    pass
            return sum(self._cpu.values())

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit.

    The JVM exits when its stdin closes. Closing py4j's callback server
    first (it serves the streaming listener and pandas UDFs) can block
    for minutes, so the JVM goes first and takes the sockets with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    # the next session launches a JVM of its own
    SparkContext._gateway = SparkContext._jvm = None


# -- jobs ------------------------------------------------------------------

def timed_jobs(run: Run, spark, job, nominal_s: float) -> list[dict]:
    """Run ``job(i)`` closed loop on the fresh session, ``i`` = 1 … n:
    as many jobs as fill the run's seconds at ``nominal_s`` a job (at
    least two). A fixed count, not the clock, ends the sequence, so every
    run does the same work from the same cold state; stopping on the clock
    would let a slow host do less of it. With tracing, every job is
    traced. Returns one record per job, with its wall and CPU time and
    its span."""
    n = max(2, round(run.seconds / nominal_s))
    run.tracer.set_spark(spark, run.trace)
    jit = JitCpu() if run.trace else None
    out = []
    for i in range(1, n + 1):
        c0, j0, t0 = tree_cpu_seconds(), jit and jit.read(), time.perf_counter()
        with run.tracer.span(f"job-{i}", "job") as s:
            rec = job(i)
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = tree_cpu_seconds() - c0
        if jit:
            rec["jit_cpu_s"] = jit.read() - j0
        rec["span"] = s
        out.append(rec)
    if jit:
        jit.close()
    run.tracer.set_spark(spark, False)
    return out


def _median(records: list[dict], key: str) -> float:
    vals = [r[key] for r in records if r.get(key) is not None]
    return statistics.median(vals) if vals else 0.0


# -- taxi_batch --------------------------------------------------------------

def taxi_batch(run: Run) -> dict:
    from tfm_taxitrips_spark.config import EngineConfig
    from tfm_taxitrips_spark.pipelines import ingest_historic, transform_views

    csv_dir, areas, counts = gen.taxi_inputs(run.cache, run.seed, BATCH_TRIPS)
    expected = {"rows_written": counts.rows, "null_trip_ids": 0,
                "unmapped_pickup_areas": counts.null_pickup_areas}
    spark = start_session(run)
    views: list[str] = []

    def daily(i: int) -> dict:
        cfg = EngineConfig(trips_path=run.path(f"trips-{i}"), area_path=areas,
                           csv_input_path=csv_dir, views_path=run.path(f"views-{i}"))
        if views:  # only the last job's views are kept for the check
            shutil.rmtree(views.pop(), ignore_errors=True)
        rec: dict = {}
        t0 = time.perf_counter()
        got = run.call("pipelines.ingest_historic", "pipelines.ingest",
                       ingest_historic, spark, cfg)
        t1 = time.perf_counter()
        if got is not None and run.op(got == expected, f"ingest counters {got} != {expected}"):
            rec["ingest_s"] = t1 - t0
            if run.call("pipelines.transform_views", "pipelines.transform",
                        transform_views, spark, cfg, YEAR) is not None:
                rec["transform_s"] = time.perf_counter() - t1
                views.append(cfg.views_path)
        shutil.rmtree(cfg.trips_path, ignore_errors=True)
        return rec

    jobs = timed_jobs(run, spark, daily, nominal_s=16.0)
    if views:
        bad = oracle.taxi_view_mismatches(csv_dir, areas, views[0], YEAR)
        run.op(not bad, f"views differ from DuckDB: {bad}")
    run.extra["csv_lines"] = counts.malformed + counts.rows
    metrics = {
        "session.latency_p50_s": _median(jobs, "transform_s"),
        "pipelines.ingest_s": _median(jobs, "ingest_s"),
        "pipelines.transform_s": _median(jobs, "transform_s"),
    }
    return _finish(run, spark, jobs, metrics)


# -- registry_sweep ----------------------------------------------------------

def registry_sweep(run: Run) -> dict:
    from tfm_taxitrips_spark.queries.registry import all_queries

    sf = gen.star_schema(run.cache, run.seed, SWEEP_SCALE)
    specs = all_queries()
    spark = start_session(run)

    def sweep_pass(i: int) -> dict:
        """Each query built and its result collected, as a caller would."""
        rec: dict = {"queries": {}, "results": {}}
        for name in SWEEP_QUERIES:
            t0 = time.perf_counter()
            with run.tracer.span(f"queries.{name}", "query"):
                df = run.call(f"queries.{name}.build", "query.build", specs[name].fn, spark, sf)
                t1 = time.perf_counter()
                got = None if df is None else run.call(
                    f"queries.{name}.execute", "query.execute", df.toPandas)
            t2 = time.perf_counter()
            if got is not None:
                rec["queries"][name] = (t1 - t0, t2 - t1)
                rec["results"][name] = got
            if run.tracer.spark_tracing:
                run.extra["persisted_rdds"] = spark.sparkContext._jsc.getPersistentRDDs().size()
                run.extra["mem_tables"] = sum(
                    1 for t in spark.catalog.listTables() if t.name.startswith("mem_"))
        if len(rec["queries"]) == len(SWEEP_QUERIES):
            rec["drains_s"] = sum(sum(rec["queries"][q]) for q in STREAM_QUERIES)
        return rec

    jobs = timed_jobs(run, spark, sweep_pass, nominal_s=10.0)
    con = oracle.star_connection(sf, STAR_TABLES)
    want = {name: con.sql(specs[name].oracle).df()
            for name in SWEEP_QUERIES if specs[name].oracle is not None}
    con.close()
    for i, rec in enumerate(jobs, 1):
        for name, got in rec.pop("results").items():
            if name not in want:
                run.op(len(got) > 0, f"pass {i}: {name}: no rows")
            else:
                why = oracle.result_mismatch(got, want[name])
                run.op(why is None, f"pass {i}: {name}: differs from its DuckDB oracle: {why}")
    per_query = [sum(t) for r in jobs[1:] for t in r["queries"].values()]
    metrics = {
        "session.latency_p50_s": statistics.median(per_query) if per_query else 0.0,
        "sweep.drains_s": _median(jobs, "drains_s"),
    }
    for name in SWEEP_QUERIES:
        vals = [sum(r["queries"][name]) for r in jobs if name in r["queries"]]
        metrics[f"queries.{name}_s"] = statistics.median(vals) if vals else 0.0
    return _finish(run, spark, jobs, metrics)


# -- results -----------------------------------------------------------------

def _finish(run: Run, spark, jobs: list[dict], metrics: dict) -> dict:
    """Metrics of the whole job sequence. A job with a failed engine call
    is in the sequence all the same (the failure is counted), so the
    sequence is always the same length."""
    wall = [r["wall_s"] for r in jobs]
    print(f"perfbench: {run.workload} seed {run.seed}: setups "
          f"{[round(t, 2) for t in run.extra['setup_times']]} s, "
          f"jobs {[round(t, 2) for t in wall]} s, "
          f"CPU {[round(r['cpu_s'], 2) for r in jobs]} s", file=sys.stderr)
    job_s = sum(wall) / len(jobs)
    metrics["setup_s"] = run.setup_s
    metrics["session.job_s"] = job_s
    metrics["job_cpu_s"] = sum(r["cpu_s"] for r in jobs) / len(jobs)
    metrics["session.first_job_s"] = wall[0]
    metrics["session.warm_job_s"] = statistics.median(wall[1:])
    metrics["session.late_ratio"] = wall[-1] / wall[1 if len(wall) > 2 else 0]
    metrics["session.peak_rss_mb"] = peak_rss_mb()
    if run.trace:
        metrics["session.jit_cpu_s"] = sum(r["jit_cpu_s"] for r in jobs) / len(jobs)
        run.tracer.attach_spark(spark)
        metrics.update(layer_metrics(run, jobs))
    stop_session(spark)
    return metrics


def layer_metrics(run: Run, records: list[dict]) -> dict:
    """Per-layer metrics of a traced run, per job: Spark's own records
    under the jobs' spans, summed and divided by the number of jobs."""
    spans = run.tracer.spans
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)

    def subtree(s):
        yield s
        for c in children[s.id]:
            yield from subtree(c)

    jobs = [r["span"] for r in records]
    n = len(jobs)
    tree = [x for j in jobs for x in subtree(j)]
    sp, ops = defaultdict(float), defaultdict(float)
    for s in tree:
        for k, v in s.spark.items():
            sp[k] += v
        for k, v in s.operators.items():
            ops[k] += v

    def op_sum(pred) -> float:
        return sum(v for k, v in ops.items() if pred(*k.split("|", 1))) / n

    progress = [p for s in tree for p in s.progress]
    dur = lambda key: sum(p["durationMs"].get(key, 0) for p in progress) / n  # noqa: E731
    last_by_run: dict[str, dict] = {}
    for p in progress:
        last_by_run[p["runId"]] = p
    state = [o for p in last_by_run.values() for o in p.get("stateOperators", [])]
    drain_spans = [s for s in tree if s.progress and not any(c.progress for c in children[s.id])]
    by_kind = defaultdict(float)
    for s in tree:
        by_kind[s.kind] += run.tracer.self_time(s)
    overhead = run.tracer.own_s / n
    m = {
        "session.build_s": statistics.median(
            s.duration for s in spans if s.kind == "session.build"),
        "sources.scan_rows": op_sum(lambda o, k: o.startswith("Scan ") and k == "number of output rows"),
        "sources.scan_bytes": op_sum(lambda o, k: o.startswith("Scan ") and k == "size of files read"),
        "sources.scan_ms": op_sum(lambda o, k: o.startswith("Scan ") and k == "scan time"),
        "sources.malformed_dropped": run.extra.get("csv_lines", 0) - sum(
            s.operators.get("Scan csv|number of output rows", 0) for s in tree
            if s.kind == "pipelines.ingest") / n,
        "sources.listing_ms": dur("latestOffset") + dur("getBatch"),
        "operators.dedup_rows_in": op_sum(lambda o, k: o == "dedup" and k == "rows in"),
        "operators.dedup_rows_out": op_sum(lambda o, k: o == "dedup" and k == "rows out"),
        "operators.sort_ms": op_sum(lambda o, k: o == "Sort" and k == "sort time"),
        "operators.agg_build_ms": op_sum(lambda o, k: k == "time in aggregation build"),
        "operators.sort_agg_rows": op_sum(lambda o, k: o == "SortAggregate" and k == "number of output rows"),
        "operators.hash_agg_rows": op_sum(lambda o, k: o.endswith("HashAggregate") and k == "number of output rows"),
        "operators.expand_rows": op_sum(lambda o, k: o == "Expand" and k == "number of output rows"),
        "operators.join_rows": op_sum(lambda o, k: "Join" in o and k == "number of output rows"),
        "operators.cache_scan_rows": op_sum(lambda o, k: o == "InMemoryTableScan" and k == "number of output rows"),
        "operators.cc_jobs": sum(x.spark.get("jobs", 0) for s in tree
                                 if s.kind == "query" and s.name.split(".")[1] in CC_QUERIES
                                 for x in subtree(s)) / n,
        "streaming.batches": len(progress) / n,
        "streaming.empty_batch_share": sum(1 for p in progress if not p.get("numInputRows"))
        / len(progress) if progress else 0.0,
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.outside_trigger_ms": sum(
            s.duration * 1000 - sum(p["durationMs"].get("triggerExecution", 0) for p in s.progress)
            for s in drain_spans) / n,
        "streaming.state_commit_ms": sum(o.get("commitTimeMs", 0) for p in progress
                                         for o in p.get("stateOperators", [])) / n,
        "streaming.state_rows_total": sum(o.get("numRowsTotal", 0) for o in state) / n,
        "streaming.state_memory_bytes": sum(o.get("memoryUsedBytes", 0) for o in state) / n,
        "sinks.files_written": op_sum(lambda o, k: k == "number of written files"),
        "sinks.bytes_written": op_sum(lambda o, k: k == "written output"),
        "sinks.task_commit_ms": op_sum(lambda o, k: k == "task commit time"),
        "sinks.job_commit_ms": op_sum(lambda o, k: k == "job commit time"),
        "sinks.view_write_s": sum(s.operators.get("write|exec ms", 0) for s in tree
                                  if s.kind == "pipelines.transform") / 1000 / max(1.0, sum(
            s.operators.get("write|execs", 0) for s in tree if s.kind == "pipelines.transform")),
        "queries.build_s": by_kind["query.build"] / n,
        "queries.execute_s": by_kind["query.execute"] / n,
        "queries.build_jobs": sum(s.spark.get("jobs", 0) for s in tree if s.kind == "query.build") / n,
        "spark.persisted_rdds": run.extra.get("persisted_rdds", 0),
        "spark.mem_tables": run.extra.get("mem_tables", 0),
        "trace.overhead_s": overhead,
        "trace.overhead_share": overhead * n / sum(r["wall_s"] for r in records),
    }
    for k in ("jobs", "stages", "tasks", "task_ms", "cpu_ms", "gc_ms",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"spark.{k}"] = sp[k] / n
    for kind, total in by_kind.items():
        m[f"self.{kind}_s"] = total / n
    return m


WORKLOADS = {
    "taxi_batch": taxi_batch,
    "registry_sweep": registry_sweep,
}
