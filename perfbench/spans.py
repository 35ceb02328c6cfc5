"""Spans around harness→engine calls, and what Spark recorded under them.

A :class:`Tracer` records one :class:`Span` per call the harness makes into
the engine (name, start, end, parent). Spans are kept in memory and written
once, at the end of a run. While Spark tracing is on, the tracer also
times its own work on the jobs' path — job-group tags, listener
registration and the listener's callbacks — as the tracing overhead.

When tracing is on, each span also gets its own Spark job group, and after
the run :meth:`Tracer.attach_spark` reads what Spark already keeps — the
application status store (jobs, stages, task metrics), the SQL status
store (per-operator SQL metrics of every execution) and the streaming
progress events a listener collected — and attaches each record to the
span that caused it: by job group where the job carries one, else (jobs of
a streaming query run under the query's own group) the innermost span
whose interval holds the job's submission time. With tracing off nothing
is registered with Spark and no job group is set.
"""

from __future__ import annotations

import json
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime


@dataclass
class Span:
    id: int
    name: str
    kind: str
    parent: int | None
    start: float            # time.time() seconds
    end: float = 0.0
    spark: dict = field(default_factory=lambda: defaultdict(float))
    operators: dict = field(default_factory=lambda: defaultdict(float))
    progress: list = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; while Spark tracing is on (:meth:`set_spark`), also
    tags each new span's Spark jobs and collects streaming progress, which
    :meth:`attach_spark` attributes to the spans."""

    def __init__(self) -> None:
        self.spark_tracing = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._listener = None
        self._progress: list[dict] = []
        self.own_s = 0.0  # the tracer's own time while Spark tracing is on

    def set_spark(self, spark, on: bool) -> None:
        """Turn Spark tracing on or off for the spans opened from now on."""
        t0 = time.perf_counter()
        if on and self._listener is None:
            self._sc = spark.sparkContext
            self._listener = _progress_listener(self._progress, self)
            spark.streams.addListener(self._listener)
        elif not on and self._listener is not None:
            spark.streams.removeListener(self._listener)
            self._listener = None
        self.spark_tracing = on
        self.own_s += time.perf_counter() - t0

    @contextmanager
    def span(self, name: str, kind: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, kind, parent.id if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        tag = self.spark_tracing
        if tag:
            t0 = time.perf_counter()
            self._sc.setJobGroup(f"span-{s.id}", name)
            self.own_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if tag:
                t0 = time.perf_counter()
                if parent is not None:
                    self._sc.setJobGroup(f"span-{parent.id}", parent.name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                self.own_s += time.perf_counter() - t0

    def self_time(self, s: Span) -> float:
        """Span duration minus the part its children cover."""
        return s.duration - sum(c.duration for c in self.spans if c.parent == s.id)

    def _owner(self, group: str | None, t: float) -> Span | None:
        if group and group.startswith("span-"):
            return self.spans[int(group[5:])]
        inner = None
        for s in self.spans:
            if s.start <= t <= (s.end or float("inf")):
                if inner is None or s.start >= inner.start:
                    inner = s
        return inner

    def attach_spark(self, spark) -> None:
        """Read Spark's status stores once and attribute them to spans."""
        jvm = spark._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
            .__getattr__("MODULE$"))
        store = spark._jsc.sc().statusStore()
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        stages = json.loads(mapper.writeValueAsString(
            store.stageList(None, False, False, no_quantiles, None)))
        job_span: dict[int, Span] = {}
        stage_span: dict[int, Span] = {}
        for j in jobs:
            s = self._owner(j.get("jobGroup"), _epoch(j.get("submissionTime")))
            if s is None:
                continue
            job_span[j["jobId"]] = s
            s.spark["jobs"] += 1
            for sid in j.get("stageIds", []):
                stage_span.setdefault(sid, s)
        for st in stages:
            s = stage_span.get(st["stageId"])
            if s is None:
                continue
            m = s.spark
            m["stages"] += 1
            m["tasks"] += st.get("numCompleteTasks", 0)
            m["task_ms"] += st.get("executorRunTime", 0)
            m["cpu_ms"] += st.get("executorCpuTime", 0) / 1e6
            m["gc_ms"] += st.get("jvmGcTime", 0)
            m["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
            m["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
            m["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
        self._attach_sql(spark, mapper, job_span)
        for p in self._progress:
            s = self._owner(None, _epoch(p["timestamp"]))
            if s is not None:
                s.progress.append(p)

    def _attach_sql(self, spark, mapper, job_span: dict[int, "Span"]) -> None:
        sql = spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            job_ids = json.loads(mapper.writeValueAsString(e.jobs().keys()))
            owners = [job_span[j] for j in job_ids if j in job_span]
            s = owners[0] if owners else self._owner(None, e.submissionTime() / 1000)
            if s is None:
                continue
            values = json.loads(mapper.writeValueAsString(sql.executionMetrics(e.executionId())))
            nodes = json.loads(mapper.writeValueAsString(sql.planGraph(e.executionId()).allNodes()))
            found: dict[str, float] = defaultdict(float)
            for node in nodes:
                op = _op_name(node["name"])
                for metric in node.get("metrics", []):
                    raw = values.get(str(metric["accumulatorId"]))
                    if raw is not None:
                        found[f"{op}|{metric['name']}"] += parse_metric(raw)
                # the trip_id dedup: the final (non-partial) aggregate keyed by trip_id
                if _DEDUP.search(node.get("desc", "")) and "partial_" not in node["desc"]:
                    found["dedup|rows out"] += parse_metric(values.get(str(next(
                        m["accumulatorId"] for m in node["metrics"]
                        if m["name"] == "number of output rows")), "0"))
            if found["dedup|rows out"]:
                # the dedup's input is the trips parquet scan of the same execution
                found["dedup|rows in"] = found["Scan parquet|number of output rows"]
            if any(k.endswith("|number of written files") for k in found):
                end = e.completionTime()
                if end.isDefined():
                    found["write|execs"] += 1
                    found["write|exec ms"] += end.get().getTime() - e.submissionTime()
            for k, v in found.items():
                s.operators[k] += v

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{
                "id": s.id, "name": s.name, "kind": s.kind, "parent": s.parent,
                "start": s.start, "end": s.end, "self_s": self.self_time(s),
                "spark": dict(s.spark), "operators": dict(s.operators),
                "progress": [p.get("durationMs", {}) for p in s.progress],
            } for s in self.spans], f)


def _progress_listener(sink: list, tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            t0 = time.perf_counter()
            sink.append(json.loads(event.progress.json))
            tracer.own_s += time.perf_counter() - t0

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


def _epoch(v) -> float:
    """Status-store time (epoch ms, or an ISO-8601 string) → epoch seconds."""
    if v is None:
        return 0.0
    if isinstance(v, (int, float)):
        return v / 1000
    return datetime.fromisoformat(v.replace("GMT", "+00:00").replace("Z", "+00:00")).timestamp()


_DEDUP = re.compile(r"^\w*Aggregate\(keys?=\[trip_id#")


def _op_name(name: str) -> str:
    """Operator name without its arguments; scans keep their format."""
    return name.strip() if name.startswith("Scan ") else name.split(" ")[0]


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000, "ns": 1e-6}
_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(raw: str) -> float:
    """Spark's rendered SQL metric → a number in bytes, ms or a count.

    Sums render as ``1,234``; size and timing metrics as
    ``total (min, med, max (stageId: taskId))\\n12.3 MiB (...)``: the
    first value after the header is the total."""
    text = raw.split("\n", 1)[1] if "\n" in raw else raw
    m = _VALUE.search(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)
