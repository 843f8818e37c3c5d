"""Spans around layer calls, joined to Spark's status stores by job group.

A traced run tags every span with its own job group (``setJobGroup``), so
each Spark job, stage and SQL execution belongs to exactly one span. Spans
stay in memory; :meth:`Tracer.collect` reads the stores once, after the
timed phase, and attaches the metrics:

* ``jobs``, and per stage ``executorCpuTime``, shuffle read + write bytes,
  memory + disk spill, input records and the max/median task run time,
  from the SparkContext status store (works with ``spark.ui.enabled=false``);
* ``pythonTotalTime`` ("time to run Python workers") from the SQL status
  store, per SQL execution.

Metrics are inclusive: a span's figures include its children's. Self time
is a span's wall time minus the part of it its children cover.

An untraced run uses :data:`OFF`, whose spans cost one generator frame.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-"
_DURATION = re.compile(r"([0-9.]+)\s*(ms|s|m|h)\b")
_DURATION_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_JOB_IDS = re.compile(r"(\d+) ->")
# SQLPlanMetric(name,accumulatorId,metricType) of PythonSQLMetrics.pythonTotalTime
_PYTHON_TIME = re.compile(r"SQLPlanMetric\(time to run Python workers,(\d+),")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    # filled by Tracer.collect (own = this span's job group only)
    own_jobs: list[int] = field(default_factory=list)
    own_stages: dict[int, dict] = field(default_factory=dict)
    own_python_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Wall time of each span minus the union of its children's intervals
    (children of one single-threaded client do not overlap, but a union is
    exact either way)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.sid] = s.wall_s - covered
    return out


def parse_duration_s(text: str) -> float:
    """Seconds in a Spark timing-metric string: either ``"12 ms"`` or
    ``"total (min, med, max (...))\\n2.8 s (591 ms, ...)"`` (the total)."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _DURATION.search(line)
    return float(m.group(1)) * _DURATION_S[m.group(2)] if m else 0.0


class Tracer:
    """Records spans; with ``spark=None`` it records nothing."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.collect_s = 0.0

    @property
    def enabled(self) -> bool:
        return self.spark is not None

    def _set_group(self, sid: int | None) -> None:
        sc = self.spark.sparkContext
        if sid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"{GROUP_PREFIX}{sid}", self.spans[sid].name)

    @contextmanager
    def span(self, name: str):
        if self.spark is None:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(sid, name, parent, time.monotonic()))
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield
        finally:
            self.spans[sid].end = time.monotonic()
            self._stack.pop()
            self._set_group(parent)

    # -- status-store join -------------------------------------------------

    def collect(self) -> None:
        """Attach jobs, stage metrics and Python time to every span. The
        status-store objects come over as JSON (Spark's own Jackson), one
        py4j call per list instead of one per field."""
        if self.spark is None or not self.spans:
            return
        t0 = time.monotonic()
        spark = self.spark
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gw = sc._gateway
        scala_module = gw.jvm.java.lang.Class.forName(
            "com.fasterxml.jackson.module.scala.DefaultScalaModule$"
        ).getField("MODULE$").get(None)
        mapper = gw.jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            scala_module
        )

        def as_json(obj):
            return json.loads(mapper.writeValueAsString(obj))

        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        stages = {}
        for st in as_json(store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)):
            if st["status"] == "COMPLETE":
                stages[st["stageId"]] = st  # the last complete attempt

        job_span: dict[int, int] = {}
        for job in as_json(store.jobsList(None)):
            group = job.get("jobGroup") or ""
            if not group.startswith(GROUP_PREFIX):
                continue
            sid = int(group[len(GROUP_PREFIX):])
            span = self.spans[sid]
            span.own_jobs.append(job["jobId"])
            job_span[job["jobId"]] = sid
            for stage_id in job["stageIds"]:
                st = stages.get(stage_id)
                if st is None or stage_id in span.own_stages:
                    continue
                run_q = [0.0, 0.0]
                if st["numTasks"] > 1:
                    summary = as_json(store.taskSummary(stage_id, st["attemptId"], quantiles))
                    if summary:
                        run_q = summary["executorRunTime"]
                span.own_stages[stage_id] = {
                    "cpu_s": st["executorCpuTime"] / 1e9,
                    "shuffle_bytes": st["shuffleReadBytes"] + st["shuffleWriteBytes"],
                    "spill_bytes": st["memoryBytesSpilled"] + st["diskBytesSpilled"],
                    "input_records": st["inputRecords"],
                    "tasks": st["numTasks"],
                    "task_run_med_ms": run_q[0],
                    "task_run_max_ms": run_q[1],
                }

        sql = spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for e in range(execs.size()):
            ex = execs.apply(e)
            sid = next(
                (job_span[int(j)] for j in _JOB_IDS.findall(ex.jobs().toString())
                 if int(j) in job_span),
                None,
            )
            if sid is None:
                continue
            acc_ids = _PYTHON_TIME.findall(ex.metrics().toString())
            if not acc_ids:
                continue
            values = sql.executionMetrics(ex.executionId())
            for acc in acc_ids:
                v = values.get(int(acc))
                if v.isDefined():
                    self.spans[sid].own_python_s += parse_duration_s(v.get())
        self.collect_s = time.monotonic() - t0

    def inclusive(self) -> dict[int, dict]:
        """Per span: wall_s, self_s and the Spark metrics of the span and
        all its descendants."""
        children: dict[int, list[int]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s.sid)
        selfs = self_times(self.spans)
        out: dict[int, dict] = {}
        for s in reversed(self.spans):  # children are created after parents
            stages = dict(s.own_stages)
            jobs = len(s.own_jobs)
            python_s = s.own_python_s
            for c in children.get(s.sid, []):
                stages.update(out[c]["_stages"])
                jobs += out[c]["jobs"]
                python_s += out[c]["python_s"]
            skews = [
                st["task_run_max_ms"] / st["task_run_med_ms"]
                for st in stages.values()
                if st["tasks"] > 1 and st["task_run_med_ms"] > 0
            ]
            out[s.sid] = {
                "_stages": stages,
                "wall_s": s.wall_s,
                "self_s": selfs[s.sid],
                "jobs": jobs,
                "cpu_s": sum(st["cpu_s"] for st in stages.values()),
                "shuffle_mb": sum(st["shuffle_bytes"] for st in stages.values()) / 2**20,
                "spill_mb": sum(st["spill_bytes"] for st in stages.values()) / 2**20,
                "input_records": sum(st["input_records"] for st in stages.values()),
                "task_skew": max(skews, default=1.0),
                "python_s": python_s,
            }
        for v in out.values():
            del v["_stages"]
        return out


OFF = Tracer()
