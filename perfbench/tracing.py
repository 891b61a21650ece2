"""Per-layer tracing for the benchmark's traced run.

Two sources, both read from outside the engine:

* Spans. `Tracer.install()` rebinds the public functions of each traced
  engine module (`LAYERS`) to a wrapper that records a span: layer name,
  start, end, parent span, and the id of the query execution it belongs to.
  Plan modules bind `load_table`/`pin` and operators with `from ... import`,
  so every module attribute that holds the original function is rebound, not
  only the defining module's. Spans stay in memory; `uninstall()` restores
  the originals.
* Spark's event log (`fold_event_log`): jobs, stages and task metrics per
  query execution, Python-UDF SQL metrics, and structured-streaming progress
  events. Jobs are attributed by the job group the benchmark sets for each
  execution; jobs started on another thread under a group of their own
  (streaming micro-batches) are attributed by submission time, which is
  unambiguous because one client runs one query at a time.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

# layer name -> (module, predicate on the public function name)
LAYERS: dict[str, tuple[str, object]] = {
    "catalog.load_table": ("crz_scraper_spark.catalog", {"load_table"}.__contains__),
    "catalog.pin": ("crz_scraper_spark.catalog", {"pin"}.__contains__),
    "operators.dedup": ("crz_scraper_spark.operators.dedup", None),
    "operators.similarity": ("crz_scraper_spark.operators.similarity", None),
    "operators.textquality": ("crz_scraper_spark.operators.textquality", None),
    "operators.tagging": ("crz_scraper_spark.operators.tagging", None),
    "operators.heavyhitters": ("crz_scraper_spark.operators.heavyhitters", None),
    "operators.upsert": ("crz_scraper_spark.operators.upsert", None),
    "operators.compaction": ("crz_scraper_spark.operators.compaction", None),
    "streaming": ("crz_scraper_spark.streaming.windows", None),
}
SOURCE_MODULES = (
    "crz_scraper_spark.sources.csv",
    "crz_scraper_spark.sources.files",
    "crz_scraper_spark.sources.jsonl",
    "crz_scraper_spark.sources.xml",
)
for _mod in SOURCE_MODULES:
    LAYERS[f"sources.read@{_mod}"] = (_mod, lambda n: n.startswith(("read_", "stream_")))
    LAYERS[f"sources.write@{_mod}"] = (_mod, lambda n: n.startswith("write_"))


def layer_of(span_name: str) -> str:
    """Reported layer of a span name (`sources.read@<module>` -> `sources.read`)."""
    return span_name.split("@", 1)[0]


@dataclass
class Span:
    qid: str
    name: str
    start: float
    end: float = 0.0
    parent: int = -1  # index into Tracer.spans, -1 for a root span


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    qid: str = ""
    _local: threading.local = field(default_factory=threading.local)
    _saved: list[tuple[object, str, object]] = field(default_factory=list)

    def begin(self, name: str) -> int:
        stack = self._stack()
        self.spans.append(Span(self.qid, name, time.time(), parent=stack[-1] if stack else -1))
        stack.append(len(self.spans) - 1)
        return stack[-1]

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        self._stack().pop()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.begin(layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)

        return traced

    def install(self) -> None:
        """Rebind every binding of each traced public function to a wrapper."""
        replace: dict[int, object] = {}
        for layer, (modname, wanted) in LAYERS.items():
            mod = importlib.import_module(modname)
            for name, fn in vars(mod).items():
                if (
                    inspect.isfunction(fn)
                    and fn.__module__ == modname
                    and not name.startswith("_")
                    and not inspect.isgeneratorfunction(fn)
                    and (wanted is None or wanted(name))
                ):
                    replace[id(fn)] = self._wrap(layer, fn)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("crz_scraper_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                wrapper = replace.get(id(value))
                if wrapper is not None:
                    self._saved.append((mod, attr, value))
                    setattr(mod, attr, wrapper)

    def uninstall(self) -> None:
        for mod, attr, value in reversed(self._saved):
            setattr(mod, attr, value)
        self._saved.clear()

    def layer_seconds(self) -> dict[str, dict[str, float]]:
        """qid -> layer -> seconds, counting only the outermost span of a
        layer so a layer function calling its own module is not counted
        twice. Also records `<layer>.self`: span time not covered by the
        span's direct children."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        child_time = defaultdict(float)
        for s in self.spans:
            if s.parent >= 0:
                child_time[s.parent] += s.end - s.start
        for i, s in enumerate(self.spans):
            layer = layer_of(s.name)
            if self._has_ancestor(i, layer):
                continue
            out[s.qid][layer] += s.end - s.start
            out[s.qid][layer + ".self"] += s.end - s.start - child_time[i]
        return out

    def outer_spans(self, layer: str) -> list[Span]:
        return [
            s for i, s in enumerate(self.spans)
            if layer_of(s.name) == layer and not self._has_ancestor(i, layer)
        ]

    def _has_ancestor(self, i: int, layer: str) -> bool:
        p = self.spans[i].parent
        while p >= 0:
            if layer_of(self.spans[p].name) == layer:
                return True
            p = self.spans[p].parent
        return False


# ---------------------------------------------------------------------------
# Event log folding
# ---------------------------------------------------------------------------

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_STREAM_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
_PY_SENT = "data sent to Python workers"
_ROWS = "number of output rows"


@dataclass
class Job:
    job_id: int
    group: str
    submitted: float  # epoch seconds
    stages: set = field(default_factory=set)
    ran_stages: set = field(default_factory=set)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    # job id -> metric -> summed value over the job's tasks
    task_metrics: dict[int, dict[str, float]] = field(default_factory=dict)
    # (progress epoch seconds, trigger ms, state rows)
    stream_progress: list[tuple[float, float, int]] = field(default_factory=list)


def _python_accumulators(plan: dict, sent: set, rows: set) -> None:
    names = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if _PY_SENT in names:
        sent.add(names[_PY_SENT])
        if _ROWS in names:
            rows.add(names[_ROWS])
    for child in plan.get("children", []):
        _python_accumulators(child, sent, rows)


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def fold_event_log(path: str) -> EventLog:
    """Read one uncompressed Spark event log file."""
    log = EventLog()
    stage_job: dict[int, int] = {}
    py_sent: set = set()
    py_rows: set = set()
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(
                    ev["Job ID"],
                    props.get("spark.jobGroup.id") or "",
                    ev["Submission Time"] / 1000.0,
                    set(ev.get("Stage IDs", [])),
                )
                log.jobs[job.job_id] = job
                for sid in job.stages:
                    stage_job.setdefault(sid, job.job_id)
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in stage_job:
                    log.jobs[stage_job[sid]].ran_stages.add(sid)
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
            elif kind in (_SQL_START, _SQL_AQE):
                _python_accumulators(ev.get("sparkPlanInfo", {}), py_sent, py_rows)
            elif kind == _STREAM_PROGRESS:
                p = ev["progress"]
                state = sum(op.get("numRowsTotal", 0) for op in p.get("stateOperators", []))
                trigger = p.get("durationMs", {}).get("triggerExecution", 0)
                log.stream_progress.append((_iso_epoch(p["timestamp"]), trigger / 1000.0, state))
    for ev in tasks:
        job_id = stage_job.get(ev["Stage ID"])
        if job_id is None:
            continue
        m = log.task_metrics.setdefault(job_id, defaultdict(float))
        m["tasks"] += 1
        if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
            m["failed_tasks"] += 1
        tm = ev.get("Task Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        m["task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
        m["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        m["result_bytes"] += tm.get("Result Size", 0)
        m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
        m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            if acc.get("ID") in py_sent:
                m["python_bytes_sent"] += float(acc.get("Update", 0))
            elif acc.get("ID") in py_rows:
                m["python_rows_returned"] += float(acc.get("Update", 0))
    return log


def jobs_by_execution(log: EventLog, windows: dict[str, tuple[float, float]]) -> dict[str, list[Job]]:
    """Assign each job to the query execution (`qid -> (start, end)`) that
    started it: by job group when the group is a known execution id, else by
    submission time."""
    out: dict[str, list[Job]] = defaultdict(list)
    ordered = sorted(windows.items(), key=lambda kv: kv[1][0])
    for job in log.jobs.values():
        if job.group in windows:
            out[job.group].append(job)
            continue
        for qid, (start, end) in ordered:
            if start <= job.submitted <= end:
                out[qid].append(job)
                break
    return out
