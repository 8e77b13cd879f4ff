"""Spans around calls into each layer, the Spark event-log parser that
attaches job, stage, task and SQL metrics to them.

A span is recorded only in a traced run. While a span is open its id is
the Spark job group, so every job it starts carries
``spark.jobGroup.id = <span id>`` in the event log; after ``spark.stop()``
``parse_event_log`` reads the log back and ``attach`` sums each span's
jobs, stages and tasks.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

#: SQL metric names of the Python-evaluation nodes (MapInPandas,
#: MapInArrow, ArrowEvalPython, FlatMapGroupsInPandas, ...)
PY_METRICS = {
    "data sent to Python workers": "arrow_to_python_bytes",
    "data returned from Python workers": "arrow_from_python_bytes",
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
}


@dataclass
class Span:
    id: str
    name: str
    layer: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; a disabled tracer records nothing and
    never touches the job group, so untraced runs pay no cost."""

    def __init__(self, spark=None, enabled: bool = False) -> None:
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=f"s{len(self.spans)}", name=name, layer=layer,
            parent=parent.id if parent else None, start=time.time(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sp: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if sp is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(sp.id, f"{sp.layer}: {sp.name}")

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.id]

    def subtree(self, sp: Span) -> list[str]:
        """Ids of ``sp`` and every span below it."""
        ids, todo = [], [sp]
        while todo:
            cur = todo.pop()
            ids.append(cur.id)
            todo += self.children(cur)
        return ids


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, hi = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= hi:
            continue
        total += b - max(a, hi)
        hi = b
    return total


# --- event log --------------------------------------------------------------


@dataclass
class Stage:
    tasks: int = 0
    failed: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    sched_ms: float = 0.0
    task_wall_ms: float = 0.0
    shuffle_write_bytes: float = 0.0
    fetch_wait_ms: float = 0.0
    spill_bytes: float = 0.0
    sql: dict = field(default_factory=lambda: defaultdict(float))


@dataclass
class Log:
    jobs: dict = field(default_factory=dict)  # id -> dict(group, exec, start, end, stages)
    stages: dict = field(default_factory=dict)  # id -> Stage (completed only)
    execs: dict = field(default_factory=dict)  # id -> dict(group, start, end, desc)
    metric_defs: dict = field(default_factory=dict)  # accumulator id -> (node, name, type)
    # Python node (its output-row counter id) -> row counter feeding it
    py_inputs: dict = field(default_factory=dict)
    driver_accums: dict = field(default_factory=dict)  # exec id -> {accumulator id: value}


def _is_python(node: str) -> bool:
    return "Pandas" in node or "Arrow" in node or "Python" in node


def _rows_id(info: dict, names=("number of output rows",)) -> int | None:
    """Accumulator id of the nearest node at or below ``info`` that
    counts the rows it passes up (Project and friends count nothing; an
    exchange counts the records its readers read)."""
    for m in info.get("metrics", []):
        if m["name"] in names:
            return m["accumulatorId"]
    kids = info.get("children", [])
    return _rows_id(kids[0], names) if len(kids) == 1 else None


def _walk_plan(info: dict, log: "Log") -> None:
    node = info.get("nodeName", "")
    for m in info.get("metrics", []):
        log.metric_defs[m["accumulatorId"]] = (node, m["name"], m.get("metricType", "sum"))
    kids = info.get("children", [])
    if _is_python(node) and len(kids) == 1:
        out_id = _rows_id(info)
        in_id = _rows_id(kids[0], ("number of output rows", "records read"))
        if out_id is not None and in_id is not None:
            log.py_inputs[out_id] = in_id
    for c in kids:
        _walk_plan(c, log)


def _event_files(log_dir: str, app_id: str) -> list[str]:
    """Spark 4 writes a rolling ``eventlog_v2_<app>/events_<n>_<app>``
    directory per application, with ``<n>`` counting from 1."""
    files = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    return sorted(files, key=lambda f: int(os.path.basename(f).split("_")[1]))


def parse_event_log(log_dir: str, app_id: str) -> Log:
    """Read one application's event log. Each SparkContext numbers its
    jobs, stages and SQL executions from 0, so logs of several
    applications are parsed separately."""
    log = Log()
    for path in _event_files(log_dir, app_id):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                _apply(log, json.loads(line))
    return log


def _apply(log: Log, e: dict) -> None:
    kind = e["Event"]
    if kind == "SparkListenerJobStart":
        props = e.get("Properties") or {}
        exec_id = props.get("spark.sql.execution.id")
        log.jobs[e["Job ID"]] = {
            "group": props.get("spark.jobGroup.id"),
            "exec": int(exec_id) if exec_id is not None else None,
            "start": e["Submission Time"] / 1000.0,
            "end": None,
            "stages": list(e["Stage IDs"]),
        }
    elif kind == "SparkListenerJobEnd":
        if e["Job ID"] in log.jobs:
            log.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
    elif kind == "SparkListenerTaskEnd":
        st = log.stages.setdefault(e["Stage ID"], Stage())
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        st.tasks += 1
        st.failed += bool(info.get("Failed"))
        wall = info["Finish Time"] - info["Launch Time"]
        run = m.get("Executor Run Time", 0)
        st.run_ms += run
        st.task_wall_ms += wall
        st.cpu_ns += m.get("Executor CPU Time", 0)
        st.gc_ms += m.get("JVM GC Time", 0)
        # the Spark UI's scheduler delay: task wall time not spent
        # deserializing, running, serializing or fetching the result
        st.sched_ms += max(
            0,
            wall - run - m.get("Executor Deserialize Time", 0)
            - m.get("Result Serialization Time", 0)
            - info.get("Getting Result Time", 0),
        )
        sw = m.get("Shuffle Write Metrics") or {}
        st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
        st.fetch_wait_ms += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
        st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        for acc in info.get("Accumulables", []):
            if acc.get("Metadata") == "sql":
                try:
                    st.sql[acc["ID"]] += float(acc["Update"])
                except (TypeError, ValueError):
                    pass
    elif kind.endswith("SQLExecutionStart"):
        log.execs[e["executionId"]] = {
            "group": e.get("jobGroupId"), "start": e["time"] / 1000.0,
            "end": None, "desc": e.get("description", ""),
        }
        _walk_plan(e.get("sparkPlanInfo") or {}, log)
    elif kind.endswith("SQLAdaptiveExecutionUpdate"):
        _walk_plan(e.get("sparkPlanInfo") or {}, log)
    elif kind.endswith("SQLDriverAccumUpdates") or kind.endswith("DriverAccumUpdates"):
        acc = log.driver_accums.setdefault(e["executionId"], {})
        for acc_id, v in e.get("accumUpdates", []):
            acc[acc_id] = acc.get(acc_id, 0) + v
    elif kind.endswith("SQLExecutionEnd"):
        if e["executionId"] in log.execs:
            log.execs[e["executionId"]]["end"] = e["time"] / 1000.0


def _sql_totals(log: Log, stages: list[Stage]) -> dict:
    """Sum SQL task metrics over ``stages`` into named totals: the Python
    node metrics, the rows into and out of Python nodes, and the scan
    time."""
    out: dict[str, float] = defaultdict(float)
    # AQE re-plans the query under new node ids; count the inputs of the
    # Python nodes that actually ran
    ran = {acc_id for st in stages for acc_id in st.sql}
    rows_in = {i for o, i in log.py_inputs.items() if o in ran}
    for st in stages:
        for acc_id, v in st.sql.items():
            node, name, mtype = log.metric_defs.get(acc_id, ("", "", "sum"))
            if acc_id in rows_in:
                out["python_rows_in"] += v
            if name in PY_METRICS:
                out[PY_METRICS[name]] += v
            elif name == "number of output rows" and _is_python(node):
                out["python_rows_out"] += v
            elif name == "scan time":
                out["scan_ms"] += v / 1e6 if mtype == "nsTiming" else v
    return out


@dataclass
class SpanStats:
    """What the event log says about one span's Spark work."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_failures: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    scheduler_delay_s: float = 0.0
    task_wall_s: float = 0.0
    shuffle_write_bytes: float = 0.0
    shuffle_fetch_wait_s: float = 0.0
    spill_bytes: float = 0.0
    bytes_read: float = 0.0  # scan nodes' "size of files read"
    job_wall_s: float = 0.0  # union of the span's job intervals
    plan_s: float = 0.0  # SQL execution start -> its first job
    exec_walls: list = field(default_factory=list)  # SQL executions, in start order
    sql: dict = field(default_factory=dict)


def attach(log: Log, span_ids) -> SpanStats:
    """Sum the jobs, completed stages and tasks tagged with any of
    ``span_ids``."""
    ids = set(span_ids)
    out = SpanStats()
    jobs = {j: v for j, v in log.jobs.items() if v["group"] in ids}
    stages = []
    for v in jobs.values():
        stages += [log.stages[s] for s in v["stages"] if s in log.stages]
    out.jobs, out.stages = len(jobs), len(stages)
    for st in stages:
        out.tasks += st.tasks
        out.task_failures += st.failed
        out.executor_run_s += st.run_ms / 1e3
        out.executor_cpu_s += st.cpu_ns / 1e9
        out.gc_s += st.gc_ms / 1e3
        out.scheduler_delay_s += st.sched_ms / 1e3
        out.task_wall_s += st.task_wall_ms / 1e3
        out.shuffle_write_bytes += st.shuffle_write_bytes
        out.shuffle_fetch_wait_s += st.fetch_wait_ms / 1e3
        out.spill_bytes += st.spill_bytes
    out.job_wall_s = covered(
        [(v["start"], v["end"]) for v in jobs.values() if v["end"] is not None]
    )
    first_job: dict[int, float] = {}
    for v in jobs.values():
        if v["exec"] is not None:
            first_job[v["exec"]] = min(first_job.get(v["exec"], v["start"]), v["start"])
    out.plan_s = sum(
        max(0.0, first_job[x] - log.execs[x]["start"])
        for x in first_job if x in log.execs
    )
    out.bytes_read = sum(
        v
        for x, accs in log.driver_accums.items()
        if x in log.execs and log.execs[x]["group"] in ids
        for acc_id, v in accs.items()
        if log.metric_defs.get(acc_id, ("", "", ""))[1] == "size of files read"
    )
    out.exec_walls = [
        x["end"] - x["start"]
        for x in sorted(log.execs.values(), key=lambda x: x["start"])
        if x["group"] in ids and x["end"] is not None
    ]
    out.sql = dict(_sql_totals(log, stages))
    return out


def split_wall(wall_s: float, st: SpanStats, python_parts: dict[str, float]) -> dict[str, float]:
    """Split one span's wall time into layer self times.

    Driver time is the part of the span no Spark job covers (planning,
    AQE re-planning between jobs, Py4J and result handling). The part
    jobs cover is shared out in proportion to task time:

    - task wall time outside executor run time: scheduler delay and
      task (de)serialization -> ``spark.scheduler``;
    - inside run time: scan time -> ``sources``, shuffle fetch wait ->
      ``spark.shuffle``, Python worker start and init -> ``python.init``,
      Python run time -> the kernel layers in ``python_parts`` (kernel
      seconds measured outside Spark) and the rest -> ``python.other``
      (Arrow transfer and worker overhead), remainder ->
      ``spark.jvm_operators``.

    The JVM reports the Python times per task and per Python node; they
    can overlap each other and the scan, so they are scaled down to fit
    the run time that scan and fetch wait leave.
    """
    exec_wall = min(st.job_wall_s, wall_s)
    sql = st.sql
    run = st.executor_run_s
    scan = min(sql.get("scan_ms", 0.0) / 1e3, run)
    fetch = min(st.shuffle_fetch_wait_s, run - scan)
    py_init = (sql.get("python_start_ms", 0.0) + sql.get("python_init_ms", 0.0)) / 1e3
    py_run = sql.get("python_run_ms", 0.0) / 1e3
    room = run - scan - fetch
    fit = min(1.0, room / (py_init + py_run)) if py_init + py_run > 0 else 0.0
    parts = {
        "spark.scheduler": max(0.0, st.task_wall_s - run),
        "sources": scan,
        "spark.shuffle": fetch,
        "python.init": py_init * fit,
    }
    left = py_run * fit
    for layer, secs in python_parts.items():
        parts[layer] = min(secs, left)
        left -= parts[layer]
    parts["python.other"] = left
    parts["spark.jvm_operators"] = max(0.0, room - (py_init + py_run) * fit)
    busy = sum(parts.values())
    scale = exec_wall / busy if busy > 0 else 0.0
    out = {k: v * scale for k, v in parts.items()}
    out["driver"] = wall_s - exec_wall
    return out
