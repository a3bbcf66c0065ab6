"""Traced run: spans around the program's eager public calls, and the fold
of Spark's JSON event log into per-layer metrics.

Spans stay in memory (``Tracer.spans``) and are written out with the
per-layer file when the run ends. Each SQL execution in the event log is
assigned to a layer by, in order:

  1. the table it writes (``TABLE_LAYERS``, matched on a path component);
  2. the innermost span whose interval contains its start;
  3. the table it reads.

Jobs inherit their execution's layer (jobs outside SQL fall back to the
enclosing span), and tasks their job's. A layer's wall time is the union of
its spans and its executions' intervals inside the traced window.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import re
import threading
import time
from dataclasses import asdict, dataclass

from perfbench.stats import clip, median, union_length

# table (a path component of a written or read location) -> layer
TABLE_LAYERS = {
    "corpus": "parse",
    "_parsed_twopass": "parse",
    "logtype_dict": "enrich.dicts",
    "var_dict": "enrich.dicts",
    "routed": "route",
    "var_index": "snapshots.stats",
    "agg_sink_counts": "aggregate",
    "agg_source_stats": "aggregate",
    "agg_by_time": "aggregate",
    "_snapshots": "snapshots.commit",
}

# layer of the span around a whole traced operation: it is the window, not a
# layer, and is left out of the attribution
OUTER = "pipeline"

# the program's eager public calls that run_pipeline makes, wrapped in spans
# during the traced pass: (owner, attribute, layer, name_arg)
PIPELINE_CALLS = (
    ("pipeline", "build_logtype_dict", "enrich.dicts", None),
    ("pipeline", "build_var_dict", "enrich.dicts", None),
    ("pipeline", "enrich", "route", None),
    ("pipeline", "route", "route", None),
    ("snapshots", "collect_file_stats_and_var_index", "snapshots.stats",
     None),
    ("snapshots", "snapshot_pipeline_tables", "snapshots.commit", None),
    # lineage spans are named "begin <stage>" / "commit <stage>"
    ("LineageLog", "begin", "lineage", 1),
    ("LineageLog", "commit", "lineage", 1),
)

# run_pipeline stage (as named in the lineage log) -> layer. Driver-side time
# inside a stage's begin..commit bracket that no span or execution claims
# (file listings, plan building) is booked to the stage's layer.
STAGE_LAYERS = {
    "parse": "parse",
    "dicts": "enrich.dicts",
    "route": "route",
    "aggregate": "aggregate",
    "snapshot": "snapshots.commit",
}


@dataclass
class Span:
    run_id: str
    span_id: int
    parent_id: int | None
    name: str
    layer: str
    start: float
    end: float


class Tracer:
    """In-memory span recorder; the parent of a span is the innermost open
    span on the same thread."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(
                    Span(self.run_id, sid, parent, name, layer, start, end))

    def wrap(self, fn, name: str, layer: str, name_arg: int | None = None):
        """``fn`` recorded as a span; ``name_arg`` appends that positional
        argument to the span name."""
        def traced(*args, **kwargs):
            label = name if name_arg is None else f"{name} {args[name_arg]}"
            with self.span(label, layer):
                return fn(*args, **kwargs)

        return traced


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap ``PIPELINE_CALLS`` in spans for the duration of the block."""
    import clpspark.pipeline
    import clpspark.snapshots
    from clpspark.lineage import LineageLog

    owners = {"pipeline": clpspark.pipeline,
              "snapshots": clpspark.snapshots, "LineageLog": LineageLog}
    saved = []
    try:
        for owner_name, attr, layer, name_arg in PIPELINE_CALLS:
            owner = owners[owner_name]
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, tracer.wrap(orig, attr, layer, name_arg))
        yield tracer
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the part covered by its child spans."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent_id is not None:
            kids.setdefault(s.parent_id, []).append((s.start, s.end))
    return {
        s.span_id: (s.end - s.start)
        - union_length(clip(kids.get(s.span_id, []), s.start, s.end))
        for s in spans
    }


# ---------------------------------------------------------------- event log

def load_event_log(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


_LOCATION = re.compile(r"Location: \w+ \[([^\]]*)\]")


def _written_paths(plan: str) -> list[str]:
    out = []
    for block in re.split(r"\n(?=\(\d+\) )", plan):
        if "InsertIntoHadoopFsRelationCommand" not in block.split("\n", 1)[0]:
            continue
        m = re.search(r"^Arguments: (?:file:)?([^,\s]+)", block, re.M)
        if m:
            out.append(m.group(1))
    return out


def _read_paths(plan: str) -> list[str]:
    return [p.strip() for loc in _LOCATION.findall(plan)
            for p in loc.split(",") if p.strip()]


def table_of(path: str) -> str | None:
    """The innermost path component that names a known table."""
    for comp in reversed(path.rstrip("/").split("/")):
        if comp in TABLE_LAYERS:
            return comp
    return None


def _tables(paths: list[str]) -> list[str]:
    return [t for t in map(table_of, paths) if t is not None]


@dataclass
class Execution:
    id: int
    root_id: int
    start: float
    end: float | None
    description: str
    writes: list[str]
    reads: list[str]
    layer: str | None = None


def stage_brackets(spans: list[Span],
                   lo: float) -> list[tuple[str, float, float]]:
    """(layer, start, end) of each lineage stage: from its ``begin`` (or,
    lacking one, from the previous lineage call or ``lo``) to the end of its
    ``commit``. Two-pass mode commits ``parse`` before any parse work runs,
    so its bracket is only the plan set-up before that commit."""
    out, opened, prev_end = [], {}, lo
    for s in sorted(spans, key=lambda s: s.start):
        if s.layer != "lineage" or " " not in s.name:
            continue
        call, stage = s.name.split(" ", 1)
        if call == "begin":
            opened[stage] = s.start
        elif stage in STAGE_LAYERS:
            out.append((STAGE_LAYERS[stage], opened.pop(stage, prev_end),
                        s.end))
        prev_end = s.end
    return out


def _subtract(interval: tuple[float, float],
              taken: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Pieces of ``interval`` not covered by ``taken``."""
    a, b = interval
    out = []
    for s, e in sorted(taken):
        if e <= a or s >= b:
            continue
        if s > a:
            out.append((a, s))
        a = max(a, e)
    if b > a:
        out.append((a, b))
    return out


def _innermost(spans: list[Span], t: float) -> Span | None:
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


def fold(events: list[dict], spans: list[Span], window: tuple[float, float]):
    """Attribute the executions, jobs and tasks that start inside ``window``
    to layers. Returns (layer -> {intervals, jobs, tasks}, totals over the
    window, the executions inside it)."""
    lo, hi = window
    spans = [s for s in spans if s.layer != OUTER]
    execs: dict[int, Execution] = {}
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for e in events:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerSQLExecutionStart":
            plan = e.get("physicalPlanDescription", "")
            eid = e["executionId"]
            execs[eid] = Execution(
                eid, e.get("rootExecutionId", eid), e["time"] / 1000, None,
                e.get("description", ""), _tables(_written_paths(plan)),
                _tables(_read_paths(plan)))
        elif kind == "SparkListenerSQLExecutionEnd":
            if e["executionId"] in execs:
                execs[e["executionId"]].end = e["time"] / 1000
        elif kind == "SparkListenerJobStart":
            eid = (e.get("Properties") or {}).get("spark.sql.execution.id")
            jobs[e["Job ID"]] = {
                "start": e["Submission Time"] / 1000, "end": None,
                "exec": int(eid) if eid is not None else None,
                "layer": None, "tasks": [],
            }
            for sid in e["Stage IDs"]:
                stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            tasks.append(e)

    inside = [x for x in execs.values() if lo <= x.start <= hi]
    for x in inside:
        root = execs.get(x.root_id)
        writes = x.writes or (root.writes if root is not None else [])
        span = _innermost(spans, x.start)
        if writes:
            x.layer = TABLE_LAYERS[writes[0]]
        elif span is not None:
            x.layer = span.layer
        elif x.reads:
            x.layer = TABLE_LAYERS[x.reads[0]]
    for jid, j in list(jobs.items()):
        if not lo <= j["start"] <= hi:
            del jobs[jid]
            continue
        x = execs.get(j["exec"]) if j["exec"] is not None else None
        if x is not None and x.layer is not None:
            j["layer"] = x.layer
        else:
            span = _innermost(spans, j["start"])
            j["layer"] = span.layer if span is not None else None
    for t in tasks:
        jid = stage_job.get(t["Stage ID"])
        if jid in jobs:
            jobs[jid]["tasks"].append(t)

    layers: dict[str, dict] = {}

    def layer(name: str) -> dict:
        return layers.setdefault(name, {"intervals": [], "jobs": 0,
                                        "tasks": []})

    for s in spans:
        layer(s.layer)["intervals"].append((s.start, s.end))
    for x in inside:
        if x.layer is not None:
            layer(x.layer)["intervals"].append((x.start, x.end or x.start))
    for j in jobs.values():
        if j["layer"] is None:
            continue
        acc = layer(j["layer"])
        acc["jobs"] += 1
        acc["tasks"].extend(j["tasks"])
        if j["exec"] is None and j["end"] is not None:
            acc["intervals"].append((j["start"], j["end"]))
    for acc in layers.values():
        acc["intervals"] = clip(acc["intervals"], lo, hi)
    claimed = [i for acc in layers.values() for i in acc["intervals"]]
    for name, a, b in stage_brackets(spans, lo):
        layer(name)["intervals"].extend(
            _subtract((max(a, lo), min(b, hi)), claimed))
    all_tasks = [t for j in jobs.values() for t in j["tasks"]]
    totals = {
        "jobs": len(jobs),
        "task_retries": sum(
            1 for t in all_tasks
            if t["Task Info"].get("Attempt", 0) > 0
            or t["Task Info"].get("Failed") or t["Task Info"].get("Killed")),
        "covered_s": union_length(
            [i for acc in layers.values() for i in acc["intervals"]]),
    }
    return layers, totals, inside


# ------------------------------------------------------------- task metrics

def _accum(task: dict, name: str) -> float:
    for a in task["Task Info"].get("Accumulables", ()):
        if a.get("Name") == name:
            return float(a.get("Update") or 0)
    return 0.0


def task_cpu_s(task: dict) -> float:
    """JVM executor CPU plus the time the task's Python worker ran (a Python
    UDF's CPU is not in the JVM figure)."""
    m = task.get("Task Metrics") or {}
    return (m.get("Executor CPU Time", 0) / 1e9  # ns
            + _accum(task, "time to run Python workers") / 1e3)  # ms


def _metric(task: dict, *keys: str) -> float:
    v = task.get("Task Metrics") or {}
    for k in keys:
        v = v.get(k, 0) if isinstance(v, dict) else 0
    return float(v or 0)


def task_skew(tasks: list[dict]) -> float:
    """max / median task run time within the stage holding the most task
    time (1.0 when there is nothing to compare)."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["Stage ID"], []).append(
            _metric(t, "Executor Run Time"))
    if not by_stage:
        return 1.0
    runs = max(by_stage.values(), key=sum)
    mid = median(runs)
    return max(runs) / mid if mid > 0 else 1.0


def layer_metrics(layers: dict[str, dict]) -> dict[str, float]:
    """Flat ``<layer>.<metric>`` dict of the layer folds."""
    out: dict[str, float] = {}
    for name, acc in layers.items():
        ts = acc["tasks"]
        out[f"{name}.wall_s"] = union_length(acc["intervals"])
        out[f"{name}.cpu_s"] = sum(map(task_cpu_s, ts))
        out[f"{name}.jobs"] = acc["jobs"]
        out[f"{name}.rows_out"] = sum(
            _metric(t, "Output Metrics", "Records Written") for t in ts)
        out[f"{name}.bytes_out"] = sum(
            _metric(t, "Output Metrics", "Bytes Written") for t in ts)
        out[f"{name}.rows_read"] = sum(
            _metric(t, "Input Metrics", "Records Read") for t in ts)
        out[f"{name}.bytes_read"] = sum(
            _metric(t, "Input Metrics", "Bytes Read") for t in ts)
        out[f"{name}.shuffle_write_bytes"] = sum(
            _metric(t, "Shuffle Write Metrics", "Shuffle Bytes Written")
            for t in ts)
        out[f"{name}.fetch_wait_s"] = sum(
            _metric(t, "Shuffle Read Metrics", "Fetch Wait Time")
            for t in ts) / 1000
        out[f"{name}.spill_bytes"] = sum(
            _metric(t, "Disk Bytes Spilled") for t in ts)
        out[f"{name}.task_skew"] = task_skew(ts)
    return out


def write_report(path: str, tracer: Tracer, window: tuple[float, float],
                 metrics: dict, executions: list[Execution]) -> None:
    """The machine-readable per-layer file of one traced run."""
    self_s = self_times(tracer.spans)
    doc = {
        "run_id": tracer.run_id,
        "window": list(window),
        "metrics": metrics,
        "spans": [dict(asdict(s), self_s=self_s[s.span_id])
                  for s in sorted(tracer.spans, key=lambda s: s.start)],
        "executions": [asdict(x) for x in executions],
    }
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
