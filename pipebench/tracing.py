"""In-memory spans for the traced run, and the per-layer metrics built from them.

A span is a named interval on the Python wall clock (``time.time()``) with
a parent.  The benchmark nests them as run -> pass -> query -> {fn, action};
calls into the program's layer modules (``operators``, ``pipelines``,
``sources``, ``streaming``) nest below ``fn`` or ``action`` through the
wrappers that :func:`install_layer_wrappers` puts around their public
functions.  Spark jobs (from the event log) and streaming triggers (from a
``StreamingQueryListener``) are added afterwards as children of the span
that was innermost when they ran.

Every span entered on the driver thread also sets the Spark local property
``pipebench.span``, so each job in the event log names the span that
submitted it.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import threading
import time
from collections import defaultdict

PACKAGE = "dog_data_pipeline_spark"
LAYER_PACKAGES = ("operators", "pipelines", "sources", "streaming")
SPAN_PROPERTY = "pipebench.span"


class Tracer:
    """Records spans in memory; :meth:`span` is a no-op when disabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self.sc = None  # SparkContext, once the session exists

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> int | None:
        stack = self._stack()
        if stack:
            return stack[-1]
        # a callback thread (foreachBatch) nests under the main thread's span
        return self._main_stack[-1] if self._main_stack else None

    def add(self, name: str, kind: str, start: float, end: float,
            parent: int | None, **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append(dict(id=sid, name=name, kind=kind, start=start,
                                   end=end, parent=parent, **attrs))
        return sid

    def span(self, name: str, kind: str, **attrs):
        return _Span(self, name, kind, attrs)

    def _set_property(self, value: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                SPAN_PROPERTY, None if value is None else str(value))

    def write(self, path: str, metrics: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"metrics": metrics, "spans": self.spans}, fh)


class _Span:
    __slots__ = ("tracer", "name", "kind", "attrs", "sid")

    def __init__(self, tracer, name, kind, attrs):
        self.tracer, self.name, self.kind, self.attrs = tracer, name, kind, attrs

    def __enter__(self):
        t = self.tracer
        if not t.enabled:
            return self
        self.sid = t.add(self.name, self.kind, time.time(), None, t.current(),
                         **self.attrs)
        t._stack().append(self.sid)
        t._set_property(self.sid)
        return self

    def __exit__(self, *exc):
        t = self.tracer
        if not t.enabled:
            return False
        t.spans[self.sid]["end"] = time.time()
        stack = t._stack()
        stack.pop()
        t._set_property(stack[-1] if stack else None)
        return False


def layer_modules() -> list:
    """Import and return every module of the layer packages."""
    import importlib
    import pkgutil

    mods = []
    for pkg_name in LAYER_PACKAGES:
        pkg = importlib.import_module(f"{PACKAGE}.{pkg_name}")
        for info in pkgutil.iter_modules(pkg.__path__):
            mods.append(importlib.import_module(f"{pkg.__name__}.{info.name}"))
    return mods


def install_layer_wrappers(tracer: Tracer) -> None:
    """Wrap the public functions of every layer module in a span.

    Must run before ``queries`` is imported: that module binds many layer
    functions at import time.  Every already-imported module of the
    package that re-exports or imports a wrapped function gets the wrapper
    too, so calls between layers are seen.
    """
    wrapped: dict[int, object] = {}
    for mod in layer_modules():
        layer = mod.__name__[len(PACKAGE) + 1:]
        for attr, fn in list(vars(mod).items()):
            if (attr.startswith("_") or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__):
                continue
            wrapped[id(fn)] = _wrap(tracer, fn, layer)
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if id(val) in wrapped:
                setattr(mod, attr, wrapped[id(val)])


def _wrap(tracer: Tracer, fn, layer: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(layer, "call", function=fn.__name__):
            return fn(*args, **kwargs)

    return wrapper


# ---------------------------------------------------------------------------
# Spark event log and streaming progress
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs from the Spark event log in ``log_dir``: interval (JVM clock,
    seconds), submitting span, streaming query id and per-job task totals."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    span = props.get(SPAN_PROPERTY)
                    jid = ev["Job ID"]
                    jobs[jid] = dict(
                        job=jid, start=ev["Submission Time"] / 1000.0, end=None,
                        span=None if span is None else int(span),
                        stream=props.get("sql.streaming.queryId"),
                        batch=props.get("streaming.sql.batchId"),
                        stages=0, tasks=0, single_task_stages=0,
                        task_run_s=0.0, task_cpu_s=0.0, gc_s=0.0,
                        shuffle_write_mb=0.0, shuffle_read_mb=0.0, spill_mb=0.0)
                    for st in ev["Stage Infos"]:
                        stage_job.setdefault(st["Stage ID"], jid)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    job = jobs.get(stage_job.get(info["Stage ID"]))
                    if job is not None:
                        job["stages"] += 1
                        job["single_task_stages"] += info["Number of Tasks"] == 1
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["tasks"] += 1
                    job["task_run_s"] += m["Executor Run Time"] / 1e3
                    job["task_cpu_s"] += m["Executor CPU Time"] / 1e9
                    job["gc_s"] += m["JVM GC Time"] / 1e3
                    sw = m["Shuffle Write Metrics"]
                    sr = m["Shuffle Read Metrics"]
                    job["shuffle_write_mb"] += sw["Shuffle Bytes Written"] / 2**20
                    job["shuffle_read_mb"] += (sr["Remote Bytes Read"]
                                               + sr["Local Bytes Read"]) / 2**20
                    job["spill_mb"] += m["Disk Bytes Spilled"] / 2**20
    return [j for j in jobs.values() if j["end"] is not None]


def make_stream_listener(progress: list):
    """A ``StreamingQueryListener`` appending each trigger's progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            dur = p.get("durationMs", {})
            progress.append(dict(
                stream=p["id"], run=p["runId"], batch=p["batchId"],
                start=_iso_seconds(p["timestamp"]),
                duration_s=dur.get("triggerExecution", 0) / 1e3,
                input_rows=p.get("numInputRows", 0),
                state_rows=sum(op.get("numRowsTotal", 0)
                               for op in p.get("stateOperators", []))))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


def _iso_seconds(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def attach_jobs(tracer: Tracer, jobs: list[dict], triggers: list[dict]) -> list[str]:
    """Add job and trigger spans; return attribution problems.

    A trigger becomes a child of the query span whose ``fn`` interval holds
    its start.  A streaming job is attributed to its trigger; any other job
    to the span that submitted it.  Each job's JVM-clock interval must lie
    within the span it is attributed to (1 ms slack for the event log's
    millisecond clock).
    """
    problems = []
    fns = [s for s in tracer.spans if s["kind"] == "fn"]
    by_batch = {}
    for tr in triggers:
        fn = next((s for s in fns if s["start"] <= tr["start"] <= s["end"]), None)
        if fn is None:
            problems.append(f"trigger {tr['stream']}/{tr['batch']} outside every fn span")
            continue
        tr["span"] = tracer.add("trigger", "trigger", tr["start"],
                                tr["start"] + tr["duration_s"], fn["id"],
                                stream=tr["stream"], batch=tr["batch"],
                                input_rows=tr["input_rows"],
                                state_rows=tr["state_rows"])
        by_batch[(tr["stream"], str(tr["batch"]), fn["id"])] = tr["span"]
    for job in jobs:
        target = job["span"]
        if job["stream"] is not None:
            target = next((sid for (st, b, fid), sid in by_batch.items()
                           if st == job["stream"] and b == job["batch"]
                           and _within(job, tracer.spans[fid])), target)
        if target is None:
            continue  # submitted outside every span: verification
        span = tracer.spans[target]
        if not _within(job, span):
            problems.append(
                f"job {job['job']} [{job['start']:.3f}, {job['end']:.3f}] outside "
                f"span {span['name']} [{span['start']:.3f}, {span['end']:.3f}]")
        tracer.add("job", "job", job["start"], job["end"], target,
                   **{k: v for k, v in job.items()
                      if k not in ("start", "end", "span")})
    return problems


def _within(job: dict, span: dict) -> bool:
    return (job["start"] >= span["start"] - 1e-3
            and job["end"] <= span["end"] + 1e-3)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the union of its children's intervals."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted(children[s["id"]]):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def nesting_problems(spans: list[dict]) -> list[str]:
    """Every span must lie within its parent (jobs are checked separately
    against the JVM clock; here they get the same 1 ms slack)."""
    problems = []
    for s in spans:
        if s["end"] is None:
            problems.append(f"span {s['id']} {s['name']} never ended")
            continue
        if s["parent"] is None:
            continue
        p = spans[s["parent"]]
        slack = 1e-3 if s["kind"] in ("job", "trigger") else 0.0
        if s["start"] < p["start"] - slack or s["end"] > p["end"] + slack:
            problems.append(f"span {s['id']} {s['name']} not within parent "
                            f"{p['id']} {p['name']}")
    return problems


def ancestors(spans: list[dict], sid: int):
    while sid is not None:
        yield spans[sid]
        sid = spans[sid]["parent"]
