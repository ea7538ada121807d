"""Per-layer metrics of a traced run.

Layers are named after the program's modules, plus ``spark`` for the engine
under them.  Counts and times are per warm pass (the median over warm
passes) unless the name says ``first``; set-up and memory figures are per
run, and ``tmp.*`` is the median over all passes.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from pipebench.run import OUT_DIR, WORKLOADS
from pipebench.tracing import (
    ancestors,
    attach_jobs,
    nesting_problems,
    read_event_log,
    self_times,
)

# The layer modules the workloads call; each gets self_s, calls, jobs.
LAYERS = (
    "operators.dead_letter",
    "operators.dedup",
    "operators.relational",
    "operators.similarity",
    "operators.text",
    "operators.windows",
    "pipelines.tracking",
    "sources.catalog",
    "sources.copy",
    "sources.files",
    "sources.warehouse",
    "streaming.ann_ingest",
)

SPARK = ("jobs", "stages", "tasks", "single_task_stages", "task_run_s",
         "task_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb")


def metric_names() -> list[str]:
    names = ["session.start_s", "tables.scan_s", "queries.build_s",
             "queries.action_s", "queries.first_build_s",
             "queries.first_action_s", "trace.pass_s"]
    names += sorted({f"query.{q}_s" for w in WORKLOADS.values() for q in w.queries})
    names += [f"spark.{m}" for m in SPARK] + ["spark.core_busy_ratio"]
    names += [f"{layer}.{m}" for layer in LAYERS for m in ("self_s", "calls", "jobs")]
    names += ["streaming.batches", "streaming.trigger_s", "streaming.input_rows",
              "streaming.state_rows", "tmp.left_mb", "tmp.dirs_left",
              "rss.peak_mb", "rss.jvm_mb", "rss.python_mb"]
    return names


def per_layer(bench, rss: dict[int, float], jvm: int, event_dir: str):
    """Attach jobs and triggers to the spans, check them, and reduce them
    to the per-layer metrics.  Writes the trace file."""
    tracer = bench.tracer
    problems = attach_jobs(tracer, read_event_log(event_dir), bench.progress)
    spans = tracer.spans
    problems += nesting_problems(spans)
    selfs = self_times(spans)
    pass_of = {}
    for s in spans:
        p = next((a for a in ancestors(spans, s["id"]) if a["kind"] == "pass"), None)
        if p is not None:
            pass_of[s["id"]] = p["index"]

    warm = range(1, len(bench.passes))
    totals = [defaultdict(float) for _ in bench.passes]
    for s in spans:
        p = pass_of.get(s["id"])
        if p is None:
            continue
        t = totals[p]
        if s["kind"] == "job":
            for m in SPARK[1:]:
                t[f"spark.{m}"] += s[m]
            t["spark.jobs"] += 1
            owner = next((a for a in ancestors(spans, s["parent"])
                          if a["kind"] == "call"), None)
            if owner is not None:
                t[f"{owner['name']}.jobs"] += 1
        elif s["kind"] == "call":
            t[f"{s['name']}.self_s"] += selfs[s["id"]]
            t[f"{s['name']}.calls"] += 1
        elif s["kind"] == "trigger":
            t["streaming.batches"] += 1
            t["streaming.trigger_s"] += s["end"] - s["start"]
            t["streaming.input_rows"] += s["input_rows"]
            t["streaming.state_rows"] += s["state_rows"]
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    for p, run in enumerate(bench.passes):
        totals[p]["spark.core_busy_ratio"] = (
            totals[p]["spark.task_run_s"] / (run.wall_s * cores))

    def warm_median(f) -> float:
        return statistics.median(f(bench.passes[p], totals[p]) for p in warm)

    first = bench.passes[0]
    metrics = {
        "session.start_s": bench.setup["session.start_s"],
        "tables.scan_s": bench.setup["tables.scan_s"],
        "queries.build_s": warm_median(
            lambda r, t: sum(q.build_s for q in r.queries.values())),
        "queries.action_s": warm_median(
            lambda r, t: sum(q.action_s for q in r.queries.values())),
        "queries.first_build_s": sum(q.build_s for q in first.queries.values()),
        "queries.first_action_s": sum(q.action_s for q in first.queries.values()),
        "trace.pass_s": warm_median(lambda r, t: r.wall_s),
    }
    for name in metric_names():
        if name.startswith("query."):
            q = name[len("query."):-len("_s")]
            metrics[name] = warm_median(
                lambda r, t: r.queries[q].build_s + r.queries[q].action_s
                if q in r.queries else 0.0)
        elif name.startswith("tmp."):
            field = "tmp_left_mb" if name == "tmp.left_mb" else "tmp_dirs_left"
            metrics[name] = statistics.median(getattr(r, field) for r in bench.passes)
        elif name not in metrics and not name.startswith("rss."):
            metrics[name] = warm_median(lambda r, t: t.get(name, 0.0))
    metrics["rss.jvm_mb"] = rss.get(jvm, 0.0)
    metrics["rss.python_mb"] = sum(v for pid, v in rss.items() if pid != jvm)
    metrics["rss.peak_mb"] = sum(rss.values())

    path = os.path.join(OUT_DIR, "traces", f"{bench.name}-s{bench.seed}.json")
    tracer.write(path, metrics)
    return metrics, problems
