"""Per-job profiling for one registry query (optimization round tooling).

Runs the named query in a FRESH JVM with the Spark event log enabled,
evaluates it exactly like bench.py (_checksum), then parses the event
log into a per-job breakdown: job wall, call site, stage task counts,
and the gaps between jobs (driver-side work: sidecar writes, collects,
python planning). The gaps matter as much as the jobs for the
certificate queries whose cost is many small actions.

Usage: python tools/profile_query.py <query> [--sf DIR] [--runs N]
Prints a human table plus one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import sys, time, os, json
sys.path.insert(0, {root!r})
from dog_data_pipeline_spark.queries import REGISTRY
from dog_data_pipeline_spark.session import get_spark
from bench import _checksum
spark = get_spark(app_name="profile-query")
spark.sparkContext.setLogLevel("ERROR")
from dog_data_pipeline_spark.tables import TABLE_NAMES, load
for t in TABLE_NAMES:
    load(spark, {sf!r}, t).count()
import pandas as pd
from pyspark.sql import functions as F
@F.pandas_udf("long")
def _warm(v):
    return v
spark.range(1000).select(_warm("id")).count()
spec = REGISTRY[{name!r}]
results = []
for i in range({runs}):
    t0 = time.time()
    spark.sparkContext.setJobDescription(f"PROFILE-RUN-{{i}}")
    _checksum(spec.fn(spark, {sf!r}))
    spark.sparkContext.setJobDescription(None)
    results.append(round(time.time() - t0, 3))
print("WALLS", json.dumps(results))
print("APPID", spark.sparkContext.applicationId)
spark.stop()
"""


def parse_eventlog(path: str) -> list[dict]:
    jobs = {}
    for ln in open(path):
        try:
            ev = json.loads(ln)
        except ValueError:
            continue
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "job": ev["Job ID"],
                "t0": ev["Submission Time"],
                "desc": props.get("spark.job.description", ""),
                "callsite": props.get("callSite.short", ""),
                "n_stages": len(ev.get("Stage Infos", [])),
                "n_tasks": sum(
                    s.get("Number of Tasks", 0)
                    for s in ev.get("Stage Infos", [])
                ),
            }
        elif e == "SparkListenerJobEnd":
            j = jobs.get(ev["Job ID"])
            if j is not None:
                j["t1"] = ev["Completion Time"]
    out = sorted((j for j in jobs.values() if "t1" in j), key=lambda j: j["t0"])
    return out


def main() -> None:
    argv = sys.argv[1:]
    sf, runs = "/root/testdata/sf0.1", 1
    names = []
    i = 0
    while i < len(argv):
        if argv[i] == "--sf":
            sf = argv[i + 1]
            i += 2
        elif argv[i] == "--runs":
            runs = int(argv[i + 1])
            i += 2
        else:
            names.append(argv[i])
            i += 1
    if len(names) != 1:
        sys.exit("usage: profile_query.py <query> [--sf DIR] [--runs N]")
    name = names[0]
    evdir = tempfile.mkdtemp(prefix="profile_evlog_")
    child = _CHILD.format(root=HERE, sf=sf, name=name, runs=runs)
    # the event log is a launch-time setting: it reaches get_spark's
    # session through spark-submit's arguments
    conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + evdir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    submit = " ".join(f"--conf {k}={v}" for k, v in conf.items())
    proc = subprocess.run(
        [sys.executable, "-c", child], capture_output=True, text=True,
        env=dict(os.environ, PYSPARK_SUBMIT_ARGS=submit + " pyspark-shell"),
    )
    walls, appid = None, None
    for ln in proc.stdout.splitlines():
        if ln.startswith("WALLS "):
            walls = json.loads(ln[6:])
        elif ln.startswith("APPID "):
            appid = ln[6:].strip()
    if walls is None:
        sys.stderr.write(proc.stdout[-3000:] + "\n" + proc.stderr[-5000:] + "\n")
        sys.exit("child failed")
    evpath = os.path.join(evdir, appid)
    if not os.path.exists(evpath):
        # Spark 4 rolling event log: eventlog_v2_<appid>/ or
        # eventlog_v2_<appid> single file
        alt = os.path.join(evdir, f"eventlog_v2_{appid}")
        if os.path.isdir(alt):
            evpath = next(
                os.path.join(alt, f)
                for f in sorted(os.listdir(alt))
                if "events" in f or f.startswith("eventLog")
            )
        else:
            evpath = alt
    jobs = parse_eventlog(evpath)
    shutil.rmtree(evdir, ignore_errors=True)
    # attribute jobs to profile runs via the job description
    per_run: dict[str, list[dict]] = {}
    for j in jobs:
        d = j["desc"]
        if d.startswith("PROFILE-RUN-"):
            per_run.setdefault(d, []).append(j)
    print(f"query={name} walls={walls}")
    for run_key in sorted(per_run):
        js = per_run[run_key]
        total_job = sum(j["t1"] - j["t0"] for j in js) / 1000.0
        span = (js[-1]["t1"] - js[0]["t0"]) / 1000.0
        print(
            f"-- {run_key}: {len(js)} jobs, job-time {total_job:.2f}s, "
            f"span {span:.2f}s (gaps {span - total_job:.2f}s)"
        )
        prev_end = None
        for j in js:
            gap = (j["t0"] - prev_end) / 1000.0 if prev_end else 0.0
            prev_end = j["t1"]
            print(
                f"   job {j['job']:>3} {(j['t1'] - j['t0']) / 1000.0:6.2f}s"
                f" gap_before {gap:5.2f}s tasks {j['n_tasks']:>4}"
                f" stages {j['n_stages']}  {j['callsite'][:80]}"
            )
    print(
        json.dumps(
            {
                "query": name,
                "walls": walls,
                "n_jobs": {k: len(v) for k, v in per_run.items()},
            }
        )
    )


if __name__ == "__main__":
    main()
