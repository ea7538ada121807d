#!/usr/bin/env python3
"""Fast self-test of the benchmark on the sf0.001 test tables.

    python3 pipebench/selftest.py

1. Runs every workload with ``--seconds 1`` (one cold pass and two warm
   ones), untraced and traced, and checks that each last line parses,
   counts every operation, reports only the known failed operations and
   carries every metric named in ``BENCHMARK.json``.
2. Checks the traced runs' span files: the spans nest as
   run -> pass -> query -> {fn, action}, every child lies within its
   parent, and every Spark job and streaming trigger was attributed.
3. Checks that the output check rejects three corrupted results of one
   query (a row dropped, a value changed, a column's type changed) and
   accepts the uncorrupted one; and that it tells ``-0.0`` from ``0.0``,
   in the oracle compare and in the checksum that is compared across
   passes.

Exits 0 when every check holds; prints each failure otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from pipebench.run import OUT_DIR, WORKLOADS, Bench, isolate, stop_spark  # noqa: E402
from pipebench.tracing import nesting_problems  # noqa: E402

CORRUPTED_QUERY = "flagship_segment_stats"
# Operations that fail in every pass because of a known program fault:
# stream_ivf_ingest's sink evaluates each micro-batch twice, so its
# triggers report twice the rows it stages.
FAILED_PER_PASS = {"ann_index": 1}


def data_dir() -> str:
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)  # the program's own default
    from dog_data_pipeline_spark.tables import DEFAULT_SF_DIR

    return os.path.join(os.path.dirname(DEFAULT_SF_DIR.rstrip("/")), "sf0.001")


def run_workload(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "0", "--seconds", "1", "--trace", str(trace),
           "--data", data_dir()]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    tag = f"{workload} trace={trace}"
    if proc.returncode != 0:
        return [f"{tag}: exit {proc.returncode}: {proc.stderr[-2000:]}"]
    try:
        result = json.loads(proc.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError) as e:
        return [f"{tag}: last line is not JSON: {e}"]
    problems = []
    passes = Bench(workload, 0, 1, bool(trace)).n_passes
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"{tag}: keys {sorted(result)}")
    if (result.get("correct") is not True
            or result.get("failed") != passes * FAILED_PER_PASS.get(workload, 0)):
        problems.append(f"{tag}: correct={result.get('correct')} failed="
                        f"{result.get('failed')}: {proc.stderr[-2000:]}")
    if result.get("attempted") != passes * len(WORKLOADS[workload].queries):
        problems.append(f"{tag}: attempted={result.get('attempted')}")
    want = spec["per_layer" if trace else "end_to_end"]
    got = result.get("metrics", {})
    for m in want:
        v = got.get(m["name"])
        if v is None or v.get("unit") != m["unit"] or not isinstance(
                v.get("value"), (int, float)):
            problems.append(f"{tag}: metric {m['name']} missing or malformed: {v}")
    extra = set(got) - {m["name"] for m in want}
    if extra:
        problems.append(f"{tag}: metrics not in BENCHMARK.json: {sorted(extra)}")
    if trace:
        problems += [f"{tag}: {p}" for p in trace_problems(workload)]
    return problems


def trace_problems(workload: str) -> list[str]:
    with open(os.path.join(OUT_DIR, "traces", f"{workload}-s0.json")) as fh:
        spans = json.load(fh)["spans"]
    problems = nesting_problems(spans)
    parent_kind = {"pass": "run", "query": "pass", "fn": "query",
                   "action": "query", "trigger": "fn"}
    for s in spans:
        want = parent_kind.get(s["kind"])
        if want and spans[s["parent"]]["kind"] != want:
            problems.append(f"span {s['id']} {s['kind']} under "
                            f"{spans[s['parent']]['kind']}, not {want}")
    kinds = {s["kind"] for s in spans}
    for k in ("run", "pass", "query", "fn", "action", "job", "call"):
        if k not in kinds:
            problems.append(f"no {k} span recorded")
    if WORKLOADS[workload].stream_rows_sql and "trigger" not in kinds:
        problems.append("no streaming trigger recorded")
    return problems


def corruption_problems() -> list[str]:
    """The output check must reject each corrupted result."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from dog_data_pipeline_spark.queries import REGISTRY
    from dog_data_pipeline_spark.session import get_spark
    from pipebench.check import checksum, duckdb_con, verify

    run_root = os.path.join(OUT_DIR, "runs", f"selftest-{os.getpid()}")
    data = data_dir()
    isolate(run_root, trace=False, data_dir=data)
    spark = None
    problems = []
    try:
        spark = get_spark(app_name="pipebench-selftest")
        spark.sparkContext.setLogLevel("ERROR")
        spec = REGISTRY[CORRUPTED_QUERY]
        df = spec.fn(spark, data)
        rows = df.collect()
        if len(rows) < 2:
            return [f"{CORRUPTED_QUERY} has {len(rows)} rows at sf0.001; need 2"]
        num = next(f.name for f in df.schema.fields
                   if isinstance(f.dataType, (T.LongType, T.IntegerType, T.DoubleType)))
        changed = [r.asDict() for r in rows]
        changed[0][num] = (changed[0][num] or 0) + 1
        zero_sql = "SELECT * FROM (VALUES (1, 0.0::DOUBLE), (2, 1.5::DOUBLE)) t(k, x)"
        zero = spark.createDataFrame([(1, 0.0), (2, 1.5)], "k int, x double")
        neg_zero = spark.createDataFrame([(1, -0.0), (2, 1.5)], "k int, x double")
        # case: (result, oracle, whether the check must accept it)
        cases = {
            "uncorrupted": (df, spec.oracle, True),
            "row dropped": (spark.createDataFrame(rows[1:], df.schema), spec.oracle, False),
            "value changed": (spark.createDataFrame(changed, df.schema), spec.oracle, False),
            "type changed": (df.withColumn(num, F.col(num).cast("string")), spec.oracle, False),
            "zero kept": (zero, zero_sql, True),
            "zero sign flipped": (neg_zero, zero_sql, False),
        }
        con = duckdb_con(data, os.environ["TMPDIR"])
        try:
            for case, (cdf, sql, good) in cases.items():
                found = verify(spark, cdf, checksum(cdf), con, sql)
                if good and found:
                    problems.append(f"{case}: rejected: {found}")
                elif not good and not found:
                    problems.append(f"{case}: not reported")
                else:
                    print(f"selftest: {case}: {'accepted' if not found else found[0][:120]}")
        finally:
            con.close()
        if checksum(zero) == checksum(neg_zero):
            problems.append("checksum does not tell -0.0 from 0.0")
    finally:
        stop_spark(spark)
        shutil.rmtree(run_root, ignore_errors=True)
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for workload in WORKLOADS:
        for trace in (0, 1):
            found = run_workload(workload, trace, spec)
            print(f"selftest: {workload} trace={trace}: "
                  f"{'ok' if not found else 'FAILED'}", flush=True)
            problems += found
    problems += corruption_problems()
    for p in problems:
        print(f"selftest: FAIL {p}")
    print(f"selftest: {'ok' if not problems else f'{len(problems)} failures'}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
