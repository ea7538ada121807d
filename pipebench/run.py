#!/usr/bin/env python3
"""Benchmark of the dog_data_pipeline_spark engine on fixed query workloads.

    python3 pipebench/run.py --workload video_etl --seed 1 --seconds 16 --trace 0

One run is one fresh process on ``local[nproc]`` against the read-only
test tables (``tables.DEFAULT_SF_DIR``, the sf0.1 set):

1. set-up: start the session, scan every table once, run one pandas UDF;
2. a first pass over the workload's queries in the fresh session;
3. warm passes: ``--seconds`` divided by the workload's nominal warm-pass
   time, rounded, at least two -- a fixed count for a given ``--seconds``;
4. verification, outside every timed span: each query's full-evaluation
   checksum must repeat in every pass, and its last output must match the
   query's DuckDB oracle.

One operation is one execution of one query: ``spec.fn`` followed by a sum
of ``xxhash64`` over every output column.  The last line of stdout is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics, or with ``--trace 1`` the per-layer ones, in which
case the spans are also written to ``pipebench_out/traces/``.

Each run works in its own root under ``pipebench_out/runs/`` (``TMPDIR``,
``SPARK_LOCAL_DIRS``, the warehouse, stream checkpoints, the event log)
and removes it when it ends.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, "pipebench_out")
PACKAGE = "dog_data_pipeline_spark"


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    warm_pass_s: float  # nominal warm-pass time; sets the warm-pass count
    # DuckDB count of the rows each streaming query stages, by query name
    stream_rows_sql: dict[str, str] = field(default_factory=dict)


WORKLOADS = {
    # The reference's three stages over events and the catalog and file
    # tables: many short queries with small writes and no index, so fixed
    # per-query cost (plan building, job scheduling, small files) dominates.
    "video_etl": Workload(
        queries=(
            "flagship_segment_stats",
            "dead_letter_split",
            "csv_catalog_roundtrip",
            "file_copy_pipeline",
            "tracking_pipeline_samples",
        ),
        warm_pass_s=5.5,
    ),
    # The IVF index lifecycle over embeddings -- build, persist, streaming
    # ingest with append, search of the persisted index -- plus one
    # exact-dedup pass over documents.  Eager index builds inside fn
    # dominate.
    "ann_index": Workload(
        queries=(
            "stream_ivf_ingest",
            "exact_dedup_groups",
        ),
        warm_pass_s=10.0,
        stream_rows_sql={
            "stream_ivf_ingest":
                "SELECT count(*) FROM embeddings WHERE vec_id % 5 = 0",
        },
    ),
}


def process_start() -> float:
    """Wall-clock time at which this process started (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def driver_memory() -> str:
    """A driver heap well below the machine's memory (a third, at most 4g)."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, total_kb // 2**20 // 3))}g"


def isolate(run_root: str, trace: bool, data_dir: str | None) -> None:
    """Point every temp, scratch and warehouse path of this process, its
    JVM and its Python workers at ``run_root``.  JVM settings go through
    ``PYSPARK_SUBMIT_ARGS``: they must be there when the JVM launches.

    The test-table directory is pinned too, before ``tables`` is imported:
    ``data_dir`` when given, else the program's built-in sf0.1 default, so
    a ``SPARK_GRAFT_SF_DIR`` left in the shell cannot change the scale."""
    import tempfile

    if data_dir is None:
        os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    else:
        os.environ["SPARK_GRAFT_SF_DIR"] = os.path.abspath(data_dir)

    dirs = {d: os.path.join(run_root, d) for d in ("tmp", "local", "warehouse", "events")}
    for d in dirs.values():
        os.makedirs(d)
    conf = {
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + dirs["events"]
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    os.environ.update(
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=driver_memory(),
        PYSPARK_SUBMIT_ARGS=" ".join(
            f"--conf {k}='{v}'" for k, v in conf.items()) + " pyspark-shell",
        # every JVM, the spark-submit launcher too; without UsePerfData off
        # each JVM writes /tmp/hsperfdata_<user> whatever java.io.tmpdir says
        _JAVA_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    )
    tempfile.tempdir = None  # re-read TMPDIR


def dir_usage(path: str) -> tuple[int, set[str]]:
    """Bytes under ``path`` and the names of its top-level entries."""
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except FileNotFoundError:
                pass
    return total, set(os.listdir(path))


@dataclass
class QueryRun:
    build_s: float
    action_s: float
    checksum: tuple
    fn_start: float  # wall clock, to match streaming triggers to executions
    fn_end: float


@dataclass
class PassRun:
    wall_s: float
    queries: dict[str, QueryRun]
    tmp_left_mb: float
    tmp_dirs_left: int


class Bench:
    """One run of one workload: set-up, passes, verification."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.name = workload
        self.workload = WORKLOADS[workload]
        self.seed = seed
        self.trace = trace
        self.n_passes = 1 + max(2, round(seconds / self.workload.warm_pass_s))
        self.order = list(self.workload.queries)
        random.Random(seed).shuffle(self.order)
        self.passes: list[PassRun] = []
        self.outputs: dict = {}  # last DataFrame per query, for the oracle
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.setup: dict[str, float] = {}
        self.spark = None
        self.progress: list[dict] = []

    # -- phases ------------------------------------------------------------

    def run(self, t_start: float, tmp_dir: str) -> None:
        from pipebench.tracing import Tracer, install_layer_wrappers, make_stream_listener

        self.tracer = tracer = Tracer(self.trace)
        with tracer.span("run", "run", workload=self.name, seed=self.seed):
            from dog_data_pipeline_spark import session, tables

            if self.trace:
                install_layer_wrappers(tracer)
            from dog_data_pipeline_spark.queries import REGISTRY

            self.data = tables.DEFAULT_SF_DIR
            with tracer.span("setup", "setup"):
                t0 = time.time()
                with tracer.span("session.start", "setup"):
                    self.spark = spark = session.get_spark(app_name="pipebench")
                spark.sparkContext.setLogLevel("ERROR")
                tracer.sc = spark.sparkContext
                t1 = time.time()
                with tracer.span("tables.scan", "setup"):
                    for t in tables.TABLE_NAMES:
                        tables.load(spark, self.data, t).count()
                t2 = time.time()
                with tracer.span("pandas_udf", "setup"):
                    _warm_pandas_udf(spark)
            self.setup = {"setup_s": time.time() - t_start,
                          "session.start_s": t1 - t0, "tables.scan_s": t2 - t1}
            if self.workload.stream_rows_sql:
                spark.streams.addListener(make_stream_listener(self.progress))
            for p in range(self.n_passes):
                self._one_pass(p, REGISTRY, tmp_dir)

    def _one_pass(self, index: int, registry, tmp_dir: str) -> None:
        from pipebench.check import checksum

        tracer = self.tracer
        before_bytes, before_entries = dir_usage(tmp_dir)
        results = {}
        with tracer.span(f"pass{index}", "pass", index=index):
            t_pass = time.perf_counter()
            for name in self.order:
                self.attempted += 1
                with tracer.span(name, "query", query=name):
                    try:
                        t0, w0 = time.perf_counter(), time.time()
                        with tracer.span("fn", "fn", query=name):
                            df = registry[name].fn(self.spark, self.data)
                        t1, w1 = time.perf_counter(), time.time()
                        with tracer.span("action", "action", query=name):
                            c = checksum(df)
                        t2 = time.perf_counter()
                    except Exception as e:  # noqa: BLE001 — counted, run goes on
                        self.failed += 1
                        self.errors.append(f"pass {index} {name}: {type(e).__name__}: {e}")
                        continue
                results[name] = QueryRun(t1 - t0, t2 - t1, c, w0, w1)
                self.outputs[name] = df
            wall = time.perf_counter() - t_pass
        after_bytes, after_entries = dir_usage(tmp_dir)
        self.passes.append(PassRun(
            wall, results, (after_bytes - before_bytes) / 2**20,
            len(after_entries - before_entries)))

    def settle_listener(self) -> None:
        """Wait until the asynchronous listener has delivered every
        trigger (no new progress event for half a second)."""
        seen = -1
        while seen != len(self.progress):
            seen = len(self.progress)
            time.sleep(0.5)

    def verify(self) -> list[str]:
        """Checksums repeat across passes; last outputs match the oracle."""
        from pipebench.check import duckdb_con, verify
        from dog_data_pipeline_spark.queries import REGISTRY

        problems = []
        for name in self.order:
            sums = {p.queries[name].checksum for p in self.passes if name in p.queries}
            if len(sums) > 1:
                problems.append(f"{name}: checksum differs across passes: {sorted(map(str, sums))}")
        con = duckdb_con(self.data, os.environ["TMPDIR"])
        try:
            for name in self.order:
                if name not in self.outputs:
                    continue
                oracle = REGISTRY[name].oracle
                if oracle is None:
                    problems.append(f"{name}: has no oracle")
                    continue
                last = next(p.queries[name] for p in reversed(self.passes)
                            if name in p.queries)
                problems += [f"{name}: {m}" for m in verify(
                    self.spark, self.outputs[name], last.checksum, con, oracle)]
            self._check_streams(con)
        finally:
            con.close()
        return problems

    def _check_streams(self, con) -> None:
        """Input rows summed over the triggers of each execution of a
        streaming query must equal the DuckDB count of the rows it stages;
        an execution where they differ counts as a failed operation (its
        output is still checked against the oracle)."""
        self.settle_listener()
        for name, sql in self.workload.stream_rows_sql.items():
            want = con.sql(sql).fetchone()[0]
            for index, p in enumerate(self.passes):
                q = p.queries.get(name)
                if q is None:
                    continue
                got = sum(tr["input_rows"] for tr in self.progress
                          if q.fn_start <= tr["start"] <= q.fn_end)
                if got != want:
                    self.failed += 1
                    self.errors.append(
                        f"pass {index} {name}: the stream's triggers report "
                        f"{got} input rows; DuckDB counts {want} staged rows")

    # -- metrics -----------------------------------------------------------

    def end_to_end(self) -> dict[str, float]:
        warm = self.passes[1:]
        per_query = [statistics.median(
            p.queries[q].build_s + p.queries[q].action_s
            for p in warm if q in p.queries)
            for q in self.order if any(q in p.queries for p in warm)]
        return {
            "setup_s": self.setup["setup_s"],
            "first_pass_s": self.passes[0].wall_s,
            "pass_s": statistics.median(p.wall_s for p in warm),
            "query_geomean_s": math.exp(
                statistics.fmean(math.log(t) for t in per_query)),
        }


def _warm_pandas_udf(spark) -> None:
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def ident(v):
        return v

    spark.range(1000).select(F.sum(ident("id"))).collect()


# ---------------------------------------------------------------------------
# processes
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def jvm_process():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return None if gw is None else getattr(gw, "proc", None)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under it, and wait
    until each has ended."""
    from pyspark import SparkContext

    proc = jvm_process()
    tree = descendants(proc.pid) if proc is not None else []
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0,
                    help="fixes the order of queries within a pass (default 0)")
    ap.add_argument("--seconds", type=int, default=10,
                    help="warm-pass budget; sets the number of warm passes")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=None,
                    help="test-table directory (default: the program's sf0.1 set)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t_start = process_start()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "queries.py")):
        print(f"pipebench: the program ({PACKAGE}/) is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_root = os.path.join(OUT_DIR, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    isolate(run_root, bool(args.trace), args.data)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        bench.run(t_start, os.environ["TMPDIR"])
        if bench.trace:
            jvm = jvm_process().pid
            rss = {pid: vm_hwm_mb(pid) for pid in
                   [os.getpid(), jvm] + descendants(jvm)}
        problems = bench.verify()
        if bench.trace:
            from pipebench.layers import per_layer

            stop_spark(bench.spark)
            bench.spark = None
            metrics, trace_problems = per_layer(
                bench, rss, jvm, os.path.join(run_root, "events"))
            problems += trace_problems
        else:
            metrics = bench.end_to_end()
    finally:
        stop_spark(bench.spark)
        shutil.rmtree(run_root, ignore_errors=True)
    for line in bench.errors + problems:
        print(f"pipebench: {line}", file=sys.stderr)
    print(json.dumps({
        "correct": not problems,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }))
    return 0


def unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
