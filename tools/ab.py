"""Interleaved fresh-JVM A/B floors of registry queries.

    python tools/ab.py [--base DIR] [--head DIR] [--rounds 3] [--repeat 1]
                       [--sf DIR] (--all | NAME ...)

Each round starts one fresh process per checkout (``--head`` defaults to
this one; ``--base`` is optional).  The process imports that checkout's
package, starts ``session.get_spark`` (sized by ``SPARK_GRAFT_CPUS`` and
``SPARK_GRAFT_DRIVER_MEM`` when set), scans every table once and warms the
pandas-UDF worker pool, then times each query ``--repeat`` times:
``REGISTRY[name].fn`` followed by that checkout's ``bench._checksum``, so
each query is fully evaluated.
Leg order alternates each round, so drift within a round does not always
tax the same checkout.  Single runs on a shared box swing by tens of
percent, so compare floors: the minimum over every round and repeat.

Prints one JSON object to stdout: per checkout each query's floor and
walls, queries that failed, queries whose checksum was not the same in
every run, and with two checkouts the head/base floor ratio per query.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _leg(spec: dict) -> dict:
    """Time ``spec["names"]`` in this process, against ``spec["root"]``'s
    package: ``{name: {"walls": [...], "checksum": str} | {"error": str}}``."""
    sys.path.insert(0, spec["root"])
    from pyspark.sql import functions as F

    from bench import _checksum
    from dog_data_pipeline_spark.queries import REGISTRY
    from dog_data_pipeline_spark.session import get_spark
    from dog_data_pipeline_spark.tables import load

    spark = get_spark(app_name="ab-leg")
    spark.sparkContext.setLogLevel("ERROR")
    sf = spec["sf"]
    for f in sorted(os.listdir(sf)):
        if f.endswith(".parquet"):
            load(spark, sf, f[: -len(".parquet")]).count()

    @F.pandas_udf("long")
    def _warm(v):
        return v

    spark.range(1000).select(_warm("id")).count()

    def evaluate(df):
        if spec["sink"] == "noop":
            df.write.format("noop").mode("overwrite").save()
            return None
        return str(_checksum(df))

    out: dict[str, dict] = {}
    for name in spec["names"]:
        if name not in REGISTRY:
            out[name] = {"error": "not in this checkout's registry"}
            continue
        walls, sums = [], set()
        try:
            for _ in range(spec["repeat"]):
                t0 = time.perf_counter()
                sums.add(evaluate(REGISTRY[name].fn(spark, sf)))
                walls.append(round(time.perf_counter() - t0, 3))
        except Exception:  # one failing query must not end the leg
            out[name] = {"error": traceback.format_exc()[-2000:]}
            continue
        out[name] = {"walls": walls,
                     "checksum": sums.pop() if len(sums) == 1 else "unstable"}
    spark.stop()
    return out


def run_leg(root: str, cpus: int | None, names: list[str], sf: str, repeat: int,
            sink: str = "checksum") -> dict:
    """Run ``_leg`` in a fresh interpreter (hence a fresh JVM); a leg that
    names ``cpus`` sets ``SPARK_GRAFT_CPUS``, otherwise the child inherits
    this environment and ``get_spark``'s default."""
    spec = dict(root=os.path.abspath(root), names=names, sf=os.path.abspath(sf),
                repeat=repeat, sink=sink)
    env = dict(os.environ)
    if cpus is not None:
        env["SPARK_GRAFT_CPUS"] = str(cpus)
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--leg", json.dumps(spec)],
        env=env, cwd=tempfile.gettempdir(), capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:] + "\n")
        raise RuntimeError(f"leg failed: {root}")
    return json.loads(lines[-1])


def interleave(legs: list[tuple[str, str, int | None]], names: list[str], sf: str,
               rounds: int, repeat: int, sink: str = "checksum") -> dict:
    """Run every ``(label, root, cpus)`` leg once per round, reversing the
    leg order every other round; fold the runs into per-leg floors."""
    walls = {label: {} for label, _, _ in legs}
    sums = {label: {} for label, _, _ in legs}
    failed = {label: {} for label, _, _ in legs}
    for rnd in range(rounds):
        for label, root, cpus in legs if rnd % 2 == 0 else legs[::-1]:
            res = run_leg(root, cpus, names, sf, repeat, sink)
            for name, r in res.items():
                if "error" in r:
                    failed[label][name] = r["error"]
                    continue
                walls[label].setdefault(name, []).append(r["walls"])
                sums[label].setdefault(name, set()).add(r["checksum"])
            sys.stderr.write(f"round {rnd} {label}: "
                             f"{ {n: r.get('walls') for n, r in res.items()} }\n")
    floors = {label: {n: min(min(w) for w in ws) for n, ws in per.items()
                      if n not in failed[label]}
              for label, per in walls.items()}
    differs = sorted({n for n in names
                      if len(set().union(*(s.get(n, set()) for s in sums.values()))) > 1
                      or any("unstable" in s.get(n, ()) for s in sums.values())})
    out = {"sf": os.path.abspath(sf), "rounds": rounds, "repeat": repeat,
           "legs": {label: {"root": os.path.abspath(root), "cpus": cpus}
                    for label, root, cpus in legs},
           "floors": floors, "walls": walls,
           "failed": {k: v for k, v in failed.items() if v}}
    if sink == "checksum":
        out["checksum_differs"] = differs
    return out


def main() -> None:
    if sys.argv[1:2] == ["--leg"]:
        print(json.dumps(_leg(json.loads(sys.argv[2]))))
        return
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="registry query names")
    ap.add_argument("--all", action="store_true", help="every registry query")
    ap.add_argument("--base", help="a second checkout to compare against")
    ap.add_argument("--head", default=ROOT, help="checkout under test")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--repeat", type=int, default=1, help="timings per query per leg")
    ap.add_argument("--sf", help="table dir (default: the package's DEFAULT_SF_DIR)")
    args = ap.parse_args()
    sys.path.insert(0, args.head)
    from dog_data_pipeline_spark.queries import REGISTRY
    from dog_data_pipeline_spark.tables import DEFAULT_SF_DIR

    names = list(REGISTRY) if args.all else args.names
    if not names:
        ap.error("name at least one query, or pass --all")
    legs = [("head", args.head, None)]
    if args.base:
        legs.insert(0, ("base", args.base, None))
    out = interleave(legs, names, args.sf or DEFAULT_SF_DIR, args.rounds, args.repeat)
    if args.base:
        f = out["floors"]
        out["ratio"] = {n: round(f["head"][n] / f["base"][n], 3) for n in names
                        if f["head"].get(n) and f["base"].get(n)}
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
