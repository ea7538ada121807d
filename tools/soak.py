"""Scale soak: time registry queries on a replicated copy of the test
tables at two or more CPU counts.

    python tools/soak.py [--sf DIR] [--replicas 32] [--cpus 8,32]
                         [--rounds 2] [--repeat 2] [--out DIR] NAME ...

At sf0.1 most queries run in under a second, so the suite measures fixed
cost; a replicated corpus shows whether a query's work scales with cores.
First one fresh process writes every table of ``--sf`` to ``--out`` (a
new or empty directory, kept afterwards; without it a temporary directory,
removed at the end):

- every table but the 5- and 25-row dimensions ``region`` and ``nation``
  holds ``--replicas`` copies; replica ``r`` adds ``r * stride`` to every
  key column, so joins stay within a replica and grow linearly, not
  quadratically;
- every token of ``documents.text`` carries its replica as an ``r{r}_``
  salt, so replicas share no shingles and text dedup finds the same
  families in each replica instead of one family holding every copy;
- the dimensions are linked unchanged.

Then each round runs one fresh process per CPU count (leg order alternates
each round), timing each query ``--repeat`` times as ``REGISTRY[name].fn``
followed by a write to Spark's ``noop`` sink.  Prints one JSON object to
stdout: rows per replicated table, per-leg floors and walls, and per query
the speedup of the fewest-CPU floor over the most-CPU floor.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from ab import ROOT, interleave  # noqa: E402

# the key columns each replica offsets; region and nation are dimensions
# every replica shares, so their keys (and the columns naming them) stay
KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def salted_text(col, rep):
    """``col`` with every whitespace token prefixed ``r{rep}_``."""
    from pyspark.sql import functions as F

    return F.concat_ws(" ", F.transform(
        F.split(F.trim(col), r"\s+"),
        lambda t: F.concat(F.lit("r"), rep.cast("string"), F.lit("_"), t)))


def _replicate(spec: dict) -> dict:
    """Write the replicated tables; return their row counts."""
    sys.path.insert(0, ROOT)
    from pyspark.sql import functions as F

    from dog_data_pipeline_spark.session import get_spark
    from dog_data_pipeline_spark.tables import load

    spark = get_spark(app_name="soak-replicate")
    spark.sparkContext.setLogLevel("ERROR")
    sf, out, tables = spec["sf"], spec["out"], spec["tables"]
    frames = {t: load(spark, sf, t) for t in tables}
    max_key = max((v or 0 for t in tables
                   for v in frames[t].agg(*(F.max(c) for c in KEYS[t])).first()),
                  default=0)
    stride = 10 ** max(6, len(str(max_key)))
    reps = spark.range(spec["replicas"]).select(F.col("id").alias("__rep"))
    rows = {}
    for t, df in frames.items():
        big = df.crossJoin(reps).withColumns(
            {c: F.col(c) + F.col("__rep") * stride for c in KEYS[t]})
        if t == "documents":
            big = big.withColumn("text", salted_text(F.col("text"), F.col("__rep")))
            big = big.withColumn("n_chars", F.length("text").cast("long"))
        path = os.path.join(out, f"{t}.parquet")
        big.drop("__rep").repartition(spec["files"]).write.parquet(path)
        rows[t] = spark.read.parquet(path).count()
    spark.stop()
    return {"rows": rows, "stride": stride}


def main() -> None:
    if sys.argv[1:2] == ["--replicate"]:
        print(json.dumps(_replicate(json.loads(sys.argv[2]))))
        return
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="+", help="registry query names")
    ap.add_argument("--sf", help="table dir (default: the package's DEFAULT_SF_DIR)")
    ap.add_argument("--replicas", type=int, default=32)
    ap.add_argument("--cpus", default="8,32", help="comma-separated CPU legs")
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument("--out", help="a new or empty directory to write and keep "
                                  "the replicated tables in")
    args = ap.parse_args()
    cpus = sorted({int(c) for c in args.cpus.split(",")})
    if len(cpus) < 2:
        ap.error("--cpus needs at least two distinct CPU counts")
    if args.out and os.path.isdir(args.out) and os.listdir(args.out):
        ap.error(f"--out {args.out} is not empty")
    sys.path.insert(0, ROOT)
    from dog_data_pipeline_spark.tables import DEFAULT_SF_DIR

    sf = os.path.abspath(args.sf or DEFAULT_SF_DIR)
    present = sorted(f[: -len(".parquet")] for f in os.listdir(sf) if f.endswith(".parquet"))
    tables = [t for t in present if t in KEYS]
    out = os.path.abspath(args.out) if args.out else tempfile.mkdtemp(prefix="soak_")
    try:
        os.makedirs(out, exist_ok=True)
        for t in present:
            if t not in tables:
                os.symlink(os.path.join(sf, f"{t}.parquet"), os.path.join(out, f"{t}.parquet"))
        spec = dict(sf=sf, out=out, tables=tables, replicas=args.replicas, files=max(cpus))
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--replicate", json.dumps(spec)],
            env=dict(os.environ, SPARK_GRAFT_CPUS=str(max(cpus))),
            cwd=tempfile.gettempdir(), capture_output=True, text=True)
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:] + "\n")
            sys.exit("replication failed")
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        legs = [(f"c{n}", ROOT, n) for n in cpus]
        result.update(interleave(legs, args.names, out, args.rounds, args.repeat,
                                 sink="noop"))
        result.update(sf=sf, replicas=args.replicas, out=out if args.out else None)
    finally:
        if not args.out:
            shutil.rmtree(out, ignore_errors=True)
    lo, hi = result["floors"][f"c{cpus[0]}"], result["floors"][f"c{cpus[-1]}"]
    result["speedup"] = {n: round(lo[n] / hi[n], 2) for n in args.names
                         if lo.get(n) and hi.get(n)}
    print(json.dumps(result, indent=1))


if __name__ == "__main__":
    main()
