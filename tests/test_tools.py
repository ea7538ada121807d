"""Smoke tests for the measurement runners ``tools/ab.py`` and
``tools/soak.py``: each runs end to end at sf0.001 and prints one
well-formed JSON object."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import duckdb

from tests.conftest import SF_DIR

TOOLS = Path(__file__).resolve().parents[1] / "tools"


def _run(script: str, *args: str) -> dict:
    proc = subprocess.run([sys.executable, str(TOOLS / script), *args],
                          capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout)


def test_ab_one_round_one_query():
    out = _run("ab.py", "--rounds", "1", "--sf", SF_DIR, "dead_letter_split")
    assert list(out["legs"]) == ["head"]
    assert out["floors"]["head"]["dead_letter_split"] > 0
    assert out["walls"]["head"]["dead_letter_split"] == [
        [out["floors"]["head"]["dead_letter_split"]]]
    assert out["failed"] == {} and out["checksum_differs"] == []


def test_soak_replicates_and_times_two_cpu_legs(tmp_path):
    rep = tmp_path / "rep"
    out = _run("soak.py", "--replicas", "2", "--cpus", "1,2", "--rounds", "1",
               "--repeat", "1", "--sf", SF_DIR, "--out", str(rep),
               "text_quality_profile")
    docs = duckdb.sql(f"SELECT count(*) FROM '{SF_DIR}/documents.parquet'").fetchone()[0]
    assert out["rows"]["documents"] == 2 * docs
    assert "region" not in out["rows"]  # dimensions are linked, not copied
    salted = duckdb.sql(
        f"SELECT count(DISTINCT doc_id), "
        f"count(*) FILTER (WHERE starts_with(text, 'r' || (doc_id // {out['stride']}) || '_')) "
        f"FROM '{rep}/documents.parquet/*.parquet'").fetchone()
    assert salted == (2 * docs, 2 * docs)

    def join_rows(d, glob=""):
        return duckdb.sql(
            f"SELECT count(*) FROM '{d}/orders.parquet{glob}' o "
            f"JOIN '{d}/lineitem.parquet{glob}' l ON o.o_orderkey = l.l_orderkey"
        ).fetchone()[0]

    assert join_rows(rep, "/*.parquet") == 2 * join_rows(SF_DIR)  # joins stay in a replica
    assert set(out["floors"]) == {"c1", "c2"}
    assert all(f["text_quality_profile"] > 0 for f in out["floors"].values())
    assert out["speedup"]["text_quality_profile"] > 0
    assert out["failed"] == {}

    # a kept copy is not reused: a second run into it stops before Spark starts
    again = subprocess.run([sys.executable, str(TOOLS / "soak.py"), "--sf", SF_DIR,
                            "--out", str(rep), "text_quality_profile"],
                           capture_output=True, text=True, timeout=60)
    assert again.returncode == 2 and "is not empty" in again.stderr
