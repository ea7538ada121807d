"""Process-level behaviour of the session factory and the query temp root,
checked in a fresh interpreter with the engine's environment variables
unset."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from tests.conftest import SF_DIR

ROOT = Path(__file__).resolve().parents[1]

_CHILD = """
import glob, json, os, sys
sys.path.insert(0, {root!r})
from dog_data_pipeline_spark.queries import REGISTRY
from dog_data_pipeline_spark.session import get_spark
spark = get_spark(app_name="session-defaults")
REGISTRY["csv_catalog_roundtrip"].fn(spark, {sf!r}).collect()
print(json.dumps({{
    "parallelism": spark.sparkContext.defaultParallelism,
    "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    "roots_while_running": glob.glob(os.path.join({tmp!r}, "ddps_*")),
}}))
spark.stop()
"""


@pytest.fixture(scope="module")
def fresh_process(tmp_path_factory):
    """Run one query in a child with no ``SPARK_GRAFT_*`` sizing variables
    and ``TMPDIR`` pointed at a private dir, and let it exit."""
    tmp = tmp_path_factory.mktemp("session_tmp")
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")}
    env["TMPDIR"] = str(tmp)
    code = _CHILD.format(root=str(ROOT), sf=SF_DIR, tmp=str(tmp))
    proc = subprocess.run([sys.executable, "-c", code], env=env, cwd=str(tmp),
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return tmp, json.loads(proc.stdout.strip().splitlines()[-1])


def test_session_defaults_follow_cpu_affinity(fresh_process):
    _, out = fresh_process
    cpus = len(os.sched_getaffinity(0))
    assert out["parallelism"] == cpus
    assert out["shuffle_partitions"] == str(cpus)


def test_roundtrip_dirs_removed_at_exit(fresh_process):
    tmp, out = fresh_process
    assert len(out["roots_while_running"]) == 1  # one root per process
    assert not list(tmp.glob("ddps_*"))


@pytest.mark.parametrize("phys_gb,want", [(256, "24g"), (48, "24g"), (15, "7g"), (1, "1g")])
def test_driver_memory_default_capped_by_physical_memory(monkeypatch, phys_gb, want):
    from dog_data_pipeline_spark import session

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_gb * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    assert session._driver_memory() == want
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session._driver_memory() == "3g"
