"""Differential test: every registry query vs its DuckDB oracle at sf0.001.

This mirrors the driver's t2 gate (which runs at sf0.01) so hash
mismatches are caught locally before a round ends.
"""

from __future__ import annotations

import pytest

from dog_data_pipeline_spark.queries import REGISTRY
from tests.conftest import SF_DIR
from tests.oracle_utils import compare, duckdb_con

ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is None)


@pytest.fixture(scope="module")
def con():
    c = duckdb_con(SF_DIR)
    yield c
    c.close()


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, con, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, SF_DIR)
    problems = compare(df, con, spec.oracle)
    assert not problems, f"{name}: " + "; ".join(problems)


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_query_runs(spark, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.columns) > 0


@pytest.mark.parametrize("sf", ["sf0.01", "sf0.1"])
def test_text_quality_profile_matches_oracle_at_larger_scales(spark, sf):
    """Its rounded scores hit near-ties (x * 10^4 == k + 0.5 in binary)
    that only the larger scales contain: Spark must round them the way
    DuckDB does."""
    import os

    sf_dir = os.path.join(os.path.dirname(SF_DIR), sf)
    spec = REGISTRY["text_quality_profile"]
    c = duckdb_con(sf_dir)
    try:
        problems = compare(spec.fn(spark, sf_dir), c, spec.oracle)
    finally:
        c.close()
    assert not problems, "; ".join(problems)


def test_priority_window_leads_registry_order():
    """The driver verifies registry entries in dict order and caps how
    many it checks (50 per round). `_PRIORITY_ORDER` is the single source
    of truth for the window: the registry must lead with exactly that
    list, in that order, with the flagship first.  (Deriving the check
    from the list itself means a rotation can never strand a stale
    duplicate of it here.)"""
    from dog_data_pipeline_spark.queries import _PRIORITY_ORDER

    names = list(REGISTRY)
    assert len(_PRIORITY_ORDER) == len(set(_PRIORITY_ORDER)) == 50
    assert names[: len(_PRIORITY_ORDER)] == _PRIORITY_ORDER
    assert _PRIORITY_ORDER[0] == "flagship_segment_stats"


def test_registry_landing_gate_bench_artifact_covers_every_query():
    """Landing gate (round-3 lesson: a 553s query shipped in an
    end-of-round snapshot with no builder-run bench entry): every
    registry query must appear in the latest committed local bench
    artifact with a non-negative timing. Adding a query without
    re-running `python bench.py` and committing BENCH_LOCAL_r*.json
    fails this test."""
    import json
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    locals_ = {
        int(m.group(1)): p
        for p in root.glob("BENCH_LOCAL_r*.json")
        if (m := re.fullmatch(r"BENCH_LOCAL_r(\d+)\.json", p.name))
    }
    assert locals_, "no BENCH_LOCAL_r*.json artifact committed"
    latest = locals_[max(locals_)]
    bench = json.loads(latest.read_text())["queries"]
    missing = sorted(set(REGISTRY) - set(bench))
    assert not missing, f"queries missing from {latest.name}: {missing}"
    slow = {n: t for n, t in bench.items() if n in REGISTRY and t < 0}
    assert not slow, f"queries recorded as FAILED in {latest.name}: {slow}"


class TestMirrorIsDriverStrict:
    """Round-4 regression: both r4 hash failures pre-validated green
    locally because the old `_norm` collapsed -0.0 and compared Python
    ints untyped. The mirror must now FAIL exactly those fixtures —
    it may never pass what the driver fails."""

    def test_negative_zero_is_distinct(self, spark, con):
        # Spark emits +0.0, oracle emits -0.0 → must mismatch
        df = spark.sql("SELECT CAST(0.0 AS DOUBLE) AS z")
        # literal -0.0 constant-folds to +0.0 in DuckDB; multiply forces it
        problems = compare(df, con, "SELECT -1.0::DOUBLE * 0.0::DOUBLE AS z")
        assert problems, "-0.0 vs +0.0 must be a mismatch (driver is sign-sensitive)"

    def test_hugeint_vs_bigint_is_distinct(self, spark, con):
        # bare SUM(int) in DuckDB is HUGEINT; Spark SUM is BIGINT →
        # must mismatch even though the values are equal as Python ints
        df = spark.sql("SELECT CAST(3 AS BIGINT) AS n")
        problems = compare(
            df, con, "SELECT sum(x) AS n FROM (VALUES (1), (2)) t(x)"
        )
        assert problems, "HUGEINT vs BIGINT must be a mismatch (driver is type-sensitive)"

    def test_decimal_vs_double_is_distinct(self, spark, con):
        df = spark.sql("SELECT CAST(1.5 AS DOUBLE) AS v")
        problems = compare(df, con, "SELECT CAST(1.5 AS DECIMAL(10,2)) AS v")
        assert problems, "DECIMAL vs DOUBLE must be a mismatch"

    def test_identical_results_still_pass(self, spark, con):
        df = spark.sql(
            "SELECT CAST(3 AS BIGINT) AS n, CAST(-1.0 AS DOUBLE) * CAST(0.0 AS DOUBLE) AS z, 'x' AS s"
        )
        problems = compare(
            df,
            con,
            "SELECT CAST(3 AS BIGINT) AS n, -1.0::DOUBLE * 0.0::DOUBLE AS z, 'x' AS s",
        )
        assert not problems, problems
