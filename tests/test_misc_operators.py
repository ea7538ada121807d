"""Coverage for operators not reached through the query registry, plus a
hypothesis differential for the as-of join against pandas merge_asof."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from dog_data_pipeline_spark.operators.relational import recode_with_mapping_table
from dog_data_pipeline_spark.operators.temporal import asof_join


def test_recode_with_mapping_table_fallthrough(spark):
    df = spark.createDataFrame([("a",), ("b",), ("zz",)], "code STRING")
    mapping = spark.createDataFrame(
        [("a", "alpha"), ("b", "beta")], "code STRING, name STRING"
    )
    out = recode_with_mapping_table(df, mapping, "code", "name", out="decoded")
    got = {r["code"]: r["decoded"] for r in out.collect()}
    assert got == {"a": "alpha", "b": "beta", "zz": "zz"}  # unmapped passes through


def test_recode_with_mapping_table_is_broadcast(spark):
    df = spark.createDataFrame([("a",)], "code STRING")
    mapping = spark.createDataFrame([("a", "x")], "code STRING, name STRING")
    out = recode_with_mapping_table(df, mapping, "code", "name", out="d")
    plan = spark._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


@pytest.fixture(scope="module")
def spark_asof(spark):
    return spark


@settings(max_examples=15, deadline=None)
@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 100)), min_size=1, max_size=15
    ),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 100), st.integers(-999, 999)),
        min_size=0,
        max_size=15,
    ),
)
def test_asof_join_matches_pandas_merge_asof(spark_asof, left, right):
    spark = spark_asof
    # unique left ids so rows are addressable
    lrows = [(k, t, i) for i, (k, t) in enumerate(left)]
    ldf = spark.createDataFrame(lrows, "k INT, lt BIGINT, lid INT")
    rdf = spark.createDataFrame(right, "k INT, rt BIGINT, v INT") if right else (
        spark.createDataFrame([], "k INT, rt BIGINT, v INT")
    )
    out = asof_join(ldf, rdf, on="k", left_time="lt", right_time="rt", right_values=["v"])
    got = {r["lid"]: r["v"] for r in out.collect()}

    lpd = pd.DataFrame(lrows, columns=["k", "lt", "lid"]).sort_values("lt", kind="stable")
    rpd = pd.DataFrame(right, columns=["k", "rt", "v"]).sort_values("rt", kind="stable")
    if len(rpd):
        # merge_asof tie-breaks by taking the LAST right row at equal
        # (k, rt); our engine takes min over equal-time rows' values? No:
        # last(ignorenulls) over the carried order — for identical
        # (k, rt) the union's secondary order is undefined, so restrict
        # the differential to inputs without duplicate (k, rt) rows.
        rpd = rpd.drop_duplicates(subset=["k", "rt"], keep="last")
        expected_df = pd.merge_asof(
            lpd, rpd.sort_values("rt", kind="stable"), left_on="lt", right_on="rt", by="k"
        )
        expected = {
            int(r.lid): (None if pd.isna(r.v) else int(r.v))
            for r in expected_df.itertuples()
        }
    else:
        expected = {i: None for _, _, i in lrows}
    assert got == expected


def test_gap_fill_daily_zero_fills_missing_days(spark):
    from dog_data_pipeline_spark.operators.windows import gap_fill_daily
    from pyspark.sql import functions as F

    rows = [
        (1, "2024-01-01 10:00:00"), (1, "2024-01-01 11:00:00"),
        (1, "2024-01-04 09:00:00"),  # days 2,3 missing
        (2, "2024-02-10 00:00:00"),  # single-day span
    ]
    df = spark.createDataFrame(rows, "user_id LONG, ts STRING").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = {
        (r["user_id"], str(r["day"])[:10]): r["n_events"]
        for r in gap_fill_daily(df).collect()
    }
    assert out[(1, "2024-01-01")] == 2
    assert out[(1, "2024-01-02")] == 0
    assert out[(1, "2024-01-03")] == 0
    assert out[(1, "2024-01-04")] == 1
    assert out[(2, "2024-02-10")] == 1
    assert len(out) == 5  # dense span for user 1 (4 days) + 1 day for user 2


def test_dq_checks_count_planted_violations(spark):
    from dog_data_pipeline_spark.operators.quality import (
        accepted_values,
        dq_report,
        foreign_key,
        in_range,
        not_null,
        unique,
    )

    fact = spark.createDataFrame(
        [(1, 10.0, "A"), (2, None, "B"), (3, 99.0, "C"), (3, 5.0, None), (9, -1.0, "A")],
        "k LONG, v DOUBLE, s STRING",
    )
    dim = spark.createDataFrame([(1,), (2,), (3,)], "k LONG")
    rep = {
        r["check_name"]: (r["n_violations"], r["passed"])
        for r in dq_report(
            [
                foreign_key(fact, "k", dim, "k"),
                in_range(fact, "v", 0, 50),
                not_null(fact, "s"),
                unique(fact, ["k"]),
                accepted_values(fact, "s", ["A", "B", "C"]),
            ]
        ).collect()
    }
    assert rep["foreign_key:k"] == (1, False)      # k=9 orphan
    assert rep["in_range:v"] == (3, False)         # null, 99, -1
    assert rep["not_null:s"] == (1, False)
    assert rep["unique:k"] == (2, False)           # two rows share k=3
    assert rep["accepted_values:s"] == (1, False)  # the null


def test_snapshot_diff_classifies_all_cases(spark):
    from dog_data_pipeline_spark.operators.versioning import snapshot_diff

    a = spark.createDataFrame(
        [(1, "same text"), (2, "will change"), (3, "will vanish"),
         (4, "Whitespace   Churn")],
        "doc_id LONG, text STRING",
    )
    b = spark.createDataFrame(
        [(1, "same text"), (2, "has changed"), (5, "brand new"),
         (4, "whitespace churn")],  # normalization-equal to version a
        "doc_id LONG, text STRING",
    )
    got = {r["doc_id"]: r["status"] for r in snapshot_diff(a, b).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed",
                   5: "added", 4: "unchanged"}


def test_skew_report_flags_hot_key(spark):
    from dog_data_pipeline_spark.operators.quality import skew_report
    from pyspark.sql import functions as F

    hot = spark.range(0, 900).select(F.lit("hot").alias("k"))
    cold = spark.range(0, 100).select(F.concat(F.lit("c"), F.col("id")).alias("k"))
    rep = skew_report(hot.unionByName(cold), "k", top_k=3).collect()
    assert rep[0]["k"] == "hot" and rep[0]["n_rows"] == 900
    assert rep[0]["share"] == 0.9
    # 101 keys, 1000 rows -> mean ~9.9 rows/key; hot is ~91x the mean
    assert rep[0]["skew_factor"] > 80
    assert all(r["skew_factor"] <= 1.0 for r in rep[1:])


def test_robust_outliers_flag_planted_spikes_not_bulk(spark):
    from dog_data_pipeline_spark.operators.quality import robust_outlier_report

    rows = [("g", float(100 + (i % 11) - 5)) for i in range(100)]  # 95..105
    rows += [("g", 10000.0), ("g", -10000.0)]  # planted spikes
    df = spark.createDataFrame(rows, "grp STRING, x DOUBLE")
    r = robust_outlier_report(df, "grp", "x").collect()[0]
    assert r["n_rows"] == 102
    assert r["n_outliers"] == 2
    assert 95 <= r["median"] <= 105
    assert r["outlier_rate"] == round(2 / 102, 4)


def test_robust_outliers_mean_based_fence_would_miss(spark):
    """The scenario robust stats exist for: spikes so large they blow up
    a mean/stddev fence (both spikes within 2 sigma of the dragged
    mean) but cannot drag the median/MAD fence."""
    import statistics

    from dog_data_pipeline_spark.operators.quality import robust_outlier_report

    vals = [100.0] * 10 + [1e6] * 3
    mean, sd = statistics.mean(vals), statistics.stdev(vals)
    assert all(abs(v - mean) < 2 * sd for v in vals)  # mean fence: 0 flagged
    df = spark.createDataFrame([("g", v) for v in vals], "grp STRING, x DOUBLE")
    r = robust_outlier_report(df, "grp", "x").collect()[0]
    assert r["n_outliers"] == 3


def test_robust_outliers_zero_mad_uniform_group(spark):
    from dog_data_pipeline_spark.operators.quality import robust_outlier_report

    df = spark.createDataFrame(
        [("g", 5.0)] * 9 + [("g", 6.0)], "grp STRING, x DOUBLE"
    )
    r = robust_outlier_report(df, "grp", "x").collect()[0]
    # MAD = 0: every deviation beyond zero is an outlier (strict >)
    assert r["mad"] == 0.0
    assert r["n_outliers"] == 1


def test_robust_outliers_all_null_group_reports_zero(spark):
    from dog_data_pipeline_spark.operators.quality import robust_outlier_report

    df = spark.createDataFrame(
        [("g", None), ("g", None), ("h", 1.0), ("h", 100.0)],
        "grp STRING, x DOUBLE",
    )
    out = {r["grp"]: r for r in robust_outlier_report(df, "grp", "x").collect()}
    assert out["g"]["n_outliers"] == 0
    assert out["g"]["median"] is None


def test_filter_agreement_kappa_known_values(spark):
    from dog_data_pipeline_spark.operators.quality import filter_agreement_report

    # contingency: both=40, only_a=10, only_b=10, neither=40 -> po=0.8,
    # pa=pb=0.5, pe=0.5, kappa=0.6
    rows = (
        [(True, True)] * 40 + [(True, False)] * 10
        + [(False, True)] * 10 + [(False, False)] * 40
    )
    df = spark.createDataFrame(rows, "a BOOLEAN, b BOOLEAN")
    r = filter_agreement_report(df, F.col("a"), F.col("b")).collect()[0]
    assert (r["n"], r["n_both"], r["n_neither"]) == (100, 40, 40)
    assert r["agreement_rate"] == 0.8
    assert r["kappa"] == 0.6


def test_filter_agreement_constant_filters_kappa_undefined(spark):
    from dog_data_pipeline_spark.operators.quality import filter_agreement_report

    df = spark.createDataFrame([(True, True)] * 5, "a BOOLEAN, b BOOLEAN")
    r = filter_agreement_report(df, F.col("a"), F.col("b")).collect()[0]
    assert r["agreement_rate"] == 1.0
    assert r["kappa"] is None  # pe = 1: undefined, not a crash


def test_filter_agreement_chance_level_is_zero_kappa(spark):
    from dog_data_pipeline_spark.operators.quality import filter_agreement_report

    # independent marginals at exactly chance agreement: kappa = 0
    rows = (
        [(True, True)] * 25 + [(True, False)] * 25
        + [(False, True)] * 25 + [(False, False)] * 25
    )
    df = spark.createDataFrame(rows, "a BOOLEAN, b BOOLEAN")
    r = filter_agreement_report(df, F.col("a"), F.col("b")).collect()[0]
    assert r["kappa"] == 0.0


def test_scd2_intervals_hand_checked(spark):
    from datetime import datetime

    from dog_data_pipeline_spark.operators.versioning import scd2_intervals

    t = lambda s: datetime(2024, 1, s)  # noqa: E731
    rows = [
        # user 1: A A B A  -> three versions (A, B, A)
        (1, "A", t(1), 10),
        (1, "A", t(2), 11),
        (1, "B", t(3), 12),
        (1, "A", t(4), 13),
        # user 2: single event -> one current version
        (2, "C", t(5), 14),
    ]
    df = spark.createDataFrame(
        rows, "user_id BIGINT, event_type STRING, ts TIMESTAMP, event_id BIGINT"
    )
    out = scd2_intervals(df, "user_id", "event_type", "ts", ("event_id",))
    got = {(r["user_id"], r["version"]): r for r in out.collect()}
    assert len(got) == 4
    v1 = got[(1, 1)]
    assert (v1["event_type"], v1["n_events"], v1["is_current"]) == ("A", 2, False)
    assert v1["valid_from"] == t(1) and v1["valid_to"] == t(3)
    v2 = got[(1, 2)]
    assert (v2["event_type"], v2["valid_to"]) == ("B", t(4))
    v3 = got[(1, 3)]
    assert v3["valid_to"] is None and v3["is_current"]
    assert got[(2, 1)]["is_current"]


def test_scd2_null_attr_runs_merge_and_single_exchange(spark):
    from datetime import datetime

    from dog_data_pipeline_spark.operators.versioning import scd2_intervals

    t = lambda s: datetime(2024, 2, s)  # noqa: E731
    rows = [(1, None, t(1), 1), (1, None, t(2), 2), (1, "X", t(3), 3)]
    df = spark.createDataFrame(
        rows, "user_id BIGINT, event_type STRING, ts TIMESTAMP, event_id BIGINT"
    )
    out = scd2_intervals(df, "user_id", "event_type", "ts", ("event_id",))
    rows_out = sorted(out.collect(), key=lambda r: r["version"])
    # NULL == NULL null-safe: one version for the null run, not two
    assert [r["event_type"] for r in rows_out] == [None, "X"]
    assert rows_out[0]["n_events"] == 2
    # the whole history build costs exactly one shuffle (AQE toString
    # appends the pre-execution "Initial Plan" — count the final only)
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1


def test_calibration_bins_hand_checked(spark):
    import math

    from dog_data_pipeline_spark.operators.quality import calibration_bins

    rows = [
        # bin 1 (scores .10-.19): 4 rows, 1 positive -> frac .25
        (0.10, False), (0.12, False), (0.15, True), (0.18, False),
        # bin 9 catches score 1.0 (least clamp), 2 rows, both positive
        (1.0, True), (0.95, True),
    ]
    df = spark.createDataFrame(rows, "score DOUBLE, label BOOLEAN")
    got = {r["bin"]: r for r in calibration_bins(df, "score", "label").collect()}
    assert set(got) == {1, 9}
    b1 = got[1]
    assert (b1["n"], b1["n_pos"]) == (4, 1)
    assert math.isclose(b1["mean_score"], (0.10 + 0.12 + 0.15 + 0.18) / 4, abs_tol=1e-6)
    assert math.isclose(b1["frac_pos"], 0.25)
    assert math.isclose(b1["ece_contrib"], b1["abs_gap"] * 4 / 6)
    b9 = got[9]
    assert (b9["n"], b9["n_pos"]) == (2, 2)
    # ECE sums to a weighted mean of gaps; all terms nonnegative
    assert all(r["abs_gap"] >= 0 for r in got.values())


def test_calibration_bins_partition_invariant(spark):
    """Integer-micros summation must make the result identical under
    any partitioning (double sums would drift in the last ulp)."""
    from dog_data_pipeline_spark.operators.quality import calibration_bins

    rows = [((i % 97) / 100.0 + 0.001, i % 3 == 0) for i in range(500)]
    df = spark.createDataFrame(rows, "score DOUBLE, label BOOLEAN")
    a = sorted(calibration_bins(df, "score", "label").collect())
    b = sorted(calibration_bins(df.repartition(17), "score", "label").collect())
    assert a == b


def test_profile_table_counts_and_single_scan(spark):
    from dog_data_pipeline_spark.operators.quality import profile_table

    rows = [(1, "a", 1.5), (2, None, 2.5), (2, "b", None), (None, "b", 4.5)]
    df = spark.createDataFrame(rows, "k BIGINT, s STRING, v DOUBLE")
    got = {r["column"]: r for r in profile_table(df, exact_distinct=True).collect()}
    assert set(got) == {"k", "s", "v"}
    k = got["k"]
    assert (k["n_rows"], k["n_null"], k["n_distinct"]) == (4, 1, 2)
    assert (k["min_value"], k["max_value"]) == ("1", "2")
    assert got["s"]["n_null"] == 1 and got["s"]["n_distinct"] == 2
    assert got["s"]["dtype"] == "string"
    # all statistics from ONE scan of the input
    plan = profile_table(df, exact_distinct=True)._jdf.queryExecution()
    final = plan.executedPlan().toString().split("== Initial Plan ==")[0]
    assert final.count("Scan ExistingRDD") == 1


def test_profile_table_repeated_column_profiled_once(spark):
    from dog_data_pipeline_spark.operators.quality import profile_table

    df = spark.createDataFrame([(1, "a"), (2, None)], "k BIGINT, s STRING")
    got = profile_table(df, cols=["s", "k", "s"], exact_distinct=True).collect()
    assert [r["column"] for r in got] == ["s", "k"]
    assert got[0]["n_null"] == 1 and got[1]["n_distinct"] == 2


def test_profile_table_approx_default_close(spark):
    from dog_data_pipeline_spark.operators.quality import profile_table

    df = spark.range(0, 5000).selectExpr("id AS k", "CAST(id % 137 AS STRING) AS s")
    got = {r["column"]: r for r in profile_table(df).collect()}
    # HLL at default rsd: within a few percent
    assert abs(got["k"]["n_distinct"] - 5000) / 5000 < 0.05
    assert abs(got["s"]["n_distinct"] - 137) / 137 < 0.05


def test_chi_square_independence_hand_checked(spark):
    import math

    from dog_data_pipeline_spark.operators.quality import chi_square_independence

    # classic 2x2: o = [[10, 20], [20, 10]], N=60
    rows = (
        [("x", "p")] * 10 + [("x", "q")] * 20 + [("y", "p")] * 20 + [("y", "q")] * 10
    )
    df = spark.createDataFrame(rows, "a STRING, b STRING")
    r = chi_square_independence(df, "a", "b").collect()[0]
    assert (r["n_rows"], r["n_cells"], r["dof"]) == (60, 4, 1)
    # expected all 15 -> chi2 = 4 * (5^2/15) = 20/3
    assert math.isclose(r["chi2"], 20 / 3, rel_tol=1e-12)
    assert math.isclose(r["cramers_v"], math.sqrt((20 / 3) / 60), rel_tol=1e-12)


def test_chi_square_independent_columns_near_zero(spark):
    from dog_data_pipeline_spark.operators.quality import chi_square_independence

    # perfectly independent layout: every (a, b) cell equal
    rows = [(str(i % 3), str(j % 4)) for i in range(3) for j in range(4) for _ in range(5)]
    df = spark.createDataFrame(rows, "a STRING, b STRING")
    r = chi_square_independence(df, "a", "b").collect()[0]
    assert abs(r["chi2"]) < 1e-9 and abs(r["cramers_v"]) < 1e-6
    assert r["dof"] == 6


def test_window_rotation_planner_invariants():
    """tools/window_rotation.py: the planner must (a) put the flagship
    first, (b) include every never-driver-checked registry query, (c)
    fill remaining slots with the stalest certified queries oldest
    round first, (d) emit exactly the 50-slot window."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "window_rotation",
        os.path.join(os.path.dirname(__file__), "..", "tools", "window_rotation.py"),
    )
    wr = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(wr)

    latest = wr.latest_green_round()
    assert latest, "no CORRECTNESS artifacts found"

    from dog_data_pipeline_spark.queries import REGISTRY, _PRIORITY_ORDER

    names = list(REGISTRY)
    window, deferred = wr.plan(names, "flagship_segment_stats")
    assert window[0] == "flagship_segment_stats"
    assert len(window) == wr.WINDOW == 50
    assert len(set(window)) == 50
    never = {n for n in names if n not in latest}
    assert never - {"flagship_segment_stats"} <= set(window)
    # the stale tail is oldest-first: rounds are non-decreasing
    tail_rounds = [latest[n] for n in window if n in latest and n != "flagship_segment_stats"]
    assert tail_rounds == sorted(tail_rounds)
    # nothing deferred is older than anything included from the tail
    if deferred and tail_rounds:
        assert min(latest[n] for n in deferred) >= tail_rounds[-1]
    # the committed _PRIORITY_ORDER satisfies the freeze-then-build rule:
    # every never-checked query holds a slot
    assert never <= set(_PRIORITY_ORDER) | set(latest)
    # r7 verdict ask #4: simulating the rotation forward from the
    # committed window, no query may wait more than MAX_CADENCE rounds
    # between driver certificates (window-saturation guard — fails when
    # too many new queries land for the 50-slot window to keep every
    # certificate fresh)
    assert wr.cadence_violations(
        names, "flagship_segment_stats", list(_PRIORITY_ORDER)
    ) == []
    # the bound itself is part of the contract (5 = natural cadence
    # ceil(204 / 49) for 205 queries / 49 rotating slots, no spare
    # round; the margin is capacity() headroom, 246 - 205 = 41 queries)
    assert wr.MAX_CADENCE == 5
    # r11 verdict ask #5 — window-capacity rule: a 50-slot window
    # (1 flagship + 49 rotating) can keep at most 49*5+1 = 246 queries
    # within the 5-round cadence bound; past that the bound is
    # unsatisfiable regardless of rotation, and --check must say so at
    # landing time instead of surfacing mysterious per-query
    # violations.
    assert wr.capacity() == (wr.WINDOW - 1) * wr.MAX_CADENCE + 1 == 246
    assert len(names) <= wr.capacity(), (
        f"registry {len(names)} exceeds rotation capacity {wr.capacity()}"
    )
