"""Data-quality expectation checks (the dbt-tests / Deequ shape): each
check compiles to ONE aggregate counting violations, and the report is
the union of those single-row aggregates — no collects, no UDFs, every
check partial-aggregates and the whole report is one job.

A curation pipeline gates promotion on this report (ship the corpus
only if every row says passed) — cheap enough to run on every
incremental batch because each check is a scan-bound aggregate over
only the columns it references.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class Check:
    name: str
    violations: DataFrame  # single-row DataFrame with column n BIGINT


def not_null(df: DataFrame, col: str, name: str | None = None) -> Check:
    return Check(
        name or f"not_null:{col}",
        df.agg(F.count_if(F.col(col).isNull()).alias("n")),
    )


def in_range(
    df: DataFrame, col: str, lo: float, hi: float, name: str | None = None
) -> Check:
    bad = F.col(col).isNull() | (F.col(col) < lo) | (F.col(col) > hi)
    return Check(
        name or f"in_range:{col}", df.agg(F.count_if(bad).alias("n"))
    )


def accepted_values(
    df: DataFrame, col: str, values: list, name: str | None = None
) -> Check:
    bad = ~F.col(col).isin(values) | F.col(col).isNull()
    return Check(
        name or f"accepted_values:{col}", df.agg(F.count_if(bad).alias("n"))
    )


def unique(df: DataFrame, cols: list[str], name: str | None = None) -> Check:
    dup_rows = (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > 1)
        .agg(F.coalesce(F.sum("__c"), F.lit(0)).alias("n"))
    )
    return Check(name or f"unique:{','.join(cols)}", dup_rows)


def foreign_key(
    df: DataFrame,
    col: str,
    dim: DataFrame,
    dim_col: str,
    name: str | None = None,
) -> Check:
    """Rows whose key has no match in the dimension. The dim side is
    reduced to distinct keys; Spark broadcasts it when small, which is
    the normal case for FK targets."""
    orphans = df.join(
        dim.select(F.col(dim_col).alias(col)).distinct(), col, "left_anti"
    ).agg(F.count(F.lit(1)).alias("n"))
    return Check(name or f"foreign_key:{col}", orphans)


def skew_report(
    df: DataFrame, key_col: str, top_k: int = 10
) -> DataFrame:
    """Join-key skew diagnostics: the top-k hottest keys with their row
    counts, each key's share of the table, and its skew factor
    (count / mean-rows-per-key). A skew factor in the hundreds on a
    join key is the signal to reach for salted_join / AQE skew
    handling BEFORE the 100-TB run falls over on one straggler task.

    One partial-aggregated groupBy + a TakeOrdered top-k + a broadcast
    of the 1-row totals — nothing driver-bound.
    """
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("n_rows"))
    totals = counts.agg(
        F.sum("n_rows").alias("__total"), F.count(F.lit(1)).alias("__keys")
    )
    return (
        counts.orderBy(F.col("n_rows").desc(), key_col)
        .limit(top_k)
        .crossJoin(F.broadcast(totals))
        .select(
            F.col(key_col),
            "n_rows",
            F.round(F.col("n_rows") / F.col("__total"), 6).alias("share"),
            F.round(
                F.col("n_rows") / (F.col("__total") / F.col("__keys")), 2
            ).alias("skew_factor"),
        )
    )


def dq_report(checks: list[Check]) -> DataFrame:
    """(check_name, n_violations, passed) — one row per check."""
    out = None
    for c in checks:
        row = c.violations.select(
            F.lit(c.name).alias("check_name"),
            F.col("n").cast("long").alias("n_violations"),
            (F.col("n") == 0).alias("passed"),
        )
        out = row if out is None else out.unionByName(row)
    if out is None:
        raise ValueError("no checks given")
    return out


def psi_report(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    bins: int = 10,
    floor: float = 1e-4,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    sample of one numeric column — the standard train/serve drift
    gauge (PSI < 0.1 stable, 0.1-0.25 moderate shift, > 0.25 drifted).

    Binning is ``bins`` fixed-width buckets over the REFERENCE min/max
    (current values clamp into the edge bins, so novel out-of-range
    mass lands visibly in bin 0 or bins-1); per-bin shares are floored
    at ``floor`` before the log so empty bins contribute a finite,
    deterministic penalty. psi = sum (p_cur - p_ref) * ln(p_cur/p_ref).

    Scale shape: one 1-row min/max agg on the reference broadcast into
    both sides, then one ``bins``-row partial agg per side and a
    ``bins``-row join — the samples stream through once, nothing wide.
    Returns one row per bin (bin, p_ref, p_cur, psi_term) plus the
    caller sums psi_term for the scalar.
    """
    stats = ref.agg(
        F.min(value_col).cast("double").alias("__lo"),
        F.max(value_col).cast("double").alias("__hi"),
    )

    def binned(df: DataFrame, share_name: str) -> DataFrame:
        width = (F.col("__hi") - F.col("__lo")) / bins
        b = F.least(
            F.lit(bins - 1),
            F.greatest(
                F.lit(0),
                F.floor((F.col(value_col) - F.col("__lo")) / width).cast("int"),
            ),
        )
        counts = (
            df.crossJoin(F.broadcast(stats))
            .select(b.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        total = counts.agg(F.sum("__n").alias("__t"))
        return counts.crossJoin(F.broadcast(total)).select(
            "bin", (F.col("__n") / F.col("__t")).alias(share_name)
        )

    all_bins = ref.sparkSession.range(bins).select(F.col("id").cast("int").alias("bin"))
    joined = (
        all_bins.join(binned(ref, "p_ref"), "bin", "left")
        .join(binned(cur, "p_cur"), "bin", "left")
        .fillna(0.0, ["p_ref", "p_cur"])
    )
    pr = F.greatest(F.col("p_ref"), F.lit(floor))
    pc = F.greatest(F.col("p_cur"), F.lit(floor))
    return joined.select(
        "bin", "p_ref", "p_cur", ((pc - pr) * F.log(pc / pr)).alias("psi_term")
    )


def robust_outlier_report(
    df: DataFrame,
    group_col: str,
    measure_col: str,
    k: float = 3.5,
) -> DataFrame:
    """Per-group robust outlier audit via the median/MAD rule: a value
    is an outlier when |x - median| > k * 1.4826 * MAD (the modified
    z-score; 1.4826 scales MAD to sigma under normality, k=3.5 is the
    Iglewicz-Hoaglin cutoff). Robust where mean/stddev gating is not:
    the outliers themselves cannot drag the fence, so a corrupted
    ingest batch is flagged instead of widening its own tolerance.

    Returns (group_col, n_rows, median, mad, n_outliers, outlier_rate)
    with median/mad rounded to 4 decimals and the rate computed via
    try_divide (empty groups cannot crash the report).

    Scale shape: two grouped percentile passes (median, then MAD over
    the |x - median| residuals after a broadcast join of the
    |groups|-row medians) + one counting aggregate — all
    partial-aggregated; nothing driver-side. Exact percentiles hold
    per-group state; at extreme group sizes swap in approx_percentile
    (its certified-bounds variant lives in approx_quantiles_certified).
    """
    med = df.groupBy(group_col).agg(
        F.percentile(measure_col, F.lit(0.5)).alias("__med")
    )
    with_med = df.join(F.broadcast(med), group_col)
    mad = with_med.groupBy(group_col).agg(
        F.percentile(
            F.abs(F.col(measure_col) - F.col("__med")), F.lit(0.5)
        ).alias("__mad")
    )
    fenced = with_med.join(F.broadcast(mad), group_col)
    out = (
        F.abs(F.col(measure_col) - F.col("__med"))
        > F.lit(k) * F.lit(1.4826) * F.col("__mad")
    ).cast("long")
    return (
        fenced.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.first("__med"), 4).alias("median"),
            F.round(F.first("__mad"), 4).alias("mad"),
            # coalesce: an all-NULL measure group sums over zero
            # non-null predicates -> NULL, but the report must say 0
            # (the split_leakage_report pathology)
            F.coalesce(F.sum(out), F.lit(0)).alias("n_outliers"),
        )
        .select(
            group_col,
            "n_rows",
            "median",
            "mad",
            "n_outliers",
            F.round(F.try_divide(F.col("n_outliers"), F.col("n_rows")), 4).alias(
                "outlier_rate"
            ),
        )
    )


def filter_agreement_report(
    df: DataFrame,
    flag_a,
    flag_b,
) -> DataFrame:
    """Agreement audit between two boolean screening filters — run
    BEFORE swapping one quality gate for another (a cheap heuristic vs
    a trained classifier, an old vs new blocklist): raw agreement is
    inflated by class imbalance, so the report carries Cohen's kappa,
    the chance-corrected statistic.

    ``flag_a`` / ``flag_b`` are boolean Columns. Returns one row:
    (n, n_both, n_only_a, n_only_b, n_neither, agreement_rate, kappa)
    with kappa = (po - pe) / (1 - pe); po = observed agreement, pe =
    expected-by-chance from the marginals. try_divide: two constant
    filters give pe = 1 and kappa reads NULL (undefined), not a crash.

    Scale shape: ONE counting aggregate over the corpus (all four
    contingency cells partial-aggregate in a single pass); the kappa
    arithmetic runs on the 1-row result. Nothing else touches data.
    """
    a = flag_a.cast("boolean")
    b = flag_b.cast("boolean")
    cells = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((a & b).cast("long")).alias("n_both"),
        F.sum((a & ~b).cast("long")).alias("n_only_a"),
        F.sum((~a & b).cast("long")).alias("n_only_b"),
        F.sum((~a & ~b).cast("long")).alias("n_neither"),
    )
    nn = F.col("n").cast("double")
    po = (F.col("n_both") + F.col("n_neither")) / nn
    pa = (F.col("n_both") + F.col("n_only_a")) / nn
    pb = (F.col("n_both") + F.col("n_only_b")) / nn
    pe = pa * pb + (1 - pa) * (1 - pb)
    return cells.select(
        "n",
        "n_both",
        "n_only_a",
        "n_only_b",
        "n_neither",
        F.round(po, 4).alias("agreement_rate"),
        F.round(F.try_divide(po - pe, F.lit(1.0) - pe), 4).alias("kappa"),
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    score_scale: int = 1_000_000,
) -> DataFrame:
    """Reliability-diagram bins + expected-calibration-error terms for
    a [0,1] classifier score against a boolean outcome (Guo et al.
    2017, "On Calibration of Modern Neural Networks") — the audit that
    says whether a quality/toxicity filter's score can be read as a
    probability before it picks a corpus threshold.

    Per equal-width bin b over the score:

        n, n_pos, mean_score, frac_pos,
        abs_gap     = |frac_pos - mean_score|
        ece_contrib = abs_gap * n / N        (sum over bins = ECE)

    Determinism: double summation is ORDER-DEPENDENT, so a naive
    avg(score) varies with partitioning. Scores are summed as
    round(score * score_scale) integers instead — exact, associative,
    partition-order-free — and divided back out once per bin. Any
    engine replaying the same integer arithmetic bit-matches; the audit
    is reproducible run to run. (score_scale=1e6 holds ~9e12 rows per
    bin before BIGINT overflow.)

    Scale shape: one partial-aggregated groupBy over n_bins groups —
    the shuffle carries n_bins rows per task; the row-count total rides
    as a 1-row broadcast. Map-only otherwise.
    """
    s = F.col(score_col)
    micros = F.round(s * F.lit(float(score_scale))).cast("bigint")
    b = F.least(
        F.lit(n_bins - 1), F.floor(s * F.lit(float(n_bins))).cast("int")
    )
    binned = df.select(
        b.alias("bin"),
        micros.alias("__m"),
        F.col(label_col).cast("int").alias("__y"),
    )
    agg = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__y").alias("n_pos"),
        F.sum("__m").alias("__sm"),
    )
    total = binned.agg(F.count(F.lit(1)).cast("double").alias("__N"))
    mean_score = (
        F.col("__sm").cast("double")
        / F.col("n").cast("double")
        / F.lit(float(score_scale))
    )
    frac_pos = F.col("n_pos").cast("double") / F.col("n").cast("double")
    out = agg.crossJoin(F.broadcast(total))
    return out.select(
        "bin",
        "n",
        "n_pos",
        mean_score.alias("mean_score"),
        frac_pos.alias("frac_pos"),
        F.abs(frac_pos - mean_score).alias("abs_gap"),
        (F.abs(frac_pos - mean_score) * F.col("n") / F.col("__N")).alias(
            "ece_contrib"
        ),
    )


def profile_table(
    df: DataFrame,
    cols: list[str] | None = None,
    exact_distinct: bool = False,
    rsd: float = 0.02,
) -> DataFrame:
    """One-pass per-column profile — the data-card / ingest-audit op:

        (column, dtype, n_rows, n_null, n_distinct, min_value,
         max_value)

    with min/max rendered as strings so heterogeneous column types fit
    one long-format report. n_distinct excludes NULLs (SQL COUNT
    DISTINCT semantics).

    Scale shape: every statistic folds into a SINGLE aggregate over
    one scan — no per-column jobs, no driver loop; the 1-row result is
    exploded into the long format driver-side-free. By default
    distinct counts use approx_count_distinct (HLL, rsd=0.02): exact
    multi-column COUNT DISTINCT forces an Expand that multiplies the
    scan |cols|-fold — at audit scale that's the right trade, and
    exact_distinct=True turns it back on for small/verification runs.
    """
    from dog_data_pipeline_spark.operators.dedup import _spread

    # de-duplicated once: a repeated name would alias its statistics
    # twice and make every later reference ambiguous
    cols = list(dict.fromkeys(df.columns if cols is None else cols))
    dtypes = dict(df.dtypes)
    # _spread: exact_distinct's Expand multiplies the scan |cols|-fold
    # INSIDE the partial aggregate, and a single-file table reads as one
    # scan task — profiled at sf0.1 as a 1.7 s single-task job on a
    # 32-core session. All statistics here are order-independent, so
    # the round-robin repartition changes nothing but the fan-out.
    df = _spread(df.select(*cols))
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nn_{c}")
        )
        if exact_distinct:
            aggs.append(F.count_distinct(F.col(c)).alias(f"__nd_{c}"))
        else:
            aggs.append(F.approx_count_distinct(c, rsd=rsd).alias(f"__nd_{c}"))
        aggs.append(F.min(c).cast("string").alias(f"__mn_{c}"))
        aggs.append(F.max(c).cast("string").alias(f"__mx_{c}"))
    row = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.lit(dtypes[c]).alias("dtype"),
                F.col("__n").alias("n_rows"),
                F.col(f"__nn_{c}").cast("bigint").alias("n_null"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                F.col(f"__mn_{c}").alias("min_value"),
                F.col(f"__mx_{c}").alias("max_value"),
            )
            for c in cols
        ]
    )
    return row.select(F.explode(entries).alias("p")).select("p.*")


def chi_square_independence(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns, plus Cramér's V effect size — the screening audit for
    "is this metadata field actually informative about that one"
    (label leakage checks, stratification design, feature pruning).

        chi2 = sum_cells (observed - expected)^2 / expected,
        expected_ij = row_total_i * col_total_j / N
        V = sqrt(chi2 / (N * (min(R, C) - 1)))

    Returns one row: (col_a, col_b, n_rows, n_cells, dof, chi2,
    cramers_v). NULL categories count as a regular level (they carry
    signal); dof = (R-1)(C-1).

    Scale shape: ONE corpus pass — the contingency table is a partial-
    aggregated groupBy over the (a, b) level pairs; everything after
    (marginals, expected counts, the chi2 fold) runs on vocabulary-
    sized tables that broadcast. No second scan, no collect.
    """
    cells = df.groupBy(
        F.col(col_a).alias("__a"), F.col(col_b).alias("__b")
    ).agg(F.count(F.lit(1)).alias("__o"))
    row_tot = cells.groupBy("__a").agg(F.sum("__o").alias("__ra"))
    col_tot = cells.groupBy("__b").agg(F.sum("__o").alias("__cb"))
    n = cells.agg(
        F.sum("__o").cast("double").alias("__n"),
        F.count_distinct("__a").alias("__r"),
        F.count_distinct("__b").alias("__c"),
    )
    joined = (
        cells.join(F.broadcast(row_tot), "__a")
        .join(F.broadcast(col_tot), "__b")
        .crossJoin(F.broadcast(n))
    )
    expected = F.col("__ra") * F.col("__cb") / F.col("__n")
    term = (F.col("__o") - expected) * (F.col("__o") - expected) / expected
    return joined.agg(
        F.lit(col_a).alias("col_a"),
        F.lit(col_b).alias("col_b"),
        F.first("__n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).alias("n_cells"),
        ((F.first("__r") - 1) * (F.first("__c") - 1)).alias("dof"),
        F.sum(term).alias("chi2"),
        F.sqrt(
            F.sum(term)
            / (F.first("__n") * (F.least(F.first("__r"), F.first("__c")) - 1))
        ).alias("cramers_v"),
    )
