"""Declarative data-quality constraints (operators/quality.py):
violation counts against hand-checkable fixtures, the rational
null-rate threshold, FK anti-join semantics, and the one-scan shape
(row-local constraints must not multiply passes)."""

from __future__ import annotations

import pytest

from ark_invest_api_rust_data_spark.operators.quality import (
    validate_expectations,
)


@pytest.fixture()
def df(spark):
    rows = [
        (1, 1, "A", 5.0, "x"),
        (1, 2, "N", 0.5, None),
        (2, 1, "R", -1.0, "y"),
        (2, 1, "Z", 2.0, "z"),  # dup key (2,1); bad flag Z
        (None, 9, "A", 3.0, "w"),  # null orderkey
    ]
    return spark.createDataFrame(
        rows, "k long, line long, flag string, qty double, comment string"
    )


def _report(out):
    return {r["constraint"]: (r["observed"], r["passed"]) for r in out.collect()}


def test_row_local_constraints(spark, df):
    rep = _report(
        validate_expectations(
            df,
            [
                {"kind": "not_null", "col": "k"},
                {"kind": "min_at_least", "col": "qty", "value": 0},
                {"kind": "max_at_most", "col": "qty", "value": 4},
                {"kind": "in_set", "col": "flag", "values": ["A", "N", "R"]},
            ],
        )
    )
    assert rep["not_null(k)"] == (1, False)
    assert rep["min_at_least(qty,0)"] == (1, False)  # -1.0
    assert rep["max_at_most(qty,4)"] == (1, False)  # 5.0
    assert rep["in_set(flag)"] == (1, False)  # Z


def test_null_rate_rational_threshold(spark, df):
    # 1 null comment of 5 rows = 20%: passes at 1/5 and 1/4, fails 1/10
    rep = _report(
        validate_expectations(
            df,
            [
                {"kind": "null_rate_max", "col": "comment", "num": 1, "den": 5},
                {"kind": "null_rate_max", "col": "comment", "num": 1, "den": 4},
                {"kind": "null_rate_max", "col": "comment", "num": 1, "den": 10},
            ],
        )
    )
    assert rep["null_rate_max(comment,1/5)"] == (1, True)
    assert rep["null_rate_max(comment,1/4)"] == (1, True)
    assert rep["null_rate_max(comment,1/10)"] == (1, False)


def test_unique_and_fk(spark, df):
    ref = spark.createDataFrame([(1,), (3,)], "r long")
    rep = _report(
        validate_expectations(
            df,
            [
                {"kind": "unique", "cols": ["k", "line"]},
                {"kind": "fk", "col": "k", "ref": ref, "ref_col": "r"},
            ],
        )
    )
    # (2,1) appears twice -> 1 extra row
    assert rep["unique(k,line)"] == (1, False)
    # k=2 twice with no ref match; NULL k is exempt
    assert rep["fk(k->r)"] == (2, False)


def test_all_green_report(spark):
    clean = spark.createDataFrame([(1, "A"), (2, "N")], "k long, flag string")
    rep = _report(
        validate_expectations(
            clean,
            [
                {"kind": "not_null", "col": "k"},
                {"kind": "unique", "cols": ["k"]},
                {"kind": "in_set", "col": "flag", "values": ["A", "N"]},
            ],
        )
    )
    assert all(p for _, p in rep.values())
    assert all(o == 0 for o, _ in rep.values())


def test_empty_input_reports_zero_not_null(spark):
    """Round-8 advisor fix: an empty-but-valid batch must report
    observed=0 / passed=true for every constraint kind, never NULL —
    a scheduler gating on `passed` would read NULL as not-green."""
    empty = spark.createDataFrame([], "k long, qty long, flag string")
    ref = spark.createDataFrame([(1,)], "k long")
    rep = _report(
        validate_expectations(
            empty,
            [
                {"kind": "not_null", "col": "k"},
                {"kind": "min_at_least", "col": "qty", "value": 0},
                {"kind": "max_at_most", "col": "qty", "value": 10},
                {"kind": "in_set", "col": "flag", "values": ["A"]},
                {"kind": "null_rate_max", "col": "k", "num": 1, "den": 10},
                {"kind": "unique", "cols": ["k"]},
                {"kind": "fk", "col": "k", "ref": ref, "ref_col": "k"},
            ],
        )
    )
    assert all(o == 0 for o, _ in rep.values()), rep
    assert all(p is True for _, p in rep.values()), rep


def test_empty_spec_raises(spark, df):
    with pytest.raises(ValueError):
        validate_expectations(df, [])


def test_row_local_constraints_share_one_scan(spark, df):
    # all row-local constraints fold into a single Aggregate: exactly
    # one Aggregate node and one scan of the input in the plan
    out = validate_expectations(
        df,
        [
            {"kind": "not_null", "col": "k"},
            {"kind": "min_at_least", "col": "qty", "value": 0},
            {"kind": "in_set", "col": "flag", "values": ["A", "N", "R"]},
        ],
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate") == 1


def test_robust_outliers_matches_sequential_reference(spark):
    """robust_outliers equals a sequential median/MAD computation
    with percentile_disc semantics (lower-median on even counts),
    including a planted extreme value, an all-inlier group, and NULL
    handling (excluded from medians and outlier counts, included in
    n_rows)."""
    from ark_invest_api_rust_data_spark.operators.quality import robust_outliers

    rows = (
        [("a", float(v)) for v in [10, 11, 12, 13, 14, 1000]]
        + [("b", float(v)) for v in [4, 5, 6, 7]]
        + [("b", None)]
    )
    df = spark.createDataFrame(rows, "g string, x double")
    got = {
        r["g"]: (
            r["med"], r["mad"], r["n_rows"], r["n_outliers"], r["outlier_ppm"]
        )
        for r in robust_outliers(df, "x", ["g"], c_num=3, c_den=1).collect()
    }

    def disc(vals, p=0.5):
        vals = sorted(vals)
        import math
        # smallest value whose cume_dist >= p
        n = len(vals)
        for i, v in enumerate(vals):
            if (i + 1) / n >= p:
                return v

    want = {}
    for g in ("a", "b"):
        vals = [x for gg, x in rows if gg == g and x is not None]
        n_rows = sum(1 for gg, _ in rows if gg == g)
        med = disc(vals)
        mad = disc([abs(x - med) for x in vals])
        n_out = sum(1 for x in vals if abs(x - med) > 3 * mad)
        want[g] = (med, mad, n_rows, n_out, 10**6 * n_out // n_rows)
    assert got == want
    assert got["a"][3] == 1  # the planted 1000 is the only outlier
    assert got["b"][3] == 0 and got["b"][2] == 5  # null in n_rows only


def test_distribution_drift_identical_and_shifted(spark):
    """Identical snapshots give zero PSI everywhere; a shifted
    snapshot produces positive total drift; one-sided buckets appear
    with a zero count on the missing side. Contributions match a
    sequential integer replay."""
    from ark_invest_api_rust_data_spark.operators.quality import (
        distribution_drift,
    )

    a_vals = [5.0, 15.0, 15.0, 25.0, 25.0, 25.0]
    b_vals = [15.0, 25.0, 25.0, 35.0, 35.0, 35.0]
    dfa = spark.createDataFrame([(v,) for v in a_vals], "x double")
    dfb = spark.createDataFrame([(v,) for v in b_vals], "x double")

    same = distribution_drift(dfa, dfa, "x", bucket_width=10).collect()
    assert all(r["psi_contrib"] == 0 and r["lam"] == 0 for r in same)

    rows = {
        r["bucket"]: r
        for r in distribution_drift(dfa, dfb, "x", bucket_width=10).collect()
    }

    def replay(ca, cb, na, nb, shift=20):
        p = 10**6 * ca // na
        q = 10**6 * cb // nb
        lam = max(((p + 1) << shift) // (q + 1), 1).bit_length() - 1 - shift
        return p, q, lam, (p - q) * lam

    from collections import Counter

    Ca = Counter(int(v // 10) for v in a_vals)
    Cb = Counter(int(v // 10) for v in b_vals)
    for bkt in set(Ca) | set(Cb):
        p, q, lam, contrib = replay(Ca.get(bkt, 0), Cb.get(bkt, 0), 6, 6)
        r = rows[bkt]
        assert (r["p_ppm"], r["q_ppm"], r["lam"], r["psi_contrib"]) == (
            p, q, lam, contrib,
        )
    assert rows[0]["cnt_b"] == 0  # bucket only in A
    assert rows[3]["cnt_a"] == 0  # bucket only in B
    assert sum(r["psi_contrib"] for r in rows.values()) > 0


def test_moments_profile_matches_sequential_reference(spark):
    """moments_profile equals a sequential replay (integer cent power
    sums -> the same pinned double expressions): a symmetric group has
    ~0 skew, a one-sided-outlier group positive skew and high
    kurtosis; a constant group reports NULL skew/kurt (m2=0)."""
    import math

    from ark_invest_api_rust_data_spark.operators.quality import moments_profile

    rows = (
        [("sym", float(v)) for v in (1, 2, 2, 3, 3, 4, 4, 5)]
        + [("skew", float(v)) for v in (1, 1, 1, 1, 1, 1, 1, 50)]
        + [("const", 7.0)] * 4
    )
    df = spark.createDataFrame(rows, "g string, x double")
    got = {
        r["g"]: (r["n"], r["mean_c"], r["var_c"], r["skewness"], r["kurtosis"])
        for r in moments_profile(df, "x", ["g"]).collect()
    }

    def ref(vals):
        cs = [math.floor(v * 100.0) for v in vals]
        n = float(len(cs))
        s1, s2 = float(sum(cs)), float(sum(c * c for c in cs))
        s3, s4 = float(sum(c**3 for c in cs)), float(sum(c**4 for c in cs))
        mean = s1 / n
        m2 = s2 / n - mean * mean
        m3 = s3 / n - 3.0 * mean * (s2 / n) + 2.0 * mean * mean * mean
        m4 = (
            s4 / n
            - 4.0 * mean * (s3 / n)
            + 6.0 * mean * mean * (s2 / n)
            - 3.0 * mean * mean * mean * mean
        )
        skew = m3 / (m2 * math.sqrt(m2)) if m2 > 0 else None
        kurt = m4 / (m2 * m2) - 3.0 if m2 > 0 else None
        return (len(cs), mean, m2, skew, kurt)

    by_g = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vals in by_g.items():
        n, mean, m2, skew, kurt = ref(vals)
        gn, gmean, gvar, gskew, gkurt = got[g]
        assert (gn, gmean, gvar) == (n, mean, m2)
        if skew is None:
            assert gskew is None and gkurt is None
        else:
            assert gskew == skew and gkurt == kurt
    assert abs(got["sym"][3]) < 1e-9  # symmetric
    assert got["skew"][3] > 2  # heavy right tail


def test_robust_outliers_keeps_null_group(spark):
    """Review finding: the NULL-keyed slice stays in the report
    (null-safe joins, the exact_percentile_hist rule)."""
    from ark_invest_api_rust_data_spark.operators.quality import robust_outliers

    rows = [(None, 1.0), (None, 2.0), (None, 100.0), ("g", 5.0)]
    df = spark.createDataFrame(rows, "g string, x double")
    got = {r["g"]: r["n_outliers"] for r in robust_outliers(df, "x", ["g"]).collect()}
    assert set(got) == {None, "g"}
    assert got[None] == 1  # the planted 100 in the unkeyed slice


def test_moments_profile_overflow_raises_not_null(spark):
    """r8 advisor regression: a value whose cent⁴ power sum exceeds
    decimal(38,0) must FAIL LOUDLY, not silently emit NULL moments
    where DuckDB's HUGEINT path would raise. Under ANSI mode (Spark 4
    default) the decimal multiply/sum itself raises
    NUMERIC_VALUE_OUT_OF_RANGE; under non-ANSI configs the operator's
    raise_error guard fires on the NULL sum. Either way: loud. A
    single |c| ≈ 3.3e9 row puts c⁴ ≈ 1.2e38 > 10³⁸−1."""
    import pytest

    from ark_invest_api_rust_data_spark.operators.quality import moments_profile

    df = spark.createDataFrame(
        [("g", 3.3e7), ("g", -3.3e7)], "g string, x double"
    )
    with pytest.raises(
        Exception, match="power-sum overflow|NUMERIC_VALUE_OUT_OF_RANGE"
    ):
        moments_profile(df, "x", ["g"]).collect()
