"""Declarative data-quality constraints (Deequ-style) — the validation
gate a pipeline runs before promoting a batch into the lake or a
training shard. The reference repo validates implicitly (panics on
schema drift, /root/reference/src/util.rs dtype repair); this makes the
checks an explicit, queryable artifact: one row per constraint with the
observed violation count, so a scheduler can gate on ``passed`` and an
engineer can see HOW broken a batch is, not just that it is.

Constraint kinds (all exact int64 — a SQL oracle replays every count):

* ``not_null``          — violations = NULLs in ``col``
* ``null_rate_max``     — passed iff nulls·den ≤ num·rows (rational
                          threshold, no float compare)
* ``unique``            — violations = rows beyond the first per key
* ``min_at_least`` / ``max_at_most`` — violations = rows out of bound
* ``in_set``            — violations = rows (non-NULL) outside the set
* ``fk``                — violations = rows whose ``col`` has no match
                          in ``ref_col`` of ``ref`` (left anti join)

Scale shape: every row-local kind folds into ONE multi-conditional-sum
aggregation over a single scan (adding constraints does not add
passes); ``unique`` adds one groupBy on its key; ``fk`` one anti join —
each with O(1)-row outputs, unioned into the report. At 100 TB the
report costs one scan + one shuffle per unique/fk constraint, nothing
proportional to violations.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def _cname(e: dict) -> str:
    kind = e["kind"]
    if kind == "unique":
        return f"unique({','.join(e['cols'])})"
    if kind == "fk":
        return f"fk({e['col']}->{e['ref_col']})"
    if kind == "null_rate_max":
        return f"null_rate_max({e['col']},{e['num']}/{e['den']})"
    if kind in ("min_at_least", "max_at_most"):
        return f"{kind}({e['col']},{e['value']})"
    if kind == "in_set":
        return f"in_set({e['col']})"
    return f"{kind}({e['col']})"


def validate_expectations(df: DataFrame, spec: list[dict]) -> DataFrame:
    """Run the constraint ``spec`` against ``df``; returns
    ``(constraint, observed, passed)`` — observed is the violation
    count except for ``null_rate_max`` where it is the raw NULL count
    (the threshold compare is rational, see module docstring)."""
    agg_exprs: list = []
    agg_meta: list[tuple[str, object]] = []  # (constraint, passed_fn(row))
    extras: list[DataFrame] = []

    def _viol_sum(cond) -> F.Column:
        # coalesce: on an empty frame SUM is NULL, which would make
        # observed/passed NULL — an empty-but-valid batch must report
        # observed=0 / passed=true, not NULL
        return F.coalesce(
            F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)
        ).cast("long")

    n_idx = len(agg_exprs)
    agg_exprs.append(F.count(F.lit(1)).cast("long").alias("_nrows"))

    for e in spec:
        kind = e["kind"]
        name = _cname(e)
        if kind == "not_null":
            agg_exprs.append(
                _viol_sum(F.col(e["col"]).isNull()).alias(f"_c{len(agg_exprs)}")
            )
            agg_meta.append((name, None))
        elif kind == "null_rate_max":
            agg_exprs.append(
                _viol_sum(F.col(e["col"]).isNull()).alias(f"_c{len(agg_exprs)}")
            )
            agg_meta.append((name, (e["num"], e["den"])))
        elif kind == "min_at_least":
            agg_exprs.append(
                _viol_sum(F.col(e["col"]) < F.lit(e["value"])).alias(
                    f"_c{len(agg_exprs)}"
                )
            )
            agg_meta.append((name, None))
        elif kind == "max_at_most":
            agg_exprs.append(
                _viol_sum(F.col(e["col"]) > F.lit(e["value"])).alias(
                    f"_c{len(agg_exprs)}"
                )
            )
            agg_meta.append((name, None))
        elif kind == "in_set":
            agg_exprs.append(
                _viol_sum(
                    F.col(e["col"]).isNotNull()
                    & ~F.col(e["col"]).isin(*e["values"])
                ).alias(f"_c{len(agg_exprs)}")
            )
            agg_meta.append((name, None))
        elif kind == "unique":
            dup = (
                df.groupBy(*e["cols"])
                .agg((F.count(F.lit(1)) - F.lit(1)).alias("_extra"))
                .agg(F.coalesce(F.sum("_extra"), F.lit(0)).cast("long").alias("observed"))
                .select(
                    F.lit(name).alias("constraint"),
                    "observed",
                    (F.col("observed") == 0).alias("passed"),
                )
            )
            extras.append(dup)
        elif kind == "fk":
            viol = (
                df.select(F.col(e["col"]).alias("_k"))
                .filter(F.col("_k").isNotNull())
                .join(
                    e["ref"].select(F.col(e["ref_col"]).alias("_k")).distinct(),
                    "_k",
                    "left_anti",
                )
                .agg(F.count(F.lit(1)).cast("long").alias("observed"))
                .select(
                    F.lit(name).alias("constraint"),
                    "observed",
                    (F.col("observed") == 0).alias("passed"),
                )
            )
            extras.append(viol)
        else:
            raise ValueError(f"unknown expectation kind: {kind!r}")

    one = df.agg(*agg_exprs)
    rows = []
    col_i = n_idx + 1
    for name, meta in agg_meta:
        obs = F.col(f"_c{col_i}")
        if meta is None:
            passed = obs == 0
        else:  # rational null-rate threshold: nulls·den <= num·rows
            num, den = meta
            passed = obs * F.lit(den) <= F.lit(num) * F.col("_nrows")
        rows.append(
            F.struct(
                F.lit(name).alias("constraint"),
                obs.alias("observed"),
                passed.alias("passed"),
            )
        )
        col_i += 1
    parts = list(extras)
    if rows:
        parts.insert(
            0,
            one.select(F.explode(F.array(*rows)).alias("_r")).select(
                "_r.constraint", "_r.observed", "_r.passed"
            ),
        )
    if not parts:
        raise ValueError("validate_expectations: empty spec")
    out = parts[0]
    for ex in parts[1:]:
        out = out.union(ex)
    return out


def robust_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    c_num: int = 3,
    c_den: int = 1,
) -> DataFrame:
    """Median/MAD outlier detection per group — the robust z-score
    (Hampel filter) every data-quality sweep runs before trusting a
    numeric column: a value is an outlier when

        |x − median| · c_den > c_num · MAD,
        MAD = median(|x − median|)

    Mean/stddev break down exactly when needed most (the outliers
    drag both); median and MAD have a 50% breakdown point. Returns
    one row per group: ``med``, ``mad``, ``n_rows``, ``n_outliers``,
    ``outlier_ppm``.

    Determinism: both medians are ``percentile_disc`` picks of actual
    values through the histogram tier (operators/percentile.py — the
    per-group shuffle is O(distinct values), no full-group reducer
    concentration); |x − med| is one IEEE subtract, the threshold
    compare one multiply each side — identical operands on every
    engine. The cutoff constant enters as the integer pair
    c_num/c_den so no float literal drifts.

    NULL values are excluded from median, MAD, and the outlier count
    but counted in ``n_rows`` (percentile_disc's null semantics).
    """
    from .percentile import exact_percentile_hist

    if c_num < 0 or c_den < 1:
        raise ValueError(f"need c_num >= 0, c_den >= 1; got {c_num}/{c_den}")

    def nullsafe(left: DataFrame, right: DataFrame) -> DataFrame:
        # NULL group keys are regular groups (the exact_percentile_hist
        # eqNullSafe rule) — equality keys would silently drop the
        # whole unkeyed slice from the quality report
        r = right.select(
            *[F.col(c).alias(f"_rj_{c}") for c in group_cols],
            *[c for c in right.columns if c not in group_cols],
        )
        cond = None
        for c in group_cols:
            clause = F.col(c).eqNullSafe(F.col(f"_rj_{c}"))
            cond = clause if cond is None else cond & clause
        return left.join(r, cond).drop(*[f"_rj_{c}" for c in group_cols])

    med = exact_percentile_hist(df, group_cols, value_col, {"med": 0.5})
    with_med = nullsafe(df, med)
    dev = with_med.withColumn(
        "_adev", F.abs(F.col(value_col) - F.col("med"))
    )
    mad = exact_percentile_hist(dev, group_cols, "_adev", {"mad": 0.5})
    scored = nullsafe(dev, mad.select(*group_cols, "mad"))
    is_out = (
        F.col(value_col).isNotNull()
        & (F.col("_adev") * F.lit(c_den) > F.lit(c_num) * F.col("mad"))
    )
    return (
        scored.groupBy(*group_cols)
        .agg(
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.count("*").alias("n_rows"),
            F.sum(is_out.cast("long")).alias("n_outliers"),
        )
        .withColumn(
            "outlier_ppm",
            F.expr("CAST(1000000 * n_outliers AS BIGINT) div n_rows"),
        )
    )


def distribution_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    bucket_width: int,
    shift: int = 20,
) -> DataFrame:
    """PSI-style distribution drift between two snapshots of a numeric
    column — the monitoring signal that catches silent upstream
    changes (schema holds, values move) before they poison training.

    Fixed-width buckets (``floor(value / bucket_width)`` — boundaries
    independent of either snapshot, so A/B and B/A bucket
    identically); per bucket the counts, ppm shares, an EXACT integer
    log2 share-ratio (the DSIR bit-length primitive over
    (p_ppm+1)/(q_ppm+1)) and the population-stability contribution

        psi_contrib = (p_ppm − q_ppm) · lam      (int64, exact)

    Σ psi_contrib is the scaled PSI analog: 0 for identical
    distributions, growing with divergence. Buckets observed in only
    one snapshot get count 0 on the other side (full outer join) —
    the +1 smoothing keeps the ratio finite, same as the published
    PSI practice of flooring empty buckets.

    Scale shape: two map-side-combined bucket counts (O(buckets)
    rows each) + one tiny full-outer join; nothing else touches the
    snapshots. All-integer output — the SQL oracle replays every
    bucket bit-for-bit."""
    if bucket_width < 1:
        raise ValueError(f"bucket_width must be >= 1, got {bucket_width}")
    if not 0 < shift < 43:
        raise ValueError(f"shift must be in (0, 43), got {shift}")

    # ONE scan per snapshot: the totals come from the materialized
    # O(buckets) histograms, not a second count() pass
    ca = bucket_counts(df_a, value_col, bucket_width, "cnt_a").localCheckpoint(
        eager=True
    )
    cb = bucket_counts(df_b, value_col, bucket_width, "cnt_b").localCheckpoint(
        eager=True
    )
    na = ca.agg(F.coalesce(F.sum("cnt_a"), F.lit(0))).collect()[0][0]
    nb = cb.agg(F.coalesce(F.sum("cnt_b"), F.lit(0))).collect()[0][0]
    return drift_report(ca, cb, int(na), int(nb), shift=shift)


def drift_report(
    ca: DataFrame, cb: DataFrame, na: int, nb: int, shift: int = 20
) -> DataFrame:
    """The report half of ``distribution_drift``, over precomputed
    (bucket, cnt_a)/(bucket, cnt_b) frames and totals."""
    if na <= 0 or nb <= 0:
        raise ValueError(f"empty snapshot: n_a={na}, n_b={nb}")
    joined = ca.join(cb, "bucket", "full_outer").select(
        "bucket",
        F.coalesce(F.col("cnt_a"), F.lit(0)).cast("long").alias("cnt_a"),
        F.coalesce(F.col("cnt_b"), F.lit(0)).cast("long").alias("cnt_b"),
    )
    shares = joined.withColumns(
        {
            "p_ppm": F.expr(f"(1000000 * cnt_a) div {na}"),
            "q_ppm": F.expr(f"(1000000 * cnt_b) div {nb}"),
        }
    )
    x = F.expr(f"greatest(((p_ppm + 1) * {1 << shift}) div (q_ppm + 1), 1)")
    lam = (F.length(F.bin(x)) - F.lit(1) - F.lit(shift)).cast("long")
    return shares.withColumn("lam", lam).withColumn(
        "psi_contrib",
        ((F.col("p_ppm") - F.col("q_ppm")) * F.col("lam")).cast("long"),
    )


def bucket_counts(
    df: DataFrame, value_col: str, bucket_width: int, out: str
) -> DataFrame:
    """Fixed-width bucket histogram of a numeric column — the unit
    both drift sides are built from (NULLs excluded, same rule as
    ``distribution_drift``)."""
    b = F.floor(F.col(value_col) / F.lit(bucket_width)).cast("long")
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(b.alias("bucket"))
        .agg(F.count("*").alias(out))
    )


def moments_profile(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    cents: int = 100,
) -> DataFrame:
    """Higher-moment column profiling per group: mean, population
    variance, skewness, and excess kurtosis — the distribution-shape
    half of ANALYZE that min/max/distinct (b07_table_profile) cannot
    see; the drift monitor's scalar companion.

    Exactness contract: the value is fixed-pointed to integer
    'cents' (floor(x·cents) — one double multiply + floor, identical
    both engines), then the four power sums accumulate in
    decimal(38,0) — EXACT, no float reassociation (the
    cluster_diversity fold). The derived moments are doubles computed
    from identical decimal-cast operands in a pinned expression
    order, so they hash-match cross-engine:

        mean  = s1/n
        m2    = s2/n − mean²            (population variance)
        skew  = (s3/n − 3·mean·s2/n + 2·mean³) / m2^1.5
        kurt  = (s4/n − 4·mean·s3/n + 6·mean²·s2/n − 3·mean⁴)/m2² − 3

    Bounds: |x·cents| < ~3e9 keeps x⁴ ≤ 8e37 < 10³⁸ per row; the
    decimal sums never clip below 10³⁸ total. NULLs excluded; groups
    with m2 = 0 report NULL skew/kurt (division by zero → NULL on
    both engines).

    Scale shape: ONE map-side-combined aggregation — four decimal
    sums + a count per group; O(groups) output."""
    c = F.floor(F.col(value_col).cast("double") * F.lit(float(cents))).cast(
        "decimal(38,0)"
    )
    rows = df.filter(F.col(value_col).isNotNull())
    agg = rows.groupBy(*group_cols).agg(
        F.count("*").alias("n"),
        F.sum(c).alias("_s1"),
        F.sum(c * c).alias("_s2"),
        F.sum(c * c * c).alias("_s3"),
        F.sum(c * c * c * c).alias("_s4"),
    )
    n = F.col("n").cast("double")
    s1 = F.col("_s1").cast("double")
    s2 = F.col("_s2").cast("double")
    s3 = F.col("_s3").cast("double")
    # loud overflow guard (r8 advisor finding): non-ANSI Spark yields
    # NULL on decimal(38,0) sum overflow while DuckDB's HUGEINT path
    # raises — a silent cross-engine divergence. (Under ANSI mode —
    # the Spark 4 default — the decimal op itself raises
    # NUMERIC_VALUE_OUT_OF_RANGE before this guard is reached; the
    # guard makes non-ANSI deployments equally loud.) _s4 sums c⁴ ≥ 0, the
    # largest-magnitude accumulator, so it overflows first; every
    # group has ≥ 1 non-null row post-filter, so NULL here can ONLY
    # mean overflow. raise_error is referenced through kurtosis's s4
    # operand, so Catalyst cannot prune it.
    s4 = F.when(
        F.col("_s4").isNull(),
        F.raise_error(
            F.lit(
                "moments_profile: decimal(38,0) power-sum overflow — "
                "reduce `cents` or pre-scale the value column"
            )
        ).cast("double"),
    ).otherwise(F.col("_s4").cast("double"))
    mean = s1 / n
    m2 = s2 / n - mean * mean
    m3 = s3 / n - F.lit(3.0) * mean * (s2 / n) + F.lit(2.0) * mean * mean * mean
    m4 = (
        s4 / n
        - F.lit(4.0) * mean * (s3 / n)
        + F.lit(6.0) * mean * mean * (s2 / n)
        - F.lit(3.0) * mean * mean * mean * mean
    )
    # explicit m2>0 gate (constant group): ANSI Spark raises on /0 and
    # engines disagree on double-/0 semantics — NULL is the contract
    return agg.select(
        *group_cols,
        "n",
        mean.alias("mean_c"),
        m2.alias("var_c"),
        F.when(m2 > 0, m3 / (m2 * F.sqrt(m2))).alias("skewness"),
        F.when(m2 > 0, m4 / (m2 * m2) - F.lit(3.0)).alias("kurtosis"),
    )
