"""Warehouse-maintenance probes: SCD Type-2 dimension versioning
(U5 extension — the generalized form of the reference's holdings
merge, util.rs:64-80) and table profiling (B7/B8 extension — the
ANALYZE-style stats sweep every warehouse runs before planning).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ..operators.merge import scd2_apply
from .base import Probe


# ------------------------------------------------------------- SCD2
def u05_scd2(spark: SparkSession, sf: str) -> DataFrame:
    """U5 extension — SCD Type-2 merge: customers seed the versioned
    dimension; an update batch flips the market segment for keys
    ≡ 0 (mod 7) and re-sends the UNCHANGED segment for keys ≡ 1
    (mod 7). Changed keys must yield a closed row + an open
    replacement; no-op updates must leave the open row untouched —
    the oracle re-derives the same versioned table relationally."""
    cust = load_table(spark, sf, "customer")
    dim = cust.withColumn("valid_from", F.to_date(F.lit("2024-01-01"))).withColumn(
        "valid_to", F.lit(None).cast("date")
    )
    changed = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey", F.reverse("c_mktsegment").alias("c_mktsegment")
    )
    noop = cust.filter(F.col("c_custkey") % 7 == 1).select(
        "c_custkey", "c_mktsegment"
    )
    out = scd2_apply(
        dim,
        changed.unionByName(noop),
        key="c_custkey",
        tracked=["c_mktsegment"],
        effective="2024-06-01",
    )
    return out.select(
        "c_custkey", "c_mktsegment", "valid_from", "valid_to"
    )


U05_SCD2_SQL = """
WITH dim AS (
  SELECT c_custkey, c_mktsegment,
         DATE '2024-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
  FROM customer),
u AS (
  SELECT c_custkey, reverse(c_mktsegment) AS c_mktsegment
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 7 = 1),
chg AS (
  SELECT d.c_custkey FROM dim d JOIN u ON d.c_custkey = u.c_custkey
  WHERE d.c_mktsegment IS DISTINCT FROM u.c_mktsegment)
SELECT d.c_custkey, d.c_mktsegment, d.valid_from,
  CASE WHEN d.c_custkey IN (SELECT c_custkey FROM chg)
       THEN DATE '2024-06-01' ELSE d.valid_to END AS valid_to
FROM dim d
UNION ALL
SELECT d.c_custkey, u.c_mktsegment, DATE '2024-06-01' AS valid_from,
       CAST(NULL AS DATE) AS valid_to
FROM dim d JOIN u ON d.c_custkey = u.c_custkey
WHERE d.c_mktsegment IS DISTINCT FROM u.c_mktsegment
"""


# --------------------------------------------------------- profiling
_PROF_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def b07_table_profile(spark: SparkSession, sf: str) -> DataFrame:
    """B7/B8 extension — one-pass column profiling (ANALYZE-style):
    row/null/distinct counts + min/max per numeric column, computed as
    a single multi-aggregate scan then unpivoted — the scan cost is
    one pass regardless of column count."""
    li = load_table(spark, sf, "lineitem")
    aggs = []
    for c in _PROF_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__nd"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
        ]
    one = li.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__n, {c}__nulls, {c}__nd, {c}__min, {c}__max"
        for c in _PROF_COLS
    )
    return one.select(
        F.expr(
            f"stack({len(_PROF_COLS)}, {stack}) AS "
            "(column_name, n_rows, n_nulls, n_distinct, min_v, max_v)"
        )
    )


B07_PROFILE_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
  CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
  CAST(min({c}) AS DOUBLE) AS min_v, CAST(max({c}) AS DOUBLE) AS max_v
FROM lineitem"""
    for c in _PROF_COLS
)


def b07_expectations(spark: SparkSession, sf: str) -> DataFrame:
    """B7 extension — declarative data-quality gate (Deequ-style,
    operators/quality.validate_expectations): seven constraints over
    lineitem in ONE multi-conditional-sum scan plus one groupBy
    (uniqueness) and one anti join (FK containment), reported as
    (constraint, observed, passed). The (l_orderkey, l_linenumber)
    uniqueness constraint FAILS on the synthetic data (duplicate line
    numbers exist) — deliberately, so the report's failure path is
    exercised, not just the green path."""
    from ..operators.quality import validate_expectations

    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    spec = [
        {"kind": "not_null", "col": "l_orderkey"},
        {"kind": "null_rate_max", "col": "l_shipdate", "num": 1, "den": 100},
        {"kind": "min_at_least", "col": "l_quantity", "value": 1},
        {"kind": "max_at_most", "col": "l_discount", "value": 0.1},
        {"kind": "in_set", "col": "l_returnflag", "values": ["A", "N", "R"]},
        {"kind": "unique", "cols": ["l_orderkey", "l_linenumber"]},
        {"kind": "fk", "col": "l_orderkey", "ref": orders, "ref_col": "o_orderkey"},
    ]
    return validate_expectations(li, spec)


B07_EXPECT_SQL = """
SELECT 'not_null(l_orderkey)' AS constraint,
  CAST(count(*) - count(l_orderkey) AS BIGINT) AS observed,
  count(*) - count(l_orderkey) = 0 AS passed FROM lineitem
UNION ALL
SELECT 'null_rate_max(l_shipdate,1/100)',
  CAST(count(*) - count(l_shipdate) AS BIGINT),
  (count(*) - count(l_shipdate)) * 100 <= 1 * count(*) FROM lineitem
UNION ALL
SELECT 'min_at_least(l_quantity,1)',
  CAST(count(*) FILTER (WHERE l_quantity < 1) AS BIGINT),
  count(*) FILTER (WHERE l_quantity < 1) = 0 FROM lineitem
UNION ALL
SELECT 'max_at_most(l_discount,0.1)',
  CAST(count(*) FILTER (WHERE l_discount > 0.1) AS BIGINT),
  count(*) FILTER (WHERE l_discount > 0.1) = 0 FROM lineitem
UNION ALL
SELECT 'in_set(l_returnflag)',
  CAST(count(*) FILTER (WHERE l_returnflag IS NOT NULL
       AND l_returnflag NOT IN ('A','N','R')) AS BIGINT),
  count(*) FILTER (WHERE l_returnflag IS NOT NULL
       AND l_returnflag NOT IN ('A','N','R')) = 0 FROM lineitem
UNION ALL
SELECT 'unique(l_orderkey,l_linenumber)',
  CAST(coalesce(sum(c - 1), 0) AS BIGINT),
  coalesce(sum(c - 1), 0) = 0
FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)
UNION ALL
SELECT 'fk(l_orderkey->o_orderkey)',
  CAST(count(*) AS BIGINT), count(*) = 0
FROM lineitem WHERE l_orderkey IS NOT NULL
  AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)
"""


PROBES = [
    Probe("u05_scd2", "U5", u05_scd2, U05_SCD2_SQL),
    Probe("b07_table_profile", "B7-B8", b07_table_profile, B07_PROFILE_SQL),
    Probe("b07_expectations", "B7", b07_expectations, B07_EXPECT_SQL),
]


# ----------------------------------------- incremental matview refresh
def w02_matview_refresh(spark: SparkSession, sf: str) -> DataFrame:
    """S2/B7 extension — incremental materialized-view maintenance
    (operators/matview.py): a (status, month) COUNT/SUM aggregate is
    materialized over snapshot v1 of orders, then a churn cycle lands
    (every 17th key deleted, every key ≡3 mod 10 repriced 2×); the
    view is refreshed from the row-level CDC delta alone — the base
    table is never rescanned. The oracle is the FULL RECOMPUTE over
    the new snapshot, so the gate proves refresh ≡ recompute exactly
    (decimal measures; delete+insert update encoding)."""
    from ..operators.matview import matview_build, matview_refresh

    orders = load_table(spark, sf, "orders")
    v1 = orders
    v2 = orders.filter(F.col("o_orderkey") % 17 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 10 == 3, F.col("o_totalprice") * 2
        ).otherwise(F.col("o_totalprice")),
    )
    group_cols = ["status", "month"]
    keyed = lambda df: df.select(  # noqa: E731
        F.col("o_orderstatus").alias("status"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
    )
    measures = {"total": F.col("price")}
    base = matview_build(keyed(v1), group_cols, measures)
    ins = keyed(v2).exceptAll(keyed(v1)).withColumn("op", F.lit("insert"))
    dels = keyed(v1).exceptAll(keyed(v2)).withColumn("op", F.lit("delete"))
    refreshed = matview_refresh(
        base, ins.unionByName(dels), group_cols, measures
    )
    return refreshed.select(
        "status", "month", "n_rows", F.col("total").cast("double").alias("total")
    )


W02_MATVIEW_SQL = """
WITH v2 AS (
  SELECT o_orderstatus, o_orderdate,
         CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice * 2
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 17 <> 0)
SELECT o_orderstatus AS status,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
       count(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM v2 GROUP BY 1, 2
"""

PROBES.append(
    Probe("w02_matview_refresh", "S2-B7", w02_matview_refresh, W02_MATVIEW_SQL)
)


# ------------------------------------------------- robust outliers
def b07_robust_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """B7/B8 extension — Hampel-filter outlier scan
    (operators/quality.robust_outliers): per order-status
    median/MAD of o_totalprice and the 3-MAD outlier rate. Both
    medians run through the histogram percentile tier (O(distinct
    values) shuffle, no group concentration); the threshold compare
    is IEEE-identical on both engines."""
    from ..operators.quality import robust_outliers

    orders = load_table(spark, sf, "orders")
    return robust_outliers(
        orders, "o_totalprice", ["o_orderstatus"], c_num=3, c_den=1
    )


B07_ROBUST_SQL = """
WITH med AS (
  SELECT o_orderstatus,
         percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS med
  FROM orders GROUP BY 1),
dev AS (
  SELECT o.o_orderstatus, o.o_totalprice, m.med,
         abs(o.o_totalprice - m.med) AS adev
  FROM orders o JOIN med m USING (o_orderstatus)),
mad AS (
  SELECT o_orderstatus,
         percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS mad
  FROM dev GROUP BY 1)
SELECT d.o_orderstatus, any_value(d.med) AS med, any_value(t.mad) AS mad,
       count(*) AS n_rows,
       CAST(SUM(CASE WHEN d.o_totalprice IS NOT NULL
                      AND d.adev * 1 > 3 * t.mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       CAST((1000000 * SUM(CASE WHEN d.o_totalprice IS NOT NULL
                                 AND d.adev * 1 > 3 * t.mad THEN 1 ELSE 0 END))
            // count(*) AS BIGINT) AS outlier_ppm
FROM dev d JOIN mad t USING (o_orderstatus)
GROUP BY 1
"""

PROBES.append(
    Probe("b07_robust_outliers", "B7-B8", b07_robust_outliers, B07_ROBUST_SQL)
)


# ------------------------------------------------ distribution drift
_DRIFT_CUT = "1995-07-01"
_DRIFT_W = 50000


def b07_distribution_drift(spark: SparkSession, sf: str) -> DataFrame:
    """B7 extension — PSI-style drift scan
    (operators/quality.distribution_drift): order totals before vs
    after a calendar cut, fixed-width buckets, exact integer ppm
    shares and bit-length log2 ratios. The silent-upstream-change
    monitor; two O(buckets) aggregations and nothing else."""
    from ..operators.quality import distribution_drift

    orders = load_table(spark, sf, "orders")
    cut = F.lit(_DRIFT_CUT).cast("date")
    a = orders.filter(F.col("o_orderdate") < cut)
    b = orders.filter(F.col("o_orderdate") >= cut)
    return distribution_drift(a, b, "o_totalprice", bucket_width=_DRIFT_W)


def _drift_sql() -> str:
    shift = 20
    return f"""
WITH a AS (SELECT o_totalprice AS v FROM orders
           WHERE o_orderdate < TIMESTAMP '{_DRIFT_CUT}'
             AND o_totalprice IS NOT NULL),
b AS (SELECT o_totalprice AS v FROM orders
      WHERE o_orderdate >= TIMESTAMP '{_DRIFT_CUT}'
        AND o_totalprice IS NOT NULL),
ga AS (SELECT CAST(floor(v / {_DRIFT_W}) AS BIGINT) AS bucket,
              count(*) AS cnt_a FROM a GROUP BY 1),
gb AS (SELECT CAST(floor(v / {_DRIFT_W}) AS BIGINT) AS bucket,
              count(*) AS cnt_b FROM b GROUP BY 1),
na AS (SELECT count(*) AS n FROM a),
nb AS (SELECT count(*) AS n FROM b),
j AS (SELECT coalesce(ga.bucket, gb.bucket) AS bucket,
             coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
      FROM ga FULL OUTER JOIN gb ON ga.bucket = gb.bucket),
s AS (SELECT bucket, cnt_a, cnt_b,
             (1000000 * cnt_a) // (SELECT n FROM na) AS p_ppm,
             (1000000 * cnt_b) // (SELECT n FROM nb) AS q_ppm
      FROM j)
SELECT bucket, cnt_a, cnt_b, p_ppm, q_ppm,
  CAST(length(bin(greatest(((p_ppm + 1) * {1 << shift}) // (q_ppm + 1), 1)))
       - 1 - {shift} AS BIGINT) AS lam,
  CAST((p_ppm - q_ppm)
       * (length(bin(greatest(((p_ppm + 1) * {1 << shift}) // (q_ppm + 1), 1)))
          - 1 - {shift}) AS BIGINT) AS psi_contrib
FROM s
"""


PROBES.append(
    Probe(
        "b07_distribution_drift",
        "B7",
        b07_distribution_drift,
        _drift_sql(),
    )
)


# ------------------------------------------------ moment profiling
def b07_moments_profile(spark: SparkSession, sf: str) -> DataFrame:
    """B7/B8 extension — distribution-shape profiling
    (operators/quality.moments_profile): mean/variance/skewness/
    kurtosis of order totals per status from four exact decimal(38,0)
    power sums of the cent-quantized value; derived doubles share one
    pinned expression tree with the oracle (DuckDB accumulates in
    HUGEINT — same exact integers, same final doubles)."""
    from ..operators.quality import moments_profile

    orders = load_table(spark, sf, "orders")
    return moments_profile(orders, "o_totalprice", ["o_orderstatus"])


B07_MOMENTS_SQL = """
WITH c AS (
  SELECT o_orderstatus,
         CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0) AS HUGEINT) AS v
  FROM orders WHERE o_totalprice IS NOT NULL),
s AS (
  SELECT o_orderstatus,
         count(*) AS n,
         CAST(CAST(sum(v) AS DECIMAL(38,0)) AS DOUBLE) AS s1,
         CAST(CAST(sum(v * v) AS DECIMAL(38,0)) AS DOUBLE) AS s2,
         CAST(CAST(sum(v * v * v) AS DECIMAL(38,0)) AS DOUBLE) AS s3,
         CAST(CAST(sum(v * v * v * v) AS DECIMAL(38,0)) AS DOUBLE) AS s4,
         CAST(count(*) AS DOUBLE) AS nd
  FROM c GROUP BY 1)
SELECT o_orderstatus, n,
  s1 / nd AS mean_c,
  s2 / nd - (s1 / nd) * (s1 / nd) AS var_c,
  CASE WHEN s2 / nd - (s1 / nd) * (s1 / nd) > 0 THEN
    (s3 / nd - 3.0 * (s1 / nd) * (s2 / nd)
      + 2.0 * (s1 / nd) * (s1 / nd) * (s1 / nd))
    / ((s2 / nd - (s1 / nd) * (s1 / nd))
       * sqrt(s2 / nd - (s1 / nd) * (s1 / nd))) END AS skewness,
  CASE WHEN s2 / nd - (s1 / nd) * (s1 / nd) > 0 THEN
    (s4 / nd - 4.0 * (s1 / nd) * (s3 / nd)
      + 6.0 * (s1 / nd) * (s1 / nd) * (s2 / nd)
      - 3.0 * (s1 / nd) * (s1 / nd) * (s1 / nd) * (s1 / nd))
    / ((s2 / nd - (s1 / nd) * (s1 / nd))
       * (s2 / nd - (s1 / nd) * (s1 / nd))) - 3.0 END AS kurtosis
FROM s
"""

PROBES.append(
    Probe("b07_moments_profile", "B7-B8", b07_moments_profile, B07_MOMENTS_SQL)
)
