"""Incremental materialized-view maintenance from a CDC delta.

A 100 TB lake cannot afford to recompute its aggregate tables from
scratch every time a compaction/ingest cycle lands. The standard
warehouse answer is delta maintenance of distributive aggregates
(SUM / COUNT — the self-maintainable class of Gupta & Mumick 1995):
given the materialized aggregate at snapshot v and the row-level CDC
delta v→v' (``op = 'insert' | 'delete'``, updates as delete+insert —
the multiset ``exceptAll`` of two snapshots in both directions), the
refreshed view is

    n'      = n + Σ(inserts) − Σ(deletes)           per group
    sum_m'  = sum_m + Σ(m·sign)                      per measure

with groups dropped when their row count reaches zero. The refresh
touches O(|delta| + |groups|) rows — never the base table.

Exactness contract: measures must be exact-arithmetic types (int64 or
decimal) — decimal addition is associative, so the merged result is
bit-identical to a full recompute in ANY engine; float sums would
drift by reassociation (plans/relational.py docstring). MIN/MAX are
deliberately NOT supported: they are not self-maintainable under
deletes (a delete of the current max forces a base rescan).

NULL measures: aggregates use coalesce-to-zero semantics (an all-NULL
group reports 0, matching operators/quality.py's empty-batch
convention); rows with NULL group keys group together as in SQL.
"""

from __future__ import annotations

from collections.abc import Mapping

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def matview_build(
    df: DataFrame,
    group_cols: list[str],
    measures: Mapping[str, Column],
    count_col: str = "n_rows",
) -> DataFrame:
    """Materialize the aggregate: one COUNT(*) plus one exact SUM per
    measure, grouped by ``group_cols``. ``measures`` maps output name
    → unresolved column expression (evaluated per base-table row);
    the same mapping must be passed to ``matview_refresh``."""
    aggs = [F.count("*").alias(count_col)] + [
        F.coalesce(F.sum(expr), F.lit(0)).alias(name)
        for name, expr in measures.items()
    ]
    return df.groupBy(*group_cols).agg(*aggs)


def matview_refresh(
    base: DataFrame,
    delta: DataFrame,
    group_cols: list[str],
    measures: Mapping[str, Column],
    count_col: str = "n_rows",
    op_col: str = "op",
) -> DataFrame:
    """Apply a row-level CDC delta to a materialized aggregate.

    ``base`` is a prior ``matview_build`` output; ``delta`` carries
    full base-table rows plus ``op_col`` ∈ {'insert', 'delete'}.
    Returns the refreshed view — provably equal to
    ``matview_build(new_snapshot, ...)`` for exact measure types.

    Scale shape: one map-side-combined aggregation over the delta
    (output = O(changed groups)), then one full-outer join against the
    view — AQE broadcasts the delta side while it fits, which is the
    normal case (a day's churn vs all-time groups). The base TABLE is
    never read."""
    # any op value outside the contract (typo, case drift, NULL)
    # raises in-flight — silently counting it as a delete would
    # corrupt the view (failing loudly beats silently disagreeing)
    sign = (
        F.when(F.col(op_col) == "insert", F.lit(1))
        .when(F.col(op_col) == "delete", F.lit(-1))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("matview_refresh: bad op value: "),
                    F.coalesce(F.col(op_col), F.lit("<NULL>")),
                )
            ).cast("int")
        )
    )
    d = delta.groupBy(*group_cols).agg(
        F.sum(sign).alias("_dn"),
        *[
            F.coalesce(F.sum(expr * sign), F.lit(0)).alias(f"_d_{name}")
            for name, expr in measures.items()
        ],
    )
    # null-safe join keys: SQL groups NULL keys together, and an
    # equality join would split a NULL-keyed group into a stale base
    # row plus a dropped delta row (the percentile.py eqNullSafe rule)
    d_r = d.select(
        *[F.col(c).alias(f"_r_{c}") for c in group_cols],
        "_dn",
        *[f"_d_{name}" for name in measures],
    )
    cond = None
    for c in group_cols:
        clause = F.col(c).eqNullSafe(F.col(f"_r_{c}"))
        cond = clause if cond is None else cond & clause
    merged = base.join(d_r, cond, "full_outer")
    n = F.coalesce(F.col(count_col), F.lit(0)) + F.coalesce(F.col("_dn"), F.lit(0))
    cols = [
        F.coalesce(F.col(c), F.col(f"_r_{c}")).alias(c) for c in group_cols
    ] + [n.cast("long").alias(count_col)]
    for name in measures:
        cols.append(
            (
                F.coalesce(F.col(name), F.lit(0))
                + F.coalesce(F.col(f"_d_{name}"), F.lit(0))
            ).alias(name)
        )
    return merged.select(*cols).filter(F.col(count_col) > 0)
