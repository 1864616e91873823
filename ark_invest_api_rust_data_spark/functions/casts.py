"""Type-cast / parse expressions (SURVEY.md §2 C1–C5, C8, C9).

Everything is a guarded column expression — guards branch on the
resolved schema (``df.schema``), which in Spark is free (no action),
unlike the reference's eager ``collect()`` before every introspection
(/root/reference/src/util.rs:154).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from py4j.java_gateway import JavaObject
from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T

from .memo import jseq, per_jvm

# Candidate formats, tried in order (/root/reference/src/util.rs:231-237).
# None = engine inference (ISO) — Polars strptime(format=None) ≙ to_date(c).
DATE_FORMATS: list[str | None] = ["M/d/yyyy", "yyyy/M/d", None]


@per_jvm
def _try_parse(colname: str, fmt: str | None) -> Column:
    # try_to_date ≙ Polars strptime(strict=false): null on parse failure
    # (plain to_date THROWS under Spark 4's default ANSI mode).
    c = F.col(colname)
    return F.try_to_date(c, fmt) if fmt is not None else F.try_to_date(c)


@per_jvm
def _budget_aggs(colname: str) -> list[Column]:
    """Height plus the parsed count under every candidate format."""
    return [F.count(F.lit(1)).alias("h")] + [
        F.count(_try_parse(colname, fmt)).alias(f"ok_{i}") for i, fmt in enumerate(DATE_FORMATS)
    ]


@per_jvm
def _ok_flags(colname: str) -> list[Column]:
    """Per row, whether each candidate format parses the value."""
    return [_try_parse(colname, fmt).isNotNull().alias(f"ok_{i}") for i, fmt in enumerate(DATE_FORMATS)]


def _format_counts(df: DataFrame, colname: str) -> tuple[int, list[int]]:
    """Height and the parsed count under every candidate format. A
    frame whose flags the optimizer folds into a ``LocalRelation`` (a
    fetched body: rows held in the plan, which ``collect`` reads with no
    Spark job) is counted on the driver; any other frame runs one
    aggregate. Both count Spark's own ``try_to_date``."""
    flags = df.select(*_ok_flags(colname))
    plan = flags._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() == "LocalRelation":
        rows = flags.collect()
        return len(rows), [sum(r[i] for r in rows) for i in range(len(DATE_FORMATS))]
    stats = df.agg(*_budget_aggs(colname)).first()
    return stats["h"], [stats[f"ok_{i}"] for i in range(len(DATE_FORMATS))]


def parse_date_with_budget(df: DataFrame, colname: str = "date") -> DataFrame:
    """C1 — multi-format date parse with a 10%-null rejection budget.

    The reference tries each format and REJECTS it if more than
    height/10 rows fail to parse (/root/reference/src/util.rs:224-226),
    falling through to the next; if all candidates fail the column is
    left as-is. One pass counts the parsed rows of every candidate (the
    reference materializes per try; we don't need to): on the driver
    for a driver-held frame, else one small aggregate action.
    """
    if not isinstance(df.schema[colname].dataType, T.StringType):
        return df
    h, oks = _format_counts(df, colname)
    if h == 0:
        return df
    for fmt, ok in zip(DATE_FORMATS, oks):
        nulls = h - ok
        if not nulls > h // 10:  # reference: reject iff null_count > height/10
            return df.withColumn(colname, _try_parse(colname, fmt))
    return df  # all formats rejected → column stays string (parity)


def percent_to_double(c: Column) -> Column:
    """C2 — strip the FIRST '%' (Polars str.replace literal semantics,
    /root/reference/src/util.rs:250-255), cast double. A malformed
    '1%2%' leaves '12%' behind and the cast fails loudly in BOTH
    engines; stripping all '%' would instead silently succeed here."""
    from .strings import replace_first

    return replace_first(c, "%", "").cast("double")


def currency_to_long(c: Column) -> Column:
    """C3 — strip the FIRST '$' (reference str.replace is
    first-occurrence, /root/reference/src/util.rs:264-267) then all
    ',', cast double THEN long: the double→long truncation-toward-zero
    is load-bearing (/root/reference/src/util.rs:264-272)."""
    from .strings import replace_first

    cleaned = F.replace(replace_first(c, "$", ""), F.lit(","), F.lit(""))
    return cleaned.cast("double").cast("long")


def thousands_to_long(c: Column) -> Column:
    """C4 — strip all ',', cast long."""
    return F.replace(c, F.lit(","), F.lit("")).cast("long")


def derive_share_price(mv: Column, shares: Column) -> Column:
    """C8 — share_price = round(mv/shares, 2); Spark HALF_UP equals
    Polars half-away-from-zero for the non-negative domain here."""
    return F.round(mv.cast("double") / shares.cast("double"), 2)


@per_jvm
def _repair_projection(spec: tuple[tuple[str, str | None], ...]) -> JavaObject:
    """JVM Seq of the output columns for ``(name, cast target or None)``."""
    return jseq([F.col(n) if to is None else F.col(n).cast(to).alias(n) for n, to in spec])


def repair_dtypes(df: DataFrame) -> DataFrame:
    """C9 — final dtype repair (/root/reference/src/util.rs:452-476):
    float→long for market_value/shares, long→double for
    share_price/weight when mistyped. The projection is built once per
    JVM for each input schema."""
    spec = []
    for f in df.schema.fields:
        to = None
        if f.name in ("market_value", "shares") and isinstance(f.dataType, T.DoubleType):
            to = "long"
        elif f.name in ("share_price", "weight") and isinstance(f.dataType, T.LongType):
            to = "double"
        spec.append((f.name, to))
    return DataFrame(df._jdf.select(_repair_projection(tuple(spec))), df.sparkSession)
