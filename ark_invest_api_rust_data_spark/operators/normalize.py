"""The normalizer — Spark-first re-expression of the reference's
``df_format`` (/root/reference/src/util.rs:153-497).

One lazy projection pipeline; every step is guarded by resolved-schema
checks (free in Spark — no action). The only action inside is the
date-format budget (C1), and only when ``date`` arrives as a string:
a local collect on a driver-held frame, else one tiny aggregate.

The plan stays flat: the security rules compile to one projection (one
CASE per target column, functions/rules.py), and the casts plus both
string chains to another (each chain one linearly nested expression,
functions/strings.py), so a call adds a handful of DataFrame ops and
three composed calls stay cheap to analyze.

The trees themselves are per-JVM constants. Every ``F.*`` call is a
py4j round trip to the driver JVM, and so is every element of a Python
list handed to a DataFrame method; building the casts, both string
chains, the null-date filter, the output projections (``_trees``), the
rule CASEs and the dtype-repair projection on every call cost ~1,760
round trips a call on a canonical frame. They are built once per JVM
(functions/memo.py) and shared by every call and ``scheduled_run``
thread, which leaves 16.

Convergence, not one-shot idempotence: security rules run BEFORE the
C7 company cleanup (same order as the reference, util.rs:240), so rule
cascades can need several passes — e.g. ``ROCKET LAB USA INC`` →
(C7) ``ROCKET LAB USA`` → (R8) ``ROCKET LAB`` → (R8) ticker ``RKLB``.
The reference has the same property and papers over it by re-formatting
3× per run (§3.1); we do the same in pipeline.py, and property-test
that 3 applications reach the fixpoint (tests/test_properties.py).

Pipeline order (same as the reference, which is load-bearing):
adapters → conditional renames → drops → date parse → security rules →
cast chain + name cleanup → null-date filter → share_price derivation →
dtype repair → canonical projection.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from py4j.java_gateway import JavaObject
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions.casts import (
    currency_to_long,
    derive_share_price,
    parse_date_with_budget,
    percent_to_double,
    repair_dtypes,
    thousands_to_long,
)
from ..functions.memo import jseq, per_jvm
from ..functions.rules import apply_security_rules
from ..functions.strings import clean_company, clean_ticker
from .adapters import DataSource, apply_provider_adapters

CANONICAL_COLS = [
    "date",
    "ticker",
    "cusip",
    "company",
    "market_value",
    "shares",
    "share_price",
    "weight",
]
SHORT_COLS = ["date", "ticker", "cusip", "company", "weight"]


@per_jvm
def _trees() -> dict:
    """The normalizer's constant Column trees, and its constant column
    lists as JVM Seqs."""
    return {
        "weight_from_string": percent_to_double(F.col("weight")),
        "date_from_timestamp": F.to_date(F.col("date")),
        "market_value_from_string": currency_to_long(F.col("market_value")),
        "market_value_from_double": F.col("market_value").cast("long"),
        "shares_from_string": thousands_to_long(F.col("shares")),
        "ticker": clean_ticker(F.col("ticker")),
        "company": clean_company(F.col("company")),
        "dated": F.col("date").isNotNull(),
        "share_price": derive_share_price(F.col("market_value"), F.col("shares")),
        "noise": jseq(["fund", "weight_rank"]),
        "canonical": jseq([F.col(c) for c in CANONICAL_COLS]),
        "short": jseq([F.col(c) for c in SHORT_COLS]),
    }


@per_jvm
def _cast_projection(casts: tuple[tuple[str, str], ...]) -> tuple[JavaObject, JavaObject]:
    """JVM Seqs of the target names and trees of ``(target, tree)`` pairs."""
    trees = _trees()
    return jseq([t for t, _ in casts]), jseq([trees[k] for _, k in casts])


def _field_type(df: DataFrame, name: str) -> T.DataType | None:
    for f in df.schema.fields:
        if f.name == name:
            return f.dataType
    return None


def normalize(df: DataFrame, source: DataSource | None = None) -> DataFrame:
    """Full ``df_format`` parity. Returns the canonical 8-column frame,
    or the 5-column short variant when no market-value data exists
    (util.rs:478-494)."""
    df = apply_provider_adapters(df, source)

    # P2 — conditional renames, including the reference's asymmetric
    # guards (check `weight_($)`/`weight ($)` but rename `weight_(%)`/
    # `weight (%)`, util.rs:171-176,189-194). We add the existence
    # check on the rename SOURCE: in the reference a triggered-but-
    # missing rename is a hard error; here it's unreachable dead state
    # and skipping keeps the pipeline total.
    renames = [
        ("market_value_($)", "market_value_($)", "market_value"),
        ("weight_($)", "weight_(%)", "weight"),
        ("market value ($)", "market value ($)", "market_value"),
        ("weight (%)", "weight (%)", "weight"),
        ("weight ($)", "weight (%)", "weight"),
    ]
    for guard, old, new in renames:
        if guard in df.columns and old in df.columns:
            df = df.withColumnRenamed(old, new)

    # P3 — drop noise columns / empty-named columns (util.rs:196-207)
    trees = _trees()
    df = DataFrame(df._jdf.drop(trees["noise"]), df.sparkSession)
    if "" in df.columns:
        df = df.select([c for c in df.columns if c != ""])

    # C1 — date parse with 10% null budget, only if not already a date
    if "date" in df.columns and not isinstance(_field_type(df, "date"), T.DateType):
        df = parse_date_with_budget(df, "date")

    # R1–R12 — security-master rules run BEFORE the cast chain
    # (util.rs:240), so they see provider-raw weight/market_value
    df = apply_security_rules(df)

    # C2–C7 — guarded cast chain + always-on name cleanup, one projection
    casts: list[tuple[str, str]] = []  # (target column, key in _trees())
    if isinstance(_field_type(df, "weight"), T.StringType):
        casts.append(("weight", "weight_from_string"))
    if isinstance(_field_type(df, "date"), (T.TimestampType, T.TimestampNTZType)):
        casts.append(("date", "date_from_timestamp"))
    mv_type = _field_type(df, "market_value")
    if isinstance(mv_type, T.StringType):
        casts.append(("market_value", "market_value_from_string"))
    elif isinstance(mv_type, T.DoubleType):
        casts.append(("market_value", "market_value_from_double"))
    if isinstance(_field_type(df, "shares"), T.StringType):
        casts.append(("shares", "shares_from_string"))
    # C6/C7 are unconditional in the reference (util.rs:292-429): a
    # frame without ticker/company fails there; we require them too.
    for required in ("ticker", "company"):
        if required not in df.columns:
            raise ValueError(f"normalize: required column '{required}' missing")
    casts += [("ticker", "ticker"), ("company", "company")]
    names, cols = _cast_projection(tuple(casts))
    df = DataFrame(df._jdf.withColumns(names, cols), df.sparkSession)

    # P4 — drop rows whose date failed to parse (util.rs:434)
    if "date" in df.columns:
        df = df.filter(trees["dated"])

    # C8 — derive share_price when absent but market_value present
    if "share_price" not in df.columns and "market_value" in df.columns:
        df = df.withColumn("share_price", trees["share_price"])

    # C9 — dtype repair
    df = repair_dtypes(df)

    # P1 — canonical projection (util.rs:478-494)
    if "share_price" in df.columns:
        return DataFrame(df._jdf.select(trees["canonical"]), df.sparkSession)
    if df.columns != SHORT_COLS:
        return DataFrame(df._jdf.select(trees["short"]), df.sparkSession)
    return df
