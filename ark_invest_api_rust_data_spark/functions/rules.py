"""Security-master rewrite rules (SURVEY.md §2 R1–R12).

The reference registry (/root/reference/src/util/format/ticker.rs)
folds 11 per-security fixups over the frame. The core primitive,
``get_expr`` (ticker.rs:48-72), is subtle: a rule that matches on
``company`` writes the new value to BOTH ticker and company, and the
generated expression ORDER matters because one of the two assignments
overwrites the condition column — each with_columns step evaluates its
condition against the PRE-step value.

Every rule tests ``company`` against a literal and assigns literals, so
the ordered fold is a function of the starting ``company`` alone.
``apply_security_rules`` runs that fold on the driver once per match
literal and emits the outcome as one ``withColumns``: one
``CASE company WHEN …`` per target column, all reading the input row.
The result equals the sequential fold by construction, cascades
included (``ROCKET LAB USA`` → ``ROCKET LAB`` without gaining a ticker).
The CASEs of ``SECURITY_RULES`` are a per-JVM constant (functions/memo.py):
each ``F.*`` call in them is a py4j round trip, ~975 for the table.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from py4j.java_gateway import JavaObject
from pyspark.sql import DataFrame

from .memo import jseq, per_jvm


@dataclass(frozen=True)
class Rule:
    """One with_columns step: when(company == match_val) then set each
    target column to its new value, else keep."""

    match_val: str  # literal the company condition compares against
    sets: tuple[tuple[str, str], ...]  # (target_col, new_value) pairs


def _sync(match_val: str, new: str) -> Rule:
    """get_expr('company', …): set BOTH ticker and company."""
    return Rule(match_val, (("ticker", new), ("company", new)))


def _set_ticker(match_val: str, new: str) -> Rule:
    return Rule(match_val, (("ticker", new),))


def _set_company(match_val: str, new: str) -> Rule:
    return Rule(match_val, (("company", new),))


# Ordered exactly as format::Ticker::all iterates the enum
# (/root/reference/src/util/format/ticker.rs:10-22,25-30). Each Rule is
# one with_columns pass; multi-pass rules (ARKW, XYZ, CASH_USD) stay
# multiple entries to preserve intra-rule sequencing.
SECURITY_RULES: list[Rule] = [
    # ARKW (R2): both bitcoin holdco spellings → ARKB (ticker+company)
    _sync("ARK BITCOIN ETF HOLDCO (ARKW)", "ARKB"),
    _sync("ARK BITCOIN ETF HOLDCO (ARKF)", "ARKB"),
    # CRLC (R3)
    _set_ticker("CIRCLE INTERNET GROUP", "CRLC"),
    # CRWV (R4)
    _set_ticker("COREWEAVE", "CRWV"),
    # DKNG (R9): company artifact of the C7 " DR" strip
    _set_company("AFTKINGS", "DRAFTKINGS"),
    # ETOR (R5)
    _set_ticker("ETORO GROUP", "ETOR"),
    # MKFG (R6)
    _set_ticker("MARKFORGEDG", "MKFG"),
    # LUNR (R7)
    _set_ticker("INTUITIVE MACHINES", "LUNR"),
    # XYZ (R10): two sequential passes, order preserved
    _set_ticker("BLOCK", "XYZ"),
    _set_ticker("Block", "XYZ"),
    # CASH_USD (R11): four spellings, each a full sync pass
    _sync("Cash & Cash Equivalents", "CASH_USD"),
    _sync("CASH & CASH EQUIVALENTS", "CASH_USD"),
    _sync("GOLDMAN FS TRSY OBLIG INST 468", "CASH_USD"),
    _sync("Cash & Other", "CASH_USD"),
    # TSM (R12): 'TMSC' typo is golden-tested upstream — do NOT fix
    _set_company("TAIWANMICONDUCTORSP", "TMSC"),
    # RKLB (R8): the reference runs both in one with_columns pass; the
    # first touches only ticker, so two sequential passes are
    # equivalent ('ROCKET LAB USA' must not gain a ticker — preserved).
    _set_ticker("ROCKET LAB", "RKLB"),
    _set_company("ROCKET LAB USA", "ROCKET LAB"),
]


def _fold_rules(company: str, rules: list[Rule]) -> dict[str, str]:
    """The sequential fold from one starting ``company``: returns the
    literal each target column ends with (a target absent from the
    result keeps its input value)."""
    out: dict[str, str] = {}
    for rule in rules:
        if company == rule.match_val:  # tested before this pass assigns
            out.update(rule.sets)
            company = out.get("company", company)
    return out


def _compile(rules: list[Rule]) -> dict[str, F.Column]:
    """The fold over ``rules`` as one CASE per target column."""
    outcomes = {r.match_val: _fold_rules(r.match_val, rules) for r in rules}
    cases: dict[str, F.Column] = {}
    for target in dict.fromkeys(t for r in rules for t, _ in r.sets):
        case = None
        for val, out in outcomes.items():
            if target in out:
                cond, new = F.col("company") == F.lit(val), F.lit(out[target])
                case = F.when(cond, new) if case is None else case.when(cond, new)
        if case is not None:
            cases[target] = case.otherwise(F.col(target))
    return cases


@per_jvm
def _default_cases() -> tuple[JavaObject, JavaObject]:
    """JVM Seqs of the default table's target names and CASEs."""
    cases = _compile(SECURITY_RULES)
    return jseq(list(cases)), jseq(list(cases.values()))


def apply_security_rules(df: DataFrame, rules: list[Rule] | None = None) -> DataFrame:
    """R1 framework: the fold over ``rules``, compiled to one
    withColumns with one CASE per target column. The default table's
    CASEs are built once per JVM; an explicit ``rules`` list is
    compiled per call."""
    if "company" not in df.columns or "ticker" not in df.columns:
        return df
    if rules is not None:
        return df.withColumns(_compile(rules))
    targets, cases = _default_cases()
    return DataFrame(df._jdf.withColumns(targets, cases), df.sparkSession)
