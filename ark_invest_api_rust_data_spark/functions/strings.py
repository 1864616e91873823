"""String canonicalization chains (SURVEY.md §2 C6/C7).

The reference applies an *ordered* chain of literal rewrites to
``ticker`` and ``company`` (/root/reference/src/util.rs:292-429). Two
replace flavors exist there: replace-all and replace-FIRST-occurrence
(Polars ``str.replace`` vs ``str.replace_all``); chain order is
load-bearing (e.g. the " CO" rule fires before "CORPORATION" can).

We encode each chain as a declarative rule table ``(pattern,
replacement, first_only)`` and compile it to one nested Column
expression — all built-ins (replace/regexp_replace/rtrim), zero UDFs.
Every step references its input exactly once, so the tree grows
linearly with the chain and a whole chain is one projection. Building a
tree is not free: each ``F.*`` call is a py4j round trip to the driver
JVM, ~9 per step, so the normalizer builds both chains once per JVM
(operators/normalize.py ``_trees``) instead of once per call.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# (pattern, replacement, first_only) — order matters, do not sort.
# Mirrors /root/reference/src/util.rs:292-312 (ticker chain).
TICKER_RULES: list[tuple[str, str, bool]] = [
    (" FP", "", False),
    (" UQ", "", False),
    (" UF", "", False),
    (" UN", "", False),
    (" UW", "", False),
    ("/U", "", False),
    (" CN", "", False),
    ("DKNN", "DKNG", True),
]

# Mirrors /root/reference/src/util.rs:313-429 (company chain).
COMPANY_RULES: list[tuple[str, str, bool]] = [
    (" PHARMACEUTICALSP", "", False),
    (" INTERNATIONAL", "", False),
    (" GLOBAL", "", False),
    (" SOFTWARE", "", False),
    (" Markets", "", False),
    (" International", "", False),
    (" AVIATION", "", False),
    (" COMMUNICATIONS", "", False),
    (" PHARMACEUTICALS", "", False),
    (" Therapeutics", "", False),
    (" THERAPEUTICS", "", False),
    (" TECHNOLOGIES", "", False),
    ("-A", "", False),
    ("- A", "", False),
    ("CL A", "", False),
    ("CLASS A", "", False),
    ("inc", "", False),
    ("Inc", "", False),
    ("INC", "", False),
    ("incorporated", "", False),
    ("Ltd", "", False),
    ("LTD", "", False),
    ("CORP", "", False),
    (" CO", "", False),
    ("CORPORATION", "", False),
    ("Corporation", "", False),
    ("- C", "", False),
    ("-", "", False),
    (",", "", False),
    (".", "", False),
    (" &CURITY", "", False),
    (" &", "", False),
    ("HLDGS", "", True),
    ("HOLDINGS", "", True),
    ("Holdings", "", True),
    (" HOLDIN", "", True),
    ("ORATION", "", True),
    (" PLC", "", True),
    (" AG", "", True),
    (" ADR", "", True),
    ("DR", "", True),
    (" SA", "", True),
    (" NV", "", True),
    (" SE", "", True),
    (" CL C", "", True),
    ("COINBASE GLOBAL", "COINBASE", True),
    ("Coinbase Global", "Coinbase", True),
    ("Blackdaemon", "Blockdaemon", True),
    ("DISCOVERY", "Dassault Systemes", True),
    ("Space Investment", "SpaceX", True),
    ("Space Exploration Technologies Corp", "SpaceX", True),
    ("Space Exploration Technologies Co", "SpaceX", True),
]


def _java_quote(s: str) -> str:
    """``java.util.regex.Pattern.quote``: the literal as a regex."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _java_quote_replacement(s: str) -> str:
    """``java.util.regex.Matcher.quoteReplacement``: the literal as a
    replacement string (``\\`` and ``$`` escaped)."""
    return s.replace("\\", "\\\\").replace("$", "\\$")


def replace_first(c: Column, pattern: str, replacement: str) -> Column:
    """Replace only the FIRST literal occurrence of ``pattern`` —
    Polars ``str.replace`` semantics, which Spark lacks (its
    replace/regexp_replace are replace-all). The regex is the quoted
    literal followed by ``(.*)`` in DOTALL mode: the search stops at the
    first occurrence and the group swallows the rest of the string, so
    no second match can start; the tail is put back through ``$1``.
    ``c`` is referenced once, so chains of these nest linearly."""
    return F.regexp_replace(
        c,
        "(?s)" + _java_quote(pattern) + "(.*)",
        _java_quote_replacement(replacement) + "$1",
    )


def apply_rules(c: Column, rules: list[tuple[str, str, bool]]) -> Column:
    """Fold an ordered rule table into one nested expression, ending
    with the reference's trailing rstrip."""
    for pattern, replacement, first_only in rules:
        if first_only:
            c = replace_first(c, pattern, replacement)
        else:
            c = F.replace(c, F.lit(pattern), F.lit(replacement))
    return F.rtrim(c)


def company_chain_fused(c: Column) -> Column:
    """Single-pass FUSED variant of the C7 chain: one Arrow-batched
    pandas UDF running the whole ordered rule table in Python string
    ops per batch.

    MEASURED (parity_company_bulk at sf0.1, 188k rows, 4-core host,
    local[4], tools/bench_subset.py min-of-2): fused UDF 1.8-2.5 s vs
    expression tier 7.1-7.7 s. The JVM chain pays an allocation per
    string op (~50/row); CPython's ``str.replace`` returns the original
    object when the pattern is absent, so most of the 50 steps are a
    C-speed scan with no copy.

    ``clean_company_df`` keeps the expression chain: the reference-parity
    pipeline's per-ticker frames are tiny enough that the Arrow
    round-trip dominates and a Python-worker dependency buys nothing.
    bench.py runs BOTH (parity_company_bulk[_fused]) so the margin is
    re-measured every round.

    Python ``str.replace`` is non-overlapping left-to-right like
    Spark/Polars replace, and ``replace(pat, rep, 1)`` is exactly the
    reference's first-occurrence flavor."""
    import pandas as pd  # noqa: F401 — signature type only
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _fused(s):
        def one(x):
            if x is None:
                return None
            for pat, rep, first in COMPANY_RULES:
                x = x.replace(pat, rep, 1) if first else x.replace(pat, rep)
            return x.rstrip(" ")  # rtrim semantics: spaces only

        return s.map(one)

    return _fused(c)


def clean_ticker(c: Column) -> Column:
    """C6: strip exchange suffixes, fix DKNN→DKNG (first occ), rstrip."""
    return apply_rules(c, TICKER_RULES)


def clean_company(c: Column) -> Column:
    """C7: the ~50-step ordered company canonicalization chain."""
    return apply_rules(c, COMPANY_RULES)


def clean_company_df(df, colname: str = "company"):
    """C7 (:func:`clean_company`) over one column of ``df``: codegen'd
    built-in expressions, no Python workers."""
    return df.withColumn(colname, clean_company(F.col(colname)))
