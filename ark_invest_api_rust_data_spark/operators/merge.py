"""Union / dedupe / sort / incremental merge (SURVEY.md §2 U1–U5).

The reference's merge loop (/root/reference/src/util.rs:56-79,133-145):
cache ∪ fetch(≥ watermark) → normalize both → concat → dedupe-keep-
first → (backfill path only) sort → overwrite. On Spark:

* U1 concat        → ``unionByName`` (both sides pre-normalized to the
                     identical canonical schema — same invariant).
* U2 dedupe        → full-row ``dropDuplicates()``: keep-first equals
                     keep-any under full-row equality (kept row is
                     value-identical); subset-key keep-first for the
                     extension surface lives in dedup.py (B28).
* U3 sort          → date asc / weight desc with Polars' nulls-first
                     default pinned explicitly.
* U4 watermark     → ``max(date)``, pushed into the source fetch
                     (query-param predicate pushdown). The refresh reads
                     it from the cache's row-group statistics
                     (parquet_store.footer_watermark); ``watermark``
                     below is the aggregate it falls back to.
* U5 merge         → composition below; idempotent because normalize is
                     idempotent and re-applied to both branches.

``incremental_merge`` serves the per-ticker refresh, whose cache and
fetched day are driver-sized and written as one file anyway: it dedupes
in one partition, with no shuffle. ``concat_dedupe`` is the general
path (the CSV backfill, the property tests); at 100 TB its dedupe is
the only shuffle, hashing the full row, which AQE handles fine, and the
lake layout (ticker=/date= partitions, parquet_store.py) means each
incremental merge touches only the affected date partitions rather than
the whole history.
"""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .adapters import DataSource
from .normalize import normalize


def concat_dedupe(dfs: list[DataFrame]) -> DataFrame:
    """U1+U2 — concat N canonical frames, drop exact-duplicate rows."""
    out = dfs[0]
    for other in dfs[1:]:
        out = out.unionByName(other, allowMissingColumns=False)
    return out.dropDuplicates()


def canonical_sort(df: DataFrame) -> DataFrame:
    """U3 — date asc, weight desc; Polars sort(nulls_last=false) puts
    nulls first on both keys (/root/reference/src/util.rs:126-131)."""
    return df.orderBy(F.asc_nulls_first("date"), F.desc_nulls_first("weight"))


def watermark(df: DataFrame, col: str = "date") -> datetime.date | None:
    """U4 — max(date) of the cache; drives incremental fetch pushdown."""
    row = df.agg(F.max(col).alias("m")).first()
    return row["m"] if row else None


def incremental_merge(
    cache: DataFrame | None,
    update: DataFrame,
    source: DataSource | None = None,
) -> DataFrame:
    """U5 — normalize both branches, concat, dedupe. ``cache=None`` is
    the bootstrap path (no merge, util.rs:76-78). Both branches are one
    ticker's frames, so the union goes to one partition first: the
    dedupe then plans no exchange, and the refresh's one-file write
    needs no second job."""
    fresh = normalize(update, source)
    if cache is None:
        return fresh
    return normalize(cache).unionByName(fresh).coalesce(1).dropDuplicates()


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key: str,
    tracked: list[str],
    effective: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """U5 extension — Slowly-Changing-Dimension Type 2 merge: apply a
    batch of updates to a versioned dimension, closing the current row
    (valid_to = effective date) and opening a new one ONLY where a
    tracked attribute actually changed; no-op updates leave the open
    row untouched. This is the holdings-history shape the reference's
    incremental merge approximates with keep-first dedupe
    (util.rs:64-80), generalized to full row versioning.

    Plan shape (the 100 TB argument): ONE shuffle joining the open
    slice of the dimension to the update batch on the business key
    (AQE broadcasts the batch when small); closed history never
    shuffles — it passes through the union untouched, which at
    warehouse scale means the cost tracks the UPDATE batch, not the
    accumulated history.

    ``updates`` carries (key, tracked...) — one row per key (enforce
    upstream with exact_dedup); ``effective`` is an ISO date literal.
    Updates for keys the dimension has never seen INSERT a fresh open
    row (non-tracked attributes null — the late-arriving-dimension
    case); the anti-join computing them rides the same one shuffle.

    Out-of-order guard: an update whose ``effective`` predates the open
    row's ``valid_from`` is STALE — applying it would close the open row
    with valid_to < valid_from (an inverted interval). Such updates are
    treated as no-ops: the open row already reflects a newer effective
    date, so the stale value lost the race by definition. Callers that
    need true bitemporal backfill must replay from a snapshot taken
    before the stale date.
    """
    if not tracked:
        raise ValueError("tracked must be non-empty")
    eff = F.to_date(F.lit(effective))
    changed_cond = None
    for c in tracked:
        ne = ~F.col(f"d.{c}").eqNullSafe(F.col(f"u.{c}"))  # null-safe !=
        changed_cond = ne if changed_cond is None else (changed_cond | ne)

    open_rows = dim.filter(F.col(valid_to).isNull()).alias("d")
    closed_history = dim.filter(F.col(valid_to).isNotNull())
    upd = updates.alias("u")

    joined = open_rows.join(upd, F.col(f"d.{key}") == F.col(f"u.{key}"), "left")
    # stale guard: effective must not predate the open row's valid_from
    changed = (
        F.col(f"u.{key}").isNotNull()
        & (eff >= F.col(f"d.{valid_from}"))
        & changed_cond
    )

    dim_cols = dim.columns
    # current rows: closed if a tracked attribute changed, else as-is
    kept = joined.select(
        *[F.col(f"d.{c}").alias(c) for c in dim_cols if c != valid_to],
        F.when(changed, eff).otherwise(F.col(f"d.{valid_to}")).alias(valid_to),
    )
    # replacement rows for changed keys: updated attributes, open-ended
    opened = (
        joined.filter(changed)
        .select(
            *[
                (F.col(f"u.{c}") if c in tracked else F.col(f"d.{c}")).alias(c)
                for c in dim_cols
                if c not in (valid_from, valid_to)
            ],
            eff.alias(valid_from),
            F.lit(None).cast("date").alias(valid_to),
        )
    )
    # brand-new keys: never seen by ANY version (open or closed) —
    # insert as fresh open rows, untracked attributes null
    upd_cols = set(updates.columns)
    inserted = (
        updates.join(dim.select(key).distinct(), key, "leftanti")
        .select(
            *[
                (F.col(c) if c in upd_cols else F.lit(None)).alias(c)
                for c in dim_cols
                if c not in (valid_from, valid_to)
            ],
            eff.alias(valid_from),
            F.lit(None).cast("date").alias(valid_to),
        )
    )
    out = (
        closed_history.select(dim_cols)
        .unionByName(kept.select(dim_cols))
        .unionByName(opened.select(dim_cols))
        .unionByName(inserted.select(dim_cols))
    )
    return out
