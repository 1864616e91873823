"""Corpus sampling / splitting / sequence-packing operators for
training-data pipelines (driver north star: "operations a large-scale
training-data pipeline would need").

Three ops every pretraining dataset build runs between "clean corpus"
and "training shards":

* **deterministic split assignment** — route each document to
  train/val/test by a content-independent hash of its id, so the split
  is stable across re-runs, engines, and re-partitioning (no RNG, no
  state, no per-run sampling drift).
* **stratified sampling** — keep a deterministic p% slice *per
  stratum* (e.g. per source domain), using the same hash-bucket
  machinery, so every stratum is downsampled by the same rule and the
  sample is reproducible row-for-row.
* **sequence packing** — GPT-style concat-and-chunk: order documents
  within a shard, concatenate token streams, cut every `budget`
  tokens; a document's pack is the chunk containing its first token.

Scale shape: split/sample are pure narrow expression maps (zero
shuffles — the hash is computed from the id column in place, so both
compose with any scan and push no data anywhere). Packing is one
window aggregation partitioned by the shard column: a single hash
shuffle on `part_col`, then a per-partition running sum — the same
plan at 500 rows or 100 TB, with per-shard state bounded by the shard
size (shards are the natural packing unit in real pipelines precisely
so this never needs a global order).

Determinism contract (DuckDB oracle): the bucket hash is the shared
31-fold character hash (`operators.text.token_hash32`) over the id's
decimal string form — exact integer math both engines reproduce
bit-for-bit; pack offsets are int window sums.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from .text import token_hash32, tokens

N_BUCKETS = 100


def hash_bucket(id_col: Column, n_buckets: int = N_BUCKETS) -> Column:
    """Deterministic bucket in [0, n_buckets): 31-fold char hash of the
    id's decimal string, mod n_buckets. Content-independent (changing a
    document's text never moves it across splits) and engine-portable
    (pure integer math — no engine-specific hash function)."""
    return token_hash32(id_col.cast("string")) % F.lit(n_buckets)


def split_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Add ``bucket`` and ``split`` columns: train/val/test by hash
    bucket (default 80/10/10). Narrow map — no shuffle, no action."""
    bucket = hash_bucket(F.col(id_col))
    split = (
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
    )
    return df.withColumn("bucket", bucket).withColumn("split", split)


def mixture_sample(
    df: DataFrame,
    weights: dict[str, int],
    id_col: str = "doc_id",
    strata_col: str = "source",
    default_pct: int = 0,
) -> DataFrame:
    """Domain-mixture sampling: keep a per-stratum percentage given by
    ``weights`` (stratum → pct in [0,100]), the corpus-mixing step of a
    pretraining build (upweight curated domains, downweight crawl).
    Same deterministic id bucket as split_assign — re-runs reproduce
    the identical sample, and mixture ∩ split stays predictable.

    The weight table is a driver-side literal compiled into a CASE
    expression (mixtures are small configs, not data) — the op stays a
    zero-shuffle narrow map; no join against a weights table.
    """
    cutoff = F.lit(default_pct)
    for stratum, pct in sorted(weights.items()):
        cutoff = F.when(F.col(strata_col) == stratum, F.lit(pct)).otherwise(cutoff)
    return df.filter(hash_bucket(F.col(id_col)) < cutoff)


def temperature_mix(
    df: DataFrame,
    budget: int,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    strata_col: str = "source",
) -> DataFrame:
    """α-temperature domain mixture: derive per-domain quotas from the
    CORPUS ITSELF — quota_d = ⌊budget · n_d^α / Σ n^α⌋ — then keep the
    quota_d hash-first docs of each domain. α < 1 flattens the natural
    distribution (the multilingual-pretraining trick: upsample tail
    domains relative to head crawl without hand-written weights, cf.
    ``mixture_sample``'s explicit config); α = 1 reproduces natural
    proportions, α = 0 is uniform-per-domain.

    Determinism contract: n_d^α is IEEE sqrt for α = 0.5 (the probe'd
    default — bit-identical across engines); other α use pow and are
    documented best-effort. The normalizer Σ n^α folds LEFT-TO-RIGHT
    over domains sorted by name (a collect_list→array_sort→aggregate
    over O(domains) rows), so float summation order — the usual
    cross-engine divergence — is pinned. Selection ranks docs per
    domain by (md5(id), id): reproducible, content-independent.

    Scale: one O(domains) count shuffle, a single-row normalizer
    broadcast back, and one per-domain ranking window. Output is one
    row per selected doc with the domain bookkeeping (domain_n, quota)
    carried for downstream audits."""
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    counts = df.groupBy(strata_col).agg(F.count("*").alias("domain_n"))
    w = (
        F.sqrt(F.col("domain_n").cast("double"))
        if alpha == 0.5
        else F.pow(F.col("domain_n").cast("double"), F.lit(float(alpha)))
    )
    cw = counts.withColumn("_w", w)
    total = cw.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col(strata_col).alias("d"), F.col("_w").alias("w")))
            ),
            F.lit(0.0),
            lambda acc, s: acc + s["w"],
        ).alias("_total")
    )
    quotas = (
        cw.crossJoin(F.broadcast(total))
        .withColumn(
            "quota",
            F.floor(F.lit(float(budget)) * F.col("_w") / F.col("_total")).cast("long"),
        )
        .select(strata_col, "domain_n", "quota")
    )
    order = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    rank_w = Window.partitionBy(strata_col).orderBy(*order)
    ranked = df.select(strata_col, id_col).withColumn(
        "pick_rank", F.row_number().over(rank_w).cast("long")
    )
    return (
        ranked.join(F.broadcast(quotas), strata_col)
        .filter(F.col("pick_rank") <= F.col("quota"))
        .select(strata_col, id_col, "pick_rank", "domain_n", "quota")
    )


def weighted_systematic_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    strata_col: str = "source",
) -> DataFrame:
    """PPS (probability-proportional-to-size) systematic sampling:
    ~``k`` rows per stratum, inclusion probability ∝ ``weight_col`` —
    the corpus-mixing step when documents should be sampled by token
    count / quality mass rather than uniformly.

    Classic systematic sampling on the cumulative-weight line, made
    deterministic and engine-portable:

    * rows are laid on the line in (id-hash, id) order — a stable
      pseudo-random shuffle with no RNG (the same 31-fold char hash as
      ``split_assign``, so re-runs and engines agree row-for-row);
    * selection points sit at ``anchor + m·step`` for m ≥ 0, with
      ``step = max(1, total_weight div k)`` and ``anchor = step div
      2`` (the fixed "random start" — documented, not drawn);
    * a row is selected iff its cumulative-weight interval
      ``(c_prev, c]`` contains a point: ``points_le(c) >
      points_le(c_prev)`` where ``points_le(x) = (x − anchor) div
      step + 1`` for x ≥ anchor else 0 — all nonneg int64, so Spark's
      ``div`` and DuckDB's ``//`` agree.

    Rows heavier than ``step`` are selected with certainty (their
    interval always contains a point); multiplicity is NOT returned —
    this is sampling WITHOUT replacement, one output row per selected
    input row, so the realized sample size per stratum is ≤ k + 1 and
    ≥ min(k, rows) in expectation terms.

    Scale shape: one window shuffle on the stratum key plus a
    same-partitioning total — identical to ``pack_sequences``; per-
    stratum state is a running int sum. Zero floats, full SQL oracle.

    Precondition: weights must be ≥ 0. A zero-weight row simply can
    never be selected (its cumulative interval is empty); a NEGATIVE
    weight would make the cumulative line non-monotone and silently
    corrupt every later selection in the stratum, so it raises at scan
    time instead (distributed, zero extra passes).
    """
    order_h = token_hash32(F.col(id_col).cast("string"))
    w = (
        Window.partitionBy(strata_col)
        .orderBy(order_h.asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(strata_col)
    guarded_w = F.when(
        F.col(weight_col).cast("long") < 0,
        F.raise_error(
            F.concat(
                F.lit("weighted_systematic_sample: negative weight for "),
                F.col(id_col).cast("string"),
            )
        ).cast("long"),
    ).otherwise(F.col(weight_col).cast("long"))
    staged = (
        df.select(
            id_col, strata_col, guarded_w.alias("_w")
        )
        .withColumn("_cum", F.sum("_w").over(w).cast("long"))
        .withColumn("_tot", F.sum("_w").over(w_all).cast("long"))
        .withColumn("_step", F.expr(f"greatest(CAST(1 AS BIGINT), _tot div {k})"))
        .withColumn("_anchor", F.expr("_step div 2"))
        # points_le(x) = #selection points ≤ x; both bounds nonneg so
        # div (trunc) == floor == DuckDB //
        .withColumn(
            "_p_hi",
            F.expr(
                "CASE WHEN _cum >= _anchor"
                " THEN (_cum - _anchor) div _step + 1 ELSE 0 END"
            ),
        )
        .withColumn(
            "_p_lo",
            F.expr(
                "CASE WHEN _cum - _w >= _anchor"
                " THEN (_cum - _w - _anchor) div _step + 1 ELSE 0 END"
            ),
        )
    )
    return staged.filter(F.col("_p_hi") > F.col("_p_lo")).select(
        id_col,
        strata_col,
        F.col("_w").alias("weight"),
        F.col("_cum").alias("cum_weight"),
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    part_col: str = "source",
) -> DataFrame:
    """Concat-and-chunk sequence packing: within each ``part_col``
    shard, order documents by id, lay their token streams end to end,
    and cut a pack boundary every ``budget`` tokens. A document belongs
    to the pack containing its FIRST token (``pack_id =
    floor(start_offset / budget)``) — documents may straddle a
    boundary, exactly like GPT-style pretraining chunking where the
    loader later truncates/continues across the cut.

    One shuffle (window partition on the shard key), running int sum
    per shard — linear in corpus size, shard-bounded state.
    """
    n_tokens = F.size(tokens(F.col(text_col)))
    w = (
        Window.partitionBy(part_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(n_tokens).over(w)
    start = (cum - n_tokens).cast("long")
    return df.select(
        id_col,
        part_col,
        n_tokens.alias("n_tokens"),
        start.alias("start_offset"),
        F.floor(start / F.lit(budget)).cast("long").alias("pack_id"),
    )


def group_sample(
    df: DataFrame,
    k: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    n_salts: int = 8,
) -> DataFrame:
    """Deterministic k-per-group sample: within each group, keep the
    k rows whose id hash ranks lowest (ties on id) — the eval-set /
    spot-check constructor ("give me 50 docs from every domain") with
    the same reproducibility contract as split_assign: content-
    independent, engine-portable, stable under re-partitioning.

    Returns (group_col, id_col, sample_rank), rank 1..k by hash
    order; join back on the id for full rows.

    Scale shape: a row_number window per group would sort EVERY
    group's full row set through one reducer (the knn_join hot-key
    argument); this is the salted two-phase top-k instead — per
    (group, salt) top-k via sorted-struct arrays, then a final
    ≤ n_salts·k merge per group. What the salting bounds is the
    REDUCER: no single task ever sorts more than ~group_size/n_salts
    elements, and the second stage merges ≤ n_salts·k rows per group.
    It does NOT bound shuffle bytes — collect_list's partial
    aggregation ships each map partition's full per-(group, salt)
    list to the exchange (F.slice runs only after the merge), so
    stage-1 shuffle is O(rows), same as any grouped aggregation of
    the id column (8-byte structs, not documents). At 100 TB the
    skew protection is the point; if shuffle volume itself is the
    constraint, pre-reduce per input partition (mapInPandas top-k
    per (group, salt)) before the groupBy — bounded output
    O(partitions · groups · n_salts · k) — at the cost of an Arrow
    hop in the hot path."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    h = token_hash32(F.col(id_col).cast("string"))
    scored = df.select(
        F.col(group_col),
        F.struct(
            h.alias("_h"), F.col(id_col).cast("long").alias("_id")
        ).alias("_e"),
        F.pmod(F.hash(id_col), F.lit(n_salts)).alias("_salt"),
    )
    partial = scored.groupBy(group_col, "_salt").agg(
        F.slice(F.array_sort(F.collect_list("_e")), 1, k).alias("_top")
    )
    merged = partial.groupBy(group_col).agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("_top"))), 1, k).alias(
            "_top"
        )
    )
    ex = merged.select(
        group_col, F.posexplode("_top").alias("_pos", "_e")
    )
    return ex.select(
        group_col,
        F.col("_e._id").alias(id_col),
        (F.col("_pos") + 1).alias("sample_rank"),
    )
