"""Corpus-curation operators (SURVEY.md §2 B29/B31 extensions): exact
cross-document substring deduplication, model-based quality scoring via
a hashing-trick linear classifier, per-domain document caps, and
deterministic shard assignment for training export.

These are the remaining stages of a production pretraining-data
pipeline (Lee et al. 2022 "Deduplicating Training Data Makes Language
Models Better" for substring dedup; CCNet / fastText-style linear
classifiers for quality scoring; per-domain caps and shard export are
the standard Common-Crawl curation steps) re-expressed as Spark
DataFrame plans with exact-arithmetic semantics so every operator
hash-matches a DuckDB oracle.

Scale shapes (the 100 TB argument):

* substring dedup: ONE shuffle groups k-gram occurrences (map-side
  partial min/max collapses each partition to one row per gram before
  the exchange), ONE shuffle joins the duplicated-gram set back to the
  occurrence stream, ONE small shuffle regroups only the *duplicated*
  positions per document (bounded by tokens-per-doc, the same per-doc
  bound every doc-local fold already has). No all-pairs stage anywhere
  — cost is linear in corpus tokens, like the banded MinHash plan.
  `hashed=True` swaps the gram string for xxhash64(gram) as the
  group/join key (8-byte keys instead of ~k·word bytes; 64-bit
  collisions are the same accepted risk as Lee et al.'s suffix-array
  fingerprints). The probe path keeps exact strings.

* classifier scoring: zero shuffle — the token hash, bucket weight and
  document sum are one narrow fold per row (the oracle unnests tokens
  and regroups, which is the same math in shuffle form).

* domain cap / shard assignment: one hash-partitioned window each
  (row_number over the domain / shard key); the per-key ordering hash
  is content-derived, so reruns and retries are deterministic — no RNG
  state, the same contract as sampling.split_sample.

Determinism contract: all hashes are integer folds (token_hash32's
31-fold, Knuth multiplicative mixing) or md5 hex strings — identical
in any engine; the only floating-point op per row is ONE int/int
double division (safe per the oracle contract in plans/base.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from .dedup import _spread
from .text import token_hash32, tokens

# Knuth multiplicative constants — public-domain mixing, no RNG object.
_KNUTH = 2654435761
_LCG_A, _LCG_C = 1103515245, 12345


# ------------------------------------------------------------------
# exact cross-document substring dedup (Lee et al. 2022)
# ------------------------------------------------------------------
def duplicated_spans(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed: bool = False,
    max_frac: float = 0.5,
) -> DataFrame:
    """Per-document duplicated-substring accounting: a token position
    is *duplicated* when the k-token gram starting there also occurs in
    some OTHER document. Returns every input id with

    - ``n_tokens``   document length in tokens
    - ``dup_grams``  number of duplicated k-gram start positions
    - ``covered_tokens``  tokens under the union of the duplicated
      [pos, pos+k) spans (the quantity Lee et al. cut at 50%)
    - ``dup_frac``   covered_tokens / n_tokens
    - ``kept``       covered_tokens < max_frac · n_tokens (integer
      compare — hash-exact)

    Cross-doc occurrence is detected with min(doc) != max(doc) per
    gram — no countDistinct, so the gram aggregation keeps full
    map-side partial collapse. The union-of-spans length folds over
    the SORTED duplicated positions: intervals share length k, so each
    position adds min(k, gap-to-predecessor) — pure integer math,
    mirrored by the oracle's list_transform over consecutive pairs.
    """
    if not 0.0 < max_frac <= 1.0:
        raise ValueError(f"max_frac must be in (0, 1], got {max_frac}")
    base = (
        _spread(df)
        .select(F.col(id_col), tokens(F.col(text_col)).alias("_w"))
        .withColumn("_n", F.size("_w"))
    )
    grams = base.select(
        F.col(id_col),
        F.posexplode(
            F.when(
                F.col("_n") >= k,
                F.expr(
                    f"transform(sequence(1, _n - {k - 1}), "
                    f"i -> array_join(slice(_w, i, {k}), ' '))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "gram"),
    )
    if hashed:
        grams = grams.withColumn("gram", F.xxhash64("gram"))
    dup_grams = (
        grams.groupBy("gram")
        .agg(F.min(id_col).alias("_mn"), F.max(id_col).alias("_mx"))
        .where(F.col("_mn") != F.col("_mx"))
        .select("gram")
    )
    # per-doc sorted duplicated positions -> covered span length
    per_doc = (
        grams.join(dup_grams, "gram")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("_ps"))
        .select(
            F.col(id_col),
            F.size("_ps").alias("dup_grams"),
            F.when(
                F.size("_ps") >= 2,
                F.expr(
                    f"aggregate(sequence(2, size(_ps)), cast({k} as bigint), "
                    f"(acc, j) -> acc + least(cast({k} as bigint), "
                    f"cast(element_at(_ps, j) - element_at(_ps, j - 1) as bigint)))"
                ),
            )
            .otherwise(F.lit(k).cast("long"))
            .alias("covered_tokens"),
        )
    )
    thr_num, thr_den = _frac_ratio(max_frac)
    return (
        base.join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.col("_n").cast("long").alias("n_tokens"),
            F.coalesce(F.col("dup_grams"), F.lit(0)).cast("long").alias("dup_grams"),
            F.coalesce(F.col("covered_tokens"), F.lit(0))
            .cast("long")
            .alias("covered_tokens"),
        )
        .withColumn(
            "dup_frac",
            F.col("covered_tokens").cast("double") / F.col("n_tokens").cast("double"),
        )
        .withColumn(
            "kept",
            F.col("covered_tokens") * F.lit(thr_den) < F.col("n_tokens") * F.lit(thr_num),
        )
    )


def _frac_ratio(frac: float) -> tuple[int, int]:
    """Exact small-ratio form of a threshold fraction so the keep
    decision is an integer compare (covered·den < n·num) on both
    engines — no float threshold in the hashed columns."""
    den = 1 << 20
    return round(frac * den), den


# ------------------------------------------------------------------
# hashing-trick linear classifier (fastText-style quality scoring)
# ------------------------------------------------------------------
def classifier_score(
    df: DataFrame,
    buckets: int = 2048,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Model-based quality scoring with a hashed linear classifier:
    each token maps to a weight bucket via token_hash32, the document
    score is the exact int64 sum of bucket weights, and ``kept`` is
    score >= 0 — the standard fastText/CCNet filtering shape with the
    model weights replaced by a deterministic public mixing function
    (production swaps in trained weights as a broadcast array; the
    plan shape — ONE narrow fold per document, zero shuffle — is
    unchanged).

    Weight function: w(tok) = ((h·1103515245 + 12345) mod buckets) −
    buckets/2, h = token_hash32(tok) — integers end to end, so the
    score hash-matches the oracle exactly.
    """
    if buckets < 2 or buckets % 2:
        raise ValueError(f"buckets must be even and >= 2, got {buckets}")
    half = buckets // 2

    def weight(tok: Column) -> Column:
        h = token_hash32(tok)
        return (h * F.lit(_LCG_A) + F.lit(_LCG_C)) % F.lit(buckets) - F.lit(half)

    toks = tokens(F.col(text_col))
    out = _spread(df).select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.aggregate(
            F.transform(toks, weight),
            F.lit(0).cast("long"),
            lambda acc, w: acc + w,
        ).alias("score_int"),
    )
    return out.select(
        id_col,
        "n_tokens",
        "score_int",
        (F.col("score_int").cast("double") / F.col("n_tokens").cast("double")).alias(
            "mean_weight"
        ),
        (F.col("score_int") >= 0).alias("kept"),
    )


# ------------------------------------------------------------------
# per-domain cap (Common-Crawl-style domain balancing)
# ------------------------------------------------------------------
def domain_cap(
    df: DataFrame,
    cap: int = 10,
    domain_col: str = "source",
    id_col: str = "doc_id",
    tier: str = "window",
    shards: int = 16,
) -> DataFrame:
    """Keep at most ``cap`` documents per domain, chosen by a
    content-free deterministic order (md5 of the id — uniform,
    engine-portable, no RNG state).

    * ``tier="window"`` (default): ONE hash-partitioned row_number
      window on the domain key — the minimal plan when domains are
      balanced. Returns every id with its exact global rank ``rk`` and
      kept flag. A pathological domain (half the corpus from one host
      — common in crawl data) lands on one partition.
    * ``tier="sharded"`` — the SKEW-SAFE tier: phase 1 caps per
      (domain, md5-prefix shard), bounding every window partition to
      ~1/``shards`` of the worst domain; phase 2 re-caps the phase-1
      survivors (≤ shards·cap rows per domain — tiny) with the SAME
      global order. A globally top-``cap`` row is top-``cap`` within
      its shard too, so survivor rank == global rank for every KEPT
      row — the kept set and kept-row ranks are IDENTICAL to the
      window tier (equivalence pytest). ``rk`` is NULL for dropped
      rows (their exact global rank would cost the skewed window this
      tier exists to avoid). Costs one extra join of the corpus
      against the tiny survivor set (AQE broadcasts it).
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    order = [F.md5(F.col(id_col).cast("string")), F.col(id_col)]
    if tier == "window":
        w = Window.partitionBy(domain_col).orderBy(*order)
        return df.select(
            F.col(id_col),
            F.col(domain_col),
            F.row_number().over(w).cast("long").alias("rk"),
        ).withColumn("kept", F.col("rk") <= cap)
    if tier != "sharded":
        raise ValueError(f"unknown tier {tier!r}")
    if shards < 2:
        raise ValueError(f"shards must be >= 2, got {shards}")
    base = df.select(F.col(id_col), F.col(domain_col))
    shard = F.pmod(
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10).cast(
            "long"
        ),
        F.lit(shards),
    )
    w1 = Window.partitionBy(domain_col, "_shard").orderBy(*order)
    phase1 = (
        base.withColumn("_shard", shard)
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= cap)  # per-shard cap: superset of global top-cap
        .drop("_r1", "_shard")
    )
    w2 = Window.partitionBy(domain_col).orderBy(*order)
    survivors = phase1.withColumn("rk2", F.row_number().over(w2).cast("long"))
    return base.join(survivors.select(id_col, "rk2"), id_col, "left").select(
        F.col(id_col),
        F.col(domain_col),
        F.when(F.col("rk2") <= cap, F.col("rk2")).alias("rk"),
        F.coalesce(F.col("rk2") <= cap, F.lit(False)).alias("kept"),
    )


# ------------------------------------------------------------------
# deterministic shard assignment (training export)
# ------------------------------------------------------------------
def shard_assign(
    df: DataFrame,
    n_shards: int = 16,
    id_col: str = "doc_id",
    mix: str = "knuth",
) -> DataFrame:
    """Global deterministic shuffle for training export: shard =
    mixed id mod n_shards (uniform, reproducible, join-free),
    position within shard = row_number over a SECOND independent mix —
    the reader streams shards in a content-derived pseudo-random
    order, the property a training run needs from its data loader.
    One window shuffle on the shard key.

    * ``mix="knuth"`` (default, the hash-exact oracle probe): Knuth
      multiplicative mix — exact-overflow-free only while ids fit 32
      bits (a LongType id times the 32-bit constant must stay under
      2⁶³; the testdata contract).
    * ``mix="xxhash64"`` — the 64-bit-id production tier: both mixes
      are xxhash64 (codegen, seed-split for independence). No DuckDB
      twin, so it is pytest-verified (determinism, uniformity, 64-bit
      ids) rather than oracle-hashed; the knuth probe stays the
      hash-exact gate of the shared window shape.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if mix == "knuth":
        shard_c = (F.col(id_col) * F.lit(_KNUTH)) % F.lit(1 << 32) % F.lit(n_shards)
        mix_c = (F.col(id_col) * F.lit(_LCG_A) + F.lit(_LCG_C)) % F.lit(1 << 31)
    elif mix == "xxhash64":
        shard_c = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards))
        mix_c = F.xxhash64(F.col(id_col), F.lit(1))
    else:
        raise ValueError(f"unknown mix {mix!r}")
    w = Window.partitionBy("shard").orderBy("_mix", id_col)
    return (
        df.select(F.col(id_col), shard_c.cast("long").alias("shard"), mix_c.alias("_mix"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .drop("_mix")
    )


def corpus_funnel(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pipeline observability: documents and tokens surviving each
    curation stage (raw → quality filter → exact near-dup removal →
    train split) — the funnel report every production prep run pins
    to a dashboard, because 'the corpus shrank 40% this week' must be
    attributable to a STAGE before anyone retrains.

    Returns (stage, stage_order, n_docs, n_tokens). Stage predicates
    are the llm_corpus_pipeline capstone's: the Gopher-style verdict,
    md5 keep-smallest-id dedup, the content-independent 80% hash
    split.

    Scale shape: ONE corpus pass computes every per-doc flag (the
    verdict fold is map-only; the dedup flag is one fingerprint
    window; the split is a pure hash), then the doc's surviving
    stages EXPLODE into (stage, tokens) rows whose aggregation is
    map-side combined to O(stages) — no per-stage rescan, no
    per-stage job."""
    from .sampling import hash_bucket
    from .text import quality_filter

    verdict = quality_filter(docs, text_col=text_col, id_col=id_col)
    flagged = docs.join(verdict.select(id_col, "keep"), id_col)
    # dedup ranks among QUALITY SURVIVORS only (the capstone's stage
    # order): a quality-dropped twin with a smaller id must not steal
    # the representative slot
    w = Window.partitionBy(F.md5(F.col(text_col)))
    kept_min = F.min(
        F.when(F.col("keep"), F.col(id_col))
    ).over(w)
    flagged = flagged.withColumn(
        "_rep", F.col("keep") & (F.col(id_col) == kept_min)
    ).withColumn("_train", hash_bucket(F.col(id_col)) < 80)
    n_tok = F.size(tokens(F.col(text_col)))
    stages = F.array(
        F.struct(F.lit("raw").alias("stage"), F.lit(0).alias("stage_order"), F.lit(True).alias("_in")),
        F.struct(F.lit("quality").alias("stage"), F.lit(1).alias("stage_order"), F.col("keep").alias("_in")),
        F.struct(
            F.lit("dedup").alias("stage"),
            F.lit(2).alias("stage_order"),
            (F.col("keep") & F.col("_rep")).alias("_in"),
        ),
        F.struct(
            F.lit("train").alias("stage"),
            F.lit(3).alias("stage_order"),
            (F.col("keep") & F.col("_rep") & F.col("_train")).alias("_in"),
        ),
    )
    ex = flagged.select(
        n_tok.alias("_nt"), F.explode(stages).alias("_s")
    ).filter(F.col("_s._in"))
    return ex.groupBy(
        F.col("_s.stage").alias("stage"),
        F.col("_s.stage_order").alias("stage_order"),
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("_nt").alias("n_tokens"),
    )
