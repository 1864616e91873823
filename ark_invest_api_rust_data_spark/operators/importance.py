"""DSIR-style importance weighting for pretraining-data selection.

Data Selection with Importance Resampling (Xie et al. 2023,
arXiv:2302.03169) scores every raw document by how much its hashed
n-gram feature distribution looks like a small trusted TARGET corpus
(in-domain text, human-curated quality sample) relative to the RAW
corpus it came from, then keeps a budget of the highest-weight docs.
The published recipe is: hashed unigram/bigram counts -> per-feature
log-likelihood ratio lambda_f = log p_target(f) - log p_raw(f) ->
per-doc importance weight sum_f c_f * lambda_f -> resample by weight.

Why this shape survives 100 TB (and a vocabulary join would not):

* features are HASHED into ``d`` buckets (the hashing trick, same
  primitive as text.hashed_features) — both corpus models are fixed
  ``d``-row tables regardless of corpus size, built by one
  map-side-combined count each. No dictionary to build, broadcast, or
  keep consistent across batches.
* the lambda table is ``d`` rows — it crosses the driver once and rides
  to every executor in the scoring closure; scoring is one narrow
  vectorized pass per document batch. Every exchange is over the d-row
  model tables.
* selection is a bounded top-``budget`` (TakeOrderedAndProject — each
  partition ships at most ``budget`` rows). For proportional budgets at
  lake scale, threshold on the score quantile instead (see
  percentile.py) — same weights, no global rank.

Determinism contract (full DuckDB oracle, hash-exact): the published
float ``log`` ratio is replaced by an EXACT integer fixed-point log2,

    lambda_b = floor(log2( ((ct_b + 1) << shift) DIV (cr_b + 1) )) - shift

computed as ``length(bin(x)) - 1`` — the bit length of an int64 is the
same pure-integer primitive in Spark and DuckDB, so weights are
reproducible bit-for-bit in any engine. Granularity is 1 bit of
log-ratio; the +1 smoothing is the paper's add-one. Bounds: requires
``ct_b + 1 < 2**(63 - shift)`` (at shift=20: 8.8e12 tokens per bucket
— raise ``d`` long before that).

No reference-repo counterpart (the reference has no corpus-curation
surface); this extends SURVEY.md §2 B31.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.window import Window

from .text import HASH_MOD

DEFAULT_D = 1024
DEFAULT_SHIFT = 20

# Java's default \s ([ \t\n\x0B\f\r]) == Python's \s under re.ASCII —
# without the flag Python would also split on Unicode whitespace
# (e.g. \xa0) and would tokenize differently from the oracle's
# whitespace split
_WS = re.compile(r"\s+", re.ASCII)


def _token_buckets_np(texts, d: int):
    """Vectorized fused tokenize→hash→bucket for one Arrow batch:
    returns (doc_idx, bucket) int64 arrays, one entry per non-empty
    token. The hash is EXACTLY token_hash32's char fold — h = (h·31 +
    codepoint) mod 2³² — vectorized ACROSS tokens per char position
    (the accumulation order per token is unchanged, and the math is
    pure integers, so the result is bit-identical to text.token_hash32
    and the DuckDB oracle). Codepoints come from a UTF-32 view
    of the concatenated token text (1:1 with F.ascii/ord)."""
    import numpy as np

    toks: list[str] = []
    doc_idx: list[int] = []
    for i, t in enumerate(texts):
        if not t:
            continue
        tt = [x for x in _WS.split(t) if x]
        toks.extend(tt)
        doc_idx.extend([i] * len(tt))
    if not toks:
        return (
            np.zeros(0, dtype=np.int64),
            np.zeros(0, dtype=np.int64),
        )
    codes = np.frombuffer(
        "".join(toks).encode("utf-32-le"), dtype=np.uint32
    ).astype(np.int64)
    lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=len(toks))
    offs = np.zeros(len(toks), dtype=np.int64)
    np.cumsum(lens[:-1], out=offs[1:])
    h = np.zeros(len(toks), dtype=np.int64)
    for i in range(int(lens.max())):
        act = lens > i
        # h·31 + code < 2³²·31 + 2²¹ — comfortably inside int64
        h[act] = (h[act] * 31 + codes[offs[act] + i]) % HASH_MOD
    return np.asarray(doc_idx, dtype=np.int64), h % d


def _bucket_counts_arrow(
    df: DataFrame, d: int, text_col: str, out: str
) -> DataFrame:
    """Hashed-unigram corpus model: (bucket, count) — at most ``d``
    rows. One mapInPandas pass emits ≤ d partial (bucket, count) rows
    per batch and one tiny groupBy finishes them — the corpus
    never explodes into a token stream, and the per-token char fold
    runs vectorized in NumPy instead of the interpreted expression
    evaluator (HOF folds are CodegenFallback — the C7 lesson). Counts
    are exact integers, so the d-row model is bit-identical."""

    def gen(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            _, b = _token_buckets_np(pdf[text_col].tolist(), d)
            if not len(b):
                continue
            cnt = np.bincount(b, minlength=d)
            live = np.flatnonzero(cnt)
            yield pd.DataFrame(
                {"bucket": live.astype(np.int32), "_c": cnt[live]}
            )

    partials = df.select(text_col).mapInPandas(gen, "bucket int, _c long")
    return partials.groupBy("bucket").agg(F.sum("_c").cast("long").alias(out))


def _lam_rows(lam: DataFrame) -> list:
    """The d-row λ table as (bucket, lam) pairs — one bounded driver
    crossing."""
    return [(r["bucket"], r["lam"]) for r in lam.select("bucket", "lam").collect()]


def _score_fused(
    df: DataFrame,
    lam_rows: list,
    d: int,
    id_col: str,
    text_col: str,
    keep_missing: bool,
) -> DataFrame:
    """Fused Arrow scoring pass: (id, n_tokens, dsir_score) computed
    per document INSIDE one mapInPandas — no token explode, no join,
    and (because a document's text lives in one row) no shuffle at
    all; the λ table rides along as a plain d-slot array in the
    closure. ``keep_missing`` mirrors the two join semantics: False =
    dsir_weights' INNER join (a token whose bucket is absent from λ
    is dropped from count and sum), True = dsir_score_batch's LEFT
    join (counted, λ=0 prior). Integer math end to end — bit-equal to
    the DuckDB oracle."""

    def gen(batches):
        import numpy as np
        import pandas as pd

        lam_arr = np.zeros(d, dtype=np.int64)
        present = np.zeros(d, dtype=bool)
        for b, v in lam_rows:
            lam_arr[b] = v
            present[b] = True
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            doc_idx, b = _token_buckets_np(pdf[text_col].tolist(), d)
            if not keep_missing and len(b):
                keep = present[b]
                doc_idx, b = doc_idx[keep], b[keep]
            if not len(b):
                continue
            n = np.bincount(doc_idx, minlength=len(ids))
            sc = np.zeros(len(ids), dtype=np.int64)
            np.add.at(sc, doc_idx, lam_arr[b])
            live = np.flatnonzero(n)
            yield pd.DataFrame(
                {
                    id_col: ids[live],
                    "n_tokens": n[live],
                    "dsir_score": sc[live],
                }
            )

    id_t = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInPandas(
        gen, f"{id_col} {id_t}, n_tokens long, dsir_score long"
    )


def dsir_lambda(
    raw: DataFrame,
    target: DataFrame,
    d: int = DEFAULT_D,
    text_col: str = "text",
    shift: int = DEFAULT_SHIFT,
) -> DataFrame:
    """The per-bucket integer log-likelihood-ratio table
    (bucket, ct, cr, lam) — ``d`` rows, broadcastable. Buckets are the
    ones present in the RAW corpus (documents scored are drawn from
    it, so every token they contain lands in a raw bucket).

    Each corpus model is one vectorized tokenize→hash→count
    mapInPandas pass: an explode+groupBy expression plan pays a
    per-char HOF fold that is CodegenFallback, which made model
    building O(corpus chars) INTERPRETED (SCALE.md finding 30's DSIR
    wall)."""
    if d < 1:
        raise ValueError(f"d must be >= 1, got {d}")
    if not 0 < shift < 43:
        raise ValueError(f"shift must be in (0, 43), got {shift}")
    cr = _bucket_counts_arrow(raw, d, text_col, "cr")
    ct = _bucket_counts_arrow(target, d, text_col, "ct")
    # x = ((ct+1) << shift) DIV (cr+1), clamped to >= 1 so the bit
    # length is defined; lambda = bitlen(x) - 1 - shift can go negative
    # (bucket rarer in target than raw), exactly like the float LLR.
    joined = cr.join(ct, "bucket", "left").select(
        "bucket",
        F.coalesce(F.col("ct"), F.lit(0)).cast("long").alias("ct"),
        F.col("cr").cast("long").alias("cr"),
    )
    x = F.expr(f"greatest(((ct + 1) * {1 << shift}) div (cr + 1), 1)")
    return joined.withColumn(
        "lam", (F.length(F.bin(x)) - F.lit(1) - F.lit(shift)).cast("long")
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    d: int = DEFAULT_D,
    id_col: str = "doc_id",
    text_col: str = "text",
    shift: int = DEFAULT_SHIFT,
) -> DataFrame:
    """Per-document importance weights against a trusted target corpus.

    Returns (id, n_tokens, dsir_score): score = sum over the doc's
    tokens of the bucket's integer log-ratio — exact int64. Higher =
    more target-like. Docs with no tokens are omitted (consistent with
    the tokenizing operators).

    The d-row λ table is collected (one bounded driver crossing, the
    kmeans-seed pattern) and each document is scored inside ONE fused
    mapInPandas — no token explode, no join, no per-doc shuffle."""
    lam = dsir_lambda(raw, target, d=d, text_col=text_col, shift=shift)
    return _score_fused(
        raw, _lam_rows(lam), d, id_col, text_col, keep_missing=False
    )


def dsir_select(
    weights: DataFrame, budget: int, id_col: str = "doc_id"
) -> DataFrame:
    """Keep the ``budget`` highest-weight documents, deterministic
    tie-break on id — the 'take the head of the resampled order'
    reading of DSIR selection. orderBy+limit compiles to
    TakeOrderedAndProject: every partition contributes at most
    ``budget`` pre-sorted rows, so this is safe for bounded budgets;
    for keep-30%-of-the-lake budgets use a score-quantile threshold
    instead of a rank."""
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    # Two stages so no corpus-wide single-partition sort ever runs:
    # orderBy+limit is TakeOrderedAndProject (each partition ships at
    # most ``budget`` pre-sorted rows), and only the surviving
    # <= budget rows pass through the unpartitioned ranking window.
    head = weights.orderBy(F.desc("dsir_score"), F.col(id_col)).limit(budget)
    return head.withColumn(
        "sel_rank",
        F.row_number().over(Window.orderBy(F.desc("dsir_score"), F.col(id_col))),
    )


def dsir_select_threshold(
    weights: DataFrame,
    keep_frac: float,
    score_col: str = "dsir_score",
) -> DataFrame:
    """Proportional-budget selection: keep every document whose score
    reaches the (1−keep_frac) score percentile — the lake-scale tier
    next to ``dsir_select``'s bounded top-k (a keep-30%-of-100 TB
    budget cannot rank globally, but a threshold is one histogram
    pass + a broadcast scalar).

    The cut is ``percentile_disc``'s rule (smallest value whose
    cume_dist ≥ p) computed over the per-VALUE histogram — shuffle is
    O(distinct scores), never O(docs) (the operators/percentile.py
    argument); ties at the threshold are kept, so the selected
    fraction is ≥ keep_frac by at most the tie mass. Exact: integer
    scores, one int/int double division against the literal p."""
    if not 0 < keep_frac <= 1:
        raise ValueError(f"keep_frac must be in (0, 1], got {keep_frac}")
    p = 1.0 - keep_frac
    # The input frame is referenced twice below (histogram + final
    # filter join) and Spark does not share the subtree — for the
    # fused-Arrow weights pipeline the scoring pass (and its
    # model-building passes) evaluates twice. Round 11 inserted an
    # unconditional localCheckpoint here on a warm interleaved A/B
    # (0.59×) — and the probe regressed 3.3× in the driver's COLD run
    # (VERDICT r11 items 1/2); the r12 cold 32c re-measure confirmed
    # the checkpoint loses cold (2.19-2.44 s vs 1.77 s without, table
    # in OPTIMIZATION_r12.md), and the advisor flagged its O(docs)
    # block retention besides (blocks are never released; sweeping
    # keep_frac accumulates them). The plan is therefore the lazy r10
    # double evaluation; a caller scoring a huge corpus once per
    # threshold can checkpoint ``weights`` itself and own the retention.
    hist = weights.groupBy(score_col).agg(F.count("*").alias("_c"))
    w = Window.orderBy(score_col).rowsBetween(Window.unboundedPreceding, 0)
    # the histogram window holds one row per DISTINCT score — bounded
    # by the score domain (sum of per-token lambdas), not corpus size
    cum = hist.withColumn("_cum", F.sum("_c").over(w)).withColumn(
        "_n", F.sum("_c").over(Window.partitionBy())
    )
    thr = cum.filter(
        F.col("_cum").cast("double") / F.col("_n").cast("double") >= F.lit(p)
    ).agg(F.min(score_col).alias("_thr"))
    return weights.join(F.broadcast(thr), F.col(score_col) >= F.col("_thr")).drop(
        "_thr"
    )


def dsir_score_batch(
    batch: DataFrame,
    lam: DataFrame,
    d: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental DSIR: score an ARRIVING batch against a FROZEN
    λ table (a prior ``dsir_lambda`` output) — the deployment shape,
    mirroring the incremental-IVF contract: the corpus models train
    once on the reference snapshot, every subsequent ingest batch is
    scored with zero retraining and zero corpus-wide work (one narrow
    vectorized pass over the batch).

    Buckets absent from the frozen table (tokens the reference corpus
    never hashed into — possible when the reference is a subset) score
    λ = 0, the uninformative prior; identical to what retraining with
    +0 counts would NOT give, so the choice is documented rather than
    silent. Bit-identical to ``dsir_weights`` for any batch drawn
    from the λ table's raw corpus (pytest pins it).

    Scored like ``dsir_weights``: the frozen λ (d rows) is collected
    once per call — at deployment scale amortize by collecting once
    and scoring many batches via ``_score_fused``."""
    return _score_fused(
        batch, _lam_rows(lam), d, id_col, text_col, keep_missing=True
    )
