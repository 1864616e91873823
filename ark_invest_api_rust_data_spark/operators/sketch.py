"""Probabilistic sketches for corpus-scale set membership and
frequency estimation — the operators that replace exact broadcast
structures once the "small" side stops being small (driver north star:
training-data pipeline at 100 TB).

Two sketches, both built from pure integer math so a SQL oracle can
recompute them bit-for-bit:

* **Bloom filter** (Bloom 1970) — ``bloom_build`` folds a key stream
  into an m-bit bitmap (one ``array<long>`` row); ``bloom_contains_from_hash``
  probes it via a broadcast of that single row. The decontamination
  tier ``bloom_decontaminate`` replaces
  ``contamination_overlap``'s broadcast of the full benchmark shingle
  SET with a constant-size bitmap: at 100 TB the benchmark shingle set
  can be GBs (too big to broadcast, forcing a corpus-wide shuffle
  join), while a 2^20-bit Bloom is 128 KiB forever. False positives
  only — the safe direction for decontamination (a clean doc may be
  flagged, a dirty doc is never missed).

* **Count-min sketch** (Cormode & Muthukrishnan 2005) —
  ``cms_build`` aggregates token counts into a d×w matrix (d·w rows,
  one shuffle with map-side combine, O(d·w) result no matter the
  corpus size); ``cms_heavy_hitters`` runs the classic
  candidates-then-verify: CMS estimates (which only ever
  OVER-estimate) select candidate tokens above the threshold, then one
  exact count pass confirms — the same shape as MinHash-LSH's
  candidate/verify split (operators/dedup.py).

Hash family: ``pos_i(x) = ((A_i·h(x) + B_i) mod P) mod m`` where
``h`` is the 31-fold 32-bit token hash (operators/text.token_hash32)
and P = 2^61-1. With A_i < 2^31 and h < 2^32 the product stays under
2^63 — exact in int64 on both engines, no overflow, no floats.

The reference (a single-node ETL, SURVEY.md §2 Part B evidence of
absence) has no sketches; this extends the corpus-prep family
B28-B31.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from .text import token_hash32

# 2^61 - 1 (Mersenne prime): A*h + B < 2^63 for A < 2^31, h < 2^32,
# so the mod chain is exact int64 arithmetic in any engine.
MERSENNE61 = (1 << 61) - 1

# Deterministic multiply-shift coefficients, i = 0..k-1. 1103515245 is
# the classic LCG multiplier; the strides keep every A_i < 2^31.
_A_BASE, _A_STEP = 1103515245, 12345
_B_BASE, _B_STEP = 12345, 999331


def _coef(i: int) -> tuple[int, int]:
    return _A_BASE + i * _A_STEP, _B_BASE + i * _B_STEP


def hash_positions(key: Column, n_hashes: int, modulus: int) -> Column:
    """Array of ``n_hashes`` positions in [0, modulus) for a string
    key — the shared Bloom/CMS hash family (module docstring)."""
    return F.array(*_position_cols(token_hash32(key), n_hashes, modulus))


def sql_hash_positions(key_sql: str, n_hashes: int, modulus: int, hash_sql: str) -> list[str]:
    """DuckDB fragments mirroring ``hash_positions`` — ``hash_sql`` is
    the token-hash expression for ``key_sql`` (plans/llm.py _sql_hash).
    Kept next to the Spark side so the two can never drift apart."""
    return [
        f"((({a} * {hash_sql}) + {b}) % {MERSENNE61}) % {modulus}"
        for a, b in (_coef(i) for i in range(n_hashes))
    ]


def _position_cols(h: Column, n_hashes: int, modulus: int) -> list[Column]:
    """The affine position family as SEPARATE Column expressions.
    Probes must use these, not an ``F.array`` + ``F.aggregate`` fold:
    higher-order functions are CodegenFallback — evaluated interpreted
    per row — which turned the sf10 triangle-prefilter probe over a
    582M-row wedge stream into a wall. Unrolled ANDs of k plain
    expressions stay inside whole-stage codegen."""
    return [
        ((F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE61)) % F.lit(modulus)
        for a, b in (_coef(i) for i in range(n_hashes))
    ]


def hash_positions_i64(key: Column, n_hashes: int, modulus: int) -> Column:
    """Positions in [0, modulus) for an exact INT64 key column — the
    Spark-side-only Bloom family (single-engine: build and probe run
    in the same job, so no cross-engine SQL twin is needed and the
    per-character string fold is skipped). Feed it ``F.xxhash64(cols…)``
    to key on a tuple; hash collisions only add false positives, which
    every consumer removes with an exact join."""
    # fold to 32 bits first — the affine family's no-overflow contract
    # is A·h + B < 2^63 for A < 2^31, h < 2^32 (module docstring); a
    # 61-bit h would overflow the int64 multiply under ANSI
    h = F.pmod(key.cast("long"), F.lit(4294967296))
    return F.array(*_position_cols(h, n_hashes, modulus))


def _bit_masks() -> Column:
    """64-entry lookup array: masks[b+1] = the long with only bit b
    set. A lookup instead of shiftleft because PySpark's shiftleft
    takes a Python int shift amount, not a Column; entry 63 is the
    sign bit (Long.MIN_VALUE) — bitwiseAND/bit_or are sign-agnostic."""
    return F.array(
        *[
            F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long")
            for b in range(64)
        ]
    )


# ------------------------------------------------------------ bloom
def bloom_build(
    df: DataFrame, key_col: str = "key", m_bits: int = 1 << 16, k: int = 4
) -> DataFrame:
    """Fold a key stream into one bitmap row ``(bitmap: array<long>)``
    of ceil(m_bits/64) words.

    Shape: keys → k bit positions each (narrow) → distinct
    (word, mask) → per-word bit-OR (ONE shuffle of at most m_bits
    rows after map-side combine) → single-row assembly via
    map_from_entries + a sequence fill — no driver crossing, no UDF.
    At 100 TB the shuffle is bounded by the bitmap size, never the
    corpus.
    """
    return _bloom_from_positions(
        df.select(F.explode(hash_positions(F.col(key_col), k, m_bits)).alias("_pos")),
        m_bits,
    )


def bloom_build_i64(
    df: DataFrame, key: Column, m_bits: int, k: int = 4
) -> DataFrame:
    """``bloom_build`` over an exact INT64 key expression (the
    ``hash_positions_i64`` family) — for same-job Spark-side blooms
    like the triangle closing-join prefilter, where keys are id tuples
    (``F.xxhash64(col_a, col_b)``) and no SQL twin is required."""
    return _bloom_from_positions(
        df.select(F.explode(hash_positions_i64(key, k, m_bits)).alias("_pos")),
        m_bits,
    )


# above this, the expression assembly is quadratic: element_at on a
# MapType literal is a LINEAR scan (ArrayBasedMapData), so filling a
# w-word array from a w-entry map costs O(w²) in ONE task — invisible
# at the decontaminate tier's 2^16 bits (1k words), a wall at the
# triangle prefilter's 2^28 (4.2M words). The Arrow tier assembles the
# same array with one numpy scatter instead.
_BLOOM_EXPR_WORDS = 1 << 14


def _bloom_from_positions(pos: DataFrame, m_bits: int) -> DataFrame:
    n_words = (m_bits + 63) // 64
    words = (
        pos.select(
            (F.col("_pos") / 64).cast("long").alias("_word"),
            F.element_at(
                _bit_masks(), (F.col("_pos") % 64).cast("int") + 1
            ).alias("_mask"),
        )
        .groupBy("_word")
        .agg(F.bit_or("_mask").alias("_bits"))
    )
    if n_words <= _BLOOM_EXPR_WORDS:
        return words.agg(
            F.map_from_entries(F.collect_list(F.struct("_word", "_bits"))).alias("_m")
        ).select(
            F.transform(
                F.sequence(F.lit(0).cast("long"), F.lit(n_words - 1).cast("long")),
                lambda i: F.coalesce(F.element_at("_m", i), F.lit(0).cast("long")),
            ).alias("bitmap")
        )

    def assemble(batches):
        import numpy as np
        import pandas as pd

        acc = np.zeros(n_words, dtype=np.int64)
        for pdf in batches:
            if len(pdf):
                np.bitwise_or.at(
                    acc,
                    pdf["_word"].to_numpy(dtype=np.int64),
                    pdf["_bits"].to_numpy(dtype=np.int64),
                )
        yield pd.DataFrame({"bitmap": [acc.tolist()]})

    # one-partition Arrow pass: the input is ≤ n_words (word, bits)
    # rows after the bit_or combine — 4.2M rows / 64 MB at the 2^28
    # cap — and the scatter is O(w)
    return words.repartition(1).mapInPandas(assemble, "bitmap array<long>")


def _bit_test(bitmap: Column, p: Column) -> Column:
    return (
        F.element_at(bitmap, (p / 64).cast("int") + 1).bitwiseAND(
            F.element_at(_bit_masks(), (p % 64).cast("int") + 1)
        )
        != 0
    )


def bloom_contains_from_hash(
    h: Column, bitmap: Column, m_bits: int, k: int = 4
) -> Column:
    """Bloom membership of a key given its already-computed
    ``token_hash32`` base hash — the kmins_positions_from_hash
    discipline (round 11):
    the char fold is a CodegenFallback HOF evaluated interpreted, and
    inlining it into the k×2 position reads re-ran it up to 8× per
    probed key (measured at sf0.1: the decontaminate probe stage was
    28.5 s of executor time, ~4× the fold's one-pass cost). Callers
    project ``h`` in a SELECT below the bitmap's broadcast cross join:
    predicate pushdown cannot cross that join boundary (the condition
    references the bitmap), so the projected hash stays materialized
    and the fold runs exactly once per key."""
    cond = F.lit(True)
    for p in _position_cols(h, k, m_bits):
        cond = cond & _bit_test(bitmap, p)
    return cond


def bloom_contains_i64(
    key: Column, bitmap: Column, m_bits: int, k: int = 4
) -> Column:
    """Bloom membership for the INT64 family (``hash_positions_i64``)
    — probe with the same key expression the bloom was built with."""
    h = F.pmod(key.cast("long"), F.lit(4294967296))
    cond = F.lit(True)
    for p in _position_cols(h, k, m_bits):
        cond = cond & _bit_test(bitmap, p)
    return cond


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = 1 << 16,
    k: int = 4,
) -> DataFrame:
    """Constant-memory benchmark decontamination: build a Bloom filter
    over the benchmark's distinct word n-grams, then flag corpus
    documents whose shingles hit it. Returns flagged docs only:
    ``(id_col, n_bloom_hits)`` — distinct shingles of the doc that the
    filter reports as (possibly) present.

    vs ``contamination_overlap`` (operators/contamination.py): the
    exact operator broadcasts the benchmark shingle set itself — fine
    while eval suites are MBs, impossible when the protected set grows
    to GBs. This tier broadcasts ceil(m_bits/64) longs regardless of
    benchmark size, at the price of a tunable false-positive rate
    ((1-e^{-kn/m})^k); flagged docs are a SUPERSET of the truly
    contaminated, so a downstream exact check only needs to look at
    the flagged minority.
    """
    from .contamination import _shingles

    bloom = bloom_build(
        _shingles(benchmark, id_col, text_col, n, "_bid")
        .select(F.col("shingle").alias("key"))
        .distinct(),
        m_bits=m_bits,
        k=k,
    )
    # _shingles explodes array_distinct — already one row per distinct
    # (doc, shingle), so the count below needs no extra dedup shuffle.
    # The base char fold is projected BELOW the bitmap cross join so it
    # runs once per shingle (bloom_contains_from_hash; the filter can't
    # be pushed through the join, so the hash column stays
    # materialized instead of being re-inlined into the k×2 bit reads).
    corp = _shingles(corpus, id_col, text_col, n, id_col).select(
        id_col, token_hash32(F.col("shingle")).alias("_h")
    )
    return (
        corp.crossJoin(F.broadcast(bloom))
        .filter(
            bloom_contains_from_hash(F.col("_h"), F.col("bitmap"), m_bits, k)
        )
        .groupBy(id_col)
        .agg(F.count("*").alias("n_bloom_hits"))
    )


# ------------------------------------------------------------ k-mins
# Hash space for the k-mins distinct sketch: 2^55 keeps every product
# in the estimator exact in int64 — sum of k=32 mins < 2^60, and
# (k-1)·M = 31·2^55 ≈ 1.1e18 < 2^63.
KMINS_M = 1 << 55


def kmins_positions_from_hash(h: Column, k: int) -> list[Column]:
    """k independent hash values in [0, KMINS_M) from a key's
    already-computed base hash ``h`` (``token_hash32``).

    TWO affine stages, unlike the Bloom/CMS single stage: the base
    token hash of a short key (a numeric id rendered as 2-3 digits) is
    a SMALL integer, and one multiply leaves ``A·h + B`` far below
    2^55 — the mins would then measure key-string length, not
    cardinality (measured: D=57 estimated as ~650 000). Stage 1 wraps
    into [0, 2^31) (A·h < 2^62, exact); stage 2 re-expands with an
    independent coefficient pair (A'·h1 < 2^62, exact) so the mod-2^55
    image is well mixed even for consecutive short keys. Every step
    stays in int64 on any engine.

    Callers materialize the char-fold ONCE in its own projection
    (multi-referenced non-trivial columns are not inlined by
    CollapseProject) — inlining ``token_hash32`` into all k register
    expressions re-runs the interpreted char fold k times per key (HOF
    folds are CodegenFallback; measured 10.7× wall on the 64-register
    overlap sketch at sf1)."""
    out: list[Column] = []
    for i in range(k):
        a1, b1 = _coef(i)
        a2, b2 = _coef(i + k)
        h1 = (F.lit(a1) * h + F.lit(b1)) % F.lit(1 << 31)
        out.append(
            ((F.lit(a2) * h1 + F.lit(b2)) % F.lit(MERSENNE61)) % F.lit(KMINS_M)
        )
    return out


def sql_kmins_positions(k: int, hash_sql: str) -> list[str]:
    """DuckDB fragments mirroring ``kmins_positions_from_hash`` over a
    precomputed base-hash expression ``hash_sql`` — kept adjacent so
    the two stages can never drift."""
    out: list[str] = []
    for i in range(k):
        a1, b1 = _coef(i)
        a2, b2 = _coef(i + k)
        h1 = f"((({a1} * {hash_sql}) + {b1}) % {1 << 31})"
        out.append(f"((({a2} * {h1}) + {b2}) % {MERSENNE61}) % {KMINS_M}")
    return out


def kmins_sketch(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
    k: int = 32,
) -> DataFrame:
    """Per-group k-mins distinct sketch: for each of k independent
    multiply-shift hashes, the minimum hash value of the group's keys
    — ``(group_cols..., mins: array<long>)``.

    This is the Flajolet–Martin / Cohen MinCount family (Cohen 1997;
    Bar-Yossef et al. 2002): each min is an order statistic of D
    uniform draws on [0, M), so E[min] ≈ M/(D+1) and the k of them
    together estimate D (see ``kmins_distinct``).

    Scale shape — the whole point of the sketch: ``COUNT(DISTINCT
    user)`` per group shuffles every distinct (group, user) pair
    (O(distinct) rows); the sketch is k plain ``min`` aggregates, so
    map-side combine reduces each partition to one row per group and
    the shuffle is O(groups · k) REGARDLESS of cardinality. Sketches
    are mergeable (elementwise min) across partitions, batches and
    days — the streaming/backfill union costs nothing.

    Pure int64 (the two-stage variant of the Bloom/CMS hash family —
    see ``kmins_positions_from_hash`` for why one stage is not enough here), so
    a SQL oracle recomputes every register bit-for-bit.
    """
    # base char-fold materialized ONCE per key in its own projection
    # (see kmins_positions_from_hash): with k register expressions the
    # inlined fold dominated wall time k-fold at corpus scale. With the
    # fold hoisted to one pass per key, a vectorized pandas-UDF fold
    # measured slower at every tested scale (Arrow string shipping
    # outweighs the interpreted lambda: sf0.1 1.54 s vs 1.01 s; sf1
    # 14.9 s vs 9.6 s on the 64-register overlap sketch).
    fold = token_hash32(F.col(key_col).cast("string"))
    based = df.select(*group_cols, fold.alias("_bh"))
    hashed = based.select(
        *group_cols,
        *[
            p.alias(f"_h{i}")
            for i, p in enumerate(kmins_positions_from_hash(F.col("_bh"), k))
        ],
    )
    agg = hashed.groupBy(*group_cols).agg(
        *[F.min(f"_h{i}").alias(f"_m{i}") for i in range(k)]
    )
    return agg.select(
        *group_cols,
        F.array(*[F.col(f"_m{i}") for i in range(k)]).alias("mins"),
    )


def kmins_merge(a: Column, b: Column) -> Column:
    """Merge two k-mins registers (elementwise min) — the union
    sketch. ``zip_with`` keeps it a JVM-side expression."""
    return F.zip_with(a, b, lambda x, y: F.least(x, y))


def kmins_distinct(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
    k: int = 32,
) -> DataFrame:
    """Approximate per-group distinct count from the k-mins sketch:
    ``(group_cols..., mins, est_distinct)``.

    Estimator: Σ min_i ~ Gamma(k, M/(D+1)) for D distinct keys, so the
    unbiased inverse is ``(k-1)·M / Σ − 1`` — computed as int64 floor
    division (all operands bounded by construction, see KMINS_M),
    clamped to ≥ 0, with a ``greatest(Σ, 1)`` guard for the
    all-registers-zero corner. Relative error ~ 1/√(k−2): k=32 → ~18%
    σ. Deterministic: same inputs → same registers → same estimate on
    any engine, which is what lets DuckDB replay it exactly.
    """
    sk = kmins_sketch(df, key_col, group_cols, k)
    num = (k - 1) * KMINS_M
    est = F.greatest(
        F.lit(0).cast("long"),
        F.expr(
            f"CAST({num} AS BIGINT) div greatest(aggregate(mins, CAST(0 AS BIGINT),"
            " (acc, x) -> acc + x), CAST(1 AS BIGINT)) - 1"
        ),
    )
    return sk.select(*group_cols, "mins", est.alias("est_distinct"))


# ------------------------------------------------------------ count-min
def cms_build(
    df: DataFrame,
    key_col: str = "key",
    depth: int = 4,
    width: int = 1 << 12,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-min sketch of a key stream as a (depth·width)-row table
    ``(row, pos, cnt)`` — zero cells omitted. ONE shuffle whose
    map-side-combined output is bounded by d·w, never the corpus;
    the result is broadcastable by construction (d=4, w=4096 →
    ≤16 384 rows).

    ``weight_col`` builds from a pre-aggregated (key, weight) table —
    cell-identical to inserting each key ``weight`` times, but the
    hash fold runs once per DISTINCT key instead of once per
    instance (the shape ``cms_heavy_hitters`` uses).
    """
    from .dedup import _spread

    w = F.col(weight_col) if weight_col else F.lit(1).cast("long")
    pos = _spread(df).select(
        w.alias("_w"),
        F.posexplode(hash_positions(F.col(key_col), depth, width)).alias(
            "row", "pos"
        ),
    )
    return pos.groupBy("row", "pos").agg(F.sum("_w").alias("cnt"))


def cms_estimate(key: Column, depth: int, width: int) -> Column:
    """Positions array for a key — callers join each (row, pos)
    against the sketch and take ``min(cnt)`` (see
    ``cms_heavy_hitters`` for the canonical join shape)."""
    return hash_positions(key, depth, width)


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str = "key",
    threshold: int = 100,
    depth: int = 4,
    width: int = 1 << 12,
) -> DataFrame:
    """Tokens with exact count ≥ threshold, found sketch-first:
    ``(key, est, cnt)``.

    1. Build the CMS (weighted — see below).
    2. Candidates: keys whose sketch estimate (min over d rows of the
       broadcast sketch) ≥ threshold. CMS never under-counts, so no
       true heavy hitter is missed.
    3. Verify: exact count ≥ threshold (over-estimated candidates
       drop out here).

    Plan shape: ONE corpus scan feeding one vocab-bounded count
    shuffle (map-side combined — the same canonical shape as
    llm_vocab_topk), then everything downstream (weighted sketch
    build, estimates, verify) runs on the tiny counts table: the
    sketch is built with per-key weights (cell-identical to
    per-instance inserts, hash fold once per DISTINCT key), estimates
    come from a broadcast of the ≤ d·w-row sketch, and the verify is
    a filter on the counts already in hand. At 100 TB nothing past
    the first aggregation ever sees a corpus-sized row stream. The
    returned ``est`` ≥ ``cnt`` always (over-count-only error).
    """
    from .dedup import _spread

    counts = (
        _spread(df)
        .groupBy(key_col)
        .agg(F.count("*").alias("cnt"))
        .persist()
    )
    try:
        sketch = cms_build(
            counts, key_col, depth, width, weight_col="cnt"
        ).withColumnRenamed("cnt", "_scnt")
        est = (
            counts.select(
                key_col,
                "cnt",
                F.posexplode(cms_estimate(F.col(key_col), depth, width)).alias(
                    "row", "pos"
                ),
            )
            .join(F.broadcast(sketch), ["row", "pos"])
            .groupBy(key_col, "cnt")
            # a missing sketch row can't happen for a probed key (its
            # own inserts put >=1 in every one of its d cells)
            .agg(F.min("_scnt").alias("est"))
        )
        out = (
            est.filter(
                (F.col("est") >= threshold) & (F.col("cnt") >= threshold)
            )
            .select(key_col, "est", "cnt")
            # cut lineage so the counts cache can be released on return
            .localCheckpoint(eager=True)
        )
    finally:
        counts.unpersist()
    return out


def _kmins_est_from(col_name: str, k: int) -> Column:
    """The integer k-mins estimator over a named register-array
    column: (k−1)·M div Σmins − 1, clamped (see kmins_distinct)."""
    num = (k - 1) * KMINS_M
    return F.greatest(
        F.lit(0).cast("long"),
        F.expr(
            f"CAST({num} AS BIGINT) div greatest(aggregate({col_name},"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x), CAST(1 AS BIGINT)) - 1"
        ),
    )


def _overlap_estimates(both: DataFrame, k: int) -> DataFrame:
    """Shared estimator tail: (est_a, est_b, est_union,
    est_intersection, jaccard_ppm) from (_ma, _mb, _mu) registers."""
    est_a = _kmins_est_from("_ma", k)
    est_b = _kmins_est_from("_mb", k)
    est_u = _kmins_est_from("_mu", k)
    scored = both.select(
        est_a.alias("est_a"),
        est_b.alias("est_b"),
        est_u.alias("est_union"),
    ).withColumn(
        "est_intersection",
        F.greatest(
            F.lit(0).cast("long"),
            F.col("est_a") + F.col("est_b") - F.col("est_union"),
        ),
    )
    return scored.withColumn(
        "jaccard_ppm",
        F.expr(
            "CAST(1000000 * est_intersection AS BIGINT)"
            " div greatest(est_union, CAST(1 AS BIGINT))"
        ),
    )


def corpus_overlap_docs(
    docs: DataFrame,
    text_col: str,
    side_col: str,
    n: int = 3,
    k: int = 64,
) -> DataFrame:
    """Constant-size overlap estimate between the word n-shingle sets
    of the two halves of ``docs`` split by the boolean ``side_col``:
    one row with ``est_a``, ``est_b``, ``est_union``,
    ``est_intersection``, ``jaccard_ppm``. Each side reduces to a
    k-register k-mins sketch; the UNION sketch is the elementwise min
    of the two (Cohen 1997 mergeability), so |A∩B| ≈ est(A) + est(B) −
    est(A∪B) and J = |A∩B| / |A∪B| as integer ppm. Relative error
    ~1/√(k−2) per estimate; small overlaps read as 0 (the clamp).

    One Arrow pass tokenizes, shingles, hashes and min-reduces each
    batch to at
    most two (side, k-register) partial rows, which a single tiny
    aggregation merges (elementwise min is associative/commutative).

    Round 11, guide §4.2/§8: the split form exploded every word
    3-shingle into its own row and folded each shingle string through
    the interpreted ``token_hash32`` expression (CodegenFallback — a
    per-char lambda frame), re-reading every document byte ~n times;
    on top of that the 64-register aggregate is a ~130-expression tree
    the driver re-analyzes and re-compiles on every bench pass
    (measured 2.3 s driver gap per pass at sf0.1 vs 1.7 s of actual
    job time). Here the text crosses the Arrow boundary ONCE (raw
    document bytes, no shingle inflation), the fold is a masked NumPy
    loop over max-gram-length steps per batch, the 64 affine register
    maps are vectorized int64 ops, and the Spark plan shrinks to
    scan → mapInPandas → one fold-merge aggregate — nothing left for
    the driver to chew on. Measured: llm_corpus_overlap probe pass
    4.1 s → well under 1 s at sf0.1.

    BIT-IDENTITY with the split form (the expression pipeline the
    tests keep as the reference): the per-gram
    hash is the same 31-fold over the same gram strings — tokenization
    replicates Spark exactly (``trim`` strips 0x20 only; Java ``\\s``
    is ASCII ``[ \\t\\n\\x0B\\f\\r]`` = Python ``re.ASCII`` ``\\s``;
    split keeps leading/trailing empty tokens like Java ``split(re,
    -1)``; ``concat_ws`` joins empty tokens, so does ``" ".join``) —
    and gram DISTINCTNESS per doc cannot change a min, so skipping
    ``array_distinct`` is exact. Codepoint folds agree with the
    expression tier's ``ascii()`` for all BMP text (the oracle already
    constrains the corpus there). A NULL side row contributes nothing
    (the split form filters it); a NULL text contributes one empty
    gram exactly like the expression tier (see inline comment); a
    sub-n-token document
    raises loudly (the split form's ANSI ``element_at`` contract); a
    side with no keys raises (NULL registers would read an empty crawl
    as (k-1)·M distinct keys with ~total overlap).

    Scale shape: partial rows are 2 per Arrow batch, merged by a
    map-side-combinable fold aggregate — shuffle is O(batches), the
    collect is 2 rows, the registers never leave int64."""
    from .dedup import _spread

    coefs = [(_coef(i), _coef(i + k)) for i in range(k)]
    min_toks = n

    def fold_batches(batches):
        import re

        import numpy as np
        import pandas as pd

        ws = re.compile(r"\s+", re.ASCII)
        for pdf in batches:
            texts = pdf[text_col]
            sides = pdf[side_col]
            text_null = texts.isna()
            side_null = sides.isna()
            grams: list[str] = []
            gram_side: list[bool] = []
            for t, s, t_null, s_null in zip(texts, sides, text_null, side_null):
                if s_null:
                    continue
                if t_null:
                    # expression-tier quirk, replicated exactly: a NULL
                    # text yields ONE empty gram (size(NULL) = -1 →
                    # greatest(-1-n+1, 1) = 1 gram; concat_ws over NULL
                    # element_at's → ""), which folds to h = 0 — it is
                    # NOT dropped (only a NULL side is)
                    grams.append("")
                    gram_side.append(bool(s))
                    continue
                toks = ws.split(t.strip(" "))
                if len(toks) < min_toks:
                    raise ValueError(
                        f"corpus_overlap_docs: document with "
                        f"{len(toks)} < {min_toks} tokens (shingle "
                        "precondition; quality-gate short docs first)"
                    )
                sv = bool(s)
                seen = set()
                for i in range(len(toks) - n + 1):
                    g = " ".join(toks[i : i + n])
                    if g not in seen:
                        seen.add(g)
                        grams.append(g)
                        gram_side.append(sv)
            if not grams:
                continue
            m = len(grams)
            lens = np.fromiter((len(g) for g in grams), np.int64, count=m)
            h = np.zeros(m, np.int64)
            lmax = int(lens.max())
            if lmax:
                buf = np.frombuffer(
                    "".join(grams).encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                starts = np.zeros(m, np.int64)
                np.cumsum(lens[:-1], out=starts[1:])
                for j in range(lmax):
                    live = lens > j
                    h[live] = (h[live] * 31 + buf[(starts + j)[live]]) & 0xFFFFFFFF
            side_arr = np.asarray(gram_side)
            rows = []
            for sv in (True, False):
                mask = side_arr == sv
                if not mask.any():
                    continue
                hs = h[mask]
                mins = []
                for (a1, b1), (a2, b2) in coefs:
                    h1 = (a1 * hs + b1) % (1 << 31)
                    mins.append(int((((a2 * h1 + b2) % MERSENNE61) % KMINS_M).min()))
                rows.append((sv, mins))
            yield pd.DataFrame(rows, columns=["_side", "mins"])

    flagged = _spread(docs).select(
        F.col(side_col).cast("boolean").alias(side_col), F.col(text_col)
    )
    partials = flagged.mapInPandas(fold_batches, "_side boolean, mins array<long>")
    seed = F.array_repeat(F.lit(KMINS_M).cast("long"), k)
    merged = (
        partials.groupBy("_side")
        .agg(F.collect_list("mins").alias("_ms"))
        .select(
            "_side",
            F.aggregate(F.col("_ms"), seed, kmins_merge).alias("mins"),
        )
    )
    rows = merged.collect()
    mins = {bool(r["_side"]): r["mins"] for r in rows}
    for side, flag in (("keys_a", True), ("keys_b", False)):
        if flag not in mins:
            raise ValueError(f"corpus_overlap: {side} has no keys")
    spark = docs.sparkSession
    both = spark.createDataFrame(
        [(mins[True], mins[False])], "_ma array<long>, _mb array<long>"
    ).withColumn("_mu", kmins_merge(F.col("_ma"), F.col("_mb")))
    return _overlap_estimates(both, k)


