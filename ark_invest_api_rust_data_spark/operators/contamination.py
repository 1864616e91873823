"""Benchmark decontamination — n-gram overlap between a training
corpus and an eval/benchmark set (GPT-3 appendix C / Gopher §A2 style
"dirty document" detection; driver north star: training-data pipeline
operators at 100 TB).

Shape: both sides are tokenized and shingled into DISTINCT word
n-grams (one narrow map + explode each), then the corpus shingle
stream is inner-joined against the benchmark shingle set. The
benchmark side is the small one by construction (eval suites are MBs
against a 100 TB corpus), so it is broadcast — the corpus side never
shuffles, and the whole operator is scan → explode → broadcast-join →
one partial+final aggregation on doc_id. For benchmark sets too big to
broadcast, ``hashed=True`` is the scale knob: it shrinks shingles to
int64 xxhash64 keys (8 bytes vs arbitrary-length strings) AND drops
the hard broadcast hint, so the planner (AQE runtime sizing) picks
broadcast vs shuffle join from the actual benchmark size — a benchmark
bigger than the executor heap degrades to a shuffle join instead of an
OOM. Equivalence of the two keyings is pytest-proven
(hash collisions at 64 bits are negligible and only ever create false
POSITIVES, the safe direction for decontamination).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .text import tokens, word_ngrams


def _shingles(df: DataFrame, id_col: str, text_col: str, n: int, out_id: str) -> DataFrame:
    from .dedup import _spread

    toks = tokens(F.col(text_col))
    return _spread(df).select(
        F.col(id_col).alias(out_id),
        F.explode(F.array_distinct(word_ngrams(toks, n))).alias("shingle"),
    )


def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str | None = None,
    hashed: bool = False,
    count_bench_docs: bool = True,
) -> DataFrame:
    """Per-corpus-document contamination stats vs a benchmark set.

    Returns only contaminated documents (the interesting minority):
    ``(id_col, n_shingle_hits[, n_bench_docs])`` — how many distinct
    n-gram shingles of the document appear anywhere in the benchmark,
    and (optionally) how many distinct benchmark documents it
    overlaps. Callers drop or flag the returned ids.

    ``count_bench_docs=False`` is the guaranteed-linear tier: the
    benchmark side is pre-aggregated to its distinct shingle set, so
    the join output is bounded by the corpus shingle stream no matter
    how many benchmark documents share a shingle. The exact
    ``n_bench_docs`` requires expanding (corpus shingle × matching
    bench doc) pairs — harmless on realistic corpora where a shingle
    appears in few benchmark docs, but on a saturated shingle space
    (e.g. a tiny synthetic vocabulary where every possible n-gram
    exists in the benchmark) the pair expansion is the dominant cost;
    decontamination itself only needs the flag/hit count.

    Documents shorter than ``n`` tokens produce no shingles and are
    never flagged (``word_ngrams`` yields an empty array for them).
    """
    bench_id = bench_id_col or id_col
    corp = _shingles(corpus, id_col, text_col, n, id_col)
    ben = _shingles(benchmark, bench_id, text_col, n, "bench_id").distinct()
    # hashed=True is the too-big-to-broadcast tier: no hard hint, AQE
    # decides from the runtime size (a hinted broadcast would override
    # the size check and OOM on an oversized benchmark — ADVICE r2).
    _hint = (lambda d: d) if hashed else F.broadcast
    if hashed:
        corp = corp.withColumn("shingle", F.xxhash64("shingle"))
        ben = ben.withColumn("shingle", F.xxhash64("shingle"))
    if not count_bench_docs:
        hits = corp.join(_hint(ben.select("shingle").distinct()), "shingle")
        return hits.groupBy(id_col).agg(
            F.countDistinct("shingle").alias("n_shingle_hits")
        )
    hits = corp.join(_hint(ben), "shingle")
    return hits.groupBy(id_col).agg(
        F.countDistinct("shingle").alias("n_shingle_hits"),
        F.countDistinct("bench_id").alias("n_bench_docs"),
    )


def pair_ngram_overlap(
    docs: DataFrame,
    pairs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """ROUGE-style n-gram overlap metrics for candidate pairs — the
    verification stage AFTER a near-dup/contamination detector: LSH
    and sketches nominate pairs cheaply; this scores each nominated
    pair exactly so a reviewer (or an eviction policy) can rank them.

    Per pair: distinct n-gram set sizes ``n_a``/``n_b``, ``n_inter``,
    ``n_union``, plus ``jaccard`` and the asymmetric containments
    ``containment_a`` (share of A's grams found in B — ROUGE-recall
    with B as reference) and ``containment_b``. Containment is the
    right contamination signal when sizes differ: a benchmark item
    fully embedded in a long training doc has low Jaccard but
    containment ≈ 1 (Broder 1997's containment vs resemblance).

    Exactness: set sizes are ints; ratios int/int double divisions.

    Scale shape: ``pairs`` is detector output — O(near-dups), orders
    of magnitude below the corpus — so the two id-joins that attach
    shingle arrays are hash joins whose probe side is small (AQE
    broadcasts it under the threshold); the intersect/union math is
    per-row JVM expressions, no shuffle beyond the joins."""
    from .dedup import hashed_shingles_from_tokens

    # Shingle ONLY pair-touched documents: pairs are detector output
    # (orders of magnitude below the corpus), so semi-joining first
    # turns the shingle stage from O(corpus) array-builds into
    # O(pairs) — measured 52 s → O(seconds) at sf1 where the full-
    # corpus shingle pass dominated.
    touched = (
        pairs.select(F.col(a_col).alias(id_col))
        .union(pairs.select(F.col(b_col).alias(id_col)))
        .distinct()
    )
    # broadcast the O(pairs) id set — a sort-merge semi join would
    # exchange and sort the corpus WITH its text payload; and
    # materialize the small shingled frame ONCE, because both pair
    # sides read it (without the cut, each side re-ran the corpus
    # scan + semi join + shingle build: measured 184 s → one scan at
    # sf10). Storage contract mirrors minhash_lsh_pairs' materialize
    # tier: persist() the shingle frame (spillable, releasable),
    # eagerly checkpoint only the TINY per-pair metric result, and
    # unpersist before returning — a long-lived session must not
    # accumulate shingle-array storage per call (r8 advisor finding:
    # the previous eager localCheckpoint of `sh` was never released).
    sh = (
        docs.join(F.broadcast(touched), id_col, "semi")
        .select(
            F.col(id_col),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("_toks"),
        )
        # hashed (int64) shingles: the metrics are set sizes and
        # ratios — identical over hashes absent 64-bit collisions
        # (hashed_shingles_from_tokens contract), and the persisted
        # frame + joins ship 8-byte ints instead of gram strings
        .select(
            id_col, hashed_shingles_from_tokens(F.col("_toks"), n).alias("_sh")
        )
        .persist()
    )
    a = sh.select(F.col(id_col).alias(a_col), F.col("_sh").alias("_sa"))
    b = sh.select(F.col(id_col).alias(b_col), F.col("_sh").alias("_sb"))
    joined = pairs.select(a_col, b_col).join(a, a_col).join(b, b_col)
    n_a = F.size("_sa")
    n_b = F.size("_sb")
    n_inter = F.size(F.array_intersect("_sa", "_sb"))
    n_union = F.size(F.array_union("_sa", "_sb"))
    result = joined.select(
        a_col,
        b_col,
        n_a.alias("n_a"),
        n_b.alias("n_b"),
        n_inter.alias("n_inter"),
        n_union.alias("n_union"),
        (n_inter.cast("double") / n_union.cast("double")).alias("jaccard"),
        (n_inter.cast("double") / n_a.cast("double")).alias("containment_a"),
        (n_inter.cast("double") / n_b.cast("double")).alias("containment_b"),
    ).localCheckpoint(eager=True)
    sh.unpersist()
    # the returned frame holds only O(pairs) metric rows; callers that
    # are done with it can free even that via Materializer(spark).release
    return result
