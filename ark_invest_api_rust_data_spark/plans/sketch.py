"""Sketch probes (corpus-prep family B28–B31 extension): Bloom-filter
decontamination and count-min-sketch heavy hitters
(operators/sketch.py). The oracles recompute the identical
multiply-shift hash chain — ``((A_i·h + B_i) mod 2^61-1) mod m`` over
the 31-fold 32-bit token hash — in pure SQL, so membership bits and
sketch cells match cell-for-cell, not just end-to-end."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ..operators.sketch import (
    bloom_decontaminate,
    cms_heavy_hitters,
    sql_hash_positions,
)
from .base import Probe
from .llm import _sql_hash, _W

PROBES: list[Probe] = []

_BLOOM_M, _BLOOM_K = 1 << 16, 4
_CMS_D, _CMS_W = 4, 1 << 12
_HH_THRESHOLD = 40


def _sql_pos_list(n_hashes: int, modulus: int) -> str:
    """DuckDB list literal of the k positions for a precomputed hash
    column ``h`` (mirrors operators.sketch.hash_positions)."""
    return "[" + ", ".join(sql_hash_positions("x", n_hashes, modulus, "h")) + "]"


# ------------------------------------------------ bloom decontamination
def llm_bloom_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """B31 scale tier — benchmark decontamination through a 2^16-bit
    Bloom filter instead of broadcasting the benchmark shingle set
    (operators/sketch.py bloom_decontaminate): at 100 TB the protected
    set can be GBs, the bitmap is 8 KiB forever. Same benchmark slice
    as llm_decontaminate (doc_id % 97); flagged docs are a provable
    superset of the exact operator's (false positives only —
    pytest-pinned)."""
    docs = load_table(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return bloom_decontaminate(
        corpus, bench, n=3, m_bits=_BLOOM_M, k=_BLOOM_K
    ).select("doc_id", "n_bloom_hits")


_BLOOM_POS = _sql_pos_list(_BLOOM_K, _BLOOM_M)

LLM_BLOOM_DECONTAM_SQL = f"""
WITH t AS (SELECT doc_id, {_W} AS w FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(generate_series(1, len(w) - 2),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
  FROM t WHERE len(w) >= 3),
bh AS (SELECT {_sql_hash('shingle')} AS h
       FROM (SELECT DISTINCT shingle FROM g WHERE doc_id % 97 = 0)),
bpos AS (SELECT DISTINCT p FROM (SELECT unnest({_BLOOM_POS}) AS p FROM bh)),
ch AS (SELECT doc_id, shingle, {_sql_hash('shingle')} AS h
       FROM g WHERE doc_id % 97 <> 0),
cpos AS (SELECT doc_id, shingle, unnest({_BLOOM_POS}) AS p FROM ch),
hits AS (
  SELECT doc_id, shingle
  FROM cpos JOIN bpos USING (p)
  GROUP BY doc_id, shingle
  HAVING count(*) = {_BLOOM_K})
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bloom_hits
FROM hits GROUP BY doc_id
"""

PROBES.append(
    Probe(
        "llm_bloom_decontaminate", "B31", llm_bloom_decontaminate,
        LLM_BLOOM_DECONTAM_SQL,
    )
)


# ------------------------------------------------ CMS heavy hitters
def llm_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """B31 — frequent word bigrams found sketch-first: a 4×4096
    count-min sketch over the bigram stream selects candidates
    (estimates only over-count, so no true heavy hitter is missed),
    then one exact pass over the candidate-restricted stream confirms
    (operators/sketch.py cms_heavy_hitters). Returns
    (gram, est, cnt) with est ≥ cnt by construction."""
    from ..operators.dedup import _spread
    from ..operators.text import tokens, word_ngrams

    docs = load_table(spark, sf, "documents")
    # spread BEFORE the explode: a single-file scan is one split, and
    # the tokenize+ngram fold is the expensive part — repartitioning
    # the doc stream first parallelizes it (measured 5.4s -> 0.6s at
    # sf0.1); spreading the exploded stream parallelizes only the
    # (cheap) aggregation
    grams = _spread(docs).select(
        F.explode(word_ngrams(tokens(F.col("text")), 2)).alias("gram")
    )
    return cms_heavy_hitters(
        grams, key_col="gram", threshold=_HH_THRESHOLD, depth=_CMS_D, width=_CMS_W
    )


_CMS_POS = _sql_pos_list(_CMS_D, _CMS_W)
_CMS_ROWS = "[" + ", ".join(str(r) for r in range(_CMS_D)) + "]"

LLM_HEAVY_HITTERS_SQL = f"""
WITH t AS (SELECT {_W} AS w FROM documents),
tok AS (
  SELECT unnest(list_transform(generate_series(1, len(w) - 1),
                i -> w[i] || ' ' || w[i+1])) AS gram
  FROM t WHERE len(w) >= 2),
th AS (SELECT gram, {_sql_hash('gram')} AS h
       FROM (SELECT DISTINCT gram FROM tok)),
inst AS (SELECT gram, h FROM tok JOIN th USING (gram)),
cells AS (
  SELECT r, p, CAST(count(*) AS BIGINT) AS scnt
  FROM (SELECT unnest({_CMS_ROWS}) AS r, unnest({_CMS_POS}) AS p FROM inst)
  GROUP BY r, p),
est AS (
  SELECT gram, min(scnt) AS est
  FROM (SELECT gram, unnest({_CMS_ROWS}) AS r, unnest({_CMS_POS}) AS p FROM th) q
  JOIN cells USING (r, p)
  GROUP BY gram),
exact AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY gram)
SELECT gram, est, cnt
FROM est JOIN exact USING (gram)
WHERE est >= {_HH_THRESHOLD} AND cnt >= {_HH_THRESHOLD}
"""

PROBES.append(Probe("llm_heavy_hitters", "B31", llm_heavy_hitters, LLM_HEAVY_HITTERS_SQL))


# ------------------------------------------------ k-mins distinct
_KMINS_K = 32


def llm_kmins_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """B9 sketch tier — distinct users per event type through the
    k-mins sketch (operators/sketch.kmins_distinct): k=32 plain min
    aggregates, so the shuffle is O(groups·k) after map-side combine
    instead of O(distinct pairs), and registers merge (elementwise
    min) across partitions/batches/days. Registers AND the integer
    estimator are replayed bit-for-bit by the oracle."""
    from ..operators.sketch import kmins_distinct

    ev = load_table(spark, sf, "events")
    return kmins_distinct(ev, "user_id", ["event_type"], k=_KMINS_K)


def _kmins_sql() -> str:
    from ..operators.sketch import KMINS_M, sql_kmins_positions

    mins = sql_kmins_positions(_KMINS_K, "h")
    min_cols = ",\n    ".join(f"min({e}) AS m{i}" for i, e in enumerate(mins))
    arr = "[" + ", ".join(f"m{i}" for i in range(_KMINS_K)) + "]"
    s = " + ".join(f"m{i}" for i in range(_KMINS_K))
    num = (_KMINS_K - 1) * KMINS_M
    return f"""
WITH h AS (
  SELECT event_type, {_sql_hash("CAST(user_id AS VARCHAR)")} AS h FROM events),
r AS (
  SELECT event_type,
    {min_cols}
  FROM h GROUP BY event_type)
SELECT event_type, {arr} AS mins,
  CAST(greatest(0, {num} // greatest({s}, 1) - 1) AS BIGINT) AS est_distinct
FROM r
"""


PROBES.append(Probe("llm_kmins_distinct", "B9", llm_kmins_distinct, _kmins_sql()))


# ------------------------------------------------ corpus overlap sketch
_OVERLAP_K = 64


def llm_corpus_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """B9/B29 extension — cross-corpus contamination estimate
    (operators/sketch.corpus_overlap_docs): the 3-shingle sets of the
    lang='en' and non-English corpus halves, each reduced to a
    64-register k-mins sketch (one narrow pass, ONE row per corpus),
    merged by elementwise min into the union sketch;
    inclusion–exclusion gives the intersection and an integer-ppm
    Jaccard. The 'is this crawl already in the training set?' signal
    without a shingle join."""
    from ..operators.sketch import corpus_overlap_docs

    # fused Arrow form (round 11): raw documents cross the Python
    # boundary once and each batch min-reduces to two partial register
    # rows — no shingle explode, no interpreted per-char fold, and no
    # 130-expression aggregate for the driver to re-compile every pass
    # (registers pinned bit-identical to the r10 split form, which ran
    # one grouped sketch scan over the exploded shingles)
    docs = load_table(spark, sf, "documents")
    return corpus_overlap_docs(
        docs.select((F.col("lang") == "en").alias("_en"), "text"),
        "text",
        "_en",
        n=3,
        k=_OVERLAP_K,
    )


def _overlap_sql() -> str:
    from ..operators.sketch import KMINS_M, sql_kmins_positions
    from .llm import _sql_shingles

    k = _OVERLAP_K
    num = (k - 1) * KMINS_M
    pos = sql_kmins_positions(k, "h")
    sh = _sql_shingles(3)  # the shared word_shingles SQL twin

    def reg(side: str, pred: str) -> str:
        mins = ",\n    ".join(f"min({e}) AS m{i}" for i, e in enumerate(pos))
        return f"""{side} AS (
  SELECT {mins}
  FROM (SELECT {_sql_hash('s')} AS h
        FROM (SELECT unnest({sh}) AS s
              FROM (SELECT {_W} AS w FROM documents WHERE {pred}))
        WHERE s IS NOT NULL))"""

    sum_a = " + ".join(f"ra.m{i}" for i in range(k))
    sum_b = " + ".join(f"rb.m{i}" for i in range(k))
    sum_u = " + ".join(f"least(ra.m{i}, rb.m{i})" for i in range(k))

    def est(s: str) -> str:
        return f"greatest(0, {num} // greatest({s}, 1) - 1)"

    return f"""
WITH {reg('ra', "lang = 'en'")},
{reg('rb', "lang <> 'en'")}
SELECT CAST({est(sum_a)} AS BIGINT) AS est_a,
       CAST({est(sum_b)} AS BIGINT) AS est_b,
       CAST({est(sum_u)} AS BIGINT) AS est_union,
       CAST(greatest(0, {est(sum_a)} + {est(sum_b)} - {est(sum_u)}) AS BIGINT)
         AS est_intersection,
       CAST((1000000 * greatest(0, {est(sum_a)} + {est(sum_b)} - {est(sum_u)}))
         // greatest({est(sum_u)}, 1) AS BIGINT) AS jaccard_ppm
FROM ra, rb
"""


PROBES.append(
    Probe("llm_corpus_overlap", "B9", llm_corpus_overlap, _overlap_sql())
)
