"""Text-analysis operators for training-data pipelines (SURVEY.md §2
B31 + driver north star): token counting, quality scoring, language-ID
heuristic, document fingerprinting.

Everything is built-in expression work (split/transform/aggregate/md5)
— JVM-side, vectorized, no Python in the row path — so the operators
run at full scan speed on any corpus size; the only shuffle anywhere is
a groupBy when the caller aggregates the per-doc outputs.

Determinism contract (for the DuckDB oracles): ratios are int/int
double divisions (same operands → same IEEE result in every engine);
fingerprints are md5 hex; token hashes are 31-ary character folds in
exact int64 arithmetic.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

STOPWORDS = ("a", "the")  # corpus-appropriate tiny stopword set

# BPE-ish subword segmentation: runs of lowercase, TitleCase fragments,
# digit runs, or single non-alnum marks — the pre-tokenization regex
# family GPT-2-style BPE vocabularies are trained over. Simple enough
# that Java regex (Spark) and RE2 (DuckDB oracle) agree exactly.
SUBTOKEN_RE = r"[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9\s]"

HASH_MOD = 4294967296  # 2^32 — token hashes are uint32 on an int64 carrier


def tokens(text: Column) -> Column:
    """Whitespace tokenization (the oracle uses the same regex)."""
    return F.split(F.trim(text), r"\s+")


def token_hash32(tok: Column) -> Column:
    """Deterministic 32-bit token hash: fold chars with h = (h*31 +
    ascii) mod 2^32 — pure integer math, reproducible in any engine
    (DuckDB oracle uses list_reduce with the same fold)."""
    chars = F.filter(F.split(tok, ""), lambda ch: ch != F.lit(""))
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * F.lit(31) + F.ascii(ch)) % F.lit(HASH_MOD),
    )


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document stats: token counts, uniq ratio, stopword ratio,
    char stats, a composite quality score, and an md5 fingerprint."""
    toks = tokens(F.col(text_col))
    n_tokens = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    n_stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS)))
    sum_len = F.aggregate(
        F.transform(toks, F.length), F.lit(0).cast("long"), lambda a, x: a + x
    )
    uniq_ratio = n_uniq.cast("double") / n_tokens.cast("double")
    stop_ratio = n_stop.cast("double") / n_tokens.cast("double")
    from .dedup import _spread

    n_subtokens = F.regexp_count(F.col(text_col), F.lit(SUBTOKEN_RE))
    return _spread(df).select(
        id_col,
        n_tokens.alias("n_tokens"),
        n_subtokens.alias("n_subtokens"),
        n_uniq.alias("n_uniq"),
        F.length(F.col(text_col)).alias("n_chars"),
        (sum_len.cast("double") / n_tokens.cast("double")).alias("avg_token_len"),
        uniq_ratio.alias("uniq_ratio"),
        stop_ratio.alias("stopword_ratio"),
        # quality: rewards lexical diversity, penalizes stopword mass —
        # same closed-form in the oracle
        (uniq_ratio * F.lit(0.5) + (F.lit(1.0) - stop_ratio) * F.lit(0.5)).alias(
            "quality_score"
        ),
        F.md5(F.col(text_col)).alias("fingerprint"),
    )


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID: CJK character share → 'zh'; else English
    stopword share → 'en' / 'other'. (The synthetic corpus is one
    vocabulary, so this validates the *operator's* determinism, not
    label recovery.)"""
    cjk = F.length(F.regexp_replace(F.col(text_col), r"[^一-鿿]", ""))
    total = F.length(F.col(text_col))
    toks = tokens(F.col(text_col))
    stop_ratio = F.size(F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS))).cast(
        "double"
    ) / F.size(toks).cast("double")
    guess = (
        F.when(total == 0, "unknown")
        .when(cjk.cast("double") / total.cast("double") > 0.3, "zh")
        .when(stop_ratio >= 0.02, "en")
        .otherwise("other")
    )
    from .dedup import _spread

    return _spread(df).select(id_col, guess.alias("lang_guess"))


def word_ngrams(toks: Column, n: int) -> Column:
    """Space-joined word n-grams as an array column (empty when the
    document has fewer than n words — guarded because F.sequence with
    start > stop would generate a DESCENDING range, not an empty one)."""
    count = F.size(toks) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    return F.when(count >= 1, grams).otherwise(F.array().cast("array<string>"))


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document (quality filters
    for training corpora; Rae et al. 2021 §A1.1 'repetitious text'):

    * ``top_2gram_frac`` — the largest character mass any single word
      2-gram accounts for, as a fraction of the document
      (max over grams of count·len(gram) / n_chars). Degenerate
      boilerplate ("click here click here …") scores near 1.
    * ``dup_3gram_frac`` — the character fraction covered by 3-grams
      that occur more than once (sum of count·len(gram) over duplicated
      grams / n_chars).

    Taking max of count·len directly (instead of argmax-by-count, then
    length) keeps the signal deterministic across engines — no
    tie-breaking between equally-frequent grams.

    Shape: the signals are doc-local, so they are computed with the
    sorted-array run-length fold (``_run_length_signals``) in ONE
    narrow projection — zero shuffles, no row multiplication (the
    earlier explode→groupBy formulation moved ~n_tokens× the corpus
    through two shuffles; same outputs, oracle-verified)."""
    from .dedup import _spread

    toks = tokens(F.col(text_col))
    g2 = word_ngrams(toks, 2)
    # fold results materialized as their OWN columns first: the cover /
    # frac projections reference each signal twice, and CollapseProject
    # would otherwise inline (and re-evaluate) the whole sort+fold per
    # reference (measured 2× at sf0.1; cf. rolling_fingerprint's _th)
    base = _spread(df).select(
        F.col(id_col),
        F.length(F.col(text_col)).alias("n_chars"),
        F.size(g2).alias("_ng2"),
        _run_length_signals(g2).alias("_s2"),
        _run_length_signals(word_ngrams(toks, 3)).alias("_s3"),
    )
    nc = F.col("n_chars")
    # gram-less docs: top cover is NULL (max over nothing), dup chars 0
    # (empty sum coalesced) — matching the SQL oracle's aggregates
    top_cover = F.when(F.col("_ng2") > 0, F.col("_s2")["top_cover"])
    dup_chars = F.col("_s3")["dup_chars"]
    return base.select(
        id_col,
        "n_chars",
        top_cover.alias("top_2gram_cover"),
        dup_chars.alias("dup_3gram_chars"),
        (top_cover.cast("double") / nc.cast("double")).alias("top_2gram_frac"),
        (dup_chars.cast("double") / nc.cast("double")).alias("dup_3gram_frac"),
    )


def _run_length_signals(grams: Column) -> Column:
    """Doc-local repetition signals from a gram array WITHOUT exploding:
    sort the grams, then a single ``aggregate`` fold over the sorted
    array tracks the current run (gram, count) and finalizes each run
    into (a) the best ``count·len(gram)`` cover seen and (b) the char
    mass of runs with count>1. Returns
    ``struct(top_cover long, dup_chars long)``.

    Equivalent to the explode→groupBy formulation (pytest-proven on the
    corpus) but a pure narrow map: no row multiplication, no shuffle —
    at 100 TB the explode tier moves ~n_tokens× the corpus through two
    shuffles; this moves nothing."""
    sorted_grams = F.array_sort(grams)
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("top"),
        F.lit(0).cast("long").alias("dup"),
    )

    def step(acc, g):
        cover = acc["run"] * F.length(acc["prev"])
        closed_top = F.greatest(acc["top"], cover)
        closed_dup = acc["dup"] + F.when(acc["run"] > 1, cover).otherwise(F.lit(0))
        same = acc["prev"].isNotNull() & (g == acc["prev"])
        return F.struct(
            g.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.when(same, acc["top"]).otherwise(closed_top).alias("top"),
            F.when(same, acc["dup"]).otherwise(closed_dup).alias("dup"),
        )

    def finish(acc):
        cover = acc["run"] * F.length(acc["prev"])
        return F.struct(
            F.greatest(acc["top"], F.coalesce(cover, F.lit(0))).alias("top_cover"),
            (
                acc["dup"] + F.when(acc["run"] > 1, cover).otherwise(F.lit(0))
            ).alias("dup_chars"),
        )

    return F.aggregate(sorted_grams, init, step, finish)


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
    min_uniq_ratio: float = 0.35,
    max_top_2gram_frac: float = 0.12,
    max_dup_3gram_frac: float = 0.10,
    keep_docs: bool = False,
) -> DataFrame:
    """Composite corpus quality verdict (Gopher-style filter cascade,
    Rae et al. 2021 §A1.1): combine the length/diversity signals from
    ``text_stats`` with the repetition signals from
    ``repetition_stats`` into a keep/drop decision plus the FIRST
    failing rule as the drop reason (rule order is part of the
    contract — the oracle evaluates the same CASE chain).

    Repetition signals come from the sorted-array run-length fold
    (``_run_length_signals``): ONE narrow projection over the corpus,
    zero shuffles, no row multiplication. This is the 100 TB shape —
    the whole verdict is map-only, where an explode→groupBy
    formulation would move per-gram rows through two shuffles.

    ``keep_docs=True`` returns the SURVIVING input rows with all their
    columns instead of the verdict frame: the verdict is computed in
    the same projection as the scan and applied as a filter — so
    "quality-filter the corpus" is ONE scan with no verdict-to-corpus
    join (a join would re-shuffle and, on small inputs, lets AQE
    serialize the fold stage; measured 7.3s → 1.0s at sf0.1 inside the
    composed pipeline probe).
    """
    from .dedup import _spread

    toks = tokens(F.col(text_col))
    sig2 = _run_length_signals(word_ngrams(toks, 2))
    sig3 = _run_length_signals(word_ngrams(toks, 3))
    nc = F.length(F.col(text_col))
    rolled = _spread(df).withColumns(
        {
            "_nt": F.size(toks),
            "_ur": F.size(F.array_distinct(toks)).cast("double")
            / F.size(toks).cast("double"),
            "_top2": sig2["top_cover"].cast("double") / nc.cast("double"),
            "_dup3": sig3["dup_chars"].cast("double") / nc.cast("double"),
        }
    )
    reason = (
        F.when(F.col("_nt") < min_tokens, "too_short")
        .when(F.col("_ur") < min_uniq_ratio, "low_diversity")
        .when(F.col("_top2") > max_top_2gram_frac, "repetitive_2gram")
        .when(F.col("_dup3") > max_dup_3gram_frac, "repetitive_3gram")
        .otherwise("ok")
    )
    rolled = rolled.withColumn("_reason", reason)
    if keep_docs:
        # The verdict filter must NOT be pushed below the _spread
        # exchange: Catalyst's predicate pushdown would inline the
        # ENTIRE fold expression into the filter and sink it into
        # the scan stage, serializing the heavy per-doc folds onto
        # however few splits the file has (measured at sf1: 40 s on
        # 2 scan tasks vs ~4 s post-exchange on 32). Wrapping the
        # verdict in an always-true non-deterministic guard blocks
        # the pushdown (filters cannot cross non-deterministic
        # projections) while changing no values. rand(), not
        # monotonically_increasing_id(): the latter is rejected by
        # the streaming UnsupportedOperationChecker, and this op
        # must keep running over streams (corpus-prep-as-it-lands).
        #
        # Guard choice matters: Spark 4's OptimizeRand rule FOLDS
        # bound comparisons on rand() (rand >= -1 → true), which
        # silently re-enabled the pushdown and re-serialized the
        # fold onto the scan splits (caught by the round-3 scale
        # audit: composed pipeline 1.4 s → 10 s at sf0.1). An
        # inequality against an out-of-range literal survives the
        # rule; tests/test_plans.py asserts the filter stays above
        # the exchange so a future optimizer change can't regress
        # this silently again.
        nd_guard = F.rand(seed=0) != F.lit(-5.0)  # always true
        rolled = rolled.withColumn(
            "_reason", F.when(nd_guard, F.col("_reason"))
        )
        return rolled.filter(F.col("_reason") == "ok").drop(
            "_nt", "_ur", "_top2", "_dup3", "_reason"
        )
    return rolled.select(
        id_col,
        (F.col("_reason") == "ok").alias("keep"),
        F.col("_reason").alias("reason"),
    )


def rolling_fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", window: int = 8
) -> DataFrame:
    """Winnowing-style document fingerprint: min 32-bit hash over each
    sliding token window, distinct-sorted — a compact signature for
    shift-robust near-dup detection. Integer math end to end.

    Cost shape: each TOKEN is char-folded once (its hash is reused by
    every window containing it); each WINDOW hash is then an 8-step
    integer fold over the token hashes. Composing from token hashes
    instead of re-folding the concatenated gram string cuts the
    expression work ~window× (measured 43s → ~3s at sf0.1). The SQL
    oracle computes the identical two-level fold."""
    from .dedup import _spread

    # token-hash array materialized as its OWN column: the gram lambda
    # references it 8×, and an inlined expression would re-evaluate the
    # whole char-fold array per reference (multi-referenced columns are
    # not inlined by CollapseProject)
    base = _spread(df).withColumn("_th", F.transform(tokens(F.col(text_col)), token_hash32))
    th = F.col("_th")

    def gram_hash(i):
        acc = F.element_at(th, i.cast("int"))
        for j in range(1, window):
            acc = (acc * F.lit(31) + F.element_at(th, (i + j).cast("int"))) % F.lit(HASH_MOD)
        return acc

    hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(th) - F.lit(window - 1), F.lit(1))),
        gram_hash,
    )
    return base.select(
        id_col,
        F.array_sort(F.array_distinct(hashes)).alias("fingerprints"),
        F.array_min(hashes).alias("min_fingerprint"),
    )


# PII scrubbing ------------------------------------------------------

# Ordered redaction cascade (order is part of the contract: each rule
# counts + redacts on the output of the previous rule, so counts and
# replacements always agree, and an SSN's digit runs can never be
# re-matched by the later phone/IP rules). Patterns deliberately use
# only the regex subset on which Java regex (Spark) and RE2 (DuckDB
# oracle) agree exactly: literal classes, \d, \b, bounded repeats.
PII_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "[PHONE]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IPV4]"),
)


def pii_scrub(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document PII detection + redaction (training-corpus
    prep: strip contact info before the corpus ships to a trainer).

    Pure expression work — ``regexp_count`` + ``regexp_replace`` chained
    per rule, JVM-side, no Python in the row path, no shuffle at all:
    the operator is a narrow map and runs at scan speed on any corpus
    size. Returns one row per document: per-category hit counts, the
    total, and the redacted text.
    """
    from .dedup import _spread

    out = _spread(df)
    cur = F.col(text_col)
    counts = []
    for name, pat, repl in PII_RULES:
        out = out.withColumn(f"n_{name}", F.regexp_count(cur, F.lit(pat)))
        out = out.withColumn(f"_t_{name}", F.regexp_replace(cur, pat, repl))
        cur = F.col(f"_t_{name}")
        counts.append(F.col(f"n_{name}"))
    total = counts[0]
    for c in counts[1:]:
        total = total + c
    return out.select(
        id_col,
        *[f"n_{name}" for name, _, _ in PII_RULES],
        total.alias("n_pii_total"),
        cur.alias("clean_text"),
    )


def unigram_lm_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet-style language-model quality scoring with a corpus-trained
    unigram LM (Wenzek et al. 2020 train KenLM and filter on doc
    perplexity; the unigram factorization keeps the model a pure
    aggregation): every document is scored by how typical its tokens
    are of the corpus.

    Outputs per document:

    * ``n_tokens``, ``sum_token_df`` (Σ corpus count of each token,
      exact int64), ``min_token_df`` (the rarest token's corpus count)
      — exact-integer signals, plus ``mean_token_df`` (one int/int
      double division). Rare-token-heavy docs (OCR noise, codes,
      mojibake) score low; boilerplate scores high.
    * ``avg_logprob`` — the unigram LM log-likelihood
      mean(ln(count_t / total_tokens)), the direct perplexity analog
      (perplexity = exp(−avg_logprob)). Float-summed, so it is NOT in
      the hash-exact oracle contract (ln + order-dependent sum);
      verified against a Python reference in pytest instead.

    Scale shape: ONE O(vocab) shuffle (explode → partial-aggregated
    token counts), then the count table joins back to the exploded
    corpus (AQE broadcasts it while it fits — vocabulary grows
    ~Heaps-law ∝ √corpus, so the build side stays millions of rows at
    100 TB) and the per-document aggregation's map-side combine
    collapses to O(docs) rows before the exchange because a document's
    exploded tokens are partition-local.
    """
    from .dedup import _spread

    toks_df = _spread(df).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    # materialize the vocab-bounded count table ONCE (eager checkpoint
    # cuts lineage): without it, the total-tokens branch and the score
    # join would each re-scan and re-explode the whole corpus — three
    # corpus passes instead of the two a count-then-score LM needs
    counts = (
        toks_df.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    total = counts.agg(F.sum("cnt").alias("total"))
    scored = toks_df.join(counts, "tok").crossJoin(F.broadcast(total))
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.sum("cnt").alias("sum_token_df"),
        F.min("cnt").alias("min_token_df"),
        (F.sum("cnt").cast("double") / F.count("*").cast("double")).alias(
            "mean_token_df"
        ),
        F.avg(
            F.log(F.col("cnt").cast("double") / F.col("total").cast("double"))
        ).alias("avg_logprob"),
    )


def hashed_features(
    df: DataFrame, d: int = 64, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al. 2009, the
    Vowpal-Wabbit primitive): token → bucket ``h mod d``, sign ±1 from
    the next hash bit, summed into one DENSE d-wide int64 vector per
    document. Fixed-width features from an unbounded vocabulary with
    NO dictionary to build, broadcast, or keep consistent across
    batches — the property that matters at 100 TB, where a vocabulary
    join is a corpus-wide shuffle against a mutable dimension table
    but this is a pure per-row map + one (doc, bucket) combine.
    Signed counts make collision noise zero-mean (the standard
    unbiasedness trick). Docs with no tokens are omitted, matching
    the tokenizing operators.

    Shuffle: O(docs · min(distinct tokens, d)) signed-sum rows after
    map-side combine; the dense assembly is a ≤d-entry map fill per
    doc. All integer math on the 31-fold hash — the SQL oracle
    replays it exactly."""
    if d < 1:
        raise ValueError(f"d must be >= 1, got {d}")
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_t")
    ).filter(F.col("_t") != "")
    h = token_hash32(F.col("_t"))
    bucketed = toks.select(
        id_col,
        F.pmod(h, F.lit(d)).cast("int").alias("_b"),
        # sign bit = the next base-d digit's parity: (h div d) mod 2 —
        # (h − h%d)/d is an exact double (h < 2^32 << 2^53)
        F.when(
            F.pmod(((h - F.pmod(h, F.lit(d))) / F.lit(d)).cast("long"), F.lit(2)) == 1,
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .cast("long")
        .alias("_s"),
    )
    sums = bucketed.groupBy(id_col, "_b").agg(F.sum("_s").alias("_v"))
    return (
        sums.groupBy(id_col)
        .agg(
            F.map_from_entries(F.collect_list(F.struct("_b", "_v"))).alias("_m")
        )
        .select(
            id_col,
            F.transform(
                F.sequence(F.lit(0), F.lit(d - 1)),
                lambda i: F.coalesce(F.element_at("_m", i), F.lit(0).cast("long")),
            ).alias("features"),
        )
    )
