"""Sketch operators (operators/sketch.py): Bloom-filter membership /
decontamination and count-min-sketch heavy hitters.

The probabilistic guarantees under test are one-sided and exact:
Bloom never misses an inserted key (no false negatives), CMS never
under-counts — so the derived operators have provable set relations
against their exact twins (superset of exact contamination; equality
of the verified heavy-hitter set), which is what these tests pin.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from _oracles import (
    corpus_overlap_split,
    py_kmins_estimate,
    py_kmins_positions,
    word_shingles,
)

from ark_invest_api_rust_data_spark.operators.contamination import (
    contamination_overlap,
)
from ark_invest_api_rust_data_spark.operators.sketch import (
    bloom_build,
    bloom_contains_from_hash,
    bloom_decontaminate,
    cms_build,
    cms_heavy_hitters,
)
from ark_invest_api_rust_data_spark.operators.text import token_hash32


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _keys_df(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "key string")


def test_bloom_no_false_negatives(spark):
    inserted = [f"tok{i}" for i in range(200)]
    bloom = bloom_build(_keys_df(spark, inserted), m_bits=1 << 12, k=4)
    hits = (
        _keys_df(spark, inserted)
        .crossJoin(F.broadcast(bloom))
        .filter(bloom_contains_from_hash(token_hash32(F.col("key")), F.col("bitmap"), 1 << 12, 4))
        .count()
    )
    assert hits == len(inserted)  # every inserted key must be found


def test_bloom_rejects_most_absent_keys(spark):
    inserted = [f"tok{i}" for i in range(200)]
    absent = [f"other{i}" for i in range(500)]
    bloom = bloom_build(_keys_df(spark, inserted), m_bits=1 << 16, k=4)
    fp = (
        _keys_df(spark, absent)
        .crossJoin(F.broadcast(bloom))
        .filter(bloom_contains_from_hash(token_hash32(F.col("key")), F.col("bitmap"), 1 << 16, 4))
        .count()
    )
    # 200 keys in 2^16 bits at k=4: theoretical FPR ~ (1-e^{-kn/m})^4
    # ~ 1e-8; allow slack without letting a broken hash family pass
    assert fp <= 2


def test_bloom_bitmap_word_count_and_type(spark):
    bloom = bloom_build(_keys_df(spark, ["a", "b"]), m_bits=1 << 12, k=4).collect()
    assert len(bloom) == 1
    bitmap = bloom[0]["bitmap"]
    assert len(bitmap) == (1 << 12) // 64
    assert all(isinstance(w, int) for w in bitmap)
    assert any(w != 0 for w in bitmap)


def test_bloom_decontaminate_superset_of_exact(spark, docs):
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    exact = contamination_overlap(corpus, bench, n=3)
    approx = bloom_decontaminate(corpus, bench, n=3, m_bits=1 << 16, k=4)
    exact_rows = {
        r["doc_id"]: r["n_shingle_hits"] for r in exact.collect()
    }
    approx_rows = {r["doc_id"]: r["n_bloom_hits"] for r in approx.collect()}
    assert exact_rows, "fixture must contain contaminated docs"
    # no false negatives: every exactly-contaminated doc is flagged,
    # with at least as many shingle hits (false positives only inflate)
    for doc_id, n_exact in exact_rows.items():
        assert doc_id in approx_rows
        assert approx_rows[doc_id] >= n_exact


def test_cms_never_undercounts(spark):
    rows = [(f"k{i % 7}",) for i in range(210)]  # 7 keys x 30
    df = spark.createDataFrame(rows, "key string")
    # tiny width forces collisions — estimates may inflate, never deflate
    sketch = cms_build(df, width=8, depth=3)
    cells = {(r["row"], r["pos"]): r["cnt"] for r in sketch.collect()}
    assert sum(c for (r, _), c in cells.items() if r == 0) == 210
    hh = cms_heavy_hitters(df, threshold=30, depth=3, width=8).collect()
    assert {r["key"] for r in hh} == {f"k{i}" for i in range(7)}
    for r in hh:
        assert r["cnt"] == 30
        assert r["est"] >= r["cnt"]


def test_cms_heavy_hitters_equals_exact_filter(spark, docs):
    from ark_invest_api_rust_data_spark.operators.text import tokens

    toks = docs.select(F.explode(tokens(F.col("text"))).alias("key"))
    got = cms_heavy_hitters(toks, threshold=25, depth=4, width=1 << 12)
    want = (
        toks.groupBy("key")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 25)
    )
    got_rows = {r["key"]: r["cnt"] for r in got.collect()}
    want_rows = {r["key"]: r["cnt"] for r in want.collect()}
    assert want_rows, "fixture must contain heavy hitters"
    # CMS over-counts only, and the verify pass re-filters exactly —
    # the sketch-first answer must equal the exact answer
    assert got_rows == want_rows


def test_explode_fold_runs_above_spread_exchange(spark, sf_dir):
    """Regression (round-6 microbench): the tokenize/regex fold behind
    an explode must run ABOVE the _spread exchange — attached to a
    single-split scan it serializes on one task (measured 5.4s ->
    0.6s at sf0.1 when spread first). cms_heavy_hitters returns a
    checkpointed frame (plan gone), so pin the shape on BPE's
    word_freq_table, which shares it; llm_vocab_topk /
    llm_tfidf_topterms / the heavy-hitters gram stream are built the
    same way."""
    from ark_invest_api_rust_data_spark.operators.bpe import word_freq_table

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        word_freq_table(docs)._jdf.queryExecution().executedPlan().toString()
    )
    i_gen = plan.find("Generate")
    i_ex = plan.find("RoundRobinPartitioning")
    assert i_ex != -1, "spread exchange missing:\n" + plan[:2000]
    assert 0 <= i_gen < i_ex, (
        "explode fold was attached to the scan stage below the spread "
        "exchange:\n" + plan[:2000]
    )


# ------------------------------------------------------------ k-mins
from ark_invest_api_rust_data_spark.operators.sketch import (  # noqa: E402
    KMINS_M,
    kmins_distinct,
    kmins_merge,
    kmins_sketch,
)


def _ids_df(spark, pairs):
    return spark.createDataFrame(pairs, "grp string, user_id long")


def test_kmins_deterministic_and_bounded(spark):
    rows = [("a", i % 57) for i in range(500)] + [("b", i) for i in range(300)]
    df = _ids_df(spark, rows)
    a = kmins_distinct(df, "user_id", ["grp"]).collect()
    b = kmins_distinct(df, "user_id", ["grp"]).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    for r in a:
        assert len(r["mins"]) == 32
        assert all(0 <= m < KMINS_M for m in r["mins"])
        assert r["est_distinct"] >= 0


def test_kmins_estimate_within_error_band(spark):
    # D=57 and D=300 with k=32 (σ ≈ 18%): a [D/2, 2D] band is ~3σ
    rows = [("a", i % 57) for i in range(500)] + [("b", i) for i in range(300)]
    est = {
        r["grp"]: r["est_distinct"]
        for r in kmins_distinct(_ids_df(spark, rows), "user_id", ["grp"]).collect()
    }
    assert 57 / 2 <= est["a"] <= 57 * 2
    assert 300 / 2 <= est["b"] <= 300 * 2


def test_kmins_duplicates_do_not_move_registers(spark):
    # distinct-ness: inserting each key once vs 100x gives identical
    # registers (min of a constant set)
    once = _ids_df(spark, [("g", i) for i in range(40)])
    many = _ids_df(spark, [("g", i) for i in range(40) for _ in range(100)])
    m1 = kmins_sketch(once, "user_id", ["grp"]).collect()[0]["mins"]
    m2 = kmins_sketch(many, "user_id", ["grp"]).collect()[0]["mins"]
    assert m1 == m2


def test_kmins_merge_equals_union_sketch(spark):
    import pyspark.sql.functions as F

    left = _ids_df(spark, [("g", i) for i in range(0, 120)])
    right = _ids_df(spark, [("g", i) for i in range(80, 250)])
    both = left.union(right)
    sk_l = kmins_sketch(left, "user_id", ["grp"]).withColumnRenamed("mins", "ml")
    sk_r = kmins_sketch(right, "user_id", ["grp"]).withColumnRenamed("mins", "mr")
    merged = (
        sk_l.join(sk_r, "grp")
        .select(kmins_merge(F.col("ml"), F.col("mr")).alias("mins"))
        .collect()[0]["mins"]
    )
    whole = kmins_sketch(both, "user_id", ["grp"]).collect()[0]["mins"]
    assert merged == whole


def test_bloom_arrow_assembly_equals_expression_tier(spark, monkeypatch):
    """The large-bitmap Arrow assembly must produce the EXACT bitmap
    words of the expression tier (same positions, same bit_or), and
    the i64 family must probe its own build with zero false
    negatives."""
    import pyspark.sql.functions as F

    from ark_invest_api_rust_data_spark.operators import sketch as S

    df = spark.createDataFrame([(i,) for i in range(500)], "k long")
    key = F.xxhash64(F.col("k"))
    expr_bits = S.bloom_build_i64(df, key, m_bits=1 << 16).first()["bitmap"]
    monkeypatch.setattr(S, "_BLOOM_EXPR_WORDS", 0)
    arrow_bits = S.bloom_build_i64(df, key, m_bits=1 << 16).first()["bitmap"]
    assert list(expr_bits) == list(arrow_bits)

    bloom = S.bloom_build_i64(df, key, m_bits=1 << 16)
    probed = (
        df.crossJoin(F.broadcast(bloom))
        .filter(S.bloom_contains_i64(key, F.col("bitmap"), 1 << 16))
        .count()
    )
    assert probed == 500  # no false negatives, ever



def _split_keys(spark, a_keys, b_keys):
    return spark.createDataFrame(
        [(s, True) for s in a_keys] + [(s, False) for s in b_keys],
        "sh string, _side boolean",
    )


def test_corpus_overlap_identical_corpora(spark):
    """A corpus sketched against itself: union register equals both
    inputs, inclusion-exclusion returns est_a exactly, jaccard = 1e6
    ppm (pure integer path, no estimator noise in the ratio) — the
    estimator tail ``corpus_overlap_docs`` shares."""
    keys = [f"tok{i} tok{i+1} tok{i+2}" for i in range(200)]
    row = corpus_overlap_split(_split_keys(spark, keys, keys), "sh", "_side", k=32).collect()[0]
    assert row["est_a"] == row["est_b"] == row["est_union"]
    assert row["est_intersection"] == row["est_a"]
    assert row["jaccard_ppm"] == 1_000_000


def test_corpus_overlap_matches_python_registers(spark):
    """Registers and every derived estimate of the expression sketch
    (``kmins_sketch``, ``kmins_merge`` and the estimator tail
    ``corpus_overlap_docs`` shares) equal a sequential replay of
    py_kmins_positions + py_kmins_estimate over two overlapping key
    sets — including the inclusion-exclusion clamp."""
    k = 16
    a_keys = [f"k{i}" for i in range(150)]
    b_keys = [f"k{i}" for i in range(100, 250)]  # 50-key overlap
    row = corpus_overlap_split(_split_keys(spark, a_keys, b_keys), "sh", "_side", k=k).collect()[0]

    def regs(keys):
        mins = [None] * k
        for s in keys:
            for i, p in enumerate(py_kmins_positions(s, k)):
                if mins[i] is None or p < mins[i]:
                    mins[i] = p
        return mins

    ra, rb = regs(a_keys), regs(b_keys)
    ru = [min(x, y) for x, y in zip(ra, rb)]
    ea, eb, eu = (py_kmins_estimate(r) for r in (ra, rb, ru))
    inter = max(0, ea + eb - eu)
    assert (row["est_a"], row["est_b"], row["est_union"]) == (ea, eb, eu)
    assert row["est_intersection"] == inter
    assert row["jaccard_ppm"] == (1_000_000 * inter) // max(eu, 1)
    # sanity: estimates in the ~1/sqrt(k-2) error band of the truth
    assert abs(ea - 150) < 150 * 0.8 and abs(eu - 250) < 250 * 0.8


def test_token_hash32_matches_python_reference(spark):
    """The expression char-fold equals h = (h·31 + ord(ch)) mod 2³² in
    Python on real corpus shingles plus crafted edges (empty string,
    null, multi-char unicode)."""
    from ark_invest_api_rust_data_spark.catalog import load_table

    def h32(tok):
        h = 0
        for ch in tok:
            h = (h * 31 + ord(ch)) % 4294967296
        return h

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    keys = docs.select(
        F.explode(word_shingles(F.col("text"), 3)).alias("k")
    ).union(
        spark.createDataFrame(
            [("",), (None,), ("héllo wörld",), ("日本語 テスト",), ("a",)],
            "k string",
        )
    )
    out = keys.select("k", token_hash32(F.col("k")).alias("_e")).collect()
    assert len(out) > 1000
    for r in out:
        want = None if r["k"] is None else h32(r["k"])
        assert r["_e"] == want, repr(r["k"])


def test_corpus_overlap_docs_equals_split_pipeline(spark):
    """The fused Arrow path (corpus_overlap_docs: tokenize + shingle +
    fold + register-min per batch in NumPy) must return the SAME row
    as the r10 expression pipeline (word_shingles explode →
    corpus_overlap_split) — on real corpus docs AND on crafted edges
    that stress every tokenization contract the fused twin replicates:
    tabs/newlines/\\x0b runs (Java \\s == re.ASCII \\s), leading and
    trailing whitespace (trim strips 0x20 only, split keeps the empty
    boundary tokens), repeated grams (distinctness can't change a
    min), BMP unicode, and a side with exactly one document."""
    from ark_invest_api_rust_data_spark.catalog import load_table
    from ark_invest_api_rust_data_spark.operators.sketch import corpus_overlap_docs

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        (F.col("lang") == "en").alias("_en"), "text"
    )
    crafted = spark.createDataFrame(
        [
            (True, "tab\tsep\ttokens and\nnewlines\x0bmixed"),
            (True, "  leading spaces trimmed  "),
            (False, "trailing tab kept\tafter split\t"),
            (False, "dup dup dup dup dup dup"),
            (True, "héllo wörld ünïcode tökens here"),
            (False, "a b c"),
            (None, "null side dropped entirely"),
            (True, None),
        ],
        "_en boolean, text string",
    )
    for frame in (docs, docs.union(crafted), crafted.filter("_en is not null")):
        sh = frame.select(
            "_en", F.explode(word_shingles(F.col("text"), 3)).alias("sh")
        )
        old = corpus_overlap_split(sh, "sh", "_en", k=16).collect()
        new = corpus_overlap_docs(frame, "text", "_en", n=3, k=16).collect()
        assert [tuple(r) for r in old] == [tuple(r) for r in new]


def test_corpus_overlap_docs_short_doc_raises(spark):
    """Sub-n-token documents violate the shingle precondition; the
    fused path must fail loudly (the expression path's ANSI
    element_at raises there)."""
    import pytest

    df = spark.createDataFrame([(True, "only two")], "_en boolean, text string")
    from ark_invest_api_rust_data_spark.operators.sketch import corpus_overlap_docs

    with pytest.raises(Exception, match="3 tokens|< 3"):
        corpus_overlap_docs(df, "text", "_en", n=3, k=8)


def test_corpus_overlap_docs_empty_side_raises(spark):
    """A side with no documents must raise exactly like the split
    form (NULL registers would read as near-total overlap)."""
    import pytest

    from ark_invest_api_rust_data_spark.operators.sketch import corpus_overlap_docs

    df = spark.createDataFrame(
        [(True, "one two three four")], "_en boolean, text string"
    )
    with pytest.raises(ValueError, match="keys_b has no keys"):
        corpus_overlap_docs(df, "text", "_en", n=3, k=8)
