"""Curation operators (operators/curation.py): substring dedup vs a
Python interval-union reference, classifier scoring vs a Python hash
reference, domain caps, shard assignment + the sharded export layout.
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
import pytest

from ark_invest_api_rust_data_spark.operators.curation import (
    _KNUTH,
    _LCG_A,
    _LCG_C,
    classifier_score,
    domain_cap,
    duplicated_spans,
    shard_assign,
)

DOCS = [
    # doc 0 and 1 share the 8-token run "a b c d e f g h"; doc 1 has it
    # twice, overlapping nothing else; doc 2 is unique; doc 3 is short.
    (0, "a b c d e f g h x y z p q r s t"),
    (1, "m m a b c d e f g h k k a b c d e f g h"),
    (2, "q w e r t y u i o p a s d f"),
    (3, "too short"),
]


def _py_spans(rows, k=8):
    """Independent reference: gram -> docs, per-doc union of duplicated
    [pos, pos+k) intervals."""
    grams: dict[tuple, set] = {}
    toks = {d: t.split() for d, t in rows}
    for d, w in toks.items():
        for i in range(len(w) - k + 1):
            grams.setdefault(tuple(w[i : i + k]), set()).add(d)
    out = {}
    for d, w in toks.items():
        pos = [
            i
            for i in range(len(w) - k + 1)
            if len(grams[tuple(w[i : i + k])]) > 1
        ]
        covered, end = 0, -1
        for p in pos:
            covered += max(0, p + k - max(p, end))
            end = max(end, p + k)
        out[d] = (len(w), len(pos), covered)
    return out


def test_duplicated_spans_matches_reference(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_grams"], r["covered_tokens"], r["kept"])
        for r in duplicated_spans(df, k=8).collect()
    }
    ref = _py_spans(DOCS, k=8)
    assert set(got) == set(ref)
    for d, (n, m, cov) in ref.items():
        assert got[d][:3] == (n, m, cov), f"doc {d}"
        assert got[d][3] == (cov * 2 < n)  # max_frac=0.5 integer compare
    # doc 1: two disjoint copies of the shared 8-gram -> 16 covered
    assert got[1][2] == 16 and got[1][3] is False
    assert got[3] == (2, 0, 0, True)  # shorter than k: nothing to flag


def test_duplicated_spans_hashed_tier_equivalent(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    exact = sorted(map(tuple, duplicated_spans(df, k=8).collect()))
    hashed = sorted(map(tuple, duplicated_spans(df, k=8, hashed=True).collect()))
    assert exact == hashed


def test_duplicated_spans_overlapping_copies(spark):
    # "a a a a a a a a a a" (10 tokens): every 8-gram equals every
    # other, shared with doc 11 -> positions 0,1,2 union covers all 10
    df = spark.createDataFrame(
        [(10, " ".join(["a"] * 10)), (11, " ".join(["a"] * 8))], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in duplicated_spans(df, k=8).collect()}
    assert got[10]["dup_grams"] == 3
    assert got[10]["covered_tokens"] == 10
    assert got[11]["covered_tokens"] == 8
    assert got[11]["kept"] is False


def test_duplicated_spans_validates_frac(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    with pytest.raises(ValueError):
        duplicated_spans(df, max_frac=0.0)


def _py_hash32(tok: str) -> int:
    h = 0
    for ch in tok:
        h = (h * 31 + ord(ch)) % (1 << 32)
    return h


def test_classifier_score_matches_reference(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in classifier_score(df, buckets=2048).collect()}
    for d, t in DOCS:
        ws = [
            (_py_hash32(tok) * _LCG_A + _LCG_C) % 2048 - 1024 for tok in t.split()
        ]
        assert got[d]["n_tokens"] == len(ws)
        assert got[d]["score_int"] == sum(ws)
        assert got[d]["kept"] == (sum(ws) >= 0)
        assert got[d]["mean_weight"] == pytest.approx(sum(ws) / len(ws))


def test_classifier_score_validates_buckets(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    with pytest.raises(ValueError):
        classifier_score(df, buckets=7)


def test_domain_cap_keeps_cap_per_domain(spark):
    rows = [(i, f"dom{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = domain_cap(df, cap=4).collect()
    assert len(out) == 30  # every id emitted with its decision
    kept = [r for r in out if r["kept"]]
    per = {}
    for r in kept:
        per[r["source"]] = per.get(r["source"], 0) + 1
    assert per == {"dom0": 4, "dom1": 4, "dom2": 4}
    # deterministic choice: rank order == md5-of-id order
    for dom in per:
        ids = sorted(
            (r for r in out if r["source"] == dom),
            key=lambda r: (hashlib.md5(str(r["doc_id"]).encode()).hexdigest(), r["doc_id"]),
        )
        assert [r["rk"] for r in ids] == list(range(1, 11))


def test_domain_cap_small_groups_all_kept(spark):
    df = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], ["doc_id", "source"])
    out = domain_cap(df, cap=10).collect()
    assert all(r["kept"] for r in out)


def test_shard_assign_matches_reference(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], ["doc_id"])
    out = {r["doc_id"]: (r["shard"], r["pos"]) for r in shard_assign(df, 8).collect()}
    ref_shard = {i: (i * _KNUTH) % (1 << 32) % 8 for i in range(100)}
    by_shard: dict[int, list] = {}
    for i in range(100):
        by_shard.setdefault(ref_shard[i], []).append(i)
    for s, ids in by_shard.items():
        ids.sort(key=lambda i: ((i * _LCG_A + _LCG_C) % (1 << 31), i))
        for rank, i in enumerate(ids, 1):
            assert out[i] == (s, rank), f"id {i}"


# -------------------------------------------- skew-safe tiers (r4)
def test_domain_cap_sharded_equals_window_on_planted_skew(spark):
    """VERDICT r3 #3a: the sharded tier on a pathologically skewed
    corpus (half the rows from ONE domain) — kept set and kept-row
    ranks identical to the global window tier, and the phase-1 window
    keys actually break the giant domain up (max (domain, shard) group
    ≈ giant/16, so no single task carries the whole host)."""
    rows = [(i, "giant.example" if i % 2 == 0 else f"dom{i % 37}") for i in range(2000)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    win = {r["doc_id"]: (r["kept"], r["rk"]) for r in domain_cap(df, cap=10).collect()}
    sh = {
        r["doc_id"]: (r["kept"], r["rk"])
        for r in domain_cap(df, cap=10, tier="sharded", shards=16).collect()
    }
    assert set(win) == set(sh)
    for i, (kept, rk) in win.items():
        assert sh[i][0] == kept, f"doc {i} kept mismatch"
        if kept:
            assert sh[i][1] == rk, f"doc {i} rank mismatch"
        else:
            assert sh[i][1] is None  # dropped rows carry no global rank
    # skew actually broken: phase-1 group sizes bounded (md5 prefix is
    # uniform — the giant domain's 1000 rows split ~62/shard)
    shard = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
            "long"
        ),
        F.lit(16),
    )
    sizes = [
        r["c"]
        for r in df.withColumn("_s", shard)
        .groupBy("source", "_s")
        .agg(F.count("*").alias("c"))
        .collect()
    ]
    assert max(sizes) <= 1000 // 16 * 3, f"phase-1 group still skewed: {max(sizes)}"


def test_domain_cap_rejects_bad_tier(spark):
    df = spark.createDataFrame([(1, "a")], ["doc_id", "source"])
    with pytest.raises(ValueError):
        domain_cap(df, cap=10, tier="nope")
    with pytest.raises(ValueError):
        domain_cap(df, cap=10, tier="sharded", shards=1)


def test_shard_assign_xxhash64_tier_64bit_ids(spark):
    """VERDICT r3 #3b: the xxhash64 mix handles ids beyond 32 bits
    (where the Knuth product would overflow int64): deterministic
    across runs, uniform across shards, every id placed exactly once
    with dense within-shard positions."""
    big = 1 << 40
    ids = [(big + i * 7919,) for i in range(512)]
    df = spark.createDataFrame(ids, ["doc_id"])
    a = {r["doc_id"]: (r["shard"], r["pos"]) for r in shard_assign(df, 16, mix="xxhash64").collect()}
    b = {r["doc_id"]: (r["shard"], r["pos"]) for r in shard_assign(df, 16, mix="xxhash64").collect()}
    assert a == b  # deterministic
    assert len(a) == 512
    sizes: dict[int, int] = {}
    for s, _ in a.values():
        sizes[s] = sizes.get(s, 0) + 1
    assert set(sizes) == set(range(16))
    exp = 512 / 16
    assert max(sizes.values()) <= 2 * exp and min(sizes.values()) >= exp / 2
    # dense positions per shard
    by_shard: dict[int, list] = {}
    for s, p in a.values():
        by_shard.setdefault(s, []).append(p)
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1))


def test_shard_assign_rejects_bad_mix(spark):
    df = spark.createDataFrame([(1,)], ["doc_id"])
    with pytest.raises(ValueError):
        shard_assign(df, 8, mix="md5")


def test_temperature_mix_quota_derivation_and_selection(spark):
    """α=0.5 temperature mixture: quotas follow ⌊B·√n_d/Σ√n⌋ with the
    name-sorted normalizer fold, per-domain output size is
    min(quota, n_d), re-runs are identical, and α=1 reproduces
    natural proportions."""
    import math

    from ark_invest_api_rust_data_spark.operators.sampling import temperature_mix

    rows = [(i, f"d{i % 3}") for i in range(90)] + [(i, "d3") for i in range(90, 100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    budget = 40
    got = temperature_mix(df, budget=budget, alpha=0.5).collect()

    counts = {"d0": 30, "d1": 30, "d2": 30, "d3": 10}
    total = sum(math.sqrt(counts[d]) for d in sorted(counts))
    want_quota = {
        d: math.floor(budget * math.sqrt(n) / total) for d, n in counts.items()
    }
    by_d: dict[str, list] = {}
    for r in got:
        assert r["quota"] == want_quota[r["source"]]
        assert r["domain_n"] == counts[r["source"]]
        by_d.setdefault(r["source"], []).append(r["pick_rank"])
    for d, ranks in by_d.items():
        assert len(ranks) == min(want_quota[d], counts[d])
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    # α=0.5 upsamples the tail: d3 gets MORE than its natural share
    assert want_quota["d3"] / budget > counts["d3"] / 100

    again = temperature_mix(df, budget=budget, alpha=0.5).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))

    nat = temperature_mix(df, budget=100, alpha=1.0).collect()
    nat_sizes: dict[str, int] = {}
    for r in nat:
        nat_sizes[r["source"]] = nat_sizes.get(r["source"], 0) + 1
    assert nat_sizes == counts  # α=1, budget=|corpus| → natural mix


def test_temperature_mix_rejects_negative_budget(spark):
    from ark_invest_api_rust_data_spark.operators.sampling import temperature_mix

    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    with pytest.raises(ValueError):
        temperature_mix(df, budget=-1)


def test_group_sample_matches_hash_order_reference(spark):
    """group_sample equals the sequential per-group hash-order top-k,
    including hash ties broken on id; every group with >= k rows
    yields exactly k, smaller groups yield all rows."""
    from ark_invest_api_rust_data_spark.operators.sampling import group_sample

    rows = [(i, f"g{i % 3}") for i in range(40)] + [(100, "tiny")]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    k = 4
    got = sorted(
        (r["source"], r["sample_rank"], r["doc_id"])
        for r in group_sample(df, k=k).collect()
    )

    def h32(s):
        h = 0
        for ch in s:
            h = (h * 31 + ord(ch)) % 4294967296
        return h

    want = []
    groups = {}
    for i, g in rows:
        groups.setdefault(g, []).append(i)
    for g, ids in groups.items():
        ordered = sorted(ids, key=lambda i: (h32(str(i)), i))[:k]
        want += [(g, r + 1, i) for r, i in enumerate(ordered)]
    assert got == sorted(want)
    assert ("tiny", 1, 100) in got
    assert len([t for t in got if t[0] == "g0"]) == k


def test_corpus_funnel_stage_semantics(spark):
    """Funnel counts equal the independently-computed stage frames —
    including the subtlety that dedup ranks among QUALITY SURVIVORS
    (a quality-dropped twin with a smaller id must not steal the
    representative slot)."""
    import pyspark.sql.functions as F

    from ark_invest_api_rust_data_spark.operators.curation import corpus_funnel
    from ark_invest_api_rust_data_spark.operators.dedup import exact_dedup
    from ark_invest_api_rust_data_spark.operators.sampling import split_assign
    from ark_invest_api_rust_data_spark.operators.text import quality_filter

    base = " ".join(f"w{i}" for i in range(30))
    docs = spark.createDataFrame(
        [
            (1, "short doc"),                 # fails quality (n_tokens < 20)
            (2, base),                         # kept
            (3, base),                         # dup of 2 -> dropped at dedup
            (4, base + " tail extra tokens"),  # kept, unique
            (5, "x " * 10),                    # fails quality (repetition/uniq)
        ],
        "doc_id long, text string",
    )
    got = {
        r["stage"]: (r["stage_order"], r["n_docs"], r["n_tokens"])
        for r in corpus_funnel(docs).collect()
    }

    kept = quality_filter(docs, keep_docs=True)
    deduped = exact_dedup(
        kept.withColumn("_fp", F.md5("text")), ["_fp"], [F.asc("doc_id")]
    ).drop("_fp")
    train = split_assign(deduped).filter("split = 'train'")
    ntok = lambda df: (  # noqa: E731
        df.select(F.sum(F.size(F.split(F.trim("text"), r"\s+")))).collect()[0][0]
    )
    assert got["raw"] == (0, 5, ntok(docs))
    assert got["quality"] == (1, kept.count(), ntok(kept))
    assert got["dedup"] == (2, deduped.count(), ntok(deduped))
    assert got["train"] == (3, train.count(), ntok(train) or 0)
    # the quality-dropped doc 1 must not have stolen a dedup slot:
    # docs 2,3 share text; survivor is 2
    dedup_ids = {r["doc_id"] for r in deduped.collect()}
    assert 2 in dedup_ids and 3 not in dedup_ids


def test_corpus_funnel_empty_stage_parity_with_oracle(spark):
    """r8 advisor regression: when every doc fails quality, the Spark
    funnel (explode+filter+groupBy) emits ONLY the 'raw' row — and the
    DuckDB oracle must agree (HAVING count(*) > 0 per branch), not
    emit (stage, order, 0, NULL) rows from ungrouped aggregates."""
    import duckdb

    from ark_invest_api_rust_data_spark.operators.curation import corpus_funnel
    from ark_invest_api_rust_data_spark.plans.curation import _funnel_sql

    rows = [(i, "short doc", "en", "web", 9) for i in range(1, 6)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = sorted(
        (r["stage"], r["stage_order"], r["n_docs"], r["n_tokens"])
        for r in corpus_funnel(docs).collect()
    )
    assert got == [("raw", 0, 5, 10)]  # quality/dedup/train all empty

    import pandas as pd

    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    want = sorted(tuple(r) for r in con.execute(_funnel_sql()).fetchall())
    assert got == want
