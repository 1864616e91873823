"""Property-based tests (hypothesis) — the load-bearing invariants:
normalize is idempotent and schema-stable over arbitrary provider-raw
frames; the string rule chains are idempotent on their own output for
suffix-strip rules; dedupe is a fixpoint."""

from __future__ import annotations

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ark_invest_api_rust_data_spark.operators.merge import concat_dedupe
from ark_invest_api_rust_data_spark.operators.normalize import normalize

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from ark_invest_api_rust_data_spark.session import get_spark

        _spark = get_spark(master="local[4]", shuffle_partitions=4)
    return _spark


COMPANIES = st.sampled_from(
    [
        "TESLA INC",
        "COINBASE GLOBAL",
        "ARK BITCOIN ETF HOLDCO (ARKW)",
        "ROCKET LAB USA",
        "Cash & Cash Equivalents",
        "TAIWANMICONDUCTORSP",
        "BLOCK",
        "Space Exploration Technologies Corp",
        "ACME HOLDINGS PLC",
        "PLAIN NAME",
    ]
)
TICKERS = st.sampled_from(["TSLA UW", "COIN UQ", "DKNN", "SHOP CN", "ABC", None])
DATES = st.sampled_from(["01/05/2024", "01/06/2024", "02/07/2024"])
MONEY = st.sampled_from(["$1,234,567.89", "$12.99", "1000", None])
SHARES = st.sampled_from(["1,234", "100", "5", None])
WEIGHTS = st.sampled_from(["9.87%", "0.10%", "5%", None])

ROW = st.tuples(DATES, TICKERS, st.just("CUSIP1"), COMPANIES, SHARES, MONEY, WEIGHTS)


def _rows(df):
    return sorted([tuple(r) for r in df.collect()], key=str)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(ROW, min_size=1, max_size=5))
def test_normalize_converges_within_three(rows):
    """normalize reaches its fixpoint within 3 applications — the
    invariant the merge design leans on. One-shot idempotence is NOT
    guaranteed (rule cascades like ROCKET LAB USA INC → RKLB need
    multiple passes), exactly as in the reference, which re-formats 3×
    per run (SURVEY §3.1); the pipeline mirrors that."""
    spark = _get_spark()
    df = spark.createDataFrame(
        rows,
        "date string, ticker string, cusip string, company string, "
        "shares string, `market value ($)` string, `weight (%)` string",
    )
    three = normalize(normalize(normalize(df)))
    four = normalize(three)
    assert three.schema == four.schema
    assert _rows(three) == _rows(four)


# ---------------------------------------------------------------- C7 chain
#
# Adversarial fragments for the company rule chain: rule patterns that
# CONTAIN other rule patterns (" CO" inside "CORPORATION", "DR" inside
# " ADR"), pattern prefixes ("Space Exploration Technologies Co" is a
# prefix of "...Corp"), case variants, replacement text that re-creates
# patterns ("COINBASE GLOBAL" → "COINBASE" while " GLOBAL" also strips),
# separators the late rules eat ("-", ",", "."), and non-ascii to pin
# character (not byte) semantics in locate/substr.
_C7_FRAGMENTS = st.sampled_from(
    [
        " CO", "CORP", "CORPORATION", "ORATION", " CORPORATI",
        "INC", "inc", "Inc", "incorporated",
        "HOLDINGS", "Holdings", "HLDGS", " HOLDIN",
        " ADR", "DR", " AG", " SA", " SE", " NV", " PLC",
        "-A", "- A", "- C", " CL C", "CL A", "CLASS A",
        "COINBASE GLOBAL", "Coinbase Global", " GLOBAL",
        "Space Exploration Technologies Co",
        "Space Exploration Technologies Corp", "Space Investment",
        "DISCOVERY", "Blackdaemon",
        " &", " &CURITY", "-", ",", ".", " ", "  ",
        "X", "A", "C", "É…ΩCO", "CO", "RATION",
    ]
)
_C7_STRINGS = st.lists(_C7_FRAGMENTS, min_size=0, max_size=8).map("".join)


def _company_chain_python(x: str | None) -> str | None:
    """Independent Python reference for the C7 chain semantics (the
    spec, written against Polars' documented behavior — NOT a call
    into the implementation): ordered rules; replace-all is
    left-to-right non-overlapping (Python/Polars/Spark agree);
    first_only replaces exactly the first occurrence; trailing
    spaces stripped at the end."""
    if x is None:
        return None
    from ark_invest_api_rust_data_spark.functions.strings import COMPANY_RULES

    for pat, rep, first in COMPANY_RULES:
        x = x.replace(pat, rep, 1) if first else x.replace(pat, rep)
    return x.rstrip(" ")


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(strings=st.lists(_C7_STRINGS, min_size=1, max_size=24))
def test_c7_chain_tiers_match_python_reference(strings):
    """C7 first-occurrence chain, property-tested on adversarial
    inputs (verdict r2 item 8): ``clean_company_df`` (replace/
    regexp_replace built-ins) and ``company_chain_fused`` (the pandas-UDF
    twin behind parity_company_bulk_fused) must both equal the
    independent Python reference — chain ORDER and first-vs-all
    flavor are load-bearing, and patterns overlapping their own
    replacements are exactly where a wrong fold shows."""
    from ark_invest_api_rust_data_spark.functions.strings import (
        clean_company_df,
        company_chain_fused,
    )

    spark = _get_spark()
    rows = [(i, s) for i, s in enumerate(strings)] + [(len(strings), None)]
    df = spark.createDataFrame(rows, "id long, company string")
    expected = {i: _company_chain_python(s) for i, s in rows}
    frames = {
        "clean_company_df": clean_company_df(df),
        "company_chain_fused": df.select(
            "id", company_chain_fused(F.col("company")).alias("company")
        ),
    }
    for name, out in frames.items():
        got = {r["id"]: r["company"] for r in out.collect()}
        assert got == expected, f"{name} diverges from Python reference"


# ------------------------------------------------------------- B32 codecs
@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=9),
    h=st.integers(min_value=1, max_value=9),
    data=st.data(),
)
def test_pixel_codecs_roundtrip_property(w, h, data):
    """BMP and PPM codecs invert on ANY pixel stream and dims (row
    padding at every width mod 4, single-row/column shapes); dims
    parse agrees. Pure Python — no Spark session needed."""
    from _oracles import encode_ppm

    from ark_invest_api_rust_data_spark.operators.multimodal import (
        decode_image,
        encode_bmp,
        parse_image_dims,
    )

    rgb = bytes(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=255),
                min_size=w * h * 3,
                max_size=w * h * 3,
            )
        )
    )
    for enc in (encode_bmp, encode_ppm):
        blob = enc(w, h, rgb)
        assert decode_image(blob) == (w, h, rgb)
        assert parse_image_dims(blob) == (w, h)


@settings(max_examples=60, deadline=None)
@given(
    rate=st.integers(min_value=1, max_value=192_000),
    channels=st.integers(min_value=1, max_value=4),
    data=st.data(),
)
def test_wav_codec_roundtrip_property(rate, channels, data):
    """The PCM16 WAV codec inverts on ANY sample stream, rate, and
    channel count. Pure Python."""
    from ark_invest_api_rust_data_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    n_frames = data.draw(st.integers(min_value=1, max_value=16))
    samples = data.draw(
        st.lists(
            st.integers(min_value=-32768, max_value=32767),
            min_size=n_frames * channels,
            max_size=n_frames * channels,
        )
    )
    blob = encode_wav(rate, channels, samples)
    assert decode_wav(blob) == (rate, channels, samples)


@settings(max_examples=40, deadline=None)
@given(junk=st.binary(max_size=64))
def test_wav_codec_rejects_junk_property(junk):
    """Arbitrary bytes never crash decode_wav; anything it does accept
    must satisfy the PCM16 shape invariants."""
    from ark_invest_api_rust_data_spark.operators.multimodal import decode_wav

    out = decode_wav(junk)
    if out is not None:
        rate, channels, samples = out
        # degenerate-but-well-formed payloads (rate 0, empty data) are
        # rejected too — accepted output is always feature-safe
        assert rate >= 1 and channels >= 1 and len(samples) > 0
        assert len(samples) % channels == 0


@settings(max_examples=40, deadline=None)
@given(junk=st.binary(max_size=64))
def test_pixel_codecs_reject_junk_property(junk):
    """Arbitrary bytes never crash the decoders — they decode to None
    unless they happen to be a VALID image (hypothesis can't stumble
    into a full valid BMP/PPM under 64 bytes unless tiny-but-real, in
    which case decoding is correct behavior, not a failure)."""
    from ark_invest_api_rust_data_spark.operators.multimodal import decode_image

    out = decode_image(junk)
    if out is not None:
        wj, hj, rgbj = out
        assert wj >= 1 and hj >= 1 and len(rgbj) == wj * hj * 3


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(rows=st.lists(ROW, min_size=1, max_size=6))
def test_dedupe_fixpoint_property(rows):
    """concat_dedupe([x, x]) == dedupe(x): merging a frame with itself
    must be a no-op (incremental-merge idempotence, U5)."""
    spark = _get_spark()
    df = normalize(
        spark.createDataFrame(
            rows,
            "date string, ticker string, cusip string, company string, "
            "shares string, `market value ($)` string, `weight (%)` string",
        )
    )
    merged = concat_dedupe([df, df])
    assert _rows(merged) == _rows(df.dropDuplicates())


# ------------------------------------------------ round-6 session 3
_EDGE = st.tuples(
    st.integers(min_value=0, max_value=8), st.integers(min_value=0, max_value=8)
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(_EDGE, min_size=1, max_size=12),
    iters=st.integers(min_value=1, max_value=3),
)
def test_pagerank_matches_reference_on_random_graphs(edges, iters):
    """The distributed integer PageRank equals the sequential
    reference fold on arbitrary multigraphs (parallel edges,
    self-referencing cycles, dangling nodes)."""
    from ark_invest_api_rust_data_spark.operators.graph import pagerank

    base = 10**15
    nodes = sorted({v for e in edges for v in e})
    deg: dict[int, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    ref = {v: base // len(nodes) for v in nodes}
    tele = (15 * (base // len(nodes))) // 100
    for _ in range(iters):
        s_in = {v: 0 for v in nodes}
        for s, d in edges:
            s_in[d] += ref[s] // deg[s]
        ref = {v: tele + (85 * s_in[v]) // 100 for v in nodes}

    spark = _get_spark()
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=iters).collect()}
    assert got == ref


_VOCAB = ["spark", "hash", "scan", "merge", "the", "a"]
_DOC = st.lists(st.sampled_from(_VOCAB), min_size=1, max_size=8).map(" ".join)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(_DOC, min_size=1, max_size=6))
def test_bm25_matches_reference_on_random_corpora(texts):
    import math

    from ark_invest_api_rust_data_spark.operators.bm25 import (
        IDF_SCALE,
        bm25_topk,
    )

    docs = list(enumerate(texts))
    toks = {i: t.split() for i, t in docs}
    n = len(docs)
    avg_q = (1_000_000 * sum(len(w) for w in toks.values())) // n
    terms = ["spark", "hash", "scan"]
    tf = {
        (i, t): w.count(t) for i, w in toks.items() for t in set(w) if t in terms
    }
    dfreq: dict[str, int] = {}
    for (_, t) in tf:
        dfreq[t] = dfreq.get(t, 0) + 1
    idf = {
        t: math.floor(math.log(1.0 + (n - d + 0.5) / (d + 0.5)) * IDF_SCALE)
        for t, d in dfreq.items()
    }
    score: dict[int, int] = {}
    for (i, t), f in tf.items():
        dl = len(toks[i])
        score[i] = score.get(i, 0) + (idf[t] * 44 * f * avg_q) // (
            20 * f * avg_q + 6 * avg_q + 18_000_000 * dl
        )
    ranked = sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    ref = [(i, s, r + 1) for r, (i, s) in enumerate(ranked)]

    spark = _get_spark()
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = [tuple(r) for r in bm25_topk(df, terms, k=10).collect()]
    assert sorted(got) == sorted(ref)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=10,
    )
)
def test_ewma_matches_reference_on_random_sequences(vals):
    """Integer EWMA fold equals the Python reference, including
    negative values where floor- and truncating-division diverge."""
    import datetime
    import math

    from ark_invest_api_rust_data_spark.operators.events import ewma

    spark = _get_spark()
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(seconds=i), 7, float(v))
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    out = ewma(df).collect()
    q = [math.floor(v * 1000) for v in vals]
    r = q[0]
    for v in q[1:]:
        r = (3 * r + v) // 4
    assert out[0]["ewma"] == r and out[0]["n_events"] == len(vals)


# ------------------------------------------------------ star components
def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    )
)
def test_components_star_property(edges):
    """large-star/small-star == union-find on arbitrary small graphs
    (self-loops and duplicates included in the draw)."""
    from ark_invest_api_rust_data_spark.operators.graph import (
        connected_components,
    )

    spark = _get_spark()
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["cluster"] for r in connected_components(df).collect()}
    assert got == _uf_components(edges)


@settings(max_examples=20, deadline=None)
@given(
    a=st.lists(st.integers(0, 10**6), min_size=1, max_size=50),
    b=st.lists(st.integers(0, 10**6), min_size=1, max_size=50),
)
def test_kmins_union_is_elementwise_min_property(a, b):
    """Pure-Python register law: sketch(a ∪ b) == elementwise
    min(sketch(a), sketch(b)) — the mergeability kmins_merge relies on
    (py replica == JVM registers is pinned in test_sketch.py)."""
    from _oracles import py_kmins_positions

    def registers(keys):
        mins = [(1 << 55)] * 8
        for x in keys:
            pos = py_kmins_positions(str(x), 8)
            mins = [min(m, p) for m, p in zip(mins, pos)]
        return mins

    merged = [min(x, y) for x, y in zip(registers(a), registers(b))]
    assert registers(a + b) == merged


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    counts=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=5),
    budget=st.integers(min_value=0, max_value=60),
)
def test_temperature_mix_matches_reference_on_random_mixes(counts, budget):
    """temperature_mix equals the sequential quota derivation on
    arbitrary domain-count profiles: quota_d = floor(B·sqrt(n_d)/
    sum-over-name-sorted-domains sqrt(n)), per-domain output size is
    min(quota, n), and the total never exceeds the budget."""
    import math

    from ark_invest_api_rust_data_spark.operators.sampling import temperature_mix

    rows, nid = [], 0
    for d, n in enumerate(counts):
        for _ in range(n):
            rows.append((nid, f"dom{d}"))
            nid += 1
    spark = _get_spark()
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = temperature_mix(df, budget=budget, alpha=0.5).collect()

    total = 0.0
    for d in sorted(range(len(counts)), key=lambda i: f"dom{i}"):
        total += math.sqrt(counts[d])
    want_quota = {
        f"dom{d}": math.floor(budget * math.sqrt(n) / total)
        for d, n in enumerate(counts)
    }
    sizes: dict[str, int] = {}
    for r in got:
        assert r["quota"] == want_quota[r["source"]]
        sizes[r["source"]] = sizes.get(r["source"], 0) + 1
    for d, n in enumerate(counts):
        assert sizes.get(f"dom{d}", 0) == min(want_quota[f"dom{d}"], n)
    assert sum(sizes.values()) <= budget


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(min_value=-1, max_value=1, allow_nan=False, width=32),
            min_size=4, max_size=4,
        ),
        min_size=2, max_size=12,
    ),
    k=st.integers(min_value=1, max_value=3),
)
def test_cluster_diversity_matches_pairwise_reference(vecs, k):
    """The sum-identity diversity equals the quadratic pairwise fold
    on arbitrary float vectors (negative coords, near-zero, repeated
    rows) for arbitrary assignments (id mod k)."""
    import math

    from ark_invest_api_rust_data_spark.operators.clustering import (
        cluster_diversity,
    )

    spark = _get_spark()
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    asg = spark.createDataFrame(
        [(i, i % k) for i in range(len(vecs))], "vec_id long, cluster int"
    )
    got = {
        r["cluster"]: (r["n"], int(r["pair_dot2"]), r["mean_pair_dot"])
        for r in cluster_diversity(df, assignments=asg).collect()
    }
    # float32 storage then float64 quantize — replicate the cast chain
    import struct

    def f32(x):
        return struct.unpack("f", struct.pack("f", x))[0]

    by_c: dict[int, list[list[int]]] = {}
    for i, v in enumerate(vecs):
        q = [math.floor(f32(x) * 1_000_000) for x in v]
        by_c.setdefault(i % k, []).append(q)
    for c, qs in by_c.items():
        n = len(qs)
        want = sum(
            sum(a * b for a, b in zip(qs[i], qs[j]))
            for i in range(n)
            for j in range(n)
            if i != j
        )
        assert got[c][0] == n and got[c][1] == want
        if n > 1:
            assert got[c][2] == want / (n * (n - 1))
