"""Operator-level tests for the LLM-data ops: LSH recall vs exact
pairs, ANN recall vs brute force, simhash/hamming behavior, multimodal
round-trip + batch plumbing (SURVEY §2 B28–B32)."""

from __future__ import annotations

import pyspark.sql.functions as F
from _oracles import encode_ppm, hamming64

from ark_invest_api_rust_data_spark.catalog import load_table
from ark_invest_api_rust_data_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from ark_invest_api_rust_data_spark.operators.multimodal import (
    attach_media,
    extract_features,
    frame_sample,
    resize_images,
)
from ark_invest_api_rust_data_spark.operators.similarity import (
    ann_join,
    cosine_topk,
    knn_join,
    lsh_bucketed_topk,
)

SF = "/root/testdata/sf0.001"


def test_lsh_recall_equals_exact(spark):
    """The LSH+verify pipeline must find EXACTLY the O(n²) exact-
    Jaccard pairs at the probe threshold (recall 1.0 — this is what
    makes the DuckDB oracle valid)."""
    docs = load_table(spark, SF, "documents")
    lsh = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    assert lsh == exact
    assert len(exact) > 0  # planted near-dups exist at sf0.001


def test_incremental_near_dup_equals_full_restricted(spark, tmp_path):
    """incremental_near_dup_pairs(corpus, batch, store) must equal the
    FULL-corpus LSH pair set restricted to pairs touching the batch —
    including when the band store round-trips through parquet (the
    lake shape). Also: batch-internal pairs found, corpus-internal
    pairs excluded."""
    import pyspark.sql.functions as F

    from ark_invest_api_rust_data_spark.operators.dedup import (
        band_table,
        incremental_near_dup_pairs,
    )

    docs = load_table(spark, SF, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 < 8)
    batch = docs.filter(F.col("doc_id") % 10 >= 8)
    new_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}

    full = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    expected = {p for p in full if p[0] in new_ids or p[1] in new_ids}
    assert expected, "sf0.001 must contain planted near-dups touching the batch"
    # at least one corpus-internal pair must exist for the exclusion check
    assert full - expected, "need corpus-internal pairs to prove exclusion"

    # store passed as an in-memory frame
    store = band_table(corpus)
    got = {
        (r["doc_a"], r["doc_b"])
        for r in incremental_near_dup_pairs(
            corpus, batch, band_store=store, threshold=0.5
        ).collect()
    }
    assert got == expected

    # store round-tripped through parquet, sorted by band_key (the lake
    # layout that makes per-batch probes prunable)
    path = str(tmp_path / "band_store")
    store.sortWithinPartitions("band_key").write.mode("overwrite").parquet(path)
    store2 = spark.read.parquet(path)
    got2 = {
        (r["doc_a"], r["doc_b"])
        for r in incremental_near_dup_pairs(
            corpus, batch, band_store=store2, threshold=0.5
        ).collect()
    }
    assert got2 == expected

    # derived-store fallback (band_store=None) agrees too
    got3 = {
        (r["doc_a"], r["doc_b"])
        for r in incremental_near_dup_pairs(corpus, batch, threshold=0.5).collect()
    }
    assert got3 == expected


def test_incremental_near_dup_nondefault_lsh_params(spark):
    """The incremental path must honor non-default LSH parameters end
    to end: a store built with (num_hashes=8, n=2) probed with the same
    params equals the full-corpus run at those params (a silent
    parameter mismatch would produce non-matching band keys and an
    empty candidate set — r3 review finding)."""
    import pyspark.sql.functions as F

    from ark_invest_api_rust_data_spark.operators.dedup import (
        band_table,
        incremental_near_dup_pairs,
    )

    docs = load_table(spark, SF, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 < 8)
    batch = docs.filter(F.col("doc_id") % 10 >= 8)
    new_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    kw = dict(n=2, num_hashes=8, rows_per_band=2)

    full = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs, threshold=0.5, **kw).collect()
    }
    expected = {p for p in full if p[0] in new_ids or p[1] in new_ids}
    assert expected  # 2-gram shingles at sf0.001 must produce pairs

    store = band_table(corpus, **kw)
    got = {
        (r["doc_a"], r["doc_b"])
        for r in incremental_near_dup_pairs(
            corpus, batch, band_store=store, threshold=0.5, **kw
        ).collect()
    }
    assert got == expected


def test_exact_dedup_keeps_first(spark):
    df = spark.createDataFrame(
        [("k", 2, "b"), ("k", 1, "a"), ("k", 3, "c"), ("j", 9, "z")],
        "key string, ord int, val string",
    )
    out = exact_dedup(df, ["key"], [F.asc("ord")])
    got = {r["key"]: r["val"] for r in out.collect()}
    assert got == {"k": "a", "j": "z"}


def test_simhash_near_dups_have_small_hamming(spark):
    """Near-dup doc pairs (jaccard ≥ 0.9) must be close in simhash
    space; random pairs far."""
    docs = load_table(spark, SF, "documents")
    sh = simhash(docs)
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    joined = pairs.join(a, "doc_a").join(b, "doc_b").select(
        hamming64(F.col("ha"), F.col("hb")).alias("d")
    )
    dists = [r["d"] for r in joined.collect()]
    assert dists and max(dists) <= 4  # near-dups: ≤4/32 bits differ
    # background pairs: the synthetic corpus shares ONE small
    # vocabulary, so absolute distances are compressed — assert the
    # SEPARATION of means rather than a large absolute gap
    bg = (
        sh.alias("x")
        .crossJoin(sh.alias("y"))
        .filter(F.col("x.doc_id") + 40 == F.col("y.doc_id"))
        .select(hamming64(F.col("x.simhash"), F.col("y.simhash")).alias("d"))
    )
    bg_d = [r["d"] for r in bg.collect()]
    assert sum(dists) / len(dists) < 2.0 < sum(bg_d) / len(bg_d)

def test_ann_matches_brute_force_topk(spark):
    """SRP-bucketed ANN with 1-bit probing must recover most of the
    true top-10 (random embeddings — no planted structure, so demand
    ≥50% overlap and identical scoring math)."""
    emb = load_table(spark, SF, "embeddings")
    query = list(emb.filter(F.col("vec_id") == 7).first()["embedding"])
    exact = cosine_topk(emb, query, k=10, exclude_ids=(7,))
    ann = lsh_bucketed_topk(emb, query, k=10, bits=4, probe_flips=1)
    exact_ids = [r["vec_id"] for r in exact.collect()]
    ann_rows = {r["vec_id"]: r["cosine"] for r in ann.collect()}
    overlap = [i for i in exact_ids if i in ann_rows]
    assert len(overlap) >= 5
    # scores for overlapping ids must be bit-identical (same math path)
    exact_scores = {r["vec_id"]: r["cosine"] for r in exact.collect()}
    for i in overlap:
        assert ann_rows[i] == exact_scores[i]


def test_ann_join_recall_and_exact_scoring(spark):
    """IVF-pruned ann_join vs the exact knn_join: scoring math is
    bit-identical on every pair both return (same quantized-cosine
    path), recall@5 with half the cells probed stays useful, and
    per-query ranks are contiguous from 1."""
    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    data = emb.filter(F.col("vec_id") >= 5)
    exact = {
        (r["query_id"], r["vec_id"]): r["cosine"]
        for r in knn_join(data, queries, k=5).collect()
    }
    approx_rows = ann_join(
        data, queries, k=5, n_centroids=8, iters=2, nprobe=4, train=emb
    ).collect()
    got = {(r["query_id"], r["vec_id"]): r["cosine"] for r in approx_rows}
    overlap = set(exact) & set(got)
    assert overlap and all(exact[p] == got[p] for p in overlap)
    assert len(overlap) >= len(exact) // 2  # recall@5 ≥ 0.5 at nprobe=k/2
    by_q: dict = {}
    for r in approx_rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert set(by_q) == {0, 1, 2, 3, 4}
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_ann_join_prebuilt_model_matches_inline_training(spark):
    """``model=(centroids, assignments)`` — the build-once/amortize
    deployment shape — must reproduce the inline-training output
    exactly."""
    from ark_invest_api_rust_data_spark.operators.clustering import kmeans_fit

    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    data = emb.filter(F.col("vec_id") >= 5)
    inline = ann_join(
        data, queries, k=3, n_centroids=8, iters=2, nprobe=2, train=emb
    )
    prebuilt = ann_join(
        data, queries, k=3, nprobe=2, model=kmeans_fit(emb, k=8, iters=2)
    )
    key = ["query_id", "vec_id", "cosine", "rank"]
    assert sorted(map(tuple, inline.select(key).collect())) == sorted(
        map(tuple, prebuilt.select(key).collect())
    )


def _make_png(width: int, height: int) -> bytes:
    """A complete, valid PNG (correct chunk CRCs, zlib-compressed
    scanlines) built with stdlib only."""
    import struct
    import zlib

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)  # 8-bit gray
    raw = b"".join(b"\x00" + bytes(width) for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _make_jpeg_header(width: int, height: int) -> bytes:
    """SOI + JFIF APP0 + SOF0 — the header prefix every baseline JPEG
    starts with (enough for any header-level dimension parser)."""
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + b"\x00\x01\x00\x01\x00\x00"
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 11)
        + b"\x08"
        + struct.pack(">H", height)
        + struct.pack(">H", width)
        + b"\x01\x11\x00"
    )
    return b"\xff\xd8" + app0 + sof0


def test_image_header_decode_real_bytes(spark):
    """parse_image_dims reads REAL image headers (PNG/JPEG/GIF) in pure
    Python, directly and through the mapInPandas feature stage; text
    payloads correctly yield null dims."""
    import struct

    from ark_invest_api_rust_data_spark.operators.multimodal import parse_image_dims

    png = _make_png(640, 480)
    jpg = _make_jpeg_header(1024, 768)
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00\x00\x00"
    assert parse_image_dims(png) == (640, 480)
    assert parse_image_dims(jpg) == (1024, 768)
    assert parse_image_dims(gif) == (320, 200)
    assert parse_image_dims(b"just some text, definitely not an image") is None
    assert parse_image_dims(b"") is None

    rows = [(1, "image", png), (2, "image", jpg), (3, "image", gif), (4, "image", b"plain text")]
    df = spark.createDataFrame(rows, "media_id long, kind string, content binary")
    got = {
        r["media_id"]: (r["width"], r["height"])
        for r in extract_features(df, strict=False).collect()
    }
    assert got == {1: (640, 480), 2: (1024, 768), 3: (320, 200), 4: (None, None)}


def test_bmp_ppm_pixel_codec_roundtrip():
    """REAL pixel decode (B32): BMP and PPM encoders/decoders invert on
    arbitrary pixel streams, including non-4-multiple widths (BMP row
    padding) and P3 ascii."""
    from ark_invest_api_rust_data_spark.operators.multimodal import (
        decode_bmp,
        decode_image,
        decode_ppm,
        encode_bmp,
        parse_image_dims,
    )

    for w, h in [(4, 2), (3, 3), (5, 1), (1, 7)]:  # w=3,5: rows pad
        rgb = bytes((i * 37 + 11) % 256 for i in range(w * h * 3))
        bmp, ppm = encode_bmp(w, h, rgb), encode_ppm(w, h, rgb)
        assert decode_bmp(bmp) == (w, h, rgb)
        assert decode_ppm(ppm) == (w, h, rgb)
        assert decode_image(bmp) == (w, h, rgb)  # dispatch by magic
        assert decode_image(ppm) == (w, h, rgb)
        assert parse_image_dims(bmp) == (w, h)
        assert parse_image_dims(ppm) == (w, h)

    # P3 ascii variant with a comment line
    p3 = b"P3\n# a comment\n2 1\n255\n255 0 0  0 0 255\n"
    assert decode_ppm(p3) == (2, 1, bytes([255, 0, 0, 0, 0, 255]))

    # non-images and malformed payloads refuse, not crash
    assert decode_image(b"not an image") is None
    assert decode_image(b"BMxx") is None
    assert decode_image(b"P6\n2 1\n255\n\x00") is None  # truncated pixels
    assert decode_image(b"") is None
    assert decode_image(None) is None


def test_bmp_decode_golden_bytes():
    """Hand-written BMP byte literal (NOT produced by encode_bmp) pins
    the spec independently: 2x2 24-bit, bottom-up rows, BGR channels,
    2-byte row padding (2*3=6 -> row size 8). Pixels (top-down RGB):
    (255,0,0) (0,255,0) / (0,0,255) (10,20,30)."""
    from ark_invest_api_rust_data_spark.operators.multimodal import decode_bmp

    header = (
        b"BM" + (54 + 16).to_bytes(4, "little") + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
        + (2).to_bytes(4, "little", signed=True)
        + (2).to_bytes(4, "little", signed=True)  # positive: bottom-up
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + (16).to_bytes(4, "little")
        + (0).to_bytes(4, "little") * 4
    )
    # file rows bottom-up, BGR + 2 pad bytes each:
    bottom_row = bytes([255, 0, 0]) + bytes([30, 20, 10]) + b"\x00\x00"
    top_row = bytes([0, 0, 255]) + bytes([0, 255, 0]) + b"\x00\x00"
    expected_rgb = bytes(
        [255, 0, 0, 0, 255, 0] + [0, 0, 255, 10, 20, 30]
    )
    assert decode_bmp(header + bottom_row + top_row) == (2, 2, expected_rgb)


def test_extract_features_real_pixels_and_strict(spark):
    """extract_features: real BMP/PPM payloads produce PIXEL-derived
    features (channel means, top-row mean) under strict=True; payloads
    no codec recognizes raise in strict mode and fake-fall-back only
    when strict=False."""
    import pytest

    from ark_invest_api_rust_data_spark.operators.multimodal import encode_bmp

    # 2x1: left pixel pure red, right pure blue
    rgb = bytes([200, 0, 0, 0, 0, 100])
    rows = [(1, "image", encode_bmp(2, 1, rgb)), (2, "image", encode_ppm(2, 1, rgb))]
    df = spark.createDataFrame(rows, "media_id long, kind string, content binary")
    got = {r["media_id"]: r for r in extract_features(df, strict=True).collect()}
    for mid in (1, 2):
        r = got[mid]
        assert (r["width"], r["height"]) == (2, 1)
        f = r["feature"]
        assert f[0] == 2.0 and f[1] == 1.0  # dims
        assert f[2] == 100.0 and f[3] == 0.0 and f[4] == 50.0  # channel means
        assert abs(f[7] - 50.0) < 1e-6  # top-row mean = 300/6

    text_df = spark.createDataFrame(
        [(9, "image", b"definitely not an image")],
        "media_id long, kind string, content binary",
    )
    with pytest.raises(Exception, match="NotImplementedError|no codec"):
        extract_features(text_df, strict=True).collect()
    # non-strict: labeled fake, still 8-dim
    fk = extract_features(text_df, strict=False).first()
    assert len(fk["feature"]) == 8


def test_multimodal_roundtrip_and_features(spark, tmp_path):
    """B32 — binary+struct schema round-trips through parquet; the
    mapInPandas feature stage preserves ids and computes the checksum
    identically to a pure-expression computation."""
    docs = load_table(spark, SF, "documents").limit(50)
    media = attach_media(docs, "text", "image")
    path = str(tmp_path / "media.parquet")
    media.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    # parquet read-back relaxes nullability (incl. nested structs);
    # names + type strings must round-trip
    assert back.dtypes == media.dtypes
    assert back.count() == 50

    feats = extract_features(back, strict=False)  # text payloads
    rows = feats.collect()
    assert len(rows) == 50
    assert all(len(r["feature"]) == 8 for r in rows)
    # checksum cross-check vs expression-only computation
    expr_side = back.select(
        "media_id",
        F.aggregate(
            F.transform(
                F.split(F.col("content").cast("string"), ""),
                lambda ch: F.when(ch != "", F.ascii(ch)).otherwise(F.lit(0)),
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("checksum_expr"),
    )
    joined = feats.join(expr_side, "media_id")
    bad = joined.filter(F.col("checksum") != F.col("checksum_expr")).count()
    assert bad == 0

    # plumbing payloads are not real media: the resize/sample stages
    # pass them through under strict=False (the real-codec paths are
    # covered by tests/test_multimodal_video.py)
    resized = resize_images(back, 64, 64, strict=False)
    assert resized.select("meta.width").first()[0] == 64
    sampled = frame_sample(
        resized.withColumn("kind", F.lit("video")), every_n=2, strict=False
    )
    assert sampled.select("meta.n_frames").first()[0] >= 1


def test_dedup_ops_release_executor_storage(spark):
    """Long-lived-session hygiene: minhash_lsh_pairs and dedup_clusters
    must not accumulate cached partitions — after each call the only
    surviving storage is the (small) materialized result, releasable
    via Materializer.release."""
    from ark_invest_api_rust_data_spark.operators.dedup import (
        dedup_clusters,
        minhash_lsh_pairs,
    )
    from ark_invest_api_rust_data_spark.operators.persistence import (
        Materializer,
    )

    import gc
    import time

    jsc = spark.sparkContext._jsc.sc()

    def n_persistent():
        return jsc.getPersistentRDDs().size()

    # drain the ContextCleaner first: earlier tests' out-of-scope
    # localCheckpoint RDDs are reclaimed asynchronously, and a reclaim
    # landing mid-test would drop the count below a too-early baseline
    gc.collect()
    time.sleep(2)
    base = n_persistent()
    docs = load_table(spark, SF, "documents")
    # materialize=True: persist+checkpoint tier must release its cache.
    # materialize=False (default): fully lazy — nothing may be cached.
    for mat in (True, False):
        pairs = minhash_lsh_pairs(docs, threshold=0.5, materialize=mat)
        assert pairs.count() >= 0
        # signature frame released; only the result checkpoint lives
        assert n_persistent() <= base + 1
        clusters = dedup_clusters(pairs)
        assert clusters.count() >= 0
        # edges + per-iteration labels released; final labels remain
        assert n_persistent() <= base + 2
        Materializer(spark).release(clusters)
        Materializer(spark).release(pairs)
        # <=, not ==: the async cleaner may ALSO have reclaimed RDDs
        # that predate this test's baseline
        assert n_persistent() <= base


def test_blocked_near_dup_equals_expression_tier(spark):
    """The block-matrix all-pairs tier (no driver collect) must produce
    BIT-identical pairs+cosines to the pure-expression formulation
    (same integer grid, same IEEE ops) for any block count — every
    unordered pair exactly once."""
    from ark_invest_api_rust_data_spark.operators.similarity import (
        _dot,
        _norm2,
        _quantize,
        cosine_near_dup_pairs_blocked,
    )

    emb = load_table(spark, SF, "embeddings")
    q = emb.select("vec_id", _quantize(F.col("embedding")).alias("_q")).withColumn(
        "_n2", _norm2(F.col("_q"))
    )
    a = q.select(F.col("vec_id").alias("vec_a"), F.col("_q").alias("_qa"), F.col("_n2").alias("_na"))
    b = q.select(F.col("vec_id").alias("vec_b"), F.col("_q").alias("_qb"), F.col("_n2").alias("_nb"))
    expr = (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cosine",
            _dot(F.col("_qa"), F.col("_qb")).cast("double")
            / (F.sqrt(F.col("_na").cast("double")) * F.sqrt(F.col("_nb").cast("double"))),
        )
        .filter(F.col("cosine") >= 0.40)
        .select("vec_a", "vec_b", "cosine")
    )
    want = sorted(map(tuple, expr.collect()))
    assert want
    for n_blocks in (1, 3, 8):
        got = cosine_near_dup_pairs_blocked(emb, 0.40, n_blocks=n_blocks)
        assert sorted(map(tuple, got.collect())) == want, f"n_blocks={n_blocks}"


def test_blocked_near_dup_raises_no_user_warning(spark):
    """Building and running the block-matrix tier warns nothing (its
    grouped-map function once carried type hints on some parameters,
    which applyInPandas warns about on every call)."""
    import warnings

    from ark_invest_api_rust_data_spark.operators.similarity import cosine_near_dup_pairs_blocked

    emb = load_table(spark, SF, "embeddings")
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        assert cosine_near_dup_pairs_blocked(emb, 0.40, n_blocks=3).count() > 0


def test_ivf_index_recall_and_pruning(spark, tmp_path):
    """IVF tier: nprobe search must recover most of the exact top-10
    with bit-identical scores, and the saved layout must partition-
    prune (scan only the probed cluster directories)."""
    from ark_invest_api_rust_data_spark.operators.similarity import IvfIndex

    emb = load_table(spark, SF, "embeddings")
    idx = IvfIndex.build(emb, n_centroids=8, iters=5)
    query = list(emb.filter(F.col("vec_id") == 3).first()["embedding"])

    exact = {r["vec_id"]: r["cosine"] for r in cosine_topk(emb, query, k=10).collect()}
    got = {r["vec_id"]: r["cosine"] for r in idx.query(query, k=10, nprobe=4).collect()}
    overlap = set(exact) & set(got)
    assert len(overlap) >= 6  # ≥60% recall at nprobe=4/8
    for v in overlap:
        assert got[v] == exact[v]  # same scoring math

    # persisted layout prunes partitions
    path = str(tmp_path / "ivf")
    idx.save(path)
    back = spark.read.parquet(path)
    one = back.filter(F.col("cluster") == 0)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(cluster" in plan or "cluster#" in plan
    assert one.count() > 0


def test_repetition_stats_crafted_docs(spark):
    """Gopher repetition signals on crafted text: boilerplate spam
    scores high on both signals, diverse text scores low, and the
    cover arithmetic is exact."""
    from ark_invest_api_rust_data_spark.operators.text import repetition_stats

    spam = "click here " * 10  # "click here click here ..."
    diverse = "alpha bravo charlie delta echo foxtrot golf hotel"
    rows = [(1, spam.strip()), (2, diverse), (3, "one two")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}

    # spam: 20 tokens, the 2-gram "click here" occurs 10x (len 10) and
    # "here click" 9x (len 10) -> top cover = 100; every 3-gram occurs
    # >1 time so dup_3gram covers all 18 grams
    assert got[1]["top_2gram_cover"] == 100
    assert got[1]["top_2gram_frac"] == 100 / got[1]["n_chars"]
    assert got[1]["dup_3gram_chars"] > 0
    # diverse: every 2-gram unique -> top cover == the longest 2-gram;
    # no duplicated 3-grams at all
    assert got[2]["dup_3gram_chars"] == 0
    assert got[2]["top_2gram_frac"] < 0.35
    # two words: one 2-gram, zero 3-grams
    assert got[3]["top_2gram_cover"] == len("one two")
    assert got[3]["dup_3gram_chars"] == 0


def test_aqe_splits_skewed_join_partitions(spark):
    """Skew robustness, first line of defense: on a pathologically
    skewed key (one key ~ 90% of rows), AQE must mark and split the
    skewed partitions (skew=true in the final SortMergeJoin) with the
    result identical to the logical join. The salted_join fallback for
    keys AQE can't fix is covered by test_salted_join_equals_plain_join."""
    fact = (
        spark.range(200_000)
        .select(
            F.when(F.col("id") < 180_000, 0)
            .otherwise(F.pmod(F.col("id"), F.lit(1000)) + 1)
            .alias("k"),
            F.col("id").alias("v"),
        )
    )
    # 20020 = 20 x 1001 → every key 0..1000 matches exactly 20 rows
    other = spark.range(20_020).select(
        F.pmod(F.col("id"), F.lit(1001)).alias("k"), F.col("id").alias("w")
    )
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        # test-scale thresholds so ~MB partitions register as skewed
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        joined = fact.join(other, "k")
        # execute THIS queryExecution (count() would plan a separate
        # one and leave this plan isFinalPlan=false)
        n = joined._jdf.queryExecution().toRdd().count()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
        # 180k skewed-key rows x 20 matches + long tail x ~20 each
        assert n == 180_000 * 20 + 20_000 * 20
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_split_assign_deterministic_content_independent(spark):
    """Split routing must depend only on the id: same ids → same
    buckets on re-run and after text mutation; proportions near
    80/10/10."""
    from ark_invest_api_rust_data_spark.operators.sampling import (
        hash_bucket,
        split_assign,
    )

    docs = load_table(spark, SF, "documents")
    a = {r["doc_id"]: r["split"] for r in split_assign(docs).collect()}
    mutated = docs.withColumn("text", F.concat(F.col("text"), F.lit(" tail")))
    b = {r["doc_id"]: r["split"] for r in split_assign(mutated).collect()}
    assert a == b
    n = len(a)
    frac_train = sum(1 for s in a.values() if s == "train") / n
    assert 0.7 < frac_train < 0.9
    # bucket stays in [0, 100)
    rows = docs.select(hash_bucket(F.col("doc_id")).alias("b")).collect()
    assert all(0 <= r["b"] < 100 for r in rows)


def test_pack_sequences_crafted_boundaries(spark):
    """Concat-and-chunk: offsets are per-shard running sums; a doc's
    pack is the chunk holding its FIRST token even when it straddles a
    boundary; shards pack independently."""
    from ark_invest_api_rust_data_spark.operators.sampling import pack_sequences

    def words(n, tag):
        return " ".join(f"{tag}{i}" for i in range(n))

    df = spark.createDataFrame(
        [
            (1, "s1", words(3, "a")),   # start 0  → pack 0
            (2, "s1", words(4, "b")),   # start 3  → pack 0 (straddles 6)
            (3, "s1", words(5, "c")),   # start 7  → pack 1
            (4, "s2", words(6, "d")),   # start 0  → pack 0 (own shard)
            (5, "s2", words(1, "e")),   # start 6  → pack 1
        ],
        "doc_id long, source string, text string",
    )
    got = {
        r["doc_id"]: (r["start_offset"], r["pack_id"])
        for r in pack_sequences(df, budget=6).collect()
    }
    assert got == {1: (0, 0), 2: (3, 0), 3: (7, 1), 4: (0, 0), 5: (6, 1)}


def test_quality_filter_crafted_reasons(spark):
    """Each cascade rule fires on its crafted doc, in cascade order
    (low diversity outranks repetition; repetitive_3gram checked via a
    tightened threshold on a doc passing all earlier rules)."""
    from ark_invest_api_rust_data_spark.operators.text import quality_filter

    uniq40 = " ".join(f"w{i:02d}" for i in range(40))
    rep2 = " ".join(f"u{i:02d}" for i in range(32)) + " xx yy" * 4
    docs = spark.createDataFrame(
        [
            (0, "solo"),                         # 1 token, no grams — must
                                                 # still appear as too_short
            (1, "tiny doc"),                     # 2 tokens  → too_short
            (2, " ".join(["dup"] * 30)),         # uniq 1/30 → low_diversity
            (3, rep2),                           # "xx yy"×4 → repetitive_2gram
            (4, uniq40),                         # clean     → ok
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["reason"] for r in quality_filter(docs).collect()}
    assert got == {
        0: "too_short",
        1: "too_short",
        2: "low_diversity",
        3: "repetitive_2gram",
        4: "ok",
    }
    # repetitive_3gram: doc passing earlier rules, any dup 3-gram trips
    # a tightened threshold
    tri = uniq40 + " aa bb cc " + " ".join(f"v{i:02d}" for i in range(20)) + " aa bb cc"
    one = spark.createDataFrame([(9, tri)], "doc_id long, text string")
    got9 = quality_filter(one, max_dup_3gram_frac=0.0001).collect()[0]
    assert got9["reason"] == "repetitive_3gram" and not got9["keep"]


def test_mixture_sample_rates_and_determinism(spark):
    """Per-stratum keep rates track the mixture weights (aggregated
    over strata to damp small-stratum noise); re-runs reproduce the
    identical row set; unknown strata fall to default_pct=0."""
    from ark_invest_api_rust_data_spark.operators.sampling import mixture_sample

    docs = load_table(spark, SF, "documents")
    weights = {f"src{i}": (60 if i % 2 == 0 else 15) for i in range(20)}
    kept = mixture_sample(docs, weights).select("doc_id", "source")
    rows = {(r["doc_id"], r["source"]) for r in kept.collect()}
    again = {(r["doc_id"], r["source"]) for r in mixture_sample(docs, weights).collect()}
    assert rows == again
    n_even = sum(1 for _, s in rows if int(s[3:]) % 2 == 0)
    n_odd = len(rows) - n_even
    total_even = docs.filter(F.expr("CAST(substr(source, 4) AS INT) % 2 = 0")).count()
    total_odd = docs.count() - total_even
    assert 0.45 < n_even / total_even < 0.75      # target 0.60
    assert 0.05 < n_odd / total_odd < 0.30        # target 0.15
    # strata absent from the mixture are dropped entirely
    none_kept = mixture_sample(docs, {"src0": 50}, strata_col="lang")
    assert none_kept.count() == 0


def test_pii_scrub_crafted_docs(spark):
    """Counts, redaction, and cascade order on handcrafted PII: the
    SSN rule fires before phone/IP, so its digits are never re-matched;
    counts always agree with the replacements actually made."""
    from ark_invest_api_rust_data_spark.operators.text import pii_scrub

    rows = [
        (1, "write to alice.b+tag@corp-mail.example.org today"),
        (2, "ssn 987-65-4321 then phone 415-555-0100 then 192.168.1.254 end"),
        (3, "no pii here at all"),
        (4, "two mails a@b.io c@d.net and twice 10.0.0.1 10.0.0.2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in pii_scrub(df).collect()}

    assert got[1]["n_email"] == 1 and got[1]["clean_text"] == "write to [EMAIL] today"
    assert (got[2]["n_ssn"], got[2]["n_phone"], got[2]["n_ipv4"]) == (1, 1, 1)
    assert got[2]["clean_text"] == "ssn [SSN] then phone [PHONE] then [IPV4] end"
    assert got[3]["n_pii_total"] == 0 and got[3]["clean_text"] == rows[2][1]
    assert got[4]["n_email"] == 2 and got[4]["n_ipv4"] == 2
    # totals equal the sum of categories by construction
    for r in got.values():
        assert r["n_pii_total"] == r["n_email"] + r["n_ssn"] + r["n_phone"] + r["n_ipv4"]


def test_contamination_hashed_tier_equals_string_tier(spark):
    """xxhash64 shingle keying (the shrink-the-shuffle scale knob) must
    produce identical per-doc stats to the plain string keying."""
    from ark_invest_api_rust_data_spark.operators.contamination import (
        contamination_overlap,
    )

    docs = load_table(spark, SF, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    plain = {
        r["doc_id"]: (r["n_shingle_hits"], r["n_bench_docs"])
        for r in contamination_overlap(corpus, bench, n=3).collect()
    }
    hashed = {
        r["doc_id"]: (r["n_shingle_hits"], r["n_bench_docs"])
        for r in contamination_overlap(corpus, bench, n=3, hashed=True).collect()
    }
    assert plain == hashed
    assert len(plain) > 0


def test_contamination_short_docs_never_flagged(spark):
    """Documents with fewer than n tokens produce no shingles (empty
    array, not a null-padded gram) and cannot be flagged."""
    from ark_invest_api_rust_data_spark.operators.contamination import (
        contamination_overlap,
    )

    corpus = spark.createDataFrame(
        [(1, "one two"), (2, "one two three four")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(100, "one two three")], "doc_id long, text string")
    got = {r["doc_id"] for r in contamination_overlap(corpus, bench, n=3).collect()}
    assert got == {2}  # doc 1 is shorter than the shingle width


def test_jaccard_prefix_equals_exact_cross_join(spark):
    """jaccard_prefix_pairs must return EXACTLY the O(n²) tier's rows
    (same pairs, same jc) — the completeness of the prefix+length
    filter chain is what makes the shared oracle valid."""
    from ark_invest_api_rust_data_spark.operators.dedup import jaccard_prefix_pairs

    docs = load_table(spark, SF, "documents")
    fast = sorted(
        (r["doc_a"], r["doc_b"], r["jc"])
        for r in jaccard_prefix_pairs(docs, n=3, t_num=1, t_den=2).collect()
    )
    exact = sorted(
        (r["doc_a"], r["doc_b"], r["jc"])
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    )
    assert fast == exact
    assert len(exact) > 0


def test_jaccard_prefix_crafted_corners(spark):
    """Boundary cases: identical docs (jc=1), just-at-threshold pairs,
    size-filter kills (tiny vs huge), and a shared ultra-common token
    that must NOT create candidates on its own (it sorts to the END of
    the frequency order, out of every prefix)."""
    from ark_invest_api_rust_data_spark.operators.dedup import jaccard_prefix_pairs

    common = " ".join("the quick brown" for _ in range(1))
    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),  # dup of 1
        (3, "alpha beta gamma zeta"),  # 3-grams: overlap 1 of 2+2 -> jc 1/3
        (4, common + " unrelated tail of words entirely different here"),
        (5, common + " something else long and different again padded out"),
        (6, "x y z"),  # exactly n tokens — one shingle (word_shingles
        # requires >= n tokens; shorter docs are a pipeline
        # precondition, filtered upstream by quality gates)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    for t_num, t_den in [(1, 2), (1, 3), (4, 5)]:
        fast = sorted(
            (r["doc_a"], r["doc_b"], r["jc"])
            for r in jaccard_prefix_pairs(
                docs, n=3, t_num=t_num, t_den=t_den
            ).collect()
        )
        exact = sorted(
            (r["doc_a"], r["doc_b"], r["jc"])
            for r in ngram_jaccard_pairs(
                docs, n=3, threshold=t_num / t_den
            ).collect()
        )
        assert fast == exact
    assert (1, 2, 1.0) in {
        (r["doc_a"], r["doc_b"], r["jc"])
        for r in jaccard_prefix_pairs(docs, n=3).collect()
    }


# ------------------------------------------------------------ PPS sample
def _py_weighted_sample(rows, k):
    """Independent reference for weighted_systematic_sample: rows =
    [(id, stratum, w)] -> set of selected ids."""
    def h32(s):
        v = 0
        for ch in s:
            v = (v * 31 + ord(ch)) % (1 << 32)
        return v

    out = set()
    strata = {}
    for i, s, w in rows:
        strata.setdefault(s, []).append((i, w))
    for s, items in strata.items():
        items.sort(key=lambda t: (h32(str(t[0])), t[0]))
        tot = sum(w for _, w in items)
        step = max(1, tot // k)
        anchor = step // 2
        cum = 0
        for i, w in items:
            lo, cum = cum, cum + w
            p_hi = (cum - anchor) // step + 1 if cum >= anchor else 0
            p_lo = (lo - anchor) // step + 1 if lo >= anchor else 0
            if p_hi > p_lo:
                out.add(i)
    return out


def test_weighted_sample_matches_reference(spark):
    from ark_invest_api_rust_data_spark.operators.sampling import (
        weighted_systematic_sample,
    )

    rows = [(i, "s" + str(i % 3), (i * 37) % 90 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_chars"])
    got = {
        r["doc_id"]
        for r in weighted_systematic_sample(df, k=8, weight_col="n_chars").collect()
    }
    assert got == _py_weighted_sample(rows, 8)
    assert got  # nonempty


def test_weighted_sample_heavy_row_always_selected_and_size_bounded(spark):
    from ark_invest_api_rust_data_spark.operators.sampling import (
        weighted_systematic_sample,
    )

    # one row carries >90% of the mass -> certain selection; realized
    # per-stratum size stays <= k + 1
    rows = [(i, "only", 1) for i in range(50)] + [(999, "only", 10_000)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_chars"])
    sel = weighted_systematic_sample(df, k=5, weight_col="n_chars").collect()
    ids = {r["doc_id"] for r in sel}
    assert 999 in ids
    assert len(sel) <= 6


def test_weighted_sample_row_order_invariant(spark):
    from ark_invest_api_rust_data_spark.operators.sampling import (
        weighted_systematic_sample,
    )

    rows = [(i, "s" + str(i % 2), i % 13 + 1) for i in range(120)]
    a = spark.createDataFrame(rows, ["doc_id", "source", "n_chars"])
    b = spark.createDataFrame(list(reversed(rows)), ["doc_id", "source", "n_chars"])
    ra = sorted(map(tuple, weighted_systematic_sample(a, 7, "n_chars").collect()))
    rb = sorted(map(tuple, weighted_systematic_sample(b, 7, "n_chars").collect()))
    assert ra == rb


def test_weighted_sample_rejects_negative_weight(spark):
    """Round-8 advisor fix: a negative weight makes the cumulative line
    non-monotone and silently corrupts every later selection in the
    stratum — it must raise, not mis-sample. Zero weights stay legal
    (never selected)."""
    import pytest

    from ark_invest_api_rust_data_spark.operators.sampling import (
        weighted_systematic_sample,
    )

    bad = spark.createDataFrame(
        [(1, "s", 5), (2, "s", -3), (3, "s", 9)],
        ["doc_id", "source", "n_chars"],
    )
    with pytest.raises(Exception, match="negative weight"):
        weighted_systematic_sample(bad, 2, "n_chars").collect()

    zero_ok = spark.createDataFrame(
        [(1, "s", 5), (2, "s", 0), (3, "s", 9)],
        ["doc_id", "source", "n_chars"],
    )
    ids = {
        r["doc_id"]
        for r in weighted_systematic_sample(zero_ok, 2, "n_chars").collect()
    }
    assert 2 not in ids  # zero-weight row can never be selected
    assert ids  # but sampling still works


def test_hashed_features_matches_python_reference(spark):
    """hashed_features equals a sequential reference fold (31-fold
    hash, bucket = h mod d, sign = (h div d) mod 2) on hand-built
    docs including collisions and repeated tokens; zero-token docs
    are omitted."""
    from ark_invest_api_rust_data_spark.operators.text import hashed_features

    docs = [(1, "spark spark hash"), (2, "the a the"), (3, "   ")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    d = 8
    got = {r["doc_id"]: list(r["features"]) for r in hashed_features(df, d=d).collect()}

    def h32(tok):
        h = 0
        for ch in tok:
            h = (h * 31 + ord(ch)) % 4294967296
        return h

    want = {}
    for doc_id, text in docs:
        toks = [t for t in text.split() if t]
        if not toks:
            continue
        vec = [0] * d
        for t in toks:
            h = h32(t)
            vec[h % d] += 1 if (h // d) % 2 == 1 else -1
        want[doc_id] = vec
    assert got == want
    assert 3 not in got


def test_dsir_weights_matches_python_reference(spark):
    """dsir_weights equals a sequential reference: hashed-unigram
    bucket counts for raw and target, integer fixed-point log2 ratio
    lambda = bitlen(((ct+1)<<shift) // (cr+1)) - 1 - shift, per-doc
    token-sum — including negative lambdas (bucket rarer in target)
    and the DIV-to-zero clamp. Edge rows pin the \\s tokenizer (tab,
    double space), the codepoint fold on non-ASCII tokens, and the
    omission of empty docs; frozen-λ batch scoring against a model
    trained on a subset scores never-seen buckets with the λ=0
    prior."""
    from ark_invest_api_rust_data_spark.operators.importance import (
        dsir_lambda,
        dsir_score_batch,
        dsir_select,
        dsir_weights,
    )

    docs = [
        (1, "good clean prose text", "en"),
        (2, "good text text noise", "en"),
        (3, "zz9 zz9 zz9 noise junk", "xx"),
        (4, "prose clean good", "xx"),
        (5, "   ", "xx"),
        (6, "alpha beta\tgamma  delta alpha", "en"),
        (7, "beta beta café résumé", "en"),
        (8, "", "xx"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    d, shift = 16, 20
    raw, target = df, df.filter("lang = 'en'")
    got = {
        r["doc_id"]: (r["n_tokens"], r["dsir_score"])
        for r in dsir_weights(raw, target, d=d, shift=shift).collect()
    }

    def h32(tok):
        h = 0
        for ch in tok:
            h = (h * 31 + ord(ch)) % 4294967296
        return h

    def model(rows):
        cr, ct = {}, {}
        for doc_id, text, lang in rows:
            for t in text.split():
                b = h32(t) % d
                cr[b] = cr.get(b, 0) + 1
                if lang == "en":
                    ct[b] = ct.get(b, 0) + 1
        return {
            b: max((ct.get(b, 0) + 1) * (1 << shift) // (cr[b] + 1), 1)
            .bit_length()
            - 1
            - shift
            for b in cr
        }

    def score(rows, lam):
        out = {}
        for doc_id, text, lang in rows:
            toks = [t for t in text.split() if t]
            if toks:
                out[doc_id] = (len(toks), sum(lam.get(h32(t) % d, 0) for t in toks))
        return out

    want = score(docs, model(docs))
    assert got == want
    assert 5 not in got and 8 not in got  # zero-token docs omitted
    # target-like docs outscore the junk doc
    assert got[1][1] > got[3][1]

    sel = dsir_select(dsir_weights(raw, target, d=d, shift=shift), budget=2)
    rows = sorted((r["sel_rank"], r["doc_id"]) for r in sel.collect())
    by_score = sorted(want.items(), key=lambda kv: (-kv[1][1], kv[0]))[:2]
    assert rows == [(i + 1, doc_id) for i, (doc_id, _) in enumerate(by_score)]

    # frozen model over docs 1-5: docs 6-7 carry buckets it never saw
    ref = [r for r in docs if r[0] <= 5]
    lam_ref = model(ref)
    assert any(h32(t) % d not in lam_ref for t in "alpha beta gamma delta café résumé".split())
    ref_df = df.filter("doc_id <= 5")
    lam = dsir_lambda(ref_df, ref_df.filter("lang = 'en'"), d=d, shift=shift)
    batch = {
        r["doc_id"]: (r["n_tokens"], r["dsir_score"])
        for r in dsir_score_batch(df, lam, d=d).collect()
    }
    assert batch == score(docs, lam_ref)


def test_mmr_rerank_prefers_diverse_over_duplicate(spark):
    """MMR rank 2 skips a near-duplicate of the first pick in favor
    of a more diverse, slightly-less-relevant candidate; pure
    relevance order would pick the duplicate."""
    from ark_invest_api_rust_data_spark.operators.similarity import mmr_rerank

    rows = [
        (0, [1.0, 0.0, 0.0]),           # query
        (10, [0.9, 0.4, 0.0]),          # relevant (rank-1 by id tie-break)
        (11, [0.9, 0.41, 0.0]),         # near-duplicate of 10 (sim ~ 1)
        (12, [0.9, -0.4, 0.0]),         # equally relevant, anti-correlated
        (13, [0.1, 0.0, 0.99]),         # diverse but barely relevant
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries, data = df.filter("vec_id = 0"), df.filter("vec_id >= 10")
    got = {
        r["mmr_rank"]: r["vec_id"]
        for r in mmr_rerank(data, queries, k=3, pool=4).collect()
    }
    assert got[1] == 10
    assert got[2] == 12  # not the near-duplicate 11: 7·rel ties, 3·sim decides
    assert got[3] == 11  # relevance reclaims rank 3 over the barely-relevant 13


def test_mmr_rerank_matches_sequential_reference(spark):
    """Random vectors: the distributed greedy equals a sequential
    reference that replays the exact fixed-point pipeline (mu-grid
    quantization, index-order integer dot, IEEE sqrt/divide, then
    floor(cos*1e9) and the 7/3 integer trade-off)."""
    import math
    import random

    from ark_invest_api_rust_data_spark.operators.similarity import (
        Q,
        SIM_Q,
        mmr_rerank,
    )

    rng = random.Random(3)
    n, dim, nq, k, pool = 40, 8, 3, 5, 9
    vecs = {
        i: [rng.uniform(-1, 1) for _ in range(dim)] for i in range(n)
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    queries = df.filter(f"vec_id < {nq}")
    data = df.filter(f"vec_id >= {nq}")
    got = sorted(
        (r["query_id"], r["mmr_rank"], r["vec_id"], r["mmr_score"])
        for r in mmr_rerank(data, queries, k=k, pool=pool).collect()
    )

    def qz(v):
        return [math.floor(x * float(Q)) for x in v]

    def cos(a, b):
        qa, qb = qz(a), qz(b)
        dot = 0
        for x, y in zip(qa, qb):
            dot += x * y
        na = 0
        for x in qa:
            na += x * x
        nb = 0
        for y in qb:
            nb += y * y
        return float(dot) / (math.sqrt(float(na)) * math.sqrt(float(nb)))

    want = []
    for qid in range(nq):
        scored = sorted(
            ((cos(vecs[qid], vecs[c]), c) for c in range(nq, n)),
            key=lambda t: (-t[0], t[1]),
        )[:pool]
        cand = {c: math.floor(s * SIM_Q) for s, c in scored}
        sel = []
        for rank in range(1, k + 1):
            best = None
            for c in cand:
                if c in [s for s, _ in sel]:
                    continue
                score = 7 * cand[c]
                if sel:
                    score -= 3 * max(
                        math.floor(cos(vecs[c], vecs[s]) * SIM_Q)
                        for s, _ in sel
                    )
                key = (-score, c)
                if best is None or key < best[0]:
                    best = (key, c, score)
            sel.append((best[1], best[2]))
            want.append((qid, rank, best[1], best[2]))
    assert got == sorted(want)


def test_dsir_select_threshold_percentile_rule(spark):
    """Threshold selection keeps exactly the rows at/above the
    percentile_disc cut, including ties, and matches Spark's builtin
    percentile_disc on the same scores."""
    from ark_invest_api_rust_data_spark.operators.importance import (
        dsir_select_threshold,
    )

    scores = [1, 2, 2, 3, 5, 5, 5, 8, 9, 10]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(scores)], "doc_id long, dsir_score long"
    )
    got = sorted(r["doc_id"] for r in dsir_select_threshold(df, 0.3).collect())
    import pyspark.sql.functions as F

    thr = df.select(
        F.expr(
            "percentile_disc(0.7) WITHIN GROUP (ORDER BY dsir_score)"
        ).alias("t")
    ).collect()[0]["t"]
    want = sorted(i for i, s in enumerate(scores) if s >= thr)
    assert got == want
    assert len(got) >= 3  # at least keep_frac * n


def test_pair_ngram_overlap_containment_vs_jaccard(spark):
    """A short doc fully embedded in a long one: low Jaccard but
    containment_a = 1.0 (Broder's resemblance-vs-containment split);
    metrics match a sequential set computation exactly."""
    from ark_invest_api_rust_data_spark.operators.contamination import (
        pair_ngram_overlap,
    )

    short = "alpha beta gamma delta"
    filler = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, short), (2, short + " " + filler)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    row = pair_ngram_overlap(docs, pairs, n=2).collect()[0]

    def grams(text, n=2):
        t = text.split()
        return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}

    ga, gb = grams(short), grams(short + " " + filler)
    inter, union = ga & gb, ga | gb
    assert (row["n_a"], row["n_b"]) == (len(ga), len(gb))
    assert (row["n_inter"], row["n_union"]) == (len(inter), len(union))
    assert row["containment_a"] == 1.0
    assert row["jaccard"] == len(inter) / len(union) < 0.1
    assert row["containment_b"] == len(inter) / len(gb)


def test_jl_project_matches_reference_and_preserves_geometry(spark):
    """jl_project equals a sequential replay of the literal sign
    matrix on the mu-grid; and across the real embeddings the
    projected cosine tracks the original cosine within the JL
    distortion band (rank-correlation sanity, not a tight bound)."""
    import math

    from ark_invest_api_rust_data_spark.operators.similarity import (
        Q,
        jl_project,
        jl_sign_matrix,
    )

    emb = load_table(spark, SF, "embeddings")
    rows = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    got = {
        r["vec_id"]: list(r["proj"])
        for r in jl_project(emb, in_dim=64, out_dim=16).collect()
    }
    mat = jl_sign_matrix(64, 16)
    for vid, v in list(rows.items())[:25]:
        qv = [math.floor(x * float(Q)) for x in v]
        want = [
            sum(s * qv[i] for i, s in enumerate(mat[j]) if s != 0)
            for j in range(16)
        ]
        assert got[vid] == want

    # geometry: planted clusters survive the projection — within-
    # cluster projected cosine stays far above cross-cluster (the JL
    # property that makes projected-space ANN recall work)
    import random

    rng = random.Random(11)
    centers = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(3)]
    vecs = []
    for ci, c in enumerate(centers):
        for m in range(5):
            vecs.append(
                (ci * 10 + m, [x + rng.uniform(-0.05, 0.05) for x in c])
            )
    vdf = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    pv = {
        r["vec_id"]: list(r["proj"])
        for r in jl_project(vdf, in_dim=64, out_dim=16).collect()
    }

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / math.sqrt(sum(x * x for x in a) * sum(y * y for y in b))

    within = [
        cos(pv[c * 10 + i], pv[c * 10 + j])
        for c in range(3)
        for i in range(5)
        for j in range(i + 1, 5)
    ]
    across = [
        cos(pv[0 * 10 + i], pv[2 * 10 + j]) for i in range(5) for j in range(5)
    ]
    assert min(within) > max(across)


def test_cluster_representatives_keep_best(spark):
    """Keep-best picks the (score DESC, id ASC) argmax per cluster —
    NOT the smallest id — with exact member counts; ties on score
    break to the smaller id."""
    from ark_invest_api_rust_data_spark.operators.dedup import (
        cluster_representatives,
    )

    clusters = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (7, 200), (8, 200)],
        "doc_id long, cluster_id long",
    )
    scores = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 99), (7, 5), (8, 5)],
        "doc_id long, n_chars long",
    )
    got = sorted(
        map(
            tuple,
            cluster_representatives(clusters, scores, "n_chars").collect(),
        )
    )
    # cluster 100: score tie 99 between 2 and 3 -> id 2; cluster 200:
    # tie 5 between 7 and 8 -> id 7
    assert got == [(100, 2, 99, 3), (200, 7, 5, 2)]


def test_audio_energy_fingerprint_properties():
    """Bit-level reference + robustness property: volume scaling
    never changes the fingerprint (delta SIGNS are scale-invariant);
    flipping one frame's energy ordering flips exactly the adjacent
    bits; window cap enforced."""
    import pytest

    from ark_invest_api_rust_data_spark.operators.multimodal import (
        audio_energy_fingerprint,
    )

    samples = [3, -1, 4, 1, -5, 9, 2, -6]  # 4 frames at frame=2
    n, fp = audio_energy_fingerprint(samples, frame=2)
    energies = [10, 17, 106, 40]
    want = sum(
        1 << (f - 1) for f in range(1, 4) if energies[f] > energies[f - 1]
    )
    assert (n, fp) == (4, want) == (4, 0b011)
    # volume x3: identical fingerprint
    assert audio_energy_fingerprint([s * 3 for s in samples], frame=2) == (4, fp)
    # quieten frame 2 below frame 1: bits 1 and 2 both flip while the
    # untouched frame-0/1 comparison (bit 0) survives
    quiet = samples[:4] + [1, 0] + samples[6:]
    assert audio_energy_fingerprint(quiet, frame=2)[1] == 0b101
    with pytest.raises(ValueError):
        audio_energy_fingerprint(list(range(200)), frame=1)


def test_dsir_score_batch_matches_full_and_handles_unseen(spark):
    """Frozen-lambda batch scoring is bit-identical to dsir_weights
    when the batch comes from the reference raw corpus; tokens
    hashing into buckets the reference never saw score the lambda=0
    prior instead of dropping rows."""
    from ark_invest_api_rust_data_spark.operators.importance import (
        dsir_lambda,
        dsir_score_batch,
        dsir_weights,
    )

    docs = [
        (1, "good clean prose text", "en"),
        (2, "good text text noise", "en"),
        (3, "zz9 zz9 noise junk", "xx"),
        (4, "prose clean good", "xx"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    d, shift = 64, 20
    target = df.filter("lang = 'en'")
    lam = dsir_lambda(df, target, d=d, shift=shift)
    got = {
        r["doc_id"]: (r["n_tokens"], r["dsir_score"])
        for r in dsir_score_batch(df, lam, d=d).collect()
    }
    want = {
        r["doc_id"]: (r["n_tokens"], r["dsir_score"])
        for r in dsir_weights(df, target, d=d, shift=shift).collect()
    }
    assert got == want

    # a batch with tokens never seen by the reference: rows survive
    # with the lambda=0 prior contribution for unseen buckets
    unseen = spark.createDataFrame(
        [(9, "qqqqz8 wwwwz7 good")], "doc_id long, text string"
    )
    row = dsir_score_batch(unseen, lam, d=d).collect()[0]
    assert row["n_tokens"] == 3
    assert row["dsir_score"] is not None


def test_pair_ngram_overlap_releases_shingle_storage(spark):
    """r8 advisor regression: repeated calls in a long-lived session
    must not accumulate block-manager storage for the shingled frame.
    After the operator returns, only the O(pairs) result checkpoint
    may remain — and Materializer.release frees that too."""
    from ark_invest_api_rust_data_spark.operators.contamination import (
        pair_ngram_overlap,
    )
    from ark_invest_api_rust_data_spark.operators.persistence import (
        Materializer,
    )

    jsc = spark.sparkContext._jsc.sc()
    base = jsc.getPersistentRDDs().size()
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    results = [pair_ngram_overlap(docs, pairs, n=2) for _ in range(3)]
    for r in results:
        assert r.count() == 1
    # the persisted shingle frame was unpersisted inside the operator;
    # at most the 3 tiny result checkpoints remain
    assert jsc.getPersistentRDDs().size() <= base + 3
    for r in results:
        Materializer(spark).release(r)
    assert jsc.getPersistentRDDs().size() <= base


def test_dsir_fused_scoring_plan_has_no_shuffle(spark):
    """Plan-shape regression for the fused DSIR tier: scoring is one
    narrow mapInPandas over the scan — no token explode, no join, no
    exchange of any kind (a doc's text lives in one row, so per-doc
    aggregation is partition-local)."""
    from ark_invest_api_rust_data_spark.operators.importance import (
        _score_fused,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e")], "doc_id long, text string"
    )
    out = _score_fused(docs, [(0, 1)], 64, "doc_id", "text", keep_missing=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_pq_encode_batch_plan_is_narrow(spark):
    """Frozen-codebook encode ships only a broadcast coordinate row —
    the batch side never shuffles (BroadcastNestedLoopJoin over one
    literal row; no ShuffleExchange)."""
    from ark_invest_api_rust_data_spark.catalog import load_table
    from ark_invest_api_rust_data_spark.operators.pq import (
        pq_encode_batch,
        pq_train,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    model = pq_train(emb.limit(100), m=4, k=8, iters=1)
    out = pq_encode_batch(model, emb)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ShuffleExchange" not in plan.replace(
        "BroadcastExchange", ""
    ) and "Exchange hashpartitioning" not in plan


def test_minhash_dedup_keep_first_equals_greedy_pairs(spark):
    """On clean (no over-full bucket) data the skew-guarded keep-first
    dedup must equal the greedy rule derived from the exact LSH pair
    set: dropped iff a lower-id verified near-dup neighbor exists."""
    from ark_invest_api_rust_data_spark.operators.dedup import (
        minhash_dedup_keep_first,
    )

    docs = load_table(spark, SF, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.5).collect()
    expected_dropped = {r["doc_b"] for r in pairs}
    out = {r["doc_id"]: r["kept"] for r in minhash_dedup_keep_first(docs).collect()}
    assert len(out) == docs.count()
    assert {d for d, k in out.items() if not k} == expected_dropped
    assert len(expected_dropped) > 0  # planted near-dups exist


def test_minhash_dedup_mega_bucket_guard_bounds_candidates(spark):
    """r9 judge item 4 — the viral-boilerplate chaos test: plant a
    10 000-copy document into sf0.1. Unguarded, each of its 8 band
    buckets would emit ~10k²/2 candidate pairs (4·10⁸ total). The
    guard must (a) keep the candidate stream O(n·cap), (b) keep
    exactly the min-id copy via the tier-1 identical-shingle fast
    path with zero pairwise work for the clones, (c) leave the
    non-planted docs' verdicts unchanged."""
    import pyspark.sql.functions as F

    from ark_invest_api_rust_data_spark.operators.dedup import (
        _band_explode,
        _signature_frame,
        _skew_guarded_candidates,
        minhash_dedup_keep_first,
    )

    docs = load_table(spark, "/root/testdata/sf0.1", "documents").select(
        "doc_id", "text"
    )
    viral_src = docs.orderBy("doc_id").limit(1)
    viral_id = viral_src.collect()[0]["doc_id"]
    clones = (
        spark.range(10_000)
        .crossJoin(viral_src.select(F.col("text").alias("_t")))
        .select((F.col("id") + 10_000_000).alias("doc_id"), F.col("_t").alias("text"))
    )
    df = docs.unionByName(clones)
    cap = 1024

    base = _signature_frame(df, "doc_id", "text", 3, 16).persist()
    try:
        bands = _band_explode(base, 16, 2)
        cand, fast_drops, skipped = _skew_guarded_candidates(
            base, bands, cap, 0.5
        )
        n_cand = cand.count()
        n_fast = fast_drops.count()
        n_skipped = skipped.count()
    finally:
        base.unpersist()
    # (a) bounded: far below the unguarded 4e8; generous O(n·cap) slack
    assert n_cand < 50_000, f"candidate stream not bounded: {n_cand}"
    # (b) the 10k clones all collapsed without pairwise work
    assert n_fast >= 10_000
    # tier 1+2 collapse the viral bucket entirely — no silent residue
    assert n_skipped == 0

    out = {
        r["doc_id"]: r["kept"]
        for r in minhash_dedup_keep_first(df, bucket_cap=cap).collect()
    }
    assert len(out) == df.count()
    assert out[viral_id] is True  # min-id copy survives
    assert all(
        out[i + 10_000_000] is False for i in range(10_000)
    )  # every clone dropped
    # (c) non-planted verdicts match the clean-corpus greedy baseline
    baseline = {
        r["doc_id"]: r["kept"]
        for r in minhash_dedup_keep_first(docs, bucket_cap=cap).collect()
    }
    mismatches = {
        d for d in baseline if out[d] != baseline[d] and d != viral_id
    }
    assert not mismatches, f"skew changed unrelated verdicts: {sorted(mismatches)[:5]}"


def test_skew_guard_tier2_verifies_signature_collisions(spark):
    """r10 judge item 1 — tier-2 drops must be VERIFIED: a member that
    shares the full 16-hash signature with its bucket canonical but has
    LOW true Jaccard (an engineered collision; P = s^16 makes a natural
    text-level one unconstructible, so the collision is planted at the
    signature-frame level — the exact frame `_skew_guarded_candidates`
    consumes) must NOT be fast-dropped: it re-enters the pairwise path
    as its own representative. A genuinely-near-dup tier-2 member (same
    signature, jc ≥ threshold) must still be dropped, and the residual
    skipped frame stays empty."""
    from ark_invest_api_rust_data_spark.operators.dedup import (
        _band_explode,
        _skew_guarded_candidates,
    )

    c1 = list(range(1, 17))
    c2 = list(range(101, 117))
    clones = [(i, [100, 101, 102], c1) for i in range(6)]  # tier-1 family
    adversary = [(10, [900, 901, 902], c1)]  # same sig, jc=0 vs canon
    # second bucket: canon 20, true near-dup 21 (jc=10/12), disjoint 22
    near = [
        (20, list(range(200, 211)), c2),
        (21, list(range(200, 210)) + [300], c2),
        (22, list(range(400, 411)), c2),
    ]
    base = spark.createDataFrame(
        clones + adversary + near,
        "_id long, _sh array<long>, _sig array<long>",
    )
    bands = _band_explode(base, 16, 2)
    cand, fast_drops, skipped = _skew_guarded_candidates(base, bands, 2, 0.5)
    dropped = {r["doc_id"] for r in fast_drops.collect()}
    pairs = {(r["doc_a"], r["doc_b"]) for r in cand.collect()}

    # tier-1 clones collapse to min-id 0; true near-dup 21 verified-drops
    assert dropped == {1, 2, 3, 4, 5, 21}
    # the engineered collision is NOT dropped — it re-enters pairwise
    assert 10 not in dropped and 22 not in dropped
    assert (0, 10) in pairs and (20, 22) in pairs
    # downstream pairwise verify rejects both (jc=0 < threshold) — here
    # we only assert the guard itself made no unverified drop decision
    assert skipped.count() == 0


def test_incremental_collapse_exact_preserves_drop_set(spark):
    """The streaming mega-bucket guard (collapse_exact=True): on a
    batch with planted byte-identical clones the ingest consumer's
    DROP SET must equal the unguarded run's, while the band machinery
    sees only the min-id representatives (candidate rows bounded
    linear in clones, not quadratic)."""
    from ark_invest_api_rust_data_spark.operators.dedup import (
        incremental_near_dup_pairs,
    )

    docs = load_table(spark, SF, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch_base = docs.filter(F.col("doc_id") % 5 == 0)
    # plant 50 byte-identical clones of one batch doc
    src = batch_base.orderBy("doc_id").limit(1)
    clones = (
        spark.range(50)
        .crossJoin(src.select(F.col("text").alias("_t")))
        .select(
            (F.col("id") + 900_000).alias("doc_id"),
            F.col("_t").alias("text"),
        )
    )
    batch = batch_base.select("doc_id", "text").unionByName(clones)

    def drop_set(collapse):
        pairs = incremental_near_dup_pairs(
            corpus, batch, threshold=0.5, collapse_exact=collapse
        )
        b_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
        drops = set()
        for r in pairs.collect():
            a, b = r["doc_a"], r["doc_b"]
            if b in b_ids:
                drops.add(b)
            elif a in b_ids:
                drops.add(a)
        return drops

    unguarded = drop_set(False)
    guarded = drop_set(True)
    assert guarded == unguarded
    # all 50 clones dropped; the pair stream carrying them is linear
    assert all((i + 900_000) in guarded for i in range(50))
    pairs_g = incremental_near_dup_pairs(
        corpus, batch, threshold=0.5, collapse_exact=True
    ).count()
    pairs_u = incremental_near_dup_pairs(
        corpus, batch, threshold=0.5, collapse_exact=False
    ).count()
    assert pairs_g < pairs_u  # clone-clone quadratic pairs gone


def test_segment_dedup_matches_sequential_reference(spark):
    """segment_dedup == a pure-Python keep-first replay over the same
    window segmentation, on the real corpus (drops exist: planted
    near-dup docs share aligned window prefixes)."""
    from ark_invest_api_rust_data_spark.operators.dedup import segment_dedup

    W = 16
    docs = load_table(spark, SF, "documents")
    got = {r["doc_id"]: r for r in segment_dedup(docs, window=W).collect()}

    seen: set[str] = set()
    want: dict[int, tuple[int, int, str]] = {}
    for r in sorted(docs.collect(), key=lambda r: r["doc_id"]):
        toks = r["text"].strip().split()
        nseg = max(1, -(-len(toks) // W))
        kept, dropped = [], 0
        for i in range(nseg):
            seg = " ".join(toks[i * W : (i + 1) * W])
            if seg in seen:
                dropped += 1
            else:
                seen.add(seg)
                kept.append(seg)
        want[r["doc_id"]] = (nseg, dropped, " ".join(kept))

    assert set(got) == set(want)
    for d, (nseg, dropped, text) in want.items():
        assert got[d]["n_segments"] == nseg, d
        assert got[d]["n_dropped"] == dropped, d
        assert got[d]["kept_text"] == text, d
    assert any(v[1] > 0 for v in want.values())  # drops actually occur


def test_segment_dedup_delimiter_mode(spark):
    """The true CCNet granularity: split on a literal separator, drop
    later copies of a repeated line corpus-wide, keep document order,
    skip empty segments."""
    from ark_invest_api_rust_data_spark.operators.dedup import segment_dedup

    df = spark.createDataFrame(
        [
            (1, "keep me\nBOILERPLATE LINE\nunique tail"),
            (2, "BOILERPLATE LINE\nother content"),
            (3, "\n\nBOILERPLATE LINE\n"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in segment_dedup(df, delimiter="\n").collect()}
    assert got[1]["kept_text"] == "keep me BOILERPLATE LINE unique tail"
    assert got[1]["n_dropped"] == 0
    assert got[2]["kept_text"] == "other content"
    assert got[2]["n_dropped"] == 1
    assert got[3]["kept_text"] == "" and got[3]["n_segments"] == 1
    assert got[3]["n_dropped"] == 1  # empty segments skipped, line deduped


def test_minhash_signature_arrow_tier_equals_expression_tier(spark):
    """The vectorized signature tier (above _SIG_ARROW_BOUND = 16
    hashes, one ArrowEvalPython over the hashed-shingle array) is a perf
    shape, not a semantic change: (_id, _sh, _sig) must be
    bit-identical to the interpreted pmod + 16×array_min(transform)
    fold it replaces — including NULL text and sub-n-token documents
    whose empty shingle sets must yield [NULL]×num_hashes (exercised
    at the UDF level below — the frame builder can't produce them:
    NULL text collapses to the single empty-string gram via
    concat_ws's null-skipping, identically in both tiers).

    Edge rows respect word_shingles' documented precondition (≥ n
    tokens or NULL — ANSI element_at raises on shorter docs in BOTH
    tiers, by design): NULL text exercises the null-token path, the
    padded row exercises whitespace splitting."""
    from ark_invest_api_rust_data_spark.operators import dedup as D

    docs = load_table(spark, SF, "documents")
    edge = spark.createDataFrame(
        [
            (900001, None),
            (900004, "  padded   whitespace\ttokens here  "),
        ],
        docs.select("doc_id", "text").schema,
    )
    both = docs.select("doc_id", "text").unionByName(edge)

    def run():
        rows = D._signature_frame(both, "doc_id", "text", 3, 16).collect()
        return {
            r["_id"]: (tuple(r["_sh"] or []), tuple(r["_sig"]))
            for r in rows
        }

    # r12: the shipped default is the EXPRESSION tier at 16 hashes
    # (cold-session evidence, OPTIMIZATION_r12.md item 1); force each
    # tier explicitly so the equality pin is default-independent
    saved = D._SIG_ARROW_BOUND
    try:
        D._SIG_ARROW_BOUND = 0  # force the Arrow/NumPy tier
        got_arrow = run()
        D._SIG_ARROW_BOUND = 1 << 30  # force the expression fold tier
        got_expr = run()
    finally:
        D._SIG_ARROW_BOUND = saved
    assert got_arrow == got_expr
    assert 900001 in got_arrow and 900004 in got_arrow

    # NULL/empty shingle arrays (illegal via the frame builder, legal
    # for direct callers): the UDF must yield [NULL]×num_hashes like
    # array_min(transform(...)) over NULL/empty input
    direct = spark.createDataFrame(
        [(1, None), (2, []), (3, [12345, 67890])],
        "id long, _sh array<long>",
    ).withColumn("_sig", D._minhash_sig_udf(16)(F.col("_sh")))
    got = {r["id"]: tuple(r["_sig"]) for r in direct.collect()}
    assert got[1] == (None,) * 16 and got[2] == (None,) * 16
    consts = D.minhash_constants(16)
    want3 = tuple(
        min((a * (h % D.MINHASH_MOD) + b) % D.MINHASH_MOD
            for h in (12345, 67890))
        for a, b in consts
    )
    assert got[3] == want3
