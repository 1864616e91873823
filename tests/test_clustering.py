"""Operator-level tests for round-3 corpus-prep additions: sliding-
window chunking, unigram-LM scoring, exact distributed k-means, and
SemDeDup semantic dedup (SURVEY §2 B29–B31 extensions). The
hash-exact halves are covered by the DuckDB oracles; these tests pin
the SEMANTIC contracts the oracles can't see (coverage/reconstruction,
float log-prob math, partitioning-invariance, brute-force dedup
equivalence)."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from ark_invest_api_rust_data_spark.catalog import load_table
from ark_invest_api_rust_data_spark.operators.chunking import chunk_documents
from ark_invest_api_rust_data_spark.operators.clustering import (
    kmeans_assign,
    semantic_dedup,
)
from ark_invest_api_rust_data_spark.operators.text import unigram_lm_score

SF = "/root/testdata/sf0.001"


# ------------------------------------------------------------- chunking
def test_chunk_covers_every_token_and_reconstructs(spark):
    """Chunk-count contract: m = 1 + ceil(max(n-W,0)/S); stitching
    chunk 0 plus the tail W-S.. of each later chunk reproduces the
    document token stream exactly (no token lost or duplicated)."""
    W, S = 32, 24
    docs = load_table(spark, SF, "documents")
    chunks = chunk_documents(docs, window=W, stride=S).collect()
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(texts)
    for doc_id, rows in by_doc.items():
        toks = texts[doc_id].strip().split()
        n = len(toks)
        rows.sort(key=lambda r: r["chunk_id"])
        assert len(rows) == 1 + (max(n - W, 0) + S - 1) // S
        rebuilt = rows[0]["chunk_text"].split()
        for r in rows[1:]:
            rebuilt += r["chunk_text"].split()[W - S :]
        assert rebuilt == toks
        for r in rows:
            assert r["chunk_tokens"] == len(r["chunk_text"].split())
            assert r["chunk_tokens"] <= W


def test_chunk_short_doc_single_chunk(spark):
    df = spark.createDataFrame([(1, "only three tokens")], "doc_id long, text string")
    rows = chunk_documents(df, window=32, stride=24).collect()
    assert len(rows) == 1
    assert rows[0]["chunk_text"] == "only three tokens"
    assert rows[0]["chunk_tokens"] == 3


def test_chunk_rejects_bad_params(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(df, window=8, stride=9)  # stride > window drops tokens
    with pytest.raises(ValueError):
        chunk_documents(df, window=0, stride=1)


# ------------------------------------------------------- unigram LM
def test_unigram_lm_avg_logprob_matches_python(spark):
    """avg_logprob (the float-summed half the oracle can't hash) vs an
    independent Python unigram LM over the same corpus."""
    docs = load_table(spark, SF, "documents")
    got = {r["doc_id"]: r for r in unigram_lm_score(docs).collect()}
    texts = {r["doc_id"]: r["text"].strip().split() for r in docs.collect()}
    counts: dict[str, int] = {}
    for toks in texts.values():
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
    total = sum(counts.values())
    for doc_id, toks in texts.items():
        want = sum(math.log(counts[t] / total) for t in toks) / len(toks)
        assert got[doc_id]["avg_logprob"] == pytest.approx(want, rel=1e-12)
        assert got[doc_id]["n_tokens"] == len(toks)
        assert got[doc_id]["min_token_df"] == min(counts[t] for t in toks)
    # perplexity sanity: exp(-avg_logprob) ≥ 1 everywhere
    assert all(math.exp(-r["avg_logprob"]) >= 1.0 for r in got.values())


# ---------------------------------------------------------- k-means
def test_kmeans_partitioning_invariant(spark):
    """The determinism claim that makes the oracle valid: int64 sums
    are order-independent, so the assignment must be IDENTICAL under
    any input partitioning."""
    emb = load_table(spark, SF, "embeddings")
    a = {(r["vec_id"], r["cluster"]) for r in kmeans_assign(emb, k=4, iters=2).collect()}
    b = {
        (r["vec_id"], r["cluster"])
        for r in kmeans_assign(emb.repartition(17, "label"), k=4, iters=2).collect()
    }
    assert a == b
    assert {c for _, c in a} == set(range(4))  # all clusters populated


def test_kmeans_iterations_reduce_inertia(spark):
    """Lloyd's must not increase total within-cluster variance when it
    runs longer (verified on the quantized grid with a Python reference
    recomputation of inertia from the returned assignments)."""
    emb = load_table(spark, SF, "embeddings")
    vecs = {
        r["vec_id"]: [math.floor(float(x) * 1_000_000) for x in r["embedding"]]
        for r in emb.collect()
    }

    def inertia(assign: dict[int, int]) -> float:
        groups: dict[int, list] = {}
        for vid, cid in assign.items():
            groups.setdefault(cid, []).append(vecs[vid])
        tot = 0.0
        for members in groups.values():
            dim = len(members[0])
            cent = [sum(m[i] for m in members) / len(members) for i in range(dim)]
            tot += sum(sum((m[i] - cent[i]) ** 2 for i in range(dim)) for m in members)
        return tot

    a1 = {r["vec_id"]: r["cluster"] for r in kmeans_assign(emb, k=4, iters=1).collect()}
    a3 = {r["vec_id"]: r["cluster"] for r in kmeans_assign(emb, k=4, iters=3).collect()}
    assert inertia(a3) <= inertia(a1)


def test_kmeans_rejects_bad_iters(spark):
    emb = load_table(spark, SF, "embeddings")
    with pytest.raises(ValueError):
        kmeans_assign(emb, k=4, iters=0)


# ------------------------------------------------------ semantic dedup
def test_semantic_dedup_matches_bruteforce(spark):
    """keep/drop decisions == a Python brute force over the SAME
    clustering: drop x iff some same-cluster y<x has cosine ≥ τ."""
    emb = load_table(spark, SF, "embeddings")
    out = semantic_dedup(emb, k=8, iters=3, threshold=0.45).collect()
    assign = {r["vec_id"]: r["cluster"] for r in out}
    kept = {r["vec_id"]: r["kept"] for r in out}
    vecs = {
        r["vec_id"]: [math.floor(float(x) * 1_000_000) for x in r["embedding"]]
        for r in emb.collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(float(sum(x * x for x in a)))
        nb = math.sqrt(float(sum(y * y for y in b)))
        return float(d) / (na * nb)

    for x in vecs:
        want_drop = any(
            assign[y] == assign[x] and cos(vecs[x], vecs[y]) >= 0.45
            for y in vecs
            if y < x
        )
        assert kept[x] == (not want_drop), f"vec {x}"
    assert not all(kept.values())  # planted near-dups actually dropped


def test_semantic_dedup_external_assignments(spark):
    """assignments= reuses a caller clustering (here: the label column
    itself) instead of re-running k-means; τ→1.01 keeps everything."""
    emb = load_table(spark, SF, "embeddings")
    ext = emb.select("vec_id", F.col("label").alias("cluster"))
    out = semantic_dedup(emb, threshold=1.01, assignments=ext).collect()
    assert all(r["kept"] for r in out)
    assert {r["cluster"] for r in out} == {r["label"] for r in emb.collect()}


# ---------------------------------------- semantic dedup, scaled k
def test_semantic_dedup_scaled_matches_bruteforce(spark):
    """The production path (corpus-derived k) keeps the same keep/drop
    contract: drop x iff some same-cluster y<x has cosine ≥ τ —
    verified brute-force over the scaled clustering."""
    from ark_invest_api_rust_data_spark.operators.clustering import (
        scaled_k,
        semantic_dedup_scaled,
    )

    emb = load_table(spark, SF, "embeddings")
    n = emb.count()
    out = semantic_dedup_scaled(emb, target_cluster_size=32, iters=2).collect()
    assign = {r["vec_id"]: r["cluster"] for r in out}
    kept = {r["vec_id"]: r["kept"] for r in out}
    assert len(set(assign.values())) <= scaled_k(n, 32)
    vecs = {
        r["vec_id"]: [math.floor(float(x) * 1_000_000) for x in r["embedding"]]
        for r in emb.collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(float(sum(x * x for x in a)))
        nb = math.sqrt(float(sum(y * y for y in b)))
        return float(d) / (na * nb)

    for x in vecs:
        want_drop = any(
            assign[y] == assign[x] and cos(vecs[x], vecs[y]) >= 0.45
            for y in vecs
            if y < x
        )
        assert kept[x] == (not want_drop), f"vec {x}"
    assert not all(kept.values())  # planted near-dups actually dropped


def _synthetic_emb(spark, n, dim=8):
    """Deterministic spread-out vectors (no RNG state): coordinates
    from an integer LCG mapped to [-1, 1]."""
    rows = []
    for i in range(n):
        v = []
        x = i * 2654435761 % (2**32)
        for _ in range(dim):
            x = (1103515245 * x + 12345) % (2**31)
            v.append((x / float(2**30)) - 1.0)
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_semantic_dedup_scaled_pair_count_linear(spark):
    """THE scale claim behind the production path: with k = ceil(n/32)
    the within-cluster candidate-pair count grows LINEARLY in n (≈
    n·target/2), not quadratically. 4× the corpus must yield ≲4× the
    pairs (generous 2× slack for cluster-balance wobble; quadratic
    growth would be 16×)."""
    from ark_invest_api_rust_data_spark.operators.clustering import (
        kmeans_assign,
        scaled_k,
    )

    def candidate_pairs(n):
        emb = _synthetic_emb(spark, n)
        assign = kmeans_assign(emb, k=scaled_k(n, 32), iters=2)
        sizes = [r["c"] for r in assign.groupBy("cluster").agg(
            F.count("*").alias("c")).collect()]
        return sum(s * (s - 1) // 2 for s in sizes), max(sizes)

    p1, m1 = candidate_pairs(256)
    p4, m4 = candidate_pairs(1024)
    assert p4 <= 8 * p1, f"pair growth {p4}/{p1} is super-linear"
    # cluster sizes stay bounded as n grows (the paper's k≈n/target)
    assert m4 <= 8 * 32, f"max cluster size {m4} unbounded"


def test_semantic_dedup_scaled_reuses_ivf_assignments(spark):
    """VERDICT r3 #1: the assignments= hook reuses IVF centroids (the
    warehouse-scale clustering that already exists for search) — the
    keep/drop decisions must match brute force over the IVF clusters."""
    from ark_invest_api_rust_data_spark.operators.clustering import (
        semantic_dedup_scaled,
    )
    from ark_invest_api_rust_data_spark.operators.similarity import IvfIndex

    emb = load_table(spark, SF, "embeddings")
    idx = IvfIndex.build(emb, n_centroids=16, sample=512, iters=5)
    ivf_assign = idx.assigned.select("vec_id", "cluster")
    out = semantic_dedup_scaled(emb, assignments=ivf_assign, threshold=0.45).collect()
    assign = {r["vec_id"]: r["cluster"] for r in out}
    kept = {r["vec_id"]: r["kept"] for r in out}
    want_assign = {r["vec_id"]: r["cluster"] for r in ivf_assign.collect()}
    assert assign == want_assign  # clustering passed through untouched
    vecs = {
        r["vec_id"]: [math.floor(float(x) * 1_000_000) for x in r["embedding"]]
        for r in emb.collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(float(sum(x * x for x in a)))
        nb = math.sqrt(float(sum(y * y for y in b)))
        return float(d) / (na * nb)

    for x in vecs:
        want_drop = any(
            assign[y] == assign[x] and cos(vecs[x], vecs[y]) >= 0.45
            for y in vecs
            if y < x
        )
        assert kept[x] == (not want_drop), f"vec {x}"


def test_semantic_dedup_nprobe_matches_bruteforce_and_improves_recall(spark):
    """nprobe=2 contract: drop x iff some y<x shares ANY of the two
    docs' top-2 clusters with cosine ≥ τ — and the widened pair set
    must recover at least as many globally-droppable docs as hard
    assignment (the recall dial's whole point), at precision 1.0."""
    from ark_invest_api_rust_data_spark.operators.clustering import (
        kmeans_assign,
        scaled_k,
        semantic_dedup_scaled,
    )

    emb = load_table(spark, SF, "embeddings")
    n = emb.count()
    k = scaled_k(n, 32)
    soft = kmeans_assign(emb, k=k, iters=2, nprobe=2).collect()
    clusters: dict[int, set] = {}
    primary: dict[int, int] = {}
    for r in soft:
        clusters.setdefault(r["vec_id"], set()).add(r["cluster"])
        if r["probe_rank"] == 1:
            primary[r["vec_id"]] = r["cluster"]
    assert all(len(cs) == 2 for cs in clusters.values())

    out = semantic_dedup_scaled(emb, target_cluster_size=32, iters=2, nprobe=2).collect()
    assert len(out) == n  # one row per id despite the soft assignment
    kept = {r["vec_id"]: r["kept"] for r in out}
    assert {r["vec_id"]: r["cluster"] for r in out} == primary

    vecs = {
        r["vec_id"]: [math.floor(float(x) * 1_000_000) for x in r["embedding"]]
        for r in emb.collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(float(sum(x * x for x in a)))
        nb = math.sqrt(float(sum(y * y for y in b)))
        return float(d) / (na * nb)

    for x in vecs:
        want_drop = any(
            (clusters[x] & clusters[y]) and cos(vecs[x], vecs[y]) >= 0.45
            for y in vecs
            if y < x
        )
        assert kept[x] == (not want_drop), f"vec {x}"

    # recall vs the hard assignment: a superset of pairs can only drop
    # a superset of docs; precision stays 1.0 (cosine is exact)
    hard = semantic_dedup_scaled(emb, target_cluster_size=32, iters=2).collect()
    hard_dropped = {r["vec_id"] for r in hard if not r["kept"]}
    soft_dropped = {r["vec_id"] for r in out if not r["kept"]}
    assert hard_dropped <= soft_dropped
    gt_dropped = {
        x for x in vecs
        if any(cos(vecs[x], vecs[y]) >= 0.45 for y in vecs if y < x)
    }
    assert soft_dropped <= gt_dropped  # precision 1.0


def test_kmeans_nprobe_validation(spark):
    from ark_invest_api_rust_data_spark.operators.clustering import (
        semantic_dedup_scaled,
    )

    emb = load_table(spark, SF, "embeddings")
    with pytest.raises(ValueError):
        kmeans_assign(emb, k=4, iters=1, nprobe=0)
    ext = emb.select("vec_id", F.col("label").alias("cluster"))
    with pytest.raises(ValueError):
        semantic_dedup_scaled(emb, assignments=ext, nprobe=2)


def test_semantic_dedup_soft_ivf_assignments(spark):
    """The production recall-dial combo: IVF centroids reused as SOFT
    (top-2) assignments through the assignments= hook — keep/drop must
    match brute force over the multi-probe candidate rule (a pair
    compares iff one side's probe list contains the other's PRIMARY
    cell), the emitted cluster must be each doc's primary (rank-1) IVF
    cluster, and the soft pair set must drop a superset of the
    hard-IVF drops."""
    from ark_invest_api_rust_data_spark.operators.clustering import semantic_dedup
    from ark_invest_api_rust_data_spark.operators.similarity import IvfIndex

    emb = load_table(spark, SF, "embeddings")
    idx = IvfIndex.build(emb, n_centroids=16, sample=512, iters=5)
    soft = idx.assign_topm(emb, m=2)
    rows = soft.collect()
    clusters: dict[int, set] = {}
    primary: dict[int, int] = {}
    for r in rows:
        clusters.setdefault(r["vec_id"], set()).add(r["cluster"])
        if r["probe_rank"] == 1:
            primary[r["vec_id"]] = r["cluster"]
    # rank-1 equals the index's own hard assignment
    hard_assign = {
        r["vec_id"]: r["cluster"]
        for r in idx.assigned.select("vec_id", "cluster").collect()
    }
    assert primary == hard_assign

    out = semantic_dedup(emb, assignments=soft, threshold=0.45).collect()
    assert {r["vec_id"]: r["cluster"] for r in out} == primary
    kept = {r["vec_id"]: r["kept"] for r in out}
    vecs = {
        r["vec_id"]: [math.floor(float(x) * 1_000_000) for x in r["embedding"]]
        for r in emb.collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(float(sum(x * x for x in a)))
        nb = math.sqrt(float(sum(y * y for y in b)))
        return float(d) / (na * nb)

    for x in vecs:
        want_drop = any(
            (primary[y] in clusters[x] or primary[x] in clusters[y])
            and cos(vecs[x], vecs[y]) >= 0.45
            for y in vecs
            if y < x
        )
        assert kept[x] == (not want_drop), f"vec {x}"

    hard_out = semantic_dedup(
        emb, assignments=idx.assigned.select("vec_id", "cluster"), threshold=0.45
    ).collect()
    hard_dropped = {r["vec_id"] for r in hard_out if not r["kept"]}
    assert hard_dropped <= {r["vec_id"] for r in out if not r["kept"]}


def test_ivf_build_exact_matches_lloyds_and_keeps_index_surface(spark):
    """VERDICT r4 #6: build_exact's assignments are bit-identical to
    the exact distributed Lloyd's (that equivalence is what lets the
    llm_semantic_dedup_ivf probe reuse the scaled-k SQL oracle), and
    the resulting object still serves the IVF query path (exact top-k
    at nprobe=k, like llm_similarity_ivf pins for the sampled build)."""
    import pyspark.sql.functions as F

    from ark_invest_api_rust_data_spark.catalog import load_table
    from ark_invest_api_rust_data_spark.operators.clustering import kmeans_assign
    from ark_invest_api_rust_data_spark.operators.similarity import (
        IvfIndex,
        cosine_topk,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = IvfIndex.build_exact(emb, n_centroids=8, iters=2)
    got = {
        r["vec_id"]: r["cluster"]
        for r in idx.assigned.select("vec_id", "cluster").collect()
    }
    want = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(emb, k=8, iters=2).collect()
    }
    assert got == want
    assert len(idx.centroids) == 8

    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    rest = emb.filter(F.col("vec_id") != 0)
    idx2 = IvfIndex.build_exact(rest, n_centroids=8, iters=2)
    got_top = [
        (r["vec_id"], r["cosine"])
        for r in idx2.query(list(q), k=5, nprobe=8)
        .orderBy(F.desc("cosine"), "vec_id")
        .collect()
    ]
    want_top = [
        (r["vec_id"], r["cosine"])
        for r in cosine_topk(rest, list(q), 5)
        .orderBy(F.desc("cosine"), "vec_id")
        .collect()
    ]
    assert got_top == want_top


def test_semantic_dedup_soft_skips_mutual_secondary_pairs(spark):
    """Multi-probe candidate rule: a pair meeting ONLY through both
    docs' secondary cells is not compared. Construct it directly with
    an external assignments frame."""
    from ark_invest_api_rust_data_spark.operators.clustering import semantic_dedup

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.001])],
        "vec_id long, embedding array<double>",
    )
    # identical-direction vectors (cosine ≈ 1) that share ONLY cell 9,
    # secondary for both → must both be kept
    asg = spark.createDataFrame(
        [(1, 5, 1), (1, 9, 2), (2, 7, 1), (2, 9, 2)],
        "vec_id long, cluster int, probe_rank int",
    )
    out = {r["vec_id"]: r["kept"] for r in semantic_dedup(
        emb, threshold=0.45, assignments=asg).collect()}
    assert out == {1: True, 2: True}
    # flip doc 2's ranks: now cell 9 is doc 2's PRIMARY → doc 2 meets
    # doc 1's probe there and the higher id is dropped
    asg2 = spark.createDataFrame(
        [(1, 5, 1), (1, 9, 2), (2, 9, 1), (2, 7, 2)],
        "vec_id long, cluster int, probe_rank int",
    )
    out2 = {r["vec_id"]: r["kept"] for r in semantic_dedup(
        emb, threshold=0.45, assignments=asg2).collect()}
    assert out2 == {1: True, 2: False}


def test_cluster_diversity_matches_bruteforce_pairs(spark):
    """The sum-identity diversity (|Σq|² − Σ|q|², decimal folds) must
    equal the brute-force Σ over ordered pairs of q_a·q_b computed by
    a quadratic self-join — and singleton clusters report NULL mean."""
    from ark_invest_api_rust_data_spark.operators.clustering import (
        cluster_diversity,
        kmeans_assign,
    )

    emb = load_table(spark, SF, "embeddings")
    asg = kmeans_assign(emb, k=4, iters=2)
    out = {
        r["cluster"]: (r["n"], int(r["pair_dot2"]), r["mean_pair_dot"])
        for r in cluster_diversity(emb, assignments=asg).collect()
    }

    # brute force on the same quantized grid
    import math

    rows = emb.join(asg, "vec_id").collect()
    by_c: dict[int, list[list[int]]] = {}
    for r in rows:
        q = [math.floor(float(x) * 1_000_000) for x in r["embedding"]]
        by_c.setdefault(r["cluster"], []).append(q)
    for c, vecs in by_c.items():
        n = len(vecs)
        want = 0
        for i in range(n):
            for j in range(n):
                if i != j:
                    want += sum(a * b for a, b in zip(vecs[i], vecs[j]))
        got_n, got_pair2, got_mean = out[c]
        assert got_n == n and got_pair2 == want
        if n > 1:
            assert got_mean == want / (n * (n - 1))
        else:
            assert got_mean is None
    assert set(out) == set(by_c)


def test_cluster_diversity_singleton_null_mean(spark):
    """A 1-member cluster must emit pair_dot2 = 0 and NULL mean (no
    0/0)."""
    from ark_invest_api_rust_data_spark.operators.clustering import (
        cluster_diversity,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.5, 0.5]), (3, [0.5, 0.5])],
        "vec_id long, embedding array<float>",
    )
    asg = spark.createDataFrame(
        [(1, 0), (2, 1), (3, 1)], "vec_id long, cluster int"
    )
    got = {r["cluster"]: r for r in cluster_diversity(df, assignments=asg).collect()}
    assert got[0]["n"] == 1 and int(got[0]["pair_dot2"]) == 0
    assert got[0]["mean_pair_dot"] is None
    assert got[1]["n"] == 2 and got[1]["mean_pair_dot"] is not None


def test_assign_to_centroids_frozen_reproduces_final_pass(spark):
    """The incremental-ingest half of the IVF lifecycle: assigning the
    TRAINING set against the frozen centroid dict must reproduce
    kmeans_fit's own final assignment row-for-row (same grid-space
    distances, same tie-breaks); soft assignment keeps the
    (id, cluster, probe_rank) shape."""
    from ark_invest_api_rust_data_spark.operators import clustering as C

    emb = load_table(spark, SF, "embeddings")
    cents, asg = C.kmeans_fit(emb, k=8, iters=2)
    want = sorted(tuple(r) for r in asg.collect())

    got = sorted(tuple(r) for r in C.assign_to_centroids(emb, cents).collect())
    assert got == want

    soft = C.assign_to_centroids(emb, cents, nprobe=2)
    assert soft.columns == ["vec_id", "cluster", "probe_rank"]
    prim = sorted(
        tuple(r)
        for r in soft.filter(F.col("probe_rank") == 1)
        .select("vec_id", "cluster")
        .collect()
    )
    assert prim == want


def test_semantic_dedup_incremental_equals_full_restricted(spark):
    """semantic_dedup_incremental(corpus, batch, frozen model) must
    equal the full-union semantic_dedup over the SAME frozen
    assignments restricted to batch rows — the keep-first rule drops
    against raw lower-id neighbors, so corpus-internal drops can't
    leak into batch decisions. Also: every corpus near-dup of a batch
    row must cause a drop (ingest can't miss the store)."""
    from ark_invest_api_rust_data_spark.operators.clustering import (
        assign_to_centroids,
        kmeans_fit,
        semantic_dedup,
        semantic_dedup_incremental,
    )

    emb = load_table(spark, SF, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    model = kmeans_fit(corpus, k=8, iters=2)
    got = sorted(
        tuple(r)
        for r in semantic_dedup_incremental(
            corpus, batch, model, threshold=0.45
        ).collect()
    )
    assert got, "batch must be non-empty"

    cents, asg_corpus = model
    frozen = asg_corpus.unionByName(
        assign_to_centroids(batch, cents).select("vec_id", "cluster")
    )
    full = semantic_dedup(emb, threshold=0.45, assignments=frozen)
    want = sorted(
        tuple(r) for r in full.filter(F.col("vec_id") % 2 == 1).collect()
    )
    assert got == want

    # positive case: a batch row that IS a corpus vector (higher id)
    # must drop against the store
    first = corpus.orderBy("vec_id").first()
    dup = spark.createDataFrame(
        [(10**9, list(first["embedding"]))], "vec_id long, embedding array<float>"
    )
    out2 = semantic_dedup_incremental(corpus, dup, model, threshold=0.45)
    (row,) = out2.collect()
    assert row["vec_id"] == 10**9 and row["kept"] is False


# ------------------------------------------------- two-level build
def test_two_level_assign_matches_sequential_reference(spark):
    """two_level_assign == a pure-Python replay of both levels under
    the shared determinism contract: lowest-id seeds, coordinate-
    ascending IEEE accumulation, exact int sums with one float
    division per coordinate, argmin ties to the lowest cid, empty
    clusters carrying their centroid forward. Cluster id =
    cell·k₂ + local id."""
    from ark_invest_api_rust_data_spark.operators.clustering import (
        two_level_assign,
    )

    # 24 vectors in 3 well-separated blobs + planted structure, dim 4
    rows = []
    for i in range(24):
        blob = i % 3
        base = [blob * 10.0, blob * -7.0, blob * 3.0, 1.0]
        rows.append((i, [c + (i % 5) * 0.25 + d * 0.01 for d, c in enumerate(base)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    k, iters = 9, 2  # k1 = ceil(sqrt(9)) = 3, k2 = 3
    got = sorted(
        (r["vec_id"], r["cluster"])
        for r in two_level_assign(emb, k=k, iters=iters).collect()
    )

    import math

    vecs = {i: [math.floor(v * 1_000_000) for v in e] for i, e in rows}
    dim = 4

    def dist(q, c):
        acc = 0.0
        for i in range(dim):
            d = float(q[i]) - c[i]
            acc += d * d
        return acc

    def lloyd(ids, kk, iters):
        ids = sorted(ids)
        kk = min(kk, len(ids))
        cents = {cid: [float(v) for v in vecs[ids[cid]]] for cid in range(kk)}
        for it in range(1, iters + 1):
            assign = {
                i: min(range(kk), key=lambda c: (dist(vecs[i], cents[c]), c))
                for i in ids
            }
            if it == iters:
                return assign
            sums = {c: [0] * dim for c in range(kk)}
            cnt = {c: 0 for c in range(kk)}
            for i, c in assign.items():
                cnt[c] += 1
                for d in range(dim):
                    sums[c][d] += vecs[i][d]
            for c in range(kk):
                if cnt[c]:
                    cents[c] = [sums[c][d] / cnt[c] for d in range(dim)]
        raise AssertionError

    k1 = 3
    k2 = -(-k // k1)
    coarse = lloyd(list(vecs), k1, iters)
    want = []
    cells: dict[int, list[int]] = {}
    for i, c in coarse.items():
        cells.setdefault(c, []).append(i)
    for cell, members in cells.items():
        local = lloyd(members, k2, iters)
        want += [(i, cell * k2 + c) for i, c in local.items()]
    assert got == sorted(want)


def test_two_level_dedup_recall_and_precision(spark):
    """Forced two-level SemDeDup on planted exact duplicates: every
    planted dup is dropped (identical vectors co-locate at both
    levels — distance-0 ties), every drop is a TRUE near-dup against
    a lower-id same-cluster neighbor (precision 1.0, recomputed
    exactly), and the output covers every input id exactly once."""
    import math

    from ark_invest_api_rust_data_spark.operators.clustering import (
        semantic_dedup_scaled,
    )

    emb = load_table(spark, SF, "embeddings")
    # plant exact duplicates: ids shifted up, so the original is the
    # lower-id survivor
    dups = emb.limit(10).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    df = emb.select("vec_id", "embedding").unionByName(dups)
    # coarse_probe=1: this test pins the STRICT cell-local contract
    # (every drop justified within the primary cluster); the p=2
    # boundary-recovery dial has its own test below
    out = semantic_dedup_scaled(
        df, target_cluster_size=32, iters=2, threshold=0.45,
        two_level_bound=1, coarse_probe=1,
    ).collect()
    kept = {r["vec_id"]: r["kept"] for r in out}
    assign = {r["vec_id"]: r["cluster"] for r in out}
    assert len(out) == df.count()  # one row per input id
    for r in emb.limit(10).collect():
        assert kept[r["vec_id"] + 100000] is False  # planted dup dropped
    vecs = {
        r["vec_id"]: [math.floor(float(x) * 1_000_000) for x in r["embedding"]]
        for r in df.collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return float(d) / (
            math.sqrt(float(sum(x * x for x in a)))
            * math.sqrt(float(sum(y * y for y in b)))
        )

    for x, is_kept in kept.items():
        if not is_kept:  # precision: a real lower-id neighbor exists
            assert any(
                assign[y] == assign[x] and cos(vecs[x], vecs[y]) >= 0.45
                for y in vecs
                if y < x
            ), f"vec {x} dropped without a qualifying neighbor"


def test_two_level_soft_ranks_and_ratio_gate(spark):
    """nprobe=2 two-level assignment emits probe_rank 1..2 within the
    row's coarse cell; probe_ratio2 prunes ONLY rank-2 rows; rank-1
    rows equal the hard assignment exactly."""
    from ark_invest_api_rust_data_spark.operators.clustering import (
        two_level_assign,
    )

    emb = load_table(spark, SF, "embeddings")
    hard = sorted(
        (r["vec_id"], r["cluster"])
        for r in two_level_assign(emb, k=16, iters=2).collect()
    )
    soft = two_level_assign(emb, k=16, iters=2, nprobe=2).collect()
    assert sorted(
        (r["vec_id"], r["cluster"]) for r in soft if r["probe_rank"] == 1
    ) == hard
    gated = two_level_assign(
        emb, k=16, iters=2, nprobe=2, probe_ratio2=1.0
    ).collect()
    g1 = [r for r in gated if r["probe_rank"] == 1]
    assert sorted((r["vec_id"], r["cluster"]) for r in g1) == hard
    assert len([r for r in gated if r["probe_rank"] == 2]) <= len(
        [r for r in soft if r["probe_rank"] == 2]
    )


def test_two_level_model_frozen_assignment_consistency(spark):
    """two_level_model's (model, assignments): assignments equal
    two_level_assign's; re-assigning the TRAINING rows through the
    frozen tree reproduces them bit-for-bit (the sub coords are the
    exact float64s of the final training pass)."""
    from ark_invest_api_rust_data_spark.operators.clustering import (
        assign_to_two_level,
        two_level_assign,
        two_level_model,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    model, asg = two_level_model(emb, k=16, iters=2)
    a1 = sorted(tuple(r) for r in asg.collect())
    assert a1 == sorted(
        tuple(r) for r in two_level_assign(emb, k=16, iters=2).collect()
    )
    assert len(model.sub) == 16 and model.k2 == 4
    re_assigned = sorted(
        tuple(r) for r in assign_to_two_level(emb, model).collect()
    )
    assert re_assigned == a1


def test_two_level_incremental_equals_full_union_restriction(spark):
    """semantic_dedup_incremental with a frozen TwoLevelModel equals
    the full-union semantic_dedup over the frozen assignments,
    restricted to batch rows — the same equivalence contract as the
    one-level incremental path."""
    import pyspark.sql.functions as F

    from ark_invest_api_rust_data_spark.operators.clustering import (
        assign_to_two_level,
        semantic_dedup,
        semantic_dedup_incremental,
        two_level_model,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    model = two_level_model(corpus, k=16, iters=2)
    inc = {
        r["vec_id"]: (r["cluster"], r["kept"])
        for r in semantic_dedup_incremental(corpus, batch, model).collect()
    }
    frozen_union = model[1].unionByName(assign_to_two_level(batch, model[0]))
    full = {
        r["vec_id"]: (r["cluster"], r["kept"])
        for r in semantic_dedup(emb, assignments=frozen_union).collect()
    }
    assert inc == {k: v for k, v in full.items() if k % 2 == 1}
    assert len(inc) == batch.count()


def test_two_level_model_supports_string_ids(spark):
    """r9 self-review regression: the frozen-model centroid rows must
    stay type-valid for non-numeric id columns (the filler id is a
    repeated real id, not a numeric zero)."""
    from ark_invest_api_rust_data_spark.operators.clustering import (
        assign_to_two_level,
        two_level_model,
    )

    rows = [
        (f"doc-{i:03d}", [float((i * 7 + d) % 5) for d in range(4)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    model, asg = two_level_model(emb, k=9, iters=2)
    a = sorted(tuple(r) for r in asg.collect())
    assert len(a) == 40 and model.k2 == 3
    assert sorted(
        tuple(r) for r in assign_to_two_level(emb, model).collect()
    ) == a


def test_derive_cells_bounds_cell_rows_in_capped_k_regime():
    """r9 advisor (medium): once k_max caps k, √k cells hold n/√k rows
    each — linear per-task fit memory. derive_cells raises the cell
    count with n so EXPECTED per-cell rows never exceed
    max_cell_rows, while never dropping below the √k floor."""
    from ark_invest_api_rust_data_spark.operators.clustering import derive_cells

    # growing-k regime: the √k default is untouched
    assert derive_cells(1_000, 64, 1 << 17) == 8
    assert derive_cells(100_000, 4096, 1 << 17) == 64
    mcr, k = 1 << 17, 65536
    for n in (10**6, 10**8, 10**9, 10**11):
        cells = derive_cells(n, k, mcr)
        assert -(-n // cells) <= mcr, f"n={n}: expected cell rows unbounded"
        assert cells >= 256  # never below the √k floor
    # guard disabled → √k fallback (the pre-r10 behavior)
    assert derive_cells(10**9, k, None) == 256


def test_semantic_dedup_scaled_max_cell_rows_path(spark):
    """The bounded-cell two-level build (cells raised above √k by
    max_cell_rows) keeps SemDeDup's semantics: full coverage, every
    planted exact duplicate dropped, precision 1.0 against an exact
    cosine recheck."""
    import math

    from ark_invest_api_rust_data_spark.operators.clustering import (
        semantic_dedup_scaled,
    )

    emb = load_table(spark, SF, "embeddings")
    dups = emb.limit(8).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    df = emb.select("vec_id", "embedding").unionByName(dups)
    # two_level_bound=1 forces the two-level build; max_cell_rows=64
    # forces cells = ceil(n/64) > ceil(sqrt(k)) — the capped-k shape
    # coarse_probe=1: this test pins the memory-bounding dial under
    # the strict cell-local contract (the p=2 recall dial has its own
    # test)
    out = semantic_dedup_scaled(
        df, target_cluster_size=32, iters=2, threshold=0.45,
        two_level_bound=1, max_cell_rows=64, coarse_probe=1,
    ).collect()
    kept = {r["vec_id"]: r["kept"] for r in out}
    assign = {r["vec_id"]: r["cluster"] for r in out}
    assert len(out) == df.count()
    for r in emb.limit(8).collect():
        assert kept[r["vec_id"] + 100000] is False
    vecs = {
        r["vec_id"]: [math.floor(float(x) * 1_000_000) for x in r["embedding"]]
        for r in df.collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return float(d) / (
            math.sqrt(float(sum(x * x for x in a)))
            * math.sqrt(float(sum(y * y for y in b)))
        )

    for x, is_kept in kept.items():
        if not is_kept:
            assert any(
                assign[y] == assign[x] and cos(vecs[x], vecs[y]) >= 0.45
                for y in vecs
                if y < x
            ), f"vec {x} dropped without a qualifying neighbor"


def test_two_level_coarse_probe_superset_and_rank1_identity(spark):
    """coarse_probe=2 contract: the rank-1 rows are BIT-IDENTICAL to
    the p=1 assignment (fits see only primary members), and the p=2
    membership set strictly contains p=1's."""
    from ark_invest_api_rust_data_spark.operators.clustering import (
        two_level_assign,
    )

    emb = load_table(spark, SF, "embeddings")
    hard = {(r["vec_id"], r["cluster"]) for r in two_level_assign(emb, k=16, iters=2).collect()}
    soft = two_level_assign(emb, k=16, iters=2, coarse_probe=2).collect()
    rank1 = {(r["vec_id"], r["cluster"]) for r in soft if r["probe_rank"] == 1}
    allm = {(r["vec_id"], r["cluster"]) for r in soft}
    assert rank1 == hard
    assert hard < allm  # strict superset: secondary memberships exist
    # at most one secondary membership per vector, in a DIFFERENT
    # coarse cell than the primary
    from collections import Counter

    per = Counter(r["vec_id"] for r in soft)
    assert set(per.values()) <= {1, 2}


def test_two_level_coarse_probe_recovers_boundary_recall(spark):
    """r9 judge item 6 — the finding-32 recall gap: planted near-dups
    split across coarse cells are invisible to the cell-local (p=1)
    two-level dedup. coarse_probe=2 must (a) drop a superset of p=1's
    drops, (b) recover MORE of the globally-droppable planted docs,
    (c) keep precision 1.0 (every drop has a true lower-id neighbor),
    (d) grow the candidate-pair count by ≤ 2×."""
    import math

    from ark_invest_api_rust_data_spark.operators.clustering import (
        semantic_dedup_scaled,
        two_level_assign,
    )

    emb = load_table(spark, "/root/testdata/sf0.1", "embeddings").select(
        "vec_id", "embedding"
    )

    def run(p):
        return {
            r["vec_id"]: r["kept"]
            for r in semantic_dedup_scaled(
                emb, target_cluster_size=32, iters=2, threshold=0.45,
                two_level_bound=1, coarse_probe=p,
            ).collect()
        }

    kept1, kept2 = run(1), run(2)
    drops1 = {v for v, k in kept1.items() if not k}
    drops2 = {v for v, k in kept2.items() if not k}
    assert drops1 <= drops2, "p=2 must drop a superset of p=1"
    assert len(drops2) > len(drops1), "boundary recall must improve on sf0.1"

    # precision 1.0: every p=2 drop has a true lower-id near-dup
    vecs = {
        r["vec_id"]: [math.floor(float(x) * 1_000_000) for x in r["embedding"]]
        for r in emb.collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return float(d) / (
            math.sqrt(float(sum(x * x for x in a)))
            * math.sqrt(float(sum(y * y for y in b)))
        )

    gt_droppable = {
        x for x in vecs
        if any(cos(vecs[x], vecs[y]) >= 0.45 for y in vecs if y < x)
    }
    assert drops2 <= gt_droppable  # no false drop at any p
    # recall quantified (recorded in SCALE.md): strict improvement
    r1 = len(drops1 & gt_droppable) / max(1, len(gt_droppable))
    r2 = len(drops2 & gt_droppable) / max(1, len(gt_droppable))
    assert r2 > r1

    # (d) candidate-pair audit at the DEFAULT boundary gate
    # (coarse_ratio2=1.025): the one-side-primary candidate rule keeps
    # pair growth ≤ 2× (measured 1.83×; ungated the near-uniform
    # synthetic embeddings straddle so hard it reaches 3.01× — the
    # gate is the dial, SCALE.md finding 37)
    from collections import Counter

    n = emb.count()
    k = min(max(8, -(-n // 32)), 65536)

    def pair_count(p):
        rows = two_level_assign(
            emb, k=k, iters=2, coarse_probe=p, coarse_ratio2=1.025
        ).collect()
        prim = Counter()
        sec = Counter()
        for r in rows:
            if p == 1 or r["probe_rank"] == 1:
                prim[r["cluster"]] += 1
            else:
                sec[r["cluster"]] += 1
        return sum(
            c * (c - 1) // 2 + c * sec.get(cl, 0) for cl, c in prim.items()
        )

    p1, p2 = pair_count(1), pair_count(2)
    assert p1 <= p2 <= 2 * p1, f"pair growth {p2 / p1:.2f}x exceeds 2x"
    print(f"recall p1={r1:.3f} p2={r2:.3f}; pairs {p1} -> {p2} ({p2 / p1:.2f}x)")


def test_planted_geometry_two_level_probe_beats_one_level(spark, tmp_path):
    """r10 judge item 3 — the finding-37 dials re-measured on REALISTIC
    geometry: a mixture-of-Gaussians fixture with true cluster
    structure (tools/make_planted_embeddings, d2/d1 p50 ~1.2 vs the
    driver corpus's 1.03) and planted eps-dup pairs, a third of them
    based at coarse-cell midpoints. Pins, all measured (SCALE.md
    finding 40):
    (a) UNGATED two-level coarse_probe=2 recall >= one-level recall —
        the two-level recall gap is fully recoverable by multi-probe
        on structured geometry (0.921 vs 0.863 at this fixture);
    (b) the gated (coarse_ratio2=1.025) default still strictly beats
        two-level p=1 while holding the pair premium <= 2x (measured
        1.39x here vs 1.83x on the adversarial near-uniform corpus);
    (c) precision 1.0 at every setting (no false drops, any geometry).
    """
    import numpy as np

    from ark_invest_api_rust_data_spark.operators.clustering import (
        semantic_dedup_scaled,
        two_level_assign,
    )
    from tools.make_planted_embeddings import make_planted

    path = str(tmp_path / "planted.parquet")
    stats = make_planted(path, n=800, d=32, n_clusters=12, sigma=0.27, seed=11)
    assert stats["d2_d1"]["p50"] > 1.1  # the fixture IS structured

    emb = spark.read.parquet(path).select("vec_id", "embedding")
    rows = sorted(
        ((r["vec_id"], r["embedding"]) for r in emb.collect()),
        key=lambda t: t[0],
    )
    ids = np.array([t[0] for t in rows])
    mat = np.floor(np.array([t[1] for t in rows], dtype=np.float64) * 1e6)
    nrm = np.linalg.norm(mat, axis=1)
    cos = (mat @ mat.T) / np.maximum(np.outer(nrm, nrm), 1e-12)
    np.fill_diagonal(cos, -1.0)
    gt = set(ids[np.tril(cos >= 0.45, k=-1).any(axis=1)].tolist())

    def run(**kw):
        out = semantic_dedup_scaled(
            emb, target_cluster_size=32, iters=2, threshold=0.45, **kw
        ).collect()
        drops = {r["vec_id"] for r in out if not r["kept"]}
        assert not (drops - gt), "false drop: precision must be 1.0"
        return len(drops & gt) / max(1, len(gt))

    rec_one = run()  # default bound: one-level at this k
    rec_p1 = run(two_level_bound=1, coarse_probe=1)
    rec_gated = run(two_level_bound=1, coarse_probe=2, coarse_ratio2=1.025)
    rec_open = run(two_level_bound=1, coarse_probe=2, coarse_ratio2=None)

    assert rec_open >= rec_one, (
        f"ungated p=2 {rec_open:.3f} must recover one-level {rec_one:.3f}"
    )
    assert rec_gated > rec_p1, "gated multi-probe must improve on p=1"

    # premium audit at the default gate, same rule as the uniform test
    from collections import Counter

    n = emb.count()
    k = min(max(8, -(-n // 32)), 65536)

    def pair_count(p):
        prim, sec = Counter(), Counter()
        for r in two_level_assign(
            emb, k=k, iters=2, coarse_probe=p, coarse_ratio2=1.025
        ).collect():
            if p == 1 or r["probe_rank"] == 1:
                prim[r["cluster"]] += 1
            else:
                sec[r["cluster"]] += 1
        return sum(
            c * (c - 1) // 2 + c * sec.get(cl, 0) for cl, c in prim.items()
        )

    p1, p2 = pair_count(1), pair_count(2)
    assert p1 <= p2 <= 2 * p1, f"pair premium {p2 / p1:.2f}x exceeds 2x"


def test_argmin_exact_chunks_equals_fold_argmin():
    """The certified-matmul argmin (r11: one BLAS matmul + error
    margin + exact-fold verification of margin candidates) must be
    BIT-IDENTICAL to argmin-first over the coordinate-ascending fold
    on adversarial geometries: duplicate centroids (exact ties —
    lowest cid must win), sub-margin near-ties, duplicate rows,
    fractional centroids (Lloyd's-update style), k=1, and the
    chunking boundary."""
    import numpy as np

    from ark_invest_api_rust_data_spark.operators.clustering import (
        _argmin_exact_chunks,
        _assign_dists_chunks,
    )

    rng = np.random.default_rng(7)
    MU = 10**6

    def ref(Q, C):
        out = np.empty(len(Q), dtype=np.int64)
        for rows, dists in _assign_dists_chunks(Q, C):
            out[rows] = dists.argmin(axis=1)
        return out

    def got(Q, C):
        out = np.empty(len(Q), dtype=np.int64)
        for rows, cid in _argmin_exact_chunks(Q, C):
            out[rows] = cid
        return out

    for trial in range(20):
        n, k, dim = 1500, 48, 16
        Q = np.floor(rng.random((n, dim)) * MU)
        C = Q[rng.integers(0, n, k)] + rng.random((k, dim)) * 1e-3
        C[5] = C[3]            # exact duplicate centroids
        C[7] = C[3] + 1e-9     # sub-margin near-tie
        C[9] = Q[100]          # integer centroid = exact-zero distance
        Q[100] = Q[101]        # duplicate rows
        assert (ref(Q, C) == got(Q, C)).all(), f"trial {trial}"

    # k=1 and a Q big enough to cross the chunk boundary for large k
    Q = np.floor(rng.random((64, 8)) * MU)
    assert (got(Q, Q[:1]) == 0).all()
    kbig = 4096  # chunk = 2^22 // 4096 = 1024 rows < n
    Qb = np.floor(rng.random((3000, 4)) * MU)
    Cb = Qb[rng.integers(0, 3000, kbig)] + rng.random((kbig, 4)) * 1e-3
    assert (ref(Qb, Cb) == got(Qb, Cb)).all()
