"""PageRank (operators/graph.py): exact equality against an
independent pure-Python integer reference, plus the fixed-point
contract's mass and determinism properties."""

from __future__ import annotations

import pytest

from ark_invest_api_rust_data_spark.operators.graph import (
    copurchase_edges,
    pagerank,
)

BASE = 10**15


def _py_pagerank(edges: list[tuple[int, int]], iters: int) -> dict[int, int]:
    """Independent reference with the same int64 contract."""
    nodes = sorted({v for e in edges for v in e})
    n = len(nodes)
    deg: dict[int, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    r = {v: BASE // n for v in nodes}
    tele = (15 * (BASE // n)) // 100
    for _ in range(iters):
        s_in: dict[int, int] = {v: 0 for v in nodes}
        for s, d in edges:
            s_in[d] += r[s] // deg[s]
        r = {v: tele + (85 * s_in[v]) // 100 for v in nodes}
    return r


EDGES = [
    (1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (4, 3),  # parallel edge
    (5, 1),  # 5 has no in-edges; 2 -> 3 -> 1 cycle-ish
]


@pytest.mark.parametrize("iters", [1, 3, 5])
def test_pagerank_matches_reference(spark, iters):
    df = spark.createDataFrame(EDGES, ["src", "dst"])
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=iters).collect()}
    assert got == _py_pagerank(EDGES, iters)


def test_pagerank_mass_bounded(spark):
    # dangling/teleport rounding only ever LOSES mass vs base
    df = spark.createDataFrame(EDGES, ["src", "dst"])
    out = pagerank(df, iters=4).collect()
    assert 0 < sum(r["rank"] for r in out) <= BASE


def test_pagerank_empty_raises(spark):
    df = spark.createDataFrame([], "src long, dst long")
    with pytest.raises(ValueError):
        pagerank(df)


def test_copurchase_edges_deterministic_under_ties(spark):
    # duplicate line numbers: the (seq, item) sort must make the edge
    # multiset independent of input row order
    rows = [(1, 1, 10), (1, 1, 12), (1, 2, 11), (2, 1, 7), (2, 1, 7)]
    cols = ["l_orderkey", "l_linenumber", "l_partkey"]
    a = spark.createDataFrame(rows, cols)
    b = spark.createDataFrame(list(reversed(rows)), cols)
    ea = sorted(map(tuple, copurchase_edges(a).collect()))
    eb = sorted(map(tuple, copurchase_edges(b).collect()))
    assert ea == eb == [(10, 12), (12, 11)]  # self-loop 7->7 dropped


# ------------------------------------------------------------ components
from ark_invest_api_rust_data_spark.operators.graph import (  # noqa: E402
    connected_components,
    triangle_counts,
)


def _py_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find reference: node -> min id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
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


CC_GRAPHS = [
    [(1, 2)],  # single pair
    [(1, 2), (2, 3)],  # path — small-star-only fixpoint trap
    [(1, 2), (2, 3), (1, 3), (7, 9)],  # triangle + disjoint pair
    [(5, 4), (4, 3), (3, 2), (2, 1), (10, 11), (11, 10)],  # chain + dup edge
    [(i, i + 1) for i in range(20)] + [(100, 101)],  # longer path
    [(2, 1), (3, 1), (4, 1), (5, 1)],  # star already
]


@pytest.mark.parametrize("edges", CC_GRAPHS)
def test_components_star_matches_union_find(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["cluster"] for r in connected_components(df).collect()}
    assert got == _py_components(edges)


def test_components_star_random_graph(spark):
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["cluster"] for r in connected_components(df).collect()}
    assert got == _py_components(edges)


def test_components_star_high_diameter_logarithmic_rounds(spark):
    # a 512-node path has diameter 511: min-label propagation needs
    # ~511 rounds; large-star/small-star must land well under 30 —
    # the O(log n) claim, pinned
    edges = [(i, i + 1) for i in range(511)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = connected_components(df, max_rounds=30).collect()
    assert len(out) == 512
    assert all(r["cluster"] == 0 for r in out)


def test_components_star_matches_label_propagation(spark):
    from ark_invest_api_rust_data_spark.operators.dedup import dedup_clusters

    edges = [(1, 5), (5, 9), (2, 6), (6, 2), (9, 3), (40, 41)]
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    star = {
        r["node"]: r["cluster"]
        for r in connected_components(df, "doc_a", "doc_b").collect()
    }
    prop = {r["node"]: r["cluster"] for r in dedup_clusters(df).collect()}
    assert star == prop


# ------------------------------------------------------------ triangles
def _py_triangles(edges: list[tuple[int, int]]) -> dict[int, int]:
    es = {(min(u, v), max(u, v)) for u, v in edges if u != v}
    nodes = sorted({n for e in es for n in e})
    nbr = {n: set() for n in nodes}
    for u, v in es:
        nbr[u].add(v)
        nbr[v].add(u)
    counts: dict[int, int] = {}
    for u, v, w in (
        (u, v, w)
        for u in nodes
        for v in nbr[u]
        if v > u
        for w in nbr[u]
        if w > v and w in nbr[v]
    ):
        for n in (u, v, w):
            counts[n] = counts.get(n, 0) + 1
    return counts


TRI_GRAPHS = [
    [(1, 2), (2, 3), (1, 3)],  # one triangle
    [(1, 2), (2, 3), (1, 3), (3, 4)],  # triangle + pendant
    [(1, 2), (2, 3), (3, 4), (4, 1)],  # square, no triangle
    [(a, b) for a in range(4) for b in range(4) if a < b],  # K4
    [(1, 2), (2, 1), (2, 3), (1, 3), (5, 5)],  # dup/reverse/self edges
]


@pytest.mark.parametrize("edges", TRI_GRAPHS)
def test_triangle_counts_match_reference(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == _py_triangles(edges)


def test_triangle_counts_random_graph(spark):
    import random

    rng = random.Random(11)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(240)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == _py_triangles(edges)


def test_triangle_closing_bloom_is_output_invariant(spark):
    """The closing-join Bloom prefilter must be invisible in the
    output (false positives die in the exact join): forced-on vs
    forced-off triangle counts are identical on a graph with known
    counts (K5 ∪ star: K5 nodes get C(4,2)=6, star nodes none)."""
    from ark_invest_api_rust_data_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame(
        [(i, j) for i in range(5) for j in range(i + 1, 5)]
        + [(100, 100 + i) for i in range(1, 20)],
        "src long, dst long",
    )
    on = sorted(tuple(r) for r in triangle_counts(edges, closing_bloom=True).collect())
    off = sorted(tuple(r) for r in triangle_counts(edges, closing_bloom=False).collect())
    assert on == off == [(i, 6) for i in range(5)]


def test_kcore_peels_chain_keeps_clique(spark):
    """2-core of (K4 + pendant chain hanging off it): the clique
    survives with induced degree 3, every chain node peels off — one
    chain link per round, exercising multi-round convergence."""
    from ark_invest_api_rust_data_spark.operators.graph import kcore

    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    chain = [(3, 10), (10, 11), (11, 12)]
    edges = spark.createDataFrame(k4 + chain, "src long, dst long")
    got = sorted(tuple(r) for r in kcore(edges, k=2, rounds=16).collect())
    # node 3 temporarily has degree 4; after the chain peels it is 3
    assert got == [(0, 3), (1, 3), (2, 3), (3, 3)]


def test_kcore_matches_sequential_reference(spark):
    """Random graph: kcore equals a sequential synchronous peel with
    the same edge-set state contract (stranded nodes drop the same
    round), for several k."""
    import random

    from ark_invest_api_rust_data_spark.operators.graph import kcore

    rng = random.Random(7)
    edges = list({(rng.randrange(30), rng.randrange(30)) for _ in range(120)})
    df = spark.createDataFrame(edges, "src long, dst long")

    def reference(k):
        adj = {}
        for a, b in edges:
            if a == b:
                continue
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        g = {u: set(vs) for u, vs in adj.items()}
        while True:
            drop = {u for u, vs in g.items() if len(vs) < k}
            if not drop:
                break
            g = {
                u: vs - drop for u, vs in g.items() if u not in drop
            }
            g = {u: vs for u, vs in g.items() if vs}
        return sorted((u, len(vs)) for u, vs in g.items())

    for k in (2, 3, 4, 5):
        got = sorted(tuple(r) for r in kcore(df, k=k, rounds=32).collect())
        assert got == reference(k), f"k={k}"


def test_kcore_round_budget_truncates_deterministically(spark):
    """With rounds below the fixpoint depth the operator applies
    exactly that many synchronous filters — the contract the unrolled
    SQL oracle relies on. A 5-chain under k=2 loses one link from
    each end per round."""
    from ark_invest_api_rust_data_spark.operators.graph import kcore

    chain = [(i, i + 1) for i in range(5)]
    df = spark.createDataFrame(chain, "src long, dst long")
    one = sorted(tuple(r) for r in kcore(df, k=2, rounds=1).collect())
    # round 1: ends 0 and 5 drop -> edges (1,2),(2,3),(3,4) remain
    assert one == [(1, 1), (2, 2), (3, 2), (4, 1)]
    full = kcore(df, k=2, rounds=16).collect()
    assert full == []  # a chain has no 2-core
