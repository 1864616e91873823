"""Vector similarity search over embedding columns (SURVEY.md §2 B30).

Two tiers:

* ``cosine_topk`` — exact brute force: broadcast the query vector,
  score every row with a μ-quantized integer dot product (cross-engine
  deterministic: float→double exact, floor exact, int64 sums exact,
  final double divide + IEEE sqrt deterministic), TakeOrdered top-k.
  One scan, no shuffle beyond the top-k reduction. This is the
  correctness baseline and fine up to ~10⁸ rows.

* ``lsh_bucketed_topk`` — the 100 TB path: sign-random-projection LSH
  (deterministic hyperplanes derived from a seed via the same 31-fold
  token hash — no RNG state), bucket join on the signature prefix, then
  exact scoring only within candidate buckets. Probing b-1 bit flips
  trades recall for fan-out. Tested for recall against brute force.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

Q = 1_000_000  # μ-quantization grid (matches plans/relational.py b18)


def _quantize(vec: Column) -> Column:
    return F.transform(vec, lambda x: F.floor(x.cast("double") * F.lit(float(Q))).cast("long"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _norm2(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def cosine_scores(
    df: DataFrame,
    query: list[float],
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact quantized cosine of every row against ``query``."""
    qlit = F.array(*[F.lit(float(v)) for v in query])
    qq = _quantize(qlit)
    dq = _quantize(F.col(vec_col))
    cos = _dot(dq, qq).cast("double") / (
        F.sqrt(_norm2(dq).cast("double")) * F.sqrt(_norm2(qq).cast("double"))
    )
    return df.withColumn("cosine", cos)


def cosine_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_ids: tuple = (),
) -> DataFrame:
    """Brute-force top-k: orderBy+limit plans as TakeOrderedAndProject
    (per-partition heaps + driver merge — no global sort)."""
    scored = cosine_scores(df, query, vec_col).select(id_col, "cosine")
    if exclude_ids:
        scored = scored.filter(~F.col(id_col).isin(*exclude_ids))
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


# ------------------------------------------------------------- LSH tier


def _hyperplane(seed: int, dim: int) -> list[int]:
    """Deterministic ±1 hyperplane from an integer fold of (seed, i) —
    the same recurrence as text.token_hash32, no RNG object."""
    out = []
    for i in range(dim):
        h = 0
        for ch in f"{seed}:{i}":
            h = (h * 31 + ord(ch)) % 4294967296
        out.append(1 if h % 2 == 1 else -1)
    return out


def srp_signature(vec: Column, dim: int, bits: int = 8, seed: int = 42) -> Column:
    """Sign-random-projection signature: bit j = [⟨vec, H_j⟩ > 0]."""
    sig = None
    q = _quantize(vec)
    for j in range(bits):
        plane = _hyperplane(seed * 1000 + j, dim)
        proj = F.aggregate(
            F.zip_with(
                q,
                F.array(*[F.lit(p) for p in plane]),
                lambda x, s: x * s,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        term = F.when(proj > 0, F.lit(2**j)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return sig.cast("long")


def lsh_bucketed_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    seed: int = 42,
    probe_flips: int = 1,
) -> DataFrame:
    """ANN top-k: score only rows whose SRP bucket is within
    ``probe_flips`` bit flips of the query's bucket. At scale the table
    is pre-bucketed (write once, partition by signature) so a query
    touches ~(1 + bits·flips)/2^bits of the data."""
    dim = len(query)
    bucketed = df.withColumn("_sig", srp_signature(F.col(vec_col), dim, bits, seed))

    # query bucket + probed neighbors, computed driver-side (tiny)
    qq = [int(__import__("math").floor(v * Q)) for v in query]
    base_sig = 0
    for j in range(bits):
        plane = _hyperplane(seed * 1000 + j, dim)
        if sum(x * s for x, s in zip(qq, plane)) > 0:
            base_sig |= 1 << j
    probes = {base_sig}
    if probe_flips >= 1:
        for j in range(bits):
            probes.add(base_sig ^ (1 << j))
    cand = bucketed.filter(F.col("_sig").isin(*[int(s) for s in probes]))
    return cosine_topk(cand.drop("_sig"), query, k, id_col, vec_col)


# ----------------------------------------------------- all-pairs tier
def cosine_near_dup_pairs_blocked(
    df: DataFrame,
    threshold: float,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine near-duplicates — block-matrix tier.

    The broadcast tier above collects the whole quantized matrix to the
    driver; fine to ~10⁶×64d, impossible at 100 TB. This tier is the
    beyond-broadcast EXACT path (LSH/IVF pruning cannot guarantee the
    exact result at low thresholds like 0.45, where SRP bit-agreement
    is only ~0.65/bit): split rows into ``n_blocks`` deterministic
    blocks, replicate each row to every block pair it participates in
    (×n_blocks amplification), and score one block pair per
    applyInPandas group with a single int64 matmul. Compute is the same
    O(n²/2) dot products — irreducible for an exact answer — but
    distributed over B(B+1)/2 independent tasks with O((n/B)·d) memory
    each and NO driver round-trip; size n_blocks so a block fits an
    executor (e.g. 10⁹ rows × 64d → B=1024 ⇒ ~0.5 GB/block).

    Scoring math is bit-identical to the broadcast tier and the O(n²)
    SQL oracle: exact int64 dot products, double divide, IEEE sqrt.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    q = df.select(
        F.col(id_col).alias("_id"),
        _quantize(F.col(vec_col)).alias("_q"),
        F.pmod(F.col(id_col), F.lit(n_blocks)).cast("int").alias("_blk"),
    )
    # row in block b joins block-pair group (min(b,o), max(b,o)) for every o
    rep = (
        q.withColumn("_other", F.explode(F.array(*[F.lit(b) for b in range(n_blocks)])))
        .withColumn("_bi", F.least("_blk", "_other"))
        .withColumn("_bj", F.greatest("_blk", "_other"))
    )

    out_schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    # no type hints: applyInPandas infers its eval type only from hints
    # on every parameter, and warns on partial ones; unhinted is the
    # grouped map
    def score_block_pair(key, pdf):
        bi, bj = key
        left = pdf[pdf["_blk"] == bi]
        right = pdf[pdf["_blk"] == bj] if bi != bj else left
        if left.empty or right.empty:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
            )
        ids_l = left["_id"].to_numpy(dtype=np.int64)
        ids_r = right["_id"].to_numpy(dtype=np.int64)
        L = np.array(list(left["_q"].map(list)), dtype=np.int64)
        R = np.array(list(right["_q"].map(list)), dtype=np.int64)
        nl = np.sqrt((L * L).sum(axis=1).astype(np.float64))
        nr = np.sqrt((R * R).sum(axis=1).astype(np.float64))
        cos = (L @ R.T).astype(np.float64) / (nl[:, None] * nr[None, :])
        # each unordered pair appears in exactly one block-pair group;
        # emit (smaller id, larger id), never self-pairs
        if bi == bj:
            mask = (cos >= threshold) & (ids_l[:, None] < ids_r[None, :])
        else:  # cross-block ids never collide (block = id mod n_blocks)
            mask = cos >= threshold
        ii, jj = np.nonzero(mask)
        a, b = ids_l[ii], ids_r[jj]
        return pd.DataFrame(
            {"vec_a": np.minimum(a, b), "vec_b": np.maximum(a, b), "cosine": cos[ii, jj]}
        )

    return rep.groupBy("_bi", "_bj").applyInPandas(score_block_pair, out_schema)


# ----------------------------------------------------------- IVF tier
class IvfIndex:
    """IVF (inverted-file) vector index — the beyond-broadcast scale
    path for similarity search.

    Build: k-means on a driver-side sample (deterministic seed), then
    one distributed pass assigns every row to its nearest centroid
    (numpy argmax over the broadcast centroid matrix inside
    mapInPandas). Persisted with ``partitionBy(cluster)`` the layout
    gives PARTITION PRUNING: a query reads only its nprobe nearest
    clusters (~nprobe/k of the data) — the IVF-Flat design, expressed
    as a parquet layout instead of a custom index file.

    Query: rank centroids driver-side (tiny), filter to the nprobe
    nearest clusters, exact quantized cosine top-k within.
    """

    def __init__(
        self,
        centroids,
        assigned: DataFrame,
        id_col: str,
        vec_col: str,
        assignments: DataFrame | None = None,
    ):
        self.centroids = centroids  # (k, dim) float64 ndarray
        self.assigned = assigned  # input df + 'cluster' int column
        # bare (id, cluster) view — for consumers that don't need the
        # vectors (e.g. semantic_dedup(assignments=...)): avoids
        # re-evaluating the df-join per downstream reference (the
        # assignments frame is referenced 3x inside semantic_dedup)
        self.assignments = (
            assignments if assignments is not None
            else assigned.select(id_col, "cluster")
        )
        self.id_col, self.vec_col = id_col, vec_col

    @staticmethod
    def build(
        df: DataFrame,
        n_centroids: int = 16,
        sample: int = 2048,
        iters: int = 10,
        seed: int = 42,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IvfIndex":
        import numpy as np

        smp = (
            df.orderBy(id_col).limit(sample).select(vec_col).collect()
        )  # deterministic sample: first N by id
        X = np.array([list(r[0]) for r in smp], dtype=np.float64)
        rng = np.random.RandomState(seed)
        cents = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
        for _ in range(iters):
            d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            lab = d.argmin(axis=1)
            for c in range(len(cents)):
                members = X[lab == c]
                if len(members):
                    cents[c] = members.mean(axis=0)

        sc = df.sparkSession.sparkContext
        b_cents = sc.broadcast(cents)
        from pyspark.sql import types as T

        fields = df.schema.fields + [T.StructField("cluster", T.IntegerType())]
        out_schema = T.StructType(fields)

        def assign(batches):
            import pandas as pd

            C = b_cents.value
            for pdf in batches:
                V = np.array(list(pdf[vec_col].map(list)), dtype=np.float64)
                d = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                pdf = pdf.copy()
                pdf["cluster"] = d.argmin(axis=1).astype("int32")
                yield pdf

        from .dedup import _spread

        assigned = _spread(df).mapInPandas(assign, out_schema)
        return IvfIndex(cents, assigned, id_col, vec_col)

    @staticmethod
    def build_exact(
        df: DataFrame,
        n_centroids: int = 16,
        iters: int = 3,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IvfIndex":
        """Bit-deterministic IVF build: centroids come from the EXACT
        distributed Lloyd's over the full corpus (clustering.kmeans_fit
        — deterministic lowest-id seeding, int64 sums, IEEE
        left-to-right folds on the μ-quantized grid) instead of the
        numpy sampled build. Same index surface (``assigned`` /
        ``save`` / ``query`` / ``assign_topm``); the difference is the
        build is reproducible across engines and sessions, which is
        what lets a composed pipeline (e.g. ``semantic_dedup(
        assignments=index.assigned)``) be hash-checked against a SQL
        oracle end-to-end (plans/corpus.py llm_semantic_dedup_ivf).
        Centroid coords are stored in raw embedding space (quantized
        grid / 1e6) — nearest-centroid ordering is scale-invariant, so
        ``query``'s probe ranking and ``assign_topm`` agree with the
        build assignment up to quantization rounding."""
        import numpy as np

        from .clustering import kmeans_fit

        cents_q, asg = kmeans_fit(
            df, k=n_centroids, iters=iters, id_col=id_col, vec_col=vec_col
        )
        cents = (
            np.array([cents_q[c] for c in range(len(cents_q))], dtype=np.float64)
            / 1e6
        )
        assigned = df.join(asg, id_col)
        # asg is already a materialized localCheckpoint of (id, cluster)
        # — hand it out directly so assignments-only consumers skip the
        # df join entirely
        return IvfIndex(cents, assigned, id_col, vec_col, assignments=asg)

    def save(self, path: str) -> None:
        """Persist centroid-partitioned (→ partition pruning on query)."""
        self.assigned.write.mode("overwrite").partitionBy("cluster").parquet(path)

    def assign_topm(self, df: DataFrame, m: int = 2) -> DataFrame:
        """(id, cluster, probe_rank) — each row's ``m`` nearest IVF
        centroids, nearest first. The soft-assignment feed for
        SemDeDup's recall dial: ``semantic_dedup(assignments=
        index.assign_topm(df, 2))`` compares docs sharing ANY of their
        m clusters, reusing the index's centroids at zero extra
        clustering cost. Narrow mapInPandas over the broadcast
        centroid matrix — no shuffle."""
        import numpy as np

        if m < 1:
            raise ValueError(f"m must be >= 1, got {m}")
        m = min(m, len(self.centroids))
        sc = df.sparkSession.sparkContext
        b_cents = sc.broadcast(self.centroids)
        id_col, vec_col = self.id_col, self.vec_col

        def assign(batches):
            import pandas as pd

            C = b_cents.value
            for pdf in batches:
                V = np.array(list(pdf[vec_col].map(list)), dtype=np.float64)
                d = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                top = np.argsort(d, axis=1, kind="stable")[:, :m]
                n = len(pdf)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].values.repeat(m),
                        "cluster": top.reshape(-1).astype("int32"),
                        "probe_rank": np.tile(
                            np.arange(1, m + 1, dtype="int32"), n
                        ),
                    }
                )

        from .dedup import _spread

        return _spread(df).mapInPandas(
            assign, f"{id_col} long, cluster int, probe_rank int"
        )

    def query(self, query_vec: list, k: int = 10, nprobe: int = 4) -> DataFrame:
        import numpy as np

        q = np.asarray(query_vec, dtype=np.float64)
        d = ((self.centroids - q[None, :]) ** 2).sum(axis=1)
        probes = [int(c) for c in d.argsort()[:nprobe]]
        cand = self.assigned.filter(F.col("cluster").isin(probes)).drop("cluster")
        return cosine_topk(cand, list(query_vec), k, self.id_col, self.vec_col)


def knn_join(
    data: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_salts: int = 8,
) -> DataFrame:
    """Batch k-NN join: exact quantized-cosine top-k neighbors in
    ``data`` for EVERY row of ``queries`` (the batch-inference /
    retrieval shape, vs the single-vector ``cosine_topk``).

    Scale shape: the query set is broadcast (inference batches are
    small against a 100 TB corpus), scoring is a narrow map over data,
    and the top-k reduction is a SALTED TWO-PHASE aggregation —
    per-(query, salt) partial top-k via sorted-struct arrays, then a
    final merge per query — so the shuffle carries at most
    ``n_salts · k`` rows per query instead of |data| rows hammering
    q hot keys (a row_number window over query_id would put the whole
    scored corpus through a q-partition shuffle).

    Ties break on ascending data id. Negated-cosine struct sort keeps
    the ordering exact (sign flip is lossless); the rank is the final
    array position.
    """
    q = queries.select(
        F.col(id_col).alias(query_id_col), _quantize(F.col(vec_col)).alias("_qq")
    )
    d = data.select(F.col(id_col), _quantize(F.col(vec_col)).alias("_dq"))
    pairs = d.crossJoin(F.broadcast(q))
    return _salted_topk(pairs, k, id_col, query_id_col, n_salts)


def _salted_topk(
    pairs: DataFrame, k: int, id_col: str, query_id_col: str, n_salts: int
) -> DataFrame:
    """Shared reduction for the kNN-join family: exact quantized
    cosine over (query, candidate) pair rows carrying ``_qq``/``_dq``
    quantized vectors, then the salted two-phase top-k described in
    ``knn_join`` — at most ``n_salts · k`` rows per query cross the
    final shuffle. Ordering is the struct sort on (−cosine, id): the
    same (cosine DESC, id ASC) the SQL oracles' row_number uses."""
    cos = _dot(F.col("_dq"), F.col("_qq")).cast("double") / (
        F.sqrt(_norm2(F.col("_dq")).cast("double"))
        * F.sqrt(_norm2(F.col("_qq")).cast("double"))
    )
    scored = pairs.select(
        query_id_col,
        F.struct((-cos).alias("neg_cos"), F.col(id_col).alias(id_col)).alias("_e"),
        (F.pmod(F.hash(id_col), F.lit(n_salts))).alias("_salt"),
    )
    partial = scored.groupBy(query_id_col, "_salt").agg(
        F.slice(F.array_sort(F.collect_list("_e")), 1, k).alias("_top")
    )
    merged = partial.groupBy(query_id_col).agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("_top"))), 1, k).alias("_top")
    )
    ex = merged.select(query_id_col, F.posexplode("_top").alias("_pos", "_e"))
    return ex.select(
        query_id_col,
        F.col(f"_e.{id_col}").alias(id_col),
        (-F.col("_e.neg_cos")).alias("cosine"),
        (F.col("_pos") + 1).alias("rank"),
    )


def ann_join(
    data: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    iters: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    train: DataFrame | None = None,
    model: tuple | None = None,
    n_salts: int = 8,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """IVF-pruned batch k-NN join — the 100 TB scale path for
    ``knn_join``. The exact join scores |queries|·|data| pairs; here a
    deterministic coarse quantizer (clustering.kmeans_fit — lowest-id
    seeding, int64 update sums, IEEE left-to-right distance folds on
    the μ-quantized grid) hard-assigns every data row to its nearest
    centroid, each query soft-assigns to its ``nprobe`` nearest cells
    (the exact expression fold ``_with_topm``, bit-identical to the
    oracle's ``row_number() OVER (ORDER BY dist, cid)``), and scoring
    runs ONLY on co-located pairs — the candidate stream is
    ~nprobe/n_centroids of the cross product, and the same salted
    two-phase top-k bounds the final shuffle at ``n_salts · k`` rows
    per query. Approximate by construction (a true neighbor outside
    the probed cells is missed — recall is pytest-pinned against the
    exact join); the returned ranking over candidates is exact.

    ``train`` (default: ``data``) is the k-means corpus — pass the
    full table when queries are drawn from it so an oracle over that
    table reproduces the centroids. ``model`` short-circuits training
    with a prebuilt ``(centroids, assignments)`` pair from
    ``kmeans_fit`` over ``train`` — at deployment scale the IVF is
    built once and amortized over every query batch, exactly like
    ``IvfIndex``; assignments must cover ``data``'s ids.

    At 100 TB: n_centroids scales with the corpus (√n rule) and
    every kmeans_fit pass is vectorized;
    candidates shuffle once on the cluster key whose fan-in is
    bounded by cell size, and the query side (an inference batch) is
    broadcast — no q-partition hot keys, no corpus-sized window."""
    from .clustering import _with_topm, kmeans_fit

    if model is not None:
        cents, asg = model
    else:
        cents, asg = kmeans_fit(
            train if train is not None else data,
            k=n_centroids, iters=iters, id_col=id_col, vec_col=vec_col,
            checkpoint_dir=checkpoint_dir,  # reliable tier: the trained
            # assignment survives executor loss while the join consumes it
        )
    dim = len(next(iter(cents.values())))
    d = data.select(F.col(id_col), _quantize(F.col(vec_col)).alias("_dq")).join(
        asg, id_col
    )
    qbase = queries.select(F.col(id_col), _quantize(F.col(vec_col)).alias("_q"))
    qprobe = _with_topm(qbase, cents, dim, min(nprobe, len(cents)), id_col)
    qside = (
        qprobe.select(F.col(id_col), "cluster")
        .join(qbase, id_col)
        .select(
            F.col(id_col).alias(query_id_col),
            "cluster",
            F.col("_q").alias("_qq"),
        )
    )
    pairs = d.join(F.broadcast(qside), "cluster")
    return _salted_topk(pairs, k, id_col, query_id_col, n_salts)


# ------------------------------------------------------------ MMR rerank

SIM_Q = 10**9  # fixed-point grid for relevance/redundancy scores


def mmr_rerank(
    data: DataFrame,
    queries: DataFrame,
    k: int = 4,
    pool: int = 16,
    lam_num: int = 7,
    lam_den: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Maximal Marginal Relevance reranking (Carbonell & Goldstein
    1998): per query, greedily pick ``k`` results that trade relevance
    against redundancy with what is already picked —

        mmr(c) = lam·rel(q,c) − (1−lam)·max_{s∈selected} sim(c,s)

    the classic diversity stage between retrieval and a RAG context
    window (near-duplicate passages waste the budget).

    Exactness contract: relevance and pairwise similarity are exact
    quantized cosines (the knn_join grid) fixed-pointed by
    ``floor(cos·SIM_Q)``, and lam enters as the integer pair
    ``lam_num/lam_den`` — scores are pure int64
    (lam_num·qrel − (lam_den−lam_num)·qmaxsim), so selection order is
    bit-reproducible and the SQL oracle replays every round. The
    first pick has no redundancy term (score = lam_num·qrel). Ties
    break on ascending candidate id.

    Scale shape: the candidate pool is knn_join's salted two-phase
    top-``pool`` (the only corpus-wide stage — broadcast queries,
    narrow scan, ≤ n_salts·pool rows per query shuffled); everything
    after runs on q·pool rows: one hash join back to the quantized
    vectors, a per-query pool×pool pair frame, then ONE cogrouped
    applyInPandas runs the whole greedy per query. The greedy is
    per-query-local by construction, so expressing the k rounds as
    global DataFrame stages would make every query wait on k−1
    cluster-wide barriers of tiny shuffles — cogrouping instead ships
    each query's pool+pairs to one task and finishes in a single
    exchange (measured 7.9 s → 1.7 s warm at sf0.01). Inside the task all
    comparisons are Python ints on the JVM-computed fixed-point
    scores — no float re-derivation, so the Arrow hop cannot drift.
    """
    if not 1 <= k <= pool:
        raise ValueError(f"need 1 <= k <= pool, got k={k} pool={pool}")
    if not 0 < lam_num <= lam_den:
        raise ValueError(f"need 0 < lam_num <= lam_den, got {lam_num}/{lam_den}")
    anti = lam_den - lam_num
    pool_df = knn_join(
        data, queries, k=pool, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col,
    )
    cand = pool_df.select(
        query_id_col,
        id_col,
        F.floor(F.col("cosine") * F.lit(float(SIM_Q))).cast("long").alias("qrel"),
    ).localCheckpoint(eager=False)  # q·pool rows; cut the salted-topk lineage
    vecs = data.select(F.col(id_col), _quantize(F.col(vec_col)).alias("_q"))
    cv = cand.join(vecs, id_col)
    a = cv.select(
        query_id_col, F.col(id_col).alias("_a"), F.col("_q").alias("_qa")
    )
    b = cv.select(
        F.col(query_id_col).alias("_qid"),
        F.col(id_col).alias("_b"),
        F.col("_q").alias("_qb"),
    )
    pcos = _dot(F.col("_qa"), F.col("_qb")).cast("double") / (
        F.sqrt(_norm2(F.col("_qa")).cast("double"))
        * F.sqrt(_norm2(F.col("_qb")).cast("double"))
    )
    pairs = (
        a.alias("_mmrL")
        .join(
            b.alias("_mmrR"),
            F.col(f"_mmrL.{query_id_col}") == F.col("_mmrR._qid"),
        )
        .filter(F.col("_a") != F.col("_b"))
        .select(
            # fresh alias: cogroup resolves both sides' grouping keys
            # against one plan, and pairs inherits cand's query_id
            # attribute — an un-aliased key would be ambiguous
            F.col(f"_mmrL.{query_id_col}").alias("_pqid"),
            "_a",
            "_b",
            F.floor(pcos * F.lit(float(SIM_Q))).cast("long").alias("qsim"),
        )
    )

    def greedy(cand_pdf, pairs_pdf):
        import pandas as pd

        rel = {
            int(v): int(r)
            for v, r in zip(cand_pdf[id_col], cand_pdf["qrel"])
        }
        sim = {
            (int(x), int(y)): int(s)
            for x, y, s in zip(
                pairs_pdf["_a"], pairs_pdf["_b"], pairs_pdf["qsim"]
            )
        }
        qid = cand_pdf[query_id_col].iloc[0]
        remaining = set(rel)
        out = []
        for rank in range(1, min(k, len(rel)) + 1):
            best = None
            for c in remaining:
                score = lam_num * rel[c]
                if out:
                    score -= anti * max(sim[(c, s)] for s, _ in out)
                key = (-score, c)
                if best is None or key < best[0]:
                    best = (key, c, score)
            _, c, score = best
            remaining.discard(c)
            out.append((c, score))
        return pd.DataFrame(
            {
                query_id_col: [qid] * len(out),
                id_col: [c for c, _ in out],
                "mmr_rank": list(range(1, len(out) + 1)),
                "mmr_score": [s for _, s in out],
            }
        )

    schema = (
        f"{query_id_col} long, {id_col} long, "
        "mmr_rank int, mmr_score long"
    )
    return (
        cand.groupBy(query_id_col)
        .cogroup(pairs.groupBy("_pqid"))
        .applyInPandas(lambda left, right: greedy(left, right), schema)
    )


# -------------------------------------------------- sparse JL projection


def jl_sign_matrix(
    in_dim: int, out_dim: int, seed: int = 42
) -> list[list[int]]:
    """Deterministic sparse Achlioptas projection matrix: entry (j, i)
    ∈ {−1, 0, +1} with density 1/3 (Achlioptas 2003 — the database-
    friendly JL construction; E[s²]=2/3 scales all dots by the same
    constant, irrelevant to cosine). Signs come from the same integer
    fold as ``_hyperplane`` — a plan-time Python constant, so BOTH
    engines receive literal coefficients and there is nothing to keep
    in sync at runtime."""
    mat = []
    for j in range(out_dim):
        row = []
        for i in range(in_dim):
            h = 0
            for ch in f"jl:{seed}:{j}:{i}":
                h = (h * 31 + ord(ch)) % 4294967296
            r = h % 6
            row.append(1 if r == 0 else (-1 if r == 1 else 0))
        mat.append(row)
    return mat


def jl_project(
    df: DataFrame,
    in_dim: int,
    out_dim: int,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction on the μ-grid:
    ``proj_j = Σ_i s(j,i) · floor(v_i · 1e6)`` — exact int64, so the
    projected space keeps the engine-reproducibility contract of
    every downstream ANN tier (feed the output to knn_join/IVF with
    the projected arrays as integer 'embeddings' ÷ 1e6).

    Why at 100 TB: every ANN stage (IVF training pairs, PQ codebooks,
    pairwise verify) is linear in dim — projecting 1024-d embeddings
    to 64-d once cuts all of it ~16× at a documented recall cost
    (JL: distortion ~ 1/√out_dim), and the projection itself is a
    zero-shuffle narrow map.

    Plan shape (round 11): quantization stays a JVM expression (the
    determinism-bearing step — floor(x·1e6) exactly as every other
    grid consumer), then ONE Arrow pass multiplies the int64 grid
    rows against the broadcast (out_dim × in_dim) sign matrix in
    NumPy. The previous unrolled ±element_at tree (out_dim columns ×
    ~in_dim·⅔ terms each) was a driver bomb, not an executor cost:
    measured at sf0.1, 0.3 s of job time under 2.2-4 s of per-pass
    plan-analysis + whole-stage-codegen gap (the generated Project
    for 16×64 is ~1000 add sites). Integer matmul is order-free, so
    the projected int64s are bit-identical to the unrolled adds; NULL
    vectors produce out_dim NULL slots exactly like null-propagated
    adds, and wrong-width rows raise (np.stack rejects ragged input —
    the same strictness ANSI element_at gave the unrolled tier)."""
    if not (in_dim >= 1 and out_dim >= 1):
        raise ValueError(f"dims must be >= 1, got in={in_dim} out={out_dim}")
    import numpy as np

    mat = jl_sign_matrix(in_dim, out_dim, seed)
    S = np.array(mat, dtype=np.int64)  # (out_dim, in_dim)
    bc = df.sparkSession.sparkContext.broadcast(S)
    id_t = df.schema[id_col].dataType.simpleString()

    def gen(batches):
        import pandas as pd

        St = bc.value.T  # (in_dim, out_dim)
        for pdf in batches:
            if not len(pdf):
                continue
            qs = pdf["_q"]
            mask = qs.notna().to_numpy()
            out = np.empty(len(pdf), dtype=object)
            if mask.any():
                Q = np.stack(qs[mask].to_numpy()).astype(np.int64)
                if Q.shape[1] != St.shape[0]:
                    raise ValueError(
                        f"jl_project: vector width {Q.shape[1]} != "
                        f"in_dim {St.shape[0]}"
                    )
                P = Q @ St
                for j, i in enumerate(np.flatnonzero(mask)):
                    out[i] = P[j]
            for i in np.flatnonzero(~mask):
                out[i] = [None] * St.shape[1]
            yield pd.DataFrame({id_col: pdf[id_col], "proj": out})

    return df.select(
        F.col(id_col), _quantize(F.col(vec_col)).alias("_q")
    ).mapInPandas(gen, f"{id_col} {id_t}, proj array<bigint>")
