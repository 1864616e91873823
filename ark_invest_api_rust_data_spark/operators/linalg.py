"""Distributed exact linear algebra over embedding columns: the gram
(uncentered covariance) matrix — the building block for PCA whitening
(SemDeDup's paper whitens before cosine) and low-rank analysis.

Shape: the classic two-level matrix reduce.  Each Arrow batch computes
its int64 partial gram with one vectorized ``q.T @ q`` (numpy,
JVM→Arrow batch transfer — matrix accumulation is exactly the workload
that belongs in vectorized batch code, not per-row expressions), then
the d² partial cells reduce across batches in ONE tiny shuffle whose
row count is n_batches·d², independent of corpus size.  At 1000
executors every core streams its partition through BLAS and ships one
d×d matrix.

Exactness: vectors μ-quantize to ``floor(x·10^6)`` int64 (the same
grid as k-means/SemDeDup, operators/clustering.py), so partial sums
are integers and the result hash-matches a DuckDB oracle that states
the same sums over unnested dimension pairs.  int64 envelope: cell
sums are ≤ 10^12·N for unit-scale embeddings — exact to N ≈ 9·10^6
vectors at the default scale; pass a coarser ``scale`` beyond that.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def gram_matrix(
    df: DataFrame,
    dim: int,
    scale: int = 10**6,
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact int64 gram matrix Σ q·qᵀ over quantized embeddings.
    Returns d² rows (i, j, s) with 0-based dimension indices."""
    import numpy as np
    import pandas as pd

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = np.zeros((dim, dim), dtype=np.int64)
        seen = False
        for b in batches:
            if len(b) == 0:
                continue
            m = np.stack(b[vec_col].to_numpy())
            q = np.floor(m.astype(np.float64) * scale).astype(np.int64)
            acc += q.T @ q
            seen = True
        if seen:
            yield pd.DataFrame({"cell": [acc.reshape(dim * dim).tolist()]})

    part = df.select(vec_col).mapInPandas(partials, "cell array<long>")
    return (
        part.select(F.posexplode("cell").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("s"))
        .select(
            F.expr(f"CAST(pos div {dim} AS INT)").alias("i"),
            F.pmod("pos", F.lit(dim)).cast("int").alias("j"),
            F.col("s").cast("long").alias("s"),
        )
    )


