"""Gram matrix (operators/linalg.py): exact equality against a numpy
reference on the same quantization grid, stable across partitionings."""

from __future__ import annotations

import math

from ark_invest_api_rust_data_spark.operators.linalg import gram_matrix

VECS = [
    [0.5, -0.25, 0.125],
    [-0.1, 0.2, -0.3],
    [1.0, 0.0, -1.0],
    [0.333333, -0.666666, 0.999999],
    [0.0, 0.0, 0.0],
]


def _ref(scale):
    q = [[math.floor(x * scale) for x in v] for v in VECS]
    d = len(q[0])
    return {
        (i, j): sum(row[i] * row[j] for row in q)
        for i in range(d)
        for j in range(d)
    }


def test_gram_matches_numpy_reference(spark):
    df = spark.createDataFrame(
        [(v,) for v in VECS], "embedding array<float>"
    )
    # NB: reference must quantize the FLOAT32-rounded values like the
    # operator (CAST AS DOUBLE of a float32 column)
    import struct

    f32 = [
        [struct.unpack("f", struct.pack("f", x))[0] for x in v]
        for v in VECS
    ]
    q = [[math.floor(x * 10**6) for x in v] for v in f32]
    ref = {
        (i, j): sum(row[i] * row[j] for row in q)
        for i in range(3)
        for j in range(3)
    }
    got = {
        (r["i"], r["j"]): r["s"] for r in gram_matrix(df, dim=3).collect()
    }
    assert got == ref


def test_gram_partitioning_invariant(spark):
    df = spark.createDataFrame([(v,) for v in VECS], "embedding array<float>")
    one = {
        (r["i"], r["j"]): r["s"]
        for r in gram_matrix(df.coalesce(1), dim=3).collect()
    }
    many = {
        (r["i"], r["j"]): r["s"]
        for r in gram_matrix(df.repartition(4), dim=3).collect()
    }
    assert one == many and len(one) == 9


def test_gram_symmetry(spark):
    df = spark.createDataFrame([(v,) for v in VECS], "embedding array<float>")
    got = {(r["i"], r["j"]): r["s"] for r in gram_matrix(df, dim=3).collect()}
    for (i, j), s in got.items():
        assert got[(j, i)] == s


# ------------------------------------------------------------- PCA
def _f32(vs):
    import struct

    return [
        [struct.unpack("f", struct.pack("f", x))[0] for x in v] for v in vs
    ]


PCA_VECS = [
    [0.9, 0.1, 0.0, 0.05],
    [0.8, 0.2, 0.01, 0.0],
    [-0.7, -0.1, 0.02, 0.01],
    [0.1, 0.9, -0.3, 0.2],
    [0.0, 0.85, -0.25, 0.15],
    [-0.2, -0.8, 0.3, -0.1],
    [0.5, 0.5, 0.5, 0.5],
    [0.05, -0.05, 0.6, -0.6],
]


def _ref_pca(k):
    import numpy as np

    q = np.floor(np.array(_f32(PCA_VECS), dtype=np.float64) * 10**6)
    mean = q.mean(axis=0)
    cov = (q - mean).T @ (q - mean) / len(q)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T
    for row in comps:
        j = int(np.argmax(np.abs(row)))
        if row[j] < 0:
            row *= -1.0
    return mean, comps, evals[order]


