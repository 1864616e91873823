"""Z-order layout (operators/zorder.py): Morton math vs a Python
reference."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ark_invest_api_rust_data_spark.operators.zorder import z_value


def _py_morton(vals, bits):
    z = 0
    for j in range(bits):
        for i, v in enumerate(vals):
            z |= ((min(v, (1 << bits) - 1) >> j) & 1) << (j * len(vals) + i)
    return z


def test_z_value_matches_reference(spark):
    rows = [(a, b) for a in (0, 1, 5, 255, 40000, 70000) for b in (0, 3, 17, 65535)]
    df = spark.createDataFrame(rows, ["a", "b"])
    got = df.select("a", "b", z_value([F.col("a"), F.col("b")], bits=16).alias("z")).collect()
    for r in got:
        assert r["z"] == _py_morton((r["a"], r["b"]), 16), (r["a"], r["b"])


def test_z_value_three_cols_and_validation(spark):
    df = spark.createDataFrame([(1, 2, 3)], ["a", "b", "c"])
    r = df.select(z_value([F.col("a"), F.col("b"), F.col("c")], bits=8).alias("z")).first()
    assert r["z"] == _py_morton((1, 2, 3), 8)
    with pytest.raises(ValueError):
        z_value([], bits=8)
    with pytest.raises(ValueError):
        z_value([F.col("a"), F.col("b")], bits=32)  # 64 > 62


def _file_minmax(path, col):
    out = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(path, f), columns=[col])
        vals = t.column(col).to_pylist()
        out.append((min(vals), max(vals)))
    return out


def _files_hit(minmax, lo, hi):
    """Files a [lo, hi] filter must read under min/max skipping."""
    return sum(1 for mn, mx in minmax if not (mx < lo or mn > hi))


