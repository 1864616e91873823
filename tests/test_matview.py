"""Incremental materialized-view maintenance (operators/matview.py):
refresh from a CDC delta must equal a full rebuild on the new
snapshot — including group birth, group death, and updates encoded
as delete+insert."""

from __future__ import annotations

import pyspark.sql.functions as F

from ark_invest_api_rust_data_spark.operators.matview import (
    matview_build,
    matview_refresh,
)

SCHEMA = "k string, v long"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_refresh_equals_rebuild(spark):
    old = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 10), ("c", 5)], SCHEMA
    )
    # churn: delete one 'a' row, kill group 'c', birth group 'd',
    # update b: 10 -> 11 (delete+insert)
    new = spark.createDataFrame(
        [("a", 2), ("b", 11), ("d", 7)], SCHEMA
    )
    measures = {"sv": F.col("v")}
    base = matview_build(old, ["k"], measures)
    ins = new.exceptAll(old).withColumn("op", F.lit("insert"))
    dels = old.exceptAll(new).withColumn("op", F.lit("delete"))
    got = _rows(
        matview_refresh(base, ins.unionByName(dels), ["k"], measures)
    )
    want = _rows(matview_build(new, ["k"], measures))
    assert got == want
    assert ("c", 1, 5) not in got  # dead group dropped
    assert ("d", 1, 7) in got  # born group present


def test_refresh_empty_delta_is_identity(spark):
    old = spark.createDataFrame([("a", 1), ("b", 2)], SCHEMA)
    measures = {"sv": F.col("v")}
    base = matview_build(old, ["k"], measures)
    empty = spark.createDataFrame([], SCHEMA + ", op string")
    got = _rows(matview_refresh(base, empty, ["k"], measures))
    assert got == _rows(base)


def test_refresh_multi_measure_and_duplicates(spark):
    """Duplicate rows are multiset rows (the exceptAll CDC contract):
    deleting one of two identical rows removes exactly one count."""
    old = spark.createDataFrame([("a", 3), ("a", 3), ("a", 4)], SCHEMA)
    new = spark.createDataFrame([("a", 3), ("a", 4)], SCHEMA)
    measures = {"sv": F.col("v"), "sq": F.col("v") * F.col("v")}
    base = matview_build(old, ["k"], measures)
    ins = new.exceptAll(old).withColumn("op", F.lit("insert"))
    dels = old.exceptAll(new).withColumn("op", F.lit("delete"))
    got = _rows(matview_refresh(base, ins.unionByName(dels), ["k"], measures))
    assert got == _rows(matview_build(new, ["k"], measures)) == [("a", 2, 7, 25)]


def test_refresh_null_group_key_and_bad_op(spark):
    """Review findings: NULL group keys must merge null-safely (a
    delete against the NULL-keyed group lands on it, not on a
    phantom row), and an op value outside {insert, delete} raises
    instead of silently counting as a delete."""
    import pyspark.sql.functions as F
    import pytest

    old = spark.createDataFrame(
        [(None, 1), (None, 2), ("b", 10)], SCHEMA
    )
    new = spark.createDataFrame([(None, 2), ("b", 10)], SCHEMA)
    measures = {"sv": F.col("v")}
    base = matview_build(old, ["k"], measures)
    ins = new.exceptAll(old).withColumn("op", F.lit("insert"))
    dels = old.exceptAll(new).withColumn("op", F.lit("delete"))

    def rows_str(df):
        return sorted((tuple(r) for r in df.collect()), key=str)

    got = rows_str(matview_refresh(base, ins.unionByName(dels), ["k"], measures))
    assert got == rows_str(matview_build(new, ["k"], measures))
    assert (None, 1, 2) in got  # NULL-keyed group refreshed in place

    bad = spark.createDataFrame([("b", 1, "INSERT")], SCHEMA + ", op string")
    with pytest.raises(Exception, match="bad op value"):
        matview_refresh(base, bad, ["k"], measures).collect()
