"""Smoke tests for the driver contract surface."""

from __future__ import annotations

import importlib

import pytest

entry_mod = importlib.import_module("__spark_entry__")


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(df.columns) == {"n_name", "revenue"}


def test_queries_and_oracles_align():
    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    assert qs, "queries() must not be empty"
    assert set(os_) <= set(qs)
    # at least 80% of queries must declare an oracle
    assert len(os_) >= 0.8 * len(qs)


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_each_query_runs_smoke(spark, sf_dir, name):
    fn = entry_mod.queries()[name]
    df = fn(spark, sf_dir)
    assert df.columns  # schema resolves
    df.limit(5).collect()  # plan executes


