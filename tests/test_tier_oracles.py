"""DuckDB-oracle pins for the operators that run a single execution
tier (k-means / IVF assignment, semantic dedup's Arrow pair verify,
SimHash, quality filter, k-mins sketch, DSIR, temperature mix, PQ and
the fused IVF-PQ trainer with its search): each probe's Spark result
must equal its committed ``oracle_sql`` row for row, compared the way
the correctness gate compares (columns sorted by name, rows
order-insensitive, floats at full precision)."""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pytest

from ark_invest_api_rust_data_spark.catalog import ALL_TABLES
from ark_invest_api_rust_data_spark.plans import all_probes

_VERIFY = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "verify_oracle.py",
)
_spec = importlib.util.spec_from_file_location("verify_oracle", _VERIFY)
verify_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(verify_oracle)

PROBES = [
    "llm_kmeans",
    "llm_semantic_dedup_nprobe",
    "llm_semantic_dedup_scaled",
    "llm_ivf_incremental",
    "llm_simhash",
    "llm_quality_filter",
    "llm_kmins_distinct",
    "llm_dsir_weights",
    "llm_dsir_incremental",
    "llm_temperature_mix",
    "llm_pq_topk",
    "llm_ivfpq_topk",
    "llm_ivfpq_persisted",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in ALL_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", PROBES)
def test_single_tier_probe_matches_oracle(spark, sf_dir, duck, name):
    probe = all_probes()[name]
    assert probe.oracle is not None
    sdf = probe.spark(spark, sf_dir)
    got = verify_oracle.canon([tuple(r) for r in sdf.collect()], sdf.columns)
    res = duck.execute(probe.oracle)
    ocols = [d[0] for d in res.description]
    want = verify_oracle.canon(res.fetchall(), ocols)
    assert sorted(sdf.columns) == sorted(ocols)
    assert got, f"{name}: empty result pins nothing"
    assert got == want
