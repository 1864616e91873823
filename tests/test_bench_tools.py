"""The measurement tools, run as their CLIs in a subprocess: bench.py
(``--only``) and tools/scale_audit.py. The runs that start Spark are in
the slow tier."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_tool(args: list[str], sf_dir: str) -> subprocess.CompletedProcess:
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_CPUS="2",
        SPARK_DRIVER_MEMORY="2g",
    )
    return subprocess.run(
        [sys.executable, *args], cwd=REPO, env=env, capture_output=True, text=True, timeout=900
    )


@pytest.mark.parametrize(
    "args",
    [
        ["bench.py", "--only", "b07_agg_q1,no_such_probe"],
        ["tools/scale_audit.py", "--sfs", "0.001", "--only", "parity_company_bulk,no_such_probe"],
    ],
)
def test_only_rejects_unknown_probe(args, sf_dir):
    proc = run_tool(args, sf_dir)
    assert proc.returncode != 0
    assert "no_such_probe" in proc.stderr


@pytest.mark.slow
def test_bench_only_times_probes_and_keeps_the_committed_detail(sf_dir):
    detail_path = os.path.join(REPO, "BENCH_DETAIL.json")
    with open(detail_path, "rb") as f:
        before = f.read()
    proc = run_tool(["bench.py", "--only", "b07_agg_q1,llm_minhash_lsh"], sf_dir)
    assert proc.returncode == 0, proc.stderr[-2000:]
    *_, detail_line, summary_line = proc.stdout.strip().splitlines()
    detail, summary = json.loads(detail_line), json.loads(summary_line)
    names = ["b07_agg_q1", "llm_minhash_lsh"]
    assert list(detail["queries"]) == names
    for name in names:
        row = detail["ledger"][name]
        assert row["jobs"] > 0 and row["tasks"] > 0, row
        assert 0 <= row["driver_gap_s"] <= row["wall_s"], row
        assert set(detail["shuffle_bytes"][name]) == {"read", "write"}
    assert summary["metric"] == "headline_queries_total"
    assert summary["n_queries"] == 2 and set(summary["queries"]) == set(names)
    with open(detail_path, "rb") as f:
        assert f.read() == before


@pytest.mark.slow
def test_scale_audit_only_audits_probes_outside_the_headline(sf_dir, tmp_path):
    out = tmp_path / "audit.json"
    names = ["parity_company_bulk", "parity_company_bulk_fused"]
    proc = run_tool(
        ["tools/scale_audit.py", "--sfs", "0.001", "--only", ",".join(names), str(out)], sf_dir
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    audit = json.loads(out.read_text())
    assert sorted(audit) == names
    for name in names:
        assert set(audit[name]["0.001"]) == {"sec", "shuffle_read"}
