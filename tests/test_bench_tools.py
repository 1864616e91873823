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


def test_gates_skip_a_baseline_from_another_core_count(capsys):
    """A committed detail measured on another core count, or with none
    recorded, is no baseline: one WARN line says why. On the same core
    count the job gate flags growth of 2+ jobs and skips queries that
    have no committed ledger row, next to the shuffle gate."""
    import bench

    ledger = {"q_up2": {"jobs": 5}, "q_up1": {"jobs": 4}, "q_new": {"jobs": 9}}
    shuffle = {"q_up2": {"read": 4_000_000}, "q_up1": {"read": 1_000_000}}
    detail = {
        "ledger": {"q_up2": {"jobs": 3}, "q_up1": {"jobs": 3}},
        "shuffle_bytes": {"q_up2": {"read": 2_000_000}, "q_up1": {"read": 1_000_000}},
    }
    for cpus in (None, 32):
        committed = ("git:HEAD", dict(detail, **({} if cpus is None else {"cpus": cpus})))
        assert bench.same_cores(committed, 4) is None
        warns = capsys.readouterr().err.splitlines()
        assert len(warns) == 1 and warns[0].startswith("WARN") and f"cpus={cpus}" in warns[0]
    assert bench.same_cores(None, 4) is None

    committed = ("git:HEAD", dict(detail, cpus=4))
    assert bench.same_cores(committed, 4) is committed
    shuffle_deltas, job_deltas = bench.gate_regressions(committed, shuffle, ledger)
    assert job_deltas["regressions"] == {"q_up2": {"prev_jobs": 3, "cur_jobs": 5}}
    assert list(shuffle_deltas["regressions"]) == ["q_up2"]
    err = capsys.readouterr().err
    assert "WARN job-count regression" in err and "WARN shuffle regression" in err


def test_ledger_counts_a_streaming_querys_jobs_for_its_pass():
    """Jobs under a group that is not a pass's (a streaming query's run
    id) join the pass whose window holds their submission; a group
    outside every window joins none, and the passes' own rows keep
    their numbers."""
    import bench

    def acc(intervals, **counts):
        base = dict.fromkeys(("jobs", "stages", "tasks", "shuffle_read_bytes", "executor_run_s"), 0)
        return dict(base, intervals=intervals, **counts)

    windows = {"q@p0": (10.0, 20.0), "q@p1": (20.0, 30.0), "s@p0": (30.0, 40.0)}
    by_group = {
        "q@p0": acc([(11.0, 12.0)], jobs=1, tasks=4),
        "q@p1": acc([(21.0, 22.0)], jobs=1, tasks=4, shuffle_read_bytes=100),
        "run-id-a": acc([(23.0, 24.0), (25.0, 26.0)], jobs=2, stages=3, tasks=6, shuffle_read_bytes=50),
        "run-id-b": acc([(31.0, 33.0)], jobs=1, tasks=2, executor_run_s=0.5),
        "run-id-late": acc([(45.0, 46.0)], jobs=1, tasks=1),
    }
    out = bench.fold_unlabelled_groups(by_group, windows)
    assert sorted(out) == ["q@p0", "q@p1", "s@p0"]
    assert out["q@p0"] == by_group["q@p0"]
    assert out["q@p1"]["jobs"] == 3 and out["q@p1"]["tasks"] == 10 and out["q@p1"]["stages"] == 3
    assert out["q@p1"]["shuffle_read_bytes"] == 150
    assert out["q@p1"]["intervals"] == [(21.0, 22.0), (23.0, 24.0), (25.0, 26.0)]
    assert out["s@p0"]["jobs"] == 1 and out["s@p0"]["executor_run_s"] == 0.5
    row = bench.ledger_row(dict(out["q@p1"], executor_cpu_s=0, jvm_gc_s=0,
                                python_bytes_sent=0, python_bytes_returned=0), windows["q@p1"])
    assert row["jobs"] == 3 and row["driver_gap_s"] == 7.0
    assert by_group["q@p1"]["jobs"] == 1 and by_group["q@p1"]["intervals"] == [(21.0, 22.0)]
