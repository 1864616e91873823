"""Task-retry idempotence (VERDICT r4 #4): at 1000 executors task
retries are routine, not exceptional — the holdings cache refresh and
the ANN code lake's ingest/compaction must produce IDENTICAL store
contents whether or not tasks fail and re-execute.

The scenario needs real task re-execution, which local mode only does
under a ``local[N, maxFailures]`` master — so it runs in a subprocess
with its own session (tests/_retry_chaos_runner.py) rather than the
shared fixture. The runner injects a mapInPandas stage that fails every
task's first attempt (TaskContext.attemptNumber() == 0) after the
refresh's incremental merge and the lake's batch encode, runs each
pipeline clean and injected, and compares full row sets.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest


@pytest.mark.slow  # ~2-9 min subprocess with its own session; the r11
# driver verify window timed out on the full suite (VERDICT item 7)
def test_stores_identical_under_injected_task_retries(tmp_path):
    runner = os.path.join(os.path.dirname(__file__), "_retry_chaos_runner.py")
    proc = subprocess.run(
        [sys.executable, runner, str(tmp_path)],
        capture_output=True,
        text=True,
        timeout=540,
    )
    lines = [l for l in proc.stdout.strip().splitlines() if l.startswith("{")]
    assert lines, f"no JSON from runner:\n{proc.stdout}\n{proc.stderr[-3000:]}"
    result = json.loads(lines[-1])
    assert proc.returncode == 0, f"runner failed: {result}\n{proc.stderr[-3000:]}"
    # retries actually fired (marker files from failing first attempts)
    assert result["n_refresh_failures"] > 0
    assert result["n_lake_failures"] > 0
    # and changed nothing
    assert result["refresh_cache_identical"]
    assert result["code_lake_identical"]
    # sanity: the stores weren't trivially empty
    assert result["n_cache_rows"] > 0
    assert result["n_lake_rows"] > 0
