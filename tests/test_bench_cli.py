"""bench.py's command line: named lanes under every mode, the
unknown-lane error and ``--diff``. bench.py runs as a subprocess, so
its session stops never reach the suite's shared session."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from conftest import SF_DIR

ROOT = Path(__file__).resolve().parents[1]


def _bench(*args: str) -> subprocess.CompletedProcess:
    env = {**os.environ, "SPARK_GRAFT_SF_DIR": SF_DIR, "PYTHONPATH": str(ROOT)}
    return subprocess.run(
        [sys.executable, str(ROOT / "bench.py"), *args],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )


def _porcelain() -> str:
    return subprocess.run(
        ["git", "status", "--porcelain"],
        cwd=ROOT, capture_output=True, text=True,
    ).stdout


def test_named_lanes_under_every_mode(tmp_path):
    before = _porcelain()
    plans = tmp_path / "plans"
    res = _bench(
        "--jobs", "--noop", "--plans", str(plans),
        "q01_pricing_summary", "x_expectations",
    )
    assert res.returncode == 0, res.stderr[-3000:]
    lines = res.stdout.splitlines()
    assert len(lines) == 1, res.stdout[-3000:]
    rec = json.loads(lines[0])
    names = {"q01_pricing_summary", "x_expectations"}
    assert set(rec["queries"]) == names
    assert set(rec["job_counts"]) == names
    assert all(jobs > 0 for jobs, _, _ in rec["job_counts"].values())
    # noop and plans cover registry queries only
    assert set(rec["noop"]) == {"q01_pricing_summary"}
    assert [p.name for p in plans.iterdir()] == ["q01_pricing_summary.txt"]
    assert "Physical Plan" in (plans / "q01_pricing_summary.txt").read_text()
    assert _porcelain() == before  # nothing written into the tree


def test_unknown_lane_exits_nonzero_and_names_it():
    res = _bench("q01_pricing_summary", "q_no_such_lane")
    assert res.returncode != 0
    assert "q_no_such_lane" in res.stderr
    assert res.stdout == ""


def test_diff_reports_shared_rows_and_movers(tmp_path):
    old, new = tmp_path / "old.json", tmp_path / "new.json"
    old.write_text(json.dumps({
        "queries": {"a": 1.0, "b": 2.0, "c": 4.0, "gone": 9.0},
        "probe_sec": 0.5, "probe_ratio": 1.136,
    }))
    new.write_text(json.dumps({
        "queries": {"a": 0.5, "b": 2.0, "c": 5.0, "added": 1.0},
        "probe_sec": 0.25, "probe_ratio": 0.568,
    }))
    res = _bench("--diff", str(old), str(new))
    assert res.returncode == 0, res.stderr
    movers = [
        "    1.000 ->   0.500 (0.50x)  a",
        "    2.000 ->   2.000 (1.00x)  b",
        "    4.000 ->   5.000 (1.25x)  c",
    ]
    assert res.stdout.splitlines() == [
        "shared rows: 3",
        "sum: 7.00 -> 7.50  (1.071x raw)",
        "per-row median ratio: 1.000",
        "probe: 0.5 (ratio 1.136) -> 0.25 (ratio 0.568)",
        "probe-normalized sum ratio: 2.143",
        "",
        "top improvements (raw):",
        *movers,
        "",
        "top regressions (raw):",
        *movers,
    ]
