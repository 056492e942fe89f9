"""Tests of the benchmark itself: generators, statistics, the event-log
parser, the output checks and a minimal run of each workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
sys.path.insert(1, str(ROOT))

import gen  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

SMALL_GH = gen.GithubShape(repos=20, branches_mean=2.5, issues_mean=2.0, per_repo_cap=8, users=30)
SMALL_DOCS = gen.DocShape(docs_per_shard=60, queries=4, stop_ranks=20, mix_docs=40)


# -- generators -------------------------------------------------------------


def _github_bytes(seed: int, n: int = 3) -> list[bytes]:
    g = gen.GithubGenerator(seed, SMALL_GH)
    out = []
    for _ in range(n):
        b = g.next_batch()
        out += [b.repos, b.branches, b.issues]
    return out


def _doc_shards(seed: int, n: int = 3) -> list:
    g = gen.DocGenerator(seed, SMALL_DOCS)
    shards = [g.next_shard() for _ in range(n)]
    return [g.queries] + [(ids.tobytes(), texts) for ids, texts in shards]


def test_same_seed_same_inputs_and_other_seed_differs():
    assert _github_bytes(7) == _github_bytes(7)
    assert _github_bytes(7) != _github_bytes(8)
    assert _doc_shards(7) == _doc_shards(7)
    assert _doc_shards(7) != _doc_shards(8)


def test_github_batches_update_seen_ids_and_carry_dirty_rows():
    g = gen.GithubGenerator(3, SMALL_GH)
    first = json.loads(g.next_batch().repos)
    second = g.next_batch()
    repos = json.loads(second.repos)
    seen = {r["id"] for r in first}
    updates = [r for r in repos if r["id"] in seen]
    assert len(updates) == int(SMALL_GH.repos * SMALL_GH.update_share)
    assert sum(r["owner"]["login"] is None for r in repos) == SMALL_GH.dirty
    assert len(second.clean[0]) == SMALL_GH.repos


def test_fanout_keeps_the_mean_the_cap_and_a_heavy_tail():
    branches = gen.fanout(2628 / 300, 1, 300, 300)
    assert branches.sum() == 2629 and branches.min() == 1 and branches.max() <= 300
    assert sorted(branches.tolist())[150] <= 3 < branches.max() // 10  # median far below the top
    issues = gen.fanout(3210 / 300, 0, 300, 300)
    assert issues.sum() == 3211 and issues.min() == 0


def test_vocab_words_are_distinct_and_follow_heaps_law():
    import numpy as np

    words = gen.make_vocab(np.random.default_rng(0), 30000)
    assert len(set(words.tolist())) == 30000
    assert gen.DocShape().vocab_size == int(44 * (15000 * 55) ** 0.49)


# -- statistics --------------------------------------------------------------


def test_tail_rule_on_known_samples():
    assert stats.tail(list(range(20))) is None  # nothing above p50
    p, v = stats.tail([float(x) for x in range(1, 101)])
    assert (p, v) == (90, 90.0)  # ten samples (91..100) beyond it
    p, v = stats.tail([float(x) for x in range(1, 22)])
    assert p == 52 and sum(x > v for x in range(1, 22)) == 10
    for n in range(21, 300):
        p, v = stats.tail(list(range(n)))
        beyond = sum(x > v for x in range(n))
        assert beyond >= 10 and p > 50
        # one more percentile would leave fewer than ten beyond
        if p < 99:
            rank = -(-n * (p + 1) // 100)
            assert n - rank < 10


# -- event log and attribution ----------------------------------------------


def test_event_log_parser_on_recorded_log():
    log = spans.parse_event_log(spans.event_files(HERE / "data", "local-1"))
    assert sorted(log.jobs) == [0, 1]
    assert log.jobs[1].stage_ids == [1, 2]
    # stage 1 was skipped: listed by job 1 but never run
    assert sorted(log.stages) == [0, 2]
    assert log.stages[0].tasks == 4 and log.stages[2].tasks == 1
    assert log.stages[0].shuffle_bytes == 921
    assert log.stages[2].bytes_written == 804
    assert log.stages[2].cpu_s == pytest.approx(0.858884341)


def test_attribution_by_time_window():
    log = spans.parse_event_log(spans.event_files(HERE / "data", "local-1"))
    j0, j1 = log.jobs[0], log.jobs[1]
    outer = spans.Span("outer", j0.submit - 1, j1.end + 1)
    inner = spans.Span("inner", j1.submit - 0.01, j1.end + 0.01, parent=0)
    work = spans.attribute([outer, inner], log)
    assert (work[1].jobs, work[1].stages, work[1].work.tasks) == (1, 1, 1)
    assert (work[0].jobs, work[0].stages, work[0].work.tasks) == (2, 2, 5)
    busy = (j0.end - j0.submit) + (j1.end - j1.submit)
    assert spans.driver_time(outer, work[0]) == pytest.approx(outer.wall - busy)
    assert spans.self_time([outer, inner], 0) == pytest.approx(outer.wall - inner.wall)


def test_union_length_merges_overlaps_and_clips():
    assert spans.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert spans.union_length([(0, 2), (1, 3)], 1.5, 2.5) == 1


# -- output checks -----------------------------------------------------------


def test_topk_check_trips_on_corruption():
    row = lambda q, r, d, s: {"query_id": q, "rank": r, "doc_id": d, "n_terms": 1, "sum_tf": 1, "score": s}  # noqa: E731
    want = [row(0, 1, 5, 2.0), row(0, 2, 7, 1.0), row(0, 3, 9, 1.0)]
    assert workloads.compare_topk(want, want) == []
    tie_swapped = [row(0, 1, 5, 2.0), row(0, 2, 9, 1.0), row(0, 3, 7, 1.0)]
    assert workloads.compare_topk(tie_swapped, want) == []
    assert workloads.compare_topk([row(0, 1, 6, 2.0)] + want[1:], want)
    assert workloads.compare_topk(want[:2], want)
    assert workloads.compare_topk([row(0, 1, 5, 2.5)] + want[1:], want)


def test_row_check_trips_on_corruption():
    cols, rows = ["id_a", "id_b", "jaccard"], [(1, 2, 0.75), (3, 4, 1.0)]
    swapped = (["jaccard", "id_b", "id_a"], [(1.0, 4, 3), (0.75, 2, 1)])
    assert workloads.compare_rows(*swapped, cols, rows) == []
    assert workloads.compare_rows(cols, rows[:1], cols, rows)
    assert workloads.compare_rows(cols, [(1, 2, 0.7), (3, 4, 1.0)], cols, rows)
    assert workloads.compare_rows(["id_a", "id_b", "j"], rows, cols, rows)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = str(ROOT)
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from incremental_github_data_pipeline_spark.session import get_spark

    s = get_spark(
        app_name="perfbench-tests",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("wh")),
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_github_smoke_and_check_trips(spark, tmp_path):
    wl = workloads.GithubIncremental(1, tmp_path, SMALL_GH)
    for _ in range(2):
        (op,) = wl.step(spark)
        assert op.kind == "batch" and op.wall_s > 0
    assert wl.check(spark) == []
    wl.expected.stars[next(iter(wl.expected.stars))] += 1  # an update lost
    assert any("repos_clean" in f for f in wl.check(spark))


def test_search_smoke_and_check_trips(spark, tmp_path):
    wl = workloads.SearchLifecycle(1, tmp_path, SMALL_DOCS)
    for _ in range(2):
        ingest, serve, mix = wl.step(spark)
        assert (ingest.kind, serve.kind, mix.kind) == ("batch", "query", "mix")
    assert wl.served and set(wl.mixed) == set(workloads.MIX)
    assert wl.check(spark) == []
    served, wl.served = wl.served, [r for r in wl.served if r["rank"] != 1]  # a lost hit
    assert wl.check(spark)
    wl.served = served
    cols, rows = wl.mixed["q_doc_contained"]
    wl.mixed["q_doc_contained"] = (cols, rows[1:])  # a lost pair
    assert any("q_doc_contained" in f for f in wl.check(spark))


# -- the command -------------------------------------------------------------


@pytest.mark.parametrize(
    "workload,trace", [("search_lifecycle", 0), ("github_incremental", 1)]
)
def test_command_prints_every_metric(workload, trace):
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    out = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    listed = bench["per_layer"] if trace else bench["end_to_end"]
    got = result["metrics"]
    assert {k: v["unit"] for k, v in got.items()} == {m["name"]: m["unit"] for m in listed}
    if not trace:
        assert all(v["value"] > 0 for v in got.values())
    else:  # github_incremental merges and rewrites snapshots, never commits versions
        assert got["incremental.merge_upsert.calls"]["value"] == 5
        assert got["writers.write_rotating.calls"]["value"] == 5
        assert got["incremental.run_incremental_github.jobs"]["value"] > 0
        assert got["versioned.commit_version.calls"]["value"] == 0
        assert got["versioned.read_version.calls"]["value"] == 0
        assert got["queries.q_doc_contained.jobs"]["value"] == 0


def test_command_fails_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "github_incremental",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0 and '"metrics"' not in out.stdout
