"""Streaming layer (SURVEY.md §2.8): availableNow file streams,
foreachBatch keep-last merge on uuid5 keys, watermarked windows,
streaming dedup, and the applyInPandasWithState custom operator.

All tests drive real micro-batch execution against temp dirs (no
mocked streams); results land in memory sinks or parquet snapshots and
are compared against batch-computed expectations.
"""

from __future__ import annotations

import json
import shutil

import pytest
from pyspark.sql import functions as F

from incremental_github_data_pipeline_spark.streaming import (
    dedup_within_watermark,
    enrich_stream_static,
    join_streams_windowed,
    merge_upsert,
    run_incremental_github,
    running_totals_stateful,
    session_window_agg,
    stream_json_dir,
    windowed_counts,
)

SF_EVENTS = "/root/testdata/sf0.001/events.parquet"


def _events_batch(spark):
    """sf0.001 events with ts normalized to a real timestamp (the raw
    parquet stores TIMESTAMP(NANOS) which scans as long — see
    sources.readers.read_parquet_table)."""
    from incremental_github_data_pipeline_spark.sources.readers import read_table

    return read_table(spark, "/root/testdata/sf0.001", "events")


def _events_stream(spark, tmp_path):
    """Stage the sf0.001 events table as a file-stream source dir."""
    src = tmp_path / "events_src"
    df = _events_batch(spark)
    df.coalesce(2).write.parquet(str(src))
    return spark.readStream.schema(df.schema).parquet(str(src))


def _run_to_memory(df, name, tmp_path, output_mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return df.sparkSession.table(name)


def test_merge_upsert_keep_last(spark, tmp_path):
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string")
    b2 = spark.createDataFrame([(2, "B2"), (3, "c")], "id long, val string")
    merge_upsert(spark, b1, tmp_path, "t", ["id"])
    merge_upsert(spark, b2, tmp_path, "t", ["id"])
    got = {
        (r["id"], r["val"])
        for r in spark.read.parquet(str(tmp_path / "t")).collect()
    }
    assert got == {(1, "a"), (2, "B2"), (3, "c")}
    # replay of b2 is a no-op (idempotent merge — SURVEY.md §1.5)
    merge_upsert(spark, b2, tmp_path, "t", ["id"])
    assert spark.read.parquet(str(tmp_path / "t")).count() == 3


def test_windowed_counts_matches_batch(spark, tmp_path):
    stream = _events_stream(spark, tmp_path)
    out = _run_to_memory(
        windowed_counts(stream, watermark="0 seconds"), "hourly", tmp_path
    )
    batch = (
        _events_batch(spark)
        .groupBy(F.window("ts", "1 hour"))
        .count()
    )
    # append mode emits only windows the watermark closed; every emitted
    # window must match its batch twin and most windows must be emitted
    got = {(r["window_start"], r["n_events"]) for r in out.collect()}
    want = {(r["window"]["start"], r["count"]) for r in batch.collect()}
    assert got <= want
    assert len(got) >= len(want) - 1  # only the last open window may be held back


def test_session_window_agg_runs(spark, tmp_path):
    stream = _events_stream(spark, tmp_path)
    out = _run_to_memory(
        session_window_agg(stream, watermark="0 seconds"), "sessions", tmp_path
    )
    rows = out.collect()
    assert rows, "expected closed sessions to be emitted"
    assert all(r["session_start"] <= r["session_end"] for r in rows)


def test_dedup_within_watermark(spark, tmp_path):
    src = tmp_path / "dup_src"
    dup = _events_batch(spark).limit(50)
    dup.unionByName(dup).coalesce(1).write.parquet(str(src))  # every row twice
    stream = spark.readStream.schema(dup.schema).parquet(str(src))
    out = _run_to_memory(
        dedup_within_watermark(stream, ["event_id"], watermark="1 hour"),
        "dedup",
        tmp_path,
    )
    assert out.count() == 50


def test_running_totals_stateful(spark, tmp_path):
    stream = _events_stream(spark, tmp_path)
    out = _run_to_memory(
        running_totals_stateful(stream), "totals", tmp_path, output_mode="update"
    )
    batch = (
        _events_batch(spark)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
    )
    got = {r["user_id"]: (r["n_events"], r["total_value"]) for r in out.collect()}
    for r in batch.collect():
        n, total = got[r["user_id"]]
        assert n == r["n"]
        assert total == pytest.approx(r["total"])


def test_enrich_stream_static(spark, tmp_path):
    stream = _events_stream(spark, tmp_path)
    dim = spark.createDataFrame(
        [("click", "interaction"), ("view", "interaction"), ("error", "fault")],
        "event_type string, category string",
    )
    out = _run_to_memory(
        enrich_stream_static(stream, dim, ["event_type"]), "enriched", tmp_path
    )
    batch = _events_batch(spark)
    assert out.count() == batch.count()  # left join preserves the stream
    n_fault = out.filter(F.col("category") == "fault").count()
    assert n_fault == batch.filter(F.col("event_type") == "error").count()


def test_join_streams_windowed(spark, tmp_path):
    """Purchases joined to same-user views within the preceding 30 min —
    stream-stream twin of the range join; result must match the batch
    band join."""
    stream = _events_stream(spark, tmp_path)
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id"), F.col("ts")
    )
    views = stream.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"), F.col("user_id"), F.col("ts")
    )
    joined = join_streams_windowed(
        purchases, views, ["user_id"], watermark="0 seconds", max_gap="30 minutes"
    ).select(F.col("l.p_id"), F.col("r.v_id"))
    out = _run_to_memory(joined, "ss_join", tmp_path)

    b = _events_batch(spark)
    bp = b.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    bv = b.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_id"), F.col("user_id").alias("vu"), F.col("ts").alias("vts")
    )
    want = bp.join(
        bv,
        (F.col("pu") == F.col("vu"))
        & (F.col("vts") >= F.col("pts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("vts") <= F.col("pts")),
    ).select("p_id", "v_id")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, want.collect()))


def test_incremental_github_end_to_end(spark, tmp_path):
    """Two incremental runs: initial load, then a raw update with one
    changed + one new repo — merge keeps last per uuid5 key."""
    raw = tmp_path / "raw"
    out = tmp_path / "out"
    raw.mkdir()
    shutil.copy("/root/reference/data/raw_data/repos_raw.json", raw / "repos_raw.json")
    run_incremental_github(spark, raw, out, tmp_path / "ckpt1", issues_available=False)
    first = spark.read.parquet(str(out / "repos_clean"))
    assert first.count() == 300  # reference audit log REPOS count

    with open(raw / "repos_raw.json", encoding="utf-8") as f:
        repos = json.load(f)
    changed = dict(repos[0])
    changed["stargazers_count"] = 10**6
    brand_new = dict(repos[1])
    brand_new["id"] = 999999999
    brand_new["name"] = "brand-new-repo"
    brand_new["full_name"] = f"{brand_new['owner']['login']}/brand-new-repo"
    with open(raw / "repos_raw_2.json", "w", encoding="utf-8") as f:
        json.dump([changed, brand_new], f)

    run_incremental_github(spark, raw, out, tmp_path / "ckpt1", issues_available=False)
    second = spark.read.parquet(str(out / "repos_clean"))
    assert second.count() == 301
    updated = second.filter(F.col("repo_name") == changed["name"]).collect()[0]
    assert updated["stargazers_count"] == 10**6
    # backup generation retained by the rotating writer
    assert (out / "repos_clean_backup").exists()


# ---------------------------------------------------------------------------
# run_incremental_github on raw batches written by the tests: all five
# tables, keep-last updates, dropped rows, replay and a failing merge.
# ---------------------------------------------------------------------------

_GH_USERS = {"alice": 11, "bob": 12, "carol": 13}


def _gh_repo(gid, name, stars):
    return {
        "id": gid, "name": name, "full_name": f"acme/{name}",
        "owner": {"id": 1, "login": "acme"}, "visibility": "public",
        "stargazers_count": stars, "created_at": "2024-01-01T00:00:00Z",
    }


def _gh_branch(repo, name, sha):
    return {"name": name, "repo_name": repo, "protected": False, "commit": {"sha": sha}}


def _gh_issue(gid, repo, number, author, state, comments, assignee=None):
    def user(login):
        return None if login is None else {"id": _GH_USERS[login], "login": login}

    return {
        "id": gid, "repo_name": repo, "number": number, "user": user(author),
        "title": f"issue {number}", "state": state, "comments": comments,
        "assignee": user(assignee),
    }


# Batch 2 updates repo alpha, adds a branch and an issue on it, moves a
# branch head and closes an issue; carol authors that issue and alice,
# an author since batch 1, is its assignee (bob is both from batch 1 on).
# Every batch also carries a null-key row and an orphan row (repo
# "ghost" is in no batch) per entity.
GH_BATCH_1 = {
    "repos": [
        _gh_repo(101, "alpha", 5),
        _gh_repo(102, "beta", 7),
        _gh_repo(None, "nokey", 1),
    ],
    "branches": [
        _gh_branch("alpha", "main", "a1"),
        _gh_branch("beta", "main", "b1"),
        _gh_branch("ghost", "main", "g1"),
        _gh_branch("alpha", None, "n1"),
    ],
    "issues": [
        _gh_issue(1001, "alpha", 1, "alice", "open", 0, assignee="bob"),
        _gh_issue(1002, "beta", 1, "bob", "open", 0),
        _gh_issue(1009, "ghost", 1, "carol", "open", 0),
        _gh_issue(None, "alpha", 9, "carol", "open", 0),
    ],
}
GH_BATCH_2 = {
    "repos": [
        _gh_repo(101, "alpha", 50),
        _gh_repo(103, "gamma", 1),
        _gh_repo(None, "nokey", 2),
    ],
    "branches": [
        _gh_branch("alpha", "main", "a1x"),
        _gh_branch("alpha", "dev", "a2"),
        _gh_branch("ghost", "dev", "g2"),
        _gh_branch("gamma", None, "n2"),
    ],
    "issues": [
        _gh_issue(1001, "alpha", 1, "alice", "closed", 3, assignee="bob"),
        _gh_issue(1003, "alpha", 2, "carol", "open", 1, assignee="alice"),
        _gh_issue(1010, "ghost", 2, "carol", "open", 0),
        _gh_issue(None, "gamma", 9, "carol", "open", 0),
    ],
}


def _land_github(raw, n, batch):
    raw.mkdir(exist_ok=True)
    (raw / "branches_raw.json").write_text(json.dumps(batch["branches"]))
    (raw / "issues_raw.json").write_text(json.dumps(batch["issues"]))
    (raw / f"repos_raw_{n}.json").write_text(json.dumps(batch["repos"]))


def _gh_expected():
    """The keep-last state of every table after batch 1 and after batch 2,
    as {key: tracked values}."""
    import uuid

    from incremental_github_data_pipeline_spark import keys

    def uid(ns, name):
        return str(uuid.uuid5(ns, name))

    def repo(name):
        return uid(keys.NAMESPACE_REPO, f"acme|{name}")

    def user(login):
        return uid(keys.NAMESPACE_USER, login)

    def branch(r, b, sha):
        return {uid(keys.NAMESPACE_BRANCH, f"{r}|{b}"): (sha, repo(r))}

    def issue(r, n, gid, state, comments, author, assignee=None):
        return {
            uid(keys.NAMESPACE_ISSUE, f"{r}|{n}"): (
                gid, state, comments, user(author),
                user(assignee) if assignee else None, repo(r),
            )
        }

    owners = {uid(keys.NAMESPACE_OWNER, "acme"): ("acme",)}
    after1 = {
        "repos_clean": {repo("alpha"): (101, 5), repo("beta"): (102, 7)},
        "owners_clean": owners,
        "branches_clean": {**branch("alpha", "main", "a1"), **branch("beta", "main", "b1")},
        "issues_clean": {
            **issue("alpha", 1, 1001, "open", 0, "alice", "bob"),
            **issue("beta", 1, 1002, "open", 0, "bob"),
        },
        "users_clean": {user(u): (u,) for u in ("alice", "bob")},
    }
    after2 = {
        "repos_clean": {**after1["repos_clean"], repo("alpha"): (101, 50), repo("gamma"): (103, 1)},
        "owners_clean": owners,
        "branches_clean": {
            **after1["branches_clean"],
            **branch("alpha", "main", "a1x"),
            **branch("alpha", "dev", "a2"),
        },
        "issues_clean": {
            **after1["issues_clean"],
            **issue("alpha", 1, 1001, "closed", 3, "alice", "bob"),
            **issue("alpha", 2, 1003, "open", 1, "carol", "alice"),
        },
        "users_clean": {user(u): (u,) for u in ("alice", "bob", "carol")},
    }
    return after1, after2


_GH_TRACKED = {
    "repos_clean": ("repo_id", "github_repo_id", "stargazers_count"),
    "owners_clean": ("owner_id", "owner_login"),
    "branches_clean": ("branch_id", "commit_sha", "repo_id"),
    "issues_clean": (
        "issue_id", "github_issue_id", "state", "comments",
        "author_id", "assignee_id", "repo_id",
    ),
    "users_clean": ("user_id", "user_login"),
}


def _gh_state(spark, out, names=tuple(_GH_TRACKED)):
    """Each snapshot as {key: tracked values}; keys must be unique."""
    state = {}
    for name in names:
        rows = spark.read.parquet(str(out / name)).select(*_GH_TRACKED[name]).collect()
        state[name] = {r[0]: tuple(r[1:]) for r in rows}
        assert len(state[name]) == len(rows), f"{name}: duplicate keys"
    return state


def _gh_snapshots(spark, out):
    """Every column of every snapshot but the ingest timestamp."""
    return {
        name: sorted(
            spark.read.parquet(str(out / name)).drop("ingested_at").collect(), key=str
        )
        for name in _GH_TRACKED
    }


def _persistent_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _cached_rdd_ids(spark):
    """Persistent RDDs that are caches, not local checkpoints (a
    localCheckpoint persists its RDD until the frame is collected)."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {i for i in rdds.keySet() if not rdds.get(i).rdd().isLocallyCheckpointed()}


def test_incremental_github_five_tables_keep_last_and_replay(spark, tmp_path):
    """Two batches written here through all five tables: updates win,
    null-key and orphan rows are dropped, users join authors and
    assignees; the batches' cached frames are released; replaying
    batch 2 under a fresh checkpoint changes nothing."""
    raw, out = tmp_path / "raw", tmp_path / "out"
    after1, after2 = _gh_expected()
    persisted = _persistent_rdd_ids(spark)

    _land_github(raw, 1, GH_BATCH_1)
    run_incremental_github(spark, raw, out, tmp_path / "ckpt")
    assert _gh_state(spark, out) == after1

    _land_github(raw, 2, GH_BATCH_2)
    run_incremental_github(spark, raw, out, tmp_path / "ckpt")
    assert _gh_state(spark, out) == after2
    assert _persistent_rdd_ids(spark) - persisted == set()

    before = _gh_snapshots(spark, out)
    _land_github(tmp_path / "replay", 2, GH_BATCH_2)
    run_incremental_github(spark, tmp_path / "replay", out, tmp_path / "ckpt_replay")
    assert _gh_snapshots(spark, out) == before


def test_incremental_github_failed_merge_raises_and_rerun_converges(spark, tmp_path):
    """One table's merge fails (its snapshot holds `comments` as a
    string): the run raises, no worker thread outlives it, every
    snapshot is a whole generation, and a rerun after the snapshot is
    repaired replays the batch to the keep-last state."""
    import threading

    from pyspark.errors import StreamingQueryException

    from incremental_github_data_pipeline_spark.sources.writers import write_rotating

    raw, out, ckpt = tmp_path / "raw", tmp_path / "out", tmp_path / "ckpt"
    after1, after2 = _gh_expected()
    _land_github(raw, 1, GH_BATCH_1)
    run_incremental_github(spark, raw, out, ckpt)
    issues = spark.read.parquet(str(out / "issues_clean"))
    write_rotating(issues.withColumn("comments", F.col("comments").cast("string")), out, "issues_clean")

    _land_github(raw, 2, GH_BATCH_2)
    threads = set(threading.enumerate())
    with pytest.raises(StreamingQueryException):
        run_incremental_github(spark, raw, out, ckpt)
    assert [
        t for t in threading.enumerate()
        if t not in threads and t.name.startswith("ThreadPoolExecutor")
    ] == []
    others = [n for n in _GH_TRACKED if n != "issues_clean"]
    for name, got in _gh_state(spark, out, others).items():
        assert got in (after1[name], after2[name]), name
        assert (out / name / "_SUCCESS").exists()
    bad = spark.read.parquet(str(out / "issues_clean"))
    assert dict(bad.dtypes)["comments"] == "string" and bad.count() == 2

    write_rotating(bad.withColumn("comments", F.col("comments").cast("long")), out, "issues_clean")
    run_incremental_github(spark, raw, out, ckpt)
    assert _gh_state(spark, out) == after2


def _jobs_in_group(spark, group, action):
    """Spark jobs that ``action`` runs on this thread."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_merge_upsert_reads_snapshot_with_batch_schema(spark, tmp_path):
    """The snapshot is read with the batch's schema, not inferred from
    its footers: a merge into an existing snapshot runs the shuffle and
    the write, and no schema-inference job."""
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string")
    b2 = spark.createDataFrame([(2, "B2"), (3, "c")], "id long, val string")
    merge_upsert(spark, b1, tmp_path, "t", ["id"])
    jobs = _jobs_in_group(
        spark, "merge-into-snapshot", lambda: merge_upsert(spark, b2, tmp_path, "t", ["id"])
    )
    assert jobs == 2


def test_merge_upsert_type_conflict_raises_and_keeps_snapshot(spark, tmp_path):
    from py4j.protocol import Py4JJavaError

    merge_upsert(spark, spark.createDataFrame([(1, "x")], "id long, n string"), tmp_path, "t", ["id"])
    clash = spark.createDataFrame([(2, 5)], "id long, n long")
    with pytest.raises(Py4JJavaError, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        merge_upsert(spark, clash, tmp_path, "t", ["id"])
    snap = spark.read.parquet(str(tmp_path / "t"))
    assert snap.dtypes == [("id", "bigint"), ("n", "string")]
    assert [tuple(r) for r in snap.collect()] == [(1, "x")]


def test_merge_upsert_adds_new_batch_column_as_null(spark, tmp_path):
    """A column the batch has and the snapshot lacks is added; rows
    merged before it existed read NULL there (additive evolution)."""
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string")
    wider = spark.createDataFrame([(2, "B2", 9)], "id long, val string, extra long")
    merge_upsert(spark, b1, tmp_path, "t", ["id"])
    merge_upsert(spark, wider, tmp_path, "t", ["id"])
    got = sorted(tuple(r) for r in spark.read.parquet(str(tmp_path / "t")).collect())
    assert got == [(1, "a", None), (2, "B2", 9)]


def test_incremental_curation_two_batches(spark, tmp_path):
    """Two-run availableNow curation: batch 2 carries an exact dup of a
    batch-1 doc (different id), a low-quality doc, a disallowed-lang
    doc, and one genuinely new doc. Final curated state must equal the
    batch curation funnel's survivor set over the union."""
    import json as _json

    from incremental_github_data_pipeline_spark.streaming.incremental import (
        run_incremental_curation,
    )

    good = (
        "the cat and the dog sat in the house and it was warm and the "
        "sun was up and the day was long and all of it was good for them"
    )
    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    out_dir = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    audit = tmp_path / "audit.log"

    def land(name, rows):
        with open(docs_dir / name, "w", encoding="UTF-8") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    land(
        "batch1.jsonl",
        [
            {"doc_id": 1, "text": good, "lang": "en", "source": "s0"},
            {"doc_id": 2, "text": good + " extra tail", "lang": "de", "source": "s0"},
        ],
    )
    run_incremental_curation(spark, docs_dir, out_dir, ckpt, audit_log=audit)
    land(
        "batch2.jsonl",
        [
            # exact dup of doc 1's text → dropped against the corpus
            {"doc_id": 10, "text": good, "lang": "en", "source": "s1"},
            # fails quality (short)
            {"doc_id": 11, "text": "too short", "lang": "en", "source": "s1"},
            # disallowed lang
            {"doc_id": 12, "text": good + " zh tail", "lang": "zh", "source": "s1"},
            # genuinely new
            {"doc_id": 13, "text": good + " brand new ending", "lang": "es", "source": "s1"},
        ],
    )
    run_incremental_curation(spark, docs_dir, out_dir, ckpt, audit_log=audit)

    curated = spark.read.parquet(str(out_dir / "curated_docs"))
    assert sorted(r["doc_id"] for r in curated.collect()) == [1, 2, 13]
    # audit: 4 stage lines per processed batch, counts monotone per batch
    lines = audit.read_text().strip().splitlines()
    assert sum("raw rows" in ln for ln in lines) >= 2
    # idempotence: re-running with no new files changes nothing
    run_incremental_curation(spark, docs_dir, out_dir, ckpt, audit_log=audit)
    again = spark.read.parquet(str(out_dir / "curated_docs"))
    assert sorted(r["doc_id"] for r in again.collect()) == [1, 2, 13]


_CURATION_GOOD = (
    "the cat and the dog sat in the house and it was warm and the "
    "sun was up and the day was long and all of it was good for them"
)


def _land_curation(docs_dir, name, ids):
    docs_dir.mkdir(exist_ok=True)
    (docs_dir / name).write_text(
        "".join(
            json.dumps({"doc_id": i, "text": f"{_CURATION_GOOD} {i}", "lang": "en", "source": "s"}) + "\n"
            for i in ids
        )
    )


def test_incremental_curation_failed_merge_releases_caches(spark, tmp_path):
    """The merge of a batch fails (the snapshot holds doc_id as a
    string): the run raises, and the batch's cached frames are
    released."""
    from pyspark.errors import StreamingQueryException

    from incremental_github_data_pipeline_spark.streaming.incremental import (
        run_incremental_curation,
    )

    docs, out = tmp_path / "docs", tmp_path / "out"
    _land_curation(docs, "b1.jsonl", range(3))
    spark.createDataFrame(
        [("9", "other", "en", "s")], "doc_id string, text string, lang string, source string"
    ).write.parquet(str(out / "curated_docs"))
    persisted = _persistent_rdd_ids(spark)
    with pytest.raises(StreamingQueryException, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        run_incremental_curation(spark, docs, out, tmp_path / "ckpt")
    assert _cached_rdd_ids(spark) - persisted == set()


def test_apply_changelog_upsert_delete_idempotent(spark):
    from incremental_github_data_pipeline_spark.streaming.incremental import (
        apply_changelog,
    )

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, v string, amt double",
    )
    changes = spark.createDataFrame(
        [
            # two updates to the same key: the later LSN wins
            (2, "b2", 21.0, "update", 100),
            (2, "b3", 22.0, "update", 200),
            # delete an existing key
            (3, "c", 30.0, "delete", 150),
            # insert a new key, then delete it: net absent
            (4, "d", 40.0, "insert", 110),
            (4, "d", 40.0, "delete", 120),
            # update for a missing key inserts (CDC upsert tolerance)
            (5, "e", 50.0, "update", 130),
        ],
        "k long, v string, amt double, op string, lsn long",
    )
    out = apply_changelog(base, changes, ["k"], "lsn")
    got = {r["k"]: (r["v"], r["amt"]) for r in out.collect()}
    assert got == {1: ("a", 10.0), 2: ("b3", 22.0), 5: ("e", 50.0)}
    # idempotent: applying the same changelog to the result is a no-op
    again = apply_changelog(out, changes, ["k"], "lsn")
    assert {r["k"]: (r["v"], r["amt"]) for r in again.collect()} == got
    # columns preserved exactly
    assert out.columns == base.columns


def test_scd2_history_intervals_chain_without_gaps(spark):
    from incremental_github_data_pipeline_spark.streaming.incremental import (
        scd2_history,
    )

    changes = spark.createDataFrame(
        [(1, "bronze", 10), (1, "silver", 20), (1, "gold", 30), (2, "solo", 5)],
        "k long, tier string, eff long",
    )
    hist = {
        (r["k"], r["tier"]): (r["valid_from"], r["valid_to"], r["is_current"])
        for r in scd2_history(changes, ["k"], "eff").collect()
    }
    # intervals chain: each version's valid_to is the next valid_from
    assert hist[(1, "bronze")] == (10, 20, 0)
    assert hist[(1, "silver")] == (20, 30, 0)
    assert hist[(1, "gold")] == (30, None, 1)
    assert hist[(2, "solo")] == (5, None, 1)
    # exactly one current version per key
    cur = [k for (k, _), (_, vt, ic) in hist.items() if ic == 1]
    assert sorted(cur) == [1, 2]


def test_apply_changelog_equal_order_tiebreak_deterministic(spark):
    """Two changes to one key with the SAME order value (multi-row
    transaction, one commit stamp) must resolve by op precedence —
    delete > update > insert — identically on every run (round-3
    ADVICE; previously a partition-order lottery)."""
    from incremental_github_data_pipeline_spark.streaming.incremental import (
        apply_changelog,
    )

    base = spark.createDataFrame([(1, "old"), (2, "old")], "k long, v string")
    changes = spark.createDataFrame(
        [
            (1, "ins", 10, "insert"),
            (1, "del", 10, "delete"),   # same stamp: delete wins
            (2, "ins2", 20, "insert"),
            (2, "upd2", 20, "update"),  # same stamp: update wins
        ],
        "k long, v string, lsn long, op string",
    ).select("k", "v", F.col("lsn"), "op")
    for _ in range(3):  # stable across repeated evaluations
        out = {
            r["k"]: r["v"]
            for r in apply_changelog(
                base.select("k", "v"),
                changes.select("k", "v", "lsn", "op"),
                ["k"],
                "lsn",
            ).collect()
        }
        assert out == {2: "upd2"}  # key 1 deleted, key 2 updated


@pytest.mark.skipif(
    not __import__("importlib.util", fromlist=["util"]).find_spec("google"),
    reason="transformWithState's Python state server speaks protobuf, "
    "which this container does not ship — the operator is covered by "
    "its applyInPandasWithState twin (same contract, same test)",
)
def test_running_totals_transform_with_state(spark, tmp_path):
    """Spark-4 transformWithStateInPandas lane agrees with the batch
    aggregate (same contract as the applyInPandasWithState twin)."""
    from incremental_github_data_pipeline_spark.streaming.incremental import (
        running_totals_tws,
    )

    # transformWithState requires the RocksDB state store provider
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    stream = _events_stream(spark, tmp_path)
    out = _run_to_memory(
        running_totals_tws(stream), "totals_tws", tmp_path, output_mode="update"
    )
    batch = (
        _events_batch(spark)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
    )
    try:
        got = {
            r["user_id"]: (r["n_events"], r["total_value"])
            for r in out.collect()
        }
        for r in batch.collect():
            n, total = got[r["user_id"]]
            assert n == r["n"]
            assert total == pytest.approx(r["total"])
    finally:
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)


def test_twap_stateful_matches_batch_across_restarts(spark, tmp_path):
    """Streaming TWAP folded across two checkpoint-resumed runs must
    equal the batch operator over the full event set — including the
    cross-run state carry (the pending last observation)."""
    import datetime as dt

    from incremental_github_data_pipeline_spark.operators.timeseries import (
        time_weighted_avg,
    )
    from incremental_github_data_pipeline_spark.streaming import twap_stateful

    t0 = dt.datetime(2024, 6, 1)

    def s(sec):
        return t0 + dt.timedelta(seconds=sec)

    schema = "k string, event_id long, ts timestamp, v long"
    first = spark.createDataFrame(
        [("a", 1, s(0), 10), ("a", 2, s(2), 40), ("b", 3, s(0), 7)], schema
    )
    second = spark.createDataFrame(
        [("a", 4, s(8), 100), ("b", 5, s(5), 9)], schema
    )
    src = tmp_path / "twap_src"
    ckpt = str(tmp_path / "twap_ckpt")

    sink = str(tmp_path / "twap_out")

    def run():
        # memory sinks cannot resume from a checkpoint; foreachBatch
        # appending to parquet is the recover-capable pattern
        stream = spark.readStream.schema(first.schema).parquet(str(src))
        q = (
            twap_stateful(stream, "k", "ts", "v", "event_id")
            .writeStream.foreachBatch(
                lambda bdf, _bid: bdf.write.mode("append").parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    first.coalesce(1).write.mode("append").parquet(str(src))
    run()
    second.coalesce(1).write.mode("append").parquet(str(src))
    run()
    # both runs appended emissions; the per-key row with max n_obs is
    # the final folded state
    emitted = spark.read.parquet(sink).collect()
    got = {}
    for r in sorted(emitted, key=lambda r: r["n_obs"]):
        got[r["k"]] = (r["n_obs"], r["sum_dt_us"], r["twap_num"], r["twap"])

    batch = time_weighted_avg(
        first.unionByName(second), "k", "ts", "v", "event_id"
    )
    want = {
        r["k"]: (r["n_obs"], r["sum_dt_us"], r["twap_num"], r["twap"])
        for r in batch.collect()
    }
    assert got == want
    assert got["a"] == (3, 8_000_000, 10 * 2_000_000 + 40 * 6_000_000, 32.5)


def test_incremental_text_ingest_exactly_once(spark, tmp_path):
    import gzip
    import io

    from incremental_github_data_pipeline_spark.sources.versioned import (
        history,
        read_version,
    )
    from incremental_github_data_pipeline_spark.streaming.incremental import (
        run_incremental_text_ingest,
    )

    def gz(*texts):
        out = b""
        for t in texts:
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as f:
                f.write(t.encode())
            out += buf.getvalue()
        return out

    src = tmp_path / "shards"
    src.mkdir()
    (src / "a.gz").write_bytes(gz("doc one", "doc two"))
    root = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    run_incremental_text_ingest(spark, str(src), root, ckpt)
    assert read_version(spark, root).count() == 2

    # new shard (one corrupt alongside) → only new members appended
    (src / "b.gz").write_bytes(gz("doc three"))
    (src / "c.gz").write_bytes(b"torn shard")
    run_incremental_text_ingest(spark, str(src), root, ckpt)
    texts = {r["text"] for r in read_version(spark, root).collect()}
    assert texts == {"doc one", "doc two", "doc three"}

    # replay with the same checkpoint is a no-op (exactly once)
    n_versions = len(history(root))
    run_incremental_text_ingest(spark, str(src), root, ckpt)
    assert len(history(root)) == n_versions
    assert read_version(spark, root).count() == 3
    # the first ingest state is still time-travelable
    assert read_version(spark, root, 1).count() == 2


def test_incremental_ann_ingest_trains_once_and_matches_batch(spark, tmp_path):
    """Two-shard ANN ingest: shard 1 trains + persists the codebooks,
    shard 2 encodes with the SAME model (no retrain — codes stay
    comparable), each batch is one versioned commit, replay is a no-op,
    and searching the incremental table is bit-identical to one-shot
    pq_topk over the full corpus with the loaded codebooks."""
    import json as _json

    from incremental_github_data_pipeline_spark.operators.similarity import (
        load_pq_codebooks,
        pq_topk,
    )
    from incremental_github_data_pipeline_spark.sources.versioned import (
        history,
        latest_version,
        read_version,
    )
    from incremental_github_data_pipeline_spark.streaming.incremental import (
        ann_search_versioned,
        run_incremental_ann_ingest,
    )

    src = tmp_path / "src"
    src.mkdir()
    root = str(tmp_path / "table")
    model = str(tmp_path / "model")
    ckpt = str(tmp_path / "ckpt")

    def vec(i, n=16):
        return [((i * 7 + d * 13) % 29) / 29.0 + 0.05 for d in range(n)]

    def shard(name, ids):
        (src / name).write_text(
            "\n".join(
                _json.dumps({"vec_id": i, "embedding": vec(i)}) for i in ids
            )
        )

    shard("a.jsonl", range(0, 40))
    run_incremental_ann_ingest(
        spark, str(src), root, model, ckpt, m_sub=4, ksub=8
    )
    assert latest_version(root) == 1
    mtime = sorted(p.name for p in (tmp_path / "model").glob("*.parquet"))

    shard("b.jsonl", range(40, 80))
    run_incremental_ann_ingest(
        spark, str(src), root, model, ckpt, m_sub=4, ksub=8
    )
    assert latest_version(root) == 2
    assert read_version(spark, root).count() == 80
    # model NOT retrained on the second batch
    assert sorted(p.name for p in (tmp_path / "model").glob("*.parquet")) == mtime

    # replay with no new shards: no new version
    run_incremental_ann_ingest(
        spark, str(src), root, model, ckpt, m_sub=4, ksub=8
    )
    assert latest_version(root) == 2

    # incremental search == one-shot batch encode with the same model
    queries = spark.createDataFrame(
        [(i, vec(i)) for i in (3, 41, 77)], "query_id long, embedding array<double>"
    )
    inc = [
        (r["query_id"], r["rank"], r["vec_id"], round(r["adc_score"], 12))
        for r in ann_search_versioned(spark, root, queries, k=5).collect()
    ]
    corpus = spark.createDataFrame(
        [(i, vec(i)) for i in range(80)], "vec_id long, embedding array<double>"
    )
    cbs = load_pq_codebooks(spark, model)
    ref = [
        (r["query_id"], r["rank"], r["vec_id"], round(r["adc_score"], 12))
        for r in pq_topk(
            corpus, queries, corpus_id="vec_id", k=5,
            m_sub=4, ksub=8, codebooks=cbs,
        ).collect()
    ]
    assert inc == ref


def test_ann_search_time_travel(spark, tmp_path):
    """Searching version=1 must rank only the first batch's vectors."""
    import json as _json

    from incremental_github_data_pipeline_spark.streaming.incremental import (
        ann_search_versioned,
        run_incremental_ann_ingest,
    )

    src = tmp_path / "src"
    src.mkdir()
    root = str(tmp_path / "table")

    def vec(i, n=16):
        return [((i * 11 + d * 3) % 23) / 23.0 + 0.1 for d in range(n)]

    (src / "a.jsonl").write_text(
        "\n".join(_json.dumps({"vec_id": i, "embedding": vec(i)}) for i in range(20))
    )
    run_incremental_ann_ingest(
        spark, str(src), root, str(tmp_path / "m"), str(tmp_path / "c"),
        m_sub=4, ksub=4,
    )
    (src / "b.jsonl").write_text(
        "\n".join(_json.dumps({"vec_id": i, "embedding": vec(i)}) for i in range(20, 40))
    )
    run_incremental_ann_ingest(
        spark, str(src), root, str(tmp_path / "m"), str(tmp_path / "c"),
        m_sub=4, ksub=4,
    )
    q = spark.createDataFrame(
        [(0, vec(25))], "query_id long, embedding array<double>"
    )
    v1_ids = {r["vec_id"] for r in ann_search_versioned(spark, root, q, k=30, version=1).collect()}
    v2_ids = {r["vec_id"] for r in ann_search_versioned(spark, root, q, k=50).collect()}
    assert v1_ids <= set(range(20))          # old index state only
    assert v2_ids == set(range(40))          # latest sees both batches


def test_attribution_join_stream_matches_batch_across_restarts(
    spark, tmp_path
):
    """Watermarked stream-stream left-outer attribution join folded
    across two checkpoint-resumed runs (plus a watermark-advancing
    sentinel run to flush outer state) must equal the batch twin over
    the full event set — including a pair whose click arrives in the
    SECOND run against an impression buffered in the first run's join
    state, and a never-converted impression that must emit exactly one
    NULL-click row."""
    import datetime as dt

    from incremental_github_data_pipeline_spark.streaming import (
        attribution_join,
    )

    t0 = dt.datetime(2024, 6, 1)

    def m(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    imp_schema = "impression_id long, user_id long, imp_ts timestamp"
    clk_schema = "click_id long, user_id long, click_ts timestamp"
    imp1 = spark.createDataFrame(
        [(1, 1, m(0)), (2, 1, m(30)), (3, 2, m(5))], imp_schema
    )
    clk1 = spark.createDataFrame(
        # 11 converts impression 1; 12 is outside impression 3's horizon
        [(11, 1, m(4)), (12, 2, m(60))],
        clk_schema,
    )
    imp2 = spark.createDataFrame([(4, 2, m(65))], imp_schema)
    clk2 = spark.createDataFrame(
        # 13 lands in run 2 but converts impression 2 from run 1 —
        # the cross-restart join-state carry; 14 converts impression 4
        [(13, 1, m(32)), (14, 2, m(66))],
        clk_schema,
    )
    # far-future click for an absent user: advances the event-time
    # watermark past every impression's horizon so the outer (NULL)
    # rows flush; joins nothing itself
    sentinel = spark.createDataFrame(
        [(999, 999, m(60 * 24 * 10))], clk_schema
    )

    imp_src, clk_src = tmp_path / "imp", tmp_path / "clk"
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "out")

    def run():
        imps = spark.readStream.schema(imp_schema).parquet(str(imp_src))
        clks = spark.readStream.schema(clk_schema).parquet(str(clk_src))
        q = (
            attribution_join(
                imps,
                clks,
                on="user_id",
                imp_ts="imp_ts",
                click_ts="click_ts",
                horizon="10 minutes",
                how="left_outer",
                watermark="5 minutes",
            )
            .writeStream.foreachBatch(
                lambda bdf, _bid: bdf.write.mode("append").parquet(sink)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    imp1.coalesce(1).write.mode("append").parquet(str(imp_src))
    clk1.coalesce(1).write.mode("append").parquet(str(clk_src))
    run()
    imp2.coalesce(1).write.mode("append").parquet(str(imp_src))
    clk2.coalesce(1).write.mode("append").parquet(str(clk_src))
    run()
    sentinel.coalesce(1).write.mode("append").parquet(str(clk_src))
    run()
    # one more pass: outer-side state evicted by the sentinel's
    # watermark is emitted by the FOLLOWING micro-batch
    run()

    got = {
        (r["impression_id"], r["click_id"], r["delay_us"])
        for r in spark.read.parquet(sink).collect()
    }
    batch = attribution_join(
        imp1.unionByName(imp2),
        clk1.unionByName(clk2).unionByName(sentinel),
        on="user_id",
        imp_ts="imp_ts",
        click_ts="click_ts",
        horizon="10 minutes",
        how="left_outer",
    )
    want = {
        (r["impression_id"], r["click_id"], r["delay_us"])
        for r in batch.collect()
    }
    assert want == {
        (1, 11, 4 * 60_000_000),   # converted in run 1
        (2, 13, 2 * 60_000_000),   # click arrived after the restart
        (3, None, None),           # never converted: one NULL row
        (4, 14, 1 * 60_000_000),   # converted within run 2
    }
    assert got == want
    # exactly-once: no pair emitted twice across the four runs
    assert len(spark.read.parquet(sink).collect()) == len(want)


def test_attribution_join_inner_batch_prunes_band(spark):
    """Inner variant drops both the unconverted impression and the
    out-of-horizon click pair."""
    import datetime as dt

    from incremental_github_data_pipeline_spark.streaming import (
        attribution_join,
    )

    t0 = dt.datetime(2024, 6, 1)
    imps = spark.createDataFrame(
        [(1, 1, t0), (2, 2, t0)],
        "impression_id long, user_id long, imp_ts timestamp",
    )
    clks = spark.createDataFrame(
        [
            (11, 1, t0 + dt.timedelta(minutes=3)),
            (12, 2, t0 + dt.timedelta(minutes=45)),
            (13, 1, t0 - dt.timedelta(seconds=1)),  # click BEFORE view
        ],
        "click_id long, user_id long, click_ts timestamp",
    )
    rows = attribution_join(imps, clks, horizon="10 minutes", how="inner").collect()
    assert [(r["impression_id"], r["click_id"]) for r in rows] == [(1, 11)]


def test_session_attribution_stream_matches_batch_across_restarts(
    spark, tmp_path
):
    """Chained stateful operators — watermarked session_window agg
    feeding the watermarked left-outer attribution join — folded across
    checkpoint-resumed runs must equal the batch twin: a session whose
    events arrive in run 2 attributes to an impression buffered in
    run 1's join state, and an impression that starts no session emits
    exactly one NULL row once the watermark proves it."""
    import datetime as dt

    from incremental_github_data_pipeline_spark.streaming import (
        session_attribution,
    )

    t0 = dt.datetime(2024, 6, 1)

    def m(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    imp_schema = "impression_id long, user_id long, imp_ts timestamp"
    evt_schema = "event_id long, user_id long, ts timestamp"
    imp1 = spark.createDataFrame(
        # 1 converts in run 1; 2 never converts; 3 converts in run 2
        [(1, 1, m(0)), (2, 2, m(0)), (3, 1, m(40))], imp_schema
    )
    evt1 = spark.createDataFrame(
        # one user-1 session: start m(2), 2 events (gap 10 min)
        [(11, 1, m(2)), (12, 1, m(5))], evt_schema
    )
    imp2 = spark.createDataFrame([], imp_schema)
    evt2 = spark.createDataFrame(
        # user-1 session start m(45) lands in impression 3's horizon
        [(13, 1, m(45)), (14, 1, m(48))], evt_schema
    )
    sentinel = spark.createDataFrame(
        [(999, 999, m(60 * 24 * 10))], evt_schema
    )

    imp_src, evt_src = tmp_path / "imp", tmp_path / "evt"
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "out")

    def run():
        imps = spark.readStream.schema(imp_schema).parquet(str(imp_src))
        evts = spark.readStream.schema(evt_schema).parquet(str(evt_src))
        q = (
            session_attribution(
                imps,
                evts,
                on="user_id",
                imp_ts="imp_ts",
                ts_col="ts",
                gap="10 minutes",
                horizon="10 minutes",
                how="left_outer",
                watermark="5 minutes",
            )
            .writeStream.foreachBatch(
                lambda bdf, _bid: bdf.write.mode("append").parquet(sink)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    imp1.coalesce(1).write.mode("append").parquet(str(imp_src))
    evt1.coalesce(1).write.mode("append").parquet(str(evt_src))
    run()
    evt2.coalesce(1).write.mode("append").parquet(str(evt_src))
    run()
    sentinel.coalesce(1).write.mode("append").parquet(str(evt_src))
    run()
    # extra passes: the sentinel's watermark closes sessions in one
    # batch, the join consumes them the next, outer rows flush after
    run()
    run()

    cols = (
        "impression_id",
        "session_start",
        "session_end",
        "n_session_events",
        "delay_us",
    )
    got = {
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(sink).collect()
    }
    batch = session_attribution(
        imp1.unionByName(imp2),
        evt1.unionByName(evt2).unionByName(sentinel),
        on="user_id",
        imp_ts="imp_ts",
        ts_col="ts",
        gap="10 minutes",
        horizon="10 minutes",
        how="left_outer",
        tiebreak_col="event_id",
    )
    want = {tuple(r[c] for c in cols) for r in batch.collect()}
    assert want == {
        (1, m(2), m(5), 2, 2 * 60_000_000),
        (2, None, None, None, None),
        (3, m(45), m(48), 2, 5 * 60_000_000),
    }
    assert got == want
    # exactly-once: no pair emitted twice across the five runs
    assert len(spark.read.parquet(sink).collect()) == len(want)


def test_session_attribution_batch_boundary_strict(spark):
    """An event landing EXACTLY gap after its predecessor opens a new
    session (session_window's half-open [ts, ts+gap) windows touch but
    do not overlap) — the documented deviation from q_sessionize's
    inclusive oracle convention."""
    import datetime as dt

    from incremental_github_data_pipeline_spark.streaming import (
        session_attribution,
    )

    t0 = dt.datetime(2024, 6, 1)
    imps = spark.createDataFrame(
        [(1, 1, t0)], "impression_id long, user_id long, imp_ts timestamp"
    )
    evts = spark.createDataFrame(
        [
            (11, 1, t0 + dt.timedelta(minutes=1)),
            # exactly 10 min after 11: NEW session under the strict rule
            (12, 1, t0 + dt.timedelta(minutes=11)),
        ],
        "event_id long, user_id long, ts timestamp",
    )
    rows = session_attribution(
        imps, evts, gap="10 minutes", horizon="30 minutes", how="inner",
        tiebreak_col="event_id",
    ).collect()
    starts = sorted(
        (r["session_start"], r["n_session_events"]) for r in rows
    )
    assert starts == [
        (t0 + dt.timedelta(minutes=1), 1),
        (t0 + dt.timedelta(minutes=11), 1),
    ]


def test_incremental_index_ingest_exactly_once_and_matches_one_shot(
    spark, tmp_path
):
    """Search-index maintenance: two incremental ingests must (a) be
    idempotent under a checkpoint replay of the same files, (b) yield
    the SAME BM25 ranking as indexing everything in one shot
    (operators.text.bm25_topk on the union), and (c) time-travel — the
    version after batch 1 must rank without batch-2 documents."""
    from incremental_github_data_pipeline_spark.operators import text as tx
    from incremental_github_data_pipeline_spark.sources.versioned import (
        latest_version,
    )
    from incremental_github_data_pipeline_spark.streaming import (
        bm25_search_versioned,
        run_incremental_index_ingest,
    )

    src = tmp_path / "docs"
    root = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    batch1 = spark.createDataFrame(
        [
            (0, "spark shuffles data across executors"),
            (1, "parquet stores columnar data"),
            (2, "spark reads parquet fast"),
        ],
        "doc_id long, text string",
    )
    batch2 = spark.createDataFrame(
        [
            (3, "executors cache shuffled parquet data"),
            (4, "columnar reads skip data"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(100, "spark parquet data"), (101, "columnar executors")],
        "query_id long, qtext string",
    )
    cols = ("query_id", "rank", "doc_id", "n_terms", "sum_tf")

    batch1.coalesce(1).write.mode("append").parquet(str(src))
    run_incremental_index_ingest(spark, str(src), root, ckpt)
    v1 = latest_version(f"{root}/postings")
    run_incremental_index_ingest(spark, str(src), root, ckpt)  # replay: no-op
    assert latest_version(f"{root}/postings") == v1

    batch2.coalesce(1).write.mode("append").parquet(str(src))
    run_incremental_index_ingest(spark, str(src), root, ckpt)
    assert latest_version(f"{root}/postings") == v1 + 1
    # all four delta tables commit in lockstep — one version per batch
    for t in ("postings", "termstats", "doclens", "docstats"):
        assert latest_version(f"{root}/{t}") == v1 + 1, t

    served = bm25_search_versioned(spark, root, queries, k=3)
    # 100 TB serving contract: the token-level postings are touched by
    # exactly ONE scan (the query-term equi-join) — doc lengths join
    # from the doclens delta table, never a corpus-sized re-aggregate
    # of the postings (the pre-r9 flaw: a second postings scan feeding
    # groupBy(doc_id) on every search call).
    plan = served._jdf.queryExecution().executedPlan().toString()
    scans = [
        ln.split("ReadSchema:")[1]
        for ln in plan.splitlines()
        if "FileScan parquet" in ln
    ]
    # postings is the only table with a tf column: pre-r9 the dl
    # subtree added a SECOND postings scan feeding groupBy(doc_id)
    assert sum("tf:" in s for s in scans) == 1, plan
    # ...and lengths now come from the doclens delta table (dl column)
    assert sum("dl:" in s for s in scans) == 1, plan

    got = {tuple(r[c] for c in cols) for r in served.collect()}
    want = {
        tuple(r[c] for c in cols)
        for r in tx.bm25_topk(
            batch1.unionByName(batch2),
            queries,
            qtext_col="qtext",
            k=3,
        ).collect()
    }
    assert got == want and got

    # time travel: at v1 only batch-1 docs exist
    old = bm25_search_versioned(spark, root, queries, k=3, version=v1)
    assert {r["doc_id"] for r in old.collect()} <= {0, 1, 2}


def test_index_compaction_restores_term_file_skipping(spark, tmp_path):
    """Each micro-batch appends one postings part spanning the whole
    alphabet, so after K batches term-range file skipping prunes
    nothing. compact_index rewrites the postings range-clustered on
    term: a point-term read must then open ~1 of target_partitions
    parts, ranking must be byte-identical before/after (compaction is
    logically a no-op), and all four lockstep tables must advance by
    exactly one version together."""
    from incremental_github_data_pipeline_spark.sources.versioned import (
        _files_and_stats,
        _load_manifest,
        latest_version,
    )
    from incremental_github_data_pipeline_spark.streaming import (
        bm25_search_versioned,
        compact_index,
        run_incremental_index_ingest,
    )

    src = tmp_path / "docs"
    root = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    words = ["alpha", "bravo", "golf", "hotel", "tango", "zulu"]
    for b in range(4):  # 4 micro-batches → 4 alphabet-spanning parts
        rows = [
            (b * 10 + i, f"{words[i]} {words[(i + b) % 6]} common")
            for i in range(6)
        ]
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(str(src))
        run_incremental_index_ingest(spark, str(src), root, ckpt)

    queries = spark.createDataFrame(
        [(1, "alpha"), (2, "zulu common")], "query_id long, qtext string"
    )
    cols = ("query_id", "rank", "doc_id", "n_terms", "sum_tf")
    before = {
        tuple(r[c] for c in cols)
        for r in bm25_search_versioned(spark, root, queries, k=4).collect()
    }

    def point_term_parts(term: str) -> tuple[int, int]:
        """(surviving, total) postings parts for a single-term skip."""
        m = _load_manifest(
            tmp_path / "index" / "postings",
            latest_version(f"{root}/postings"),
        )
        _, stats = _files_and_stats(m)
        total = len(stats)
        survive = sum(
            1
            for b in stats.values()
            if "term" not in b
            or b["term"][0] is None
            or (b["term"][0] <= term <= b["term"][1])
        )
        return survive, total

    s, t = point_term_parts("zulu")
    assert t == 4 and s == 4  # pre-compaction: every part spans z

    vs = compact_index(spark, root, target_partitions=4)
    assert set(vs) == {"postings", "doclens", "termstats", "docstats"}
    for table in vs:
        assert latest_version(f"{root}/{table}") == 5, table

    s, t = point_term_parts("zulu")
    assert t == 4 and s == 1, "clustered stats must prune to one part"
    s, _ = point_term_parts("alpha")
    assert s == 1

    after = {
        tuple(r[c] for c in cols)
        for r in bm25_search_versioned(spark, root, queries, k=4).collect()
    }
    assert after == before and after


def test_hybrid_search_versioned_matches_one_shot_lanes(spark, tmp_path):
    """Versioned hybrid retrieval: ingest a BM25 index AND a PQ-ANN
    index in two increments each, then fuse with
    hybrid_search_versioned. The fused top-k must be identical to
    fusing the one-shot twins — bm25_topk over the full corpus and an
    ANN table built in a single batch with the SAME codebooks — i.e.
    incremental maintenance changes nothing about the served ranking."""
    from incremental_github_data_pipeline_spark.operators import text as tx
    from incremental_github_data_pipeline_spark.operators.similarity import (
        rrf_fuse,
    )
    from incremental_github_data_pipeline_spark.streaming.incremental import (
        ann_search_versioned,
        hybrid_search_versioned,
        run_incremental_ann_ingest,
        run_incremental_index_ingest,
    )
    import json as _json

    def vec(i, n=8):
        return [((i * 11 + d * 5) % 23) / 23.0 + 0.1 for d in range(n)]

    texts = {
        i: " ".join(
            ["spark", "parquet", "shuffle", "columnar", "cache", "skip"][
                (i + j) % 6
            ]
            for j in range(4)
        )
        for i in range(24)
    }

    # lexical index: two parquet increments
    doc_src = tmp_path / "docs"
    idx_root = str(tmp_path / "bm25")
    for ids in (range(0, 12), range(12, 24)):
        spark.createDataFrame(
            [(i, texts[i]) for i in ids], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(str(doc_src))
        run_incremental_index_ingest(
            spark, str(doc_src), idx_root, str(tmp_path / "bm25_ckpt")
        )

    # semantic index: two jsonl increments, model trained on batch 1
    vec_src = tmp_path / "vecs"
    vec_src.mkdir()
    ann_root = str(tmp_path / "ann")
    model = str(tmp_path / "model")
    for name, ids in (("a.jsonl", range(0, 12)), ("b.jsonl", range(12, 24))):
        (vec_src / name).write_text(
            "\n".join(
                _json.dumps({"vec_id": i, "embedding": vec(i)}) for i in ids
            )
        )
        run_incremental_ann_ingest(
            spark,
            str(vec_src),
            ann_root,
            model,
            str(tmp_path / "ann_ckpt"),
            m_sub=4,
            ksub=4,
        )

    queries = spark.createDataFrame(
        [(i, texts[i], vec(i)) for i in (1, 13)],
        "query_id long, qtext string, embedding array<double>",
    )
    cols = ("query_id", "rank", "doc_id", "lex_rank", "sem_rank")
    got = {
        tuple(r[c] for c in cols)
        for r in hybrid_search_versioned(
            spark, idx_root, ann_root, queries, k=5, lane_k=8
        ).collect()
    }

    # one-shot twins: batch bm25 over the union; ANN table built in a
    # single batch reusing the persisted codebooks
    corpus = spark.createDataFrame(
        [(i, texts[i]) for i in range(24)], "doc_id long, text string"
    )
    lex = tx.bm25_topk(
        corpus, queries.select("query_id", "qtext"), qtext_col="qtext", k=8
    )
    one_src = tmp_path / "vecs_one"
    one_src.mkdir()
    (one_src / "all.jsonl").write_text(
        "\n".join(
            _json.dumps({"vec_id": i, "embedding": vec(i)}) for i in range(24)
        )
    )
    one_root = str(tmp_path / "ann_one")
    run_incremental_ann_ingest(
        spark,
        str(one_src),
        one_root,
        model,
        str(tmp_path / "ann_one_ckpt"),
        m_sub=4,
        ksub=4,
    )
    sem = ann_search_versioned(
        spark, one_root, queries.select("query_id", "embedding"), k=8
    ).withColumnRenamed("vec_id", "doc_id")
    want = {
        tuple(r[c] for c in cols)
        for r in rrf_fuse(lex, sem, k0=60, k=5).collect()
    }
    assert got == want and got


def test_incremental_hll_ingest_merges_and_time_travels(spark, tmp_path):
    """Distinct-count sketch maintenance: two incremental batches must
    (a) be replay-idempotent, (b) produce EXACTLY the register state of
    one-shot sketching the union (the hll_merge law through the
    versioned store), (c) time-travel — version 1 is batch 1's state —
    and (d) estimate within sketch error at every version."""
    from incremental_github_data_pipeline_spark.operators.incremental_agg import (
        hll_estimate,
        hll_registers,
    )
    from incremental_github_data_pipeline_spark.sources.versioned import (
        latest_version,
        read_version,
    )
    from incremental_github_data_pipeline_spark.streaming import (
        run_incremental_hll_ingest,
    )

    src = tmp_path / "shards"
    root = str(tmp_path / "hll")
    ckpt = str(tmp_path / "ckpt")
    schema = "seg string, user_id long"
    b1 = spark.createDataFrame(
        [("a", i) for i in range(0, 800)] + [("b", i) for i in range(0, 50)],
        schema,
    )
    b2 = spark.createDataFrame(
        [("a", i) for i in range(400, 1200)]  # half overlap with b1
        + [("b", i) for i in range(50, 80)],
        schema,
    )

    b1.coalesce(1).write.mode("append").parquet(str(src))
    run_incremental_hll_ingest(
        spark, str(src), root, ckpt, schema, "seg", "user_id", p=8
    )
    v1 = latest_version(root)
    run_incremental_hll_ingest(  # replay: no new version
        spark, str(src), root, ckpt, schema, "seg", "user_id", p=8
    )
    assert latest_version(root) == v1

    b2.coalesce(1).write.mode("append").parquet(str(src))
    run_incremental_hll_ingest(
        spark, str(src), root, ckpt, schema, "seg", "user_id", p=8
    )
    assert latest_version(root) == v1 + 1

    got = {
        (r["seg"], r["hll_idx"], r["hll_rho"])
        for r in read_version(spark, root).collect()
    }
    want = {
        (r["seg"], r["hll_idx"], r["hll_rho"])
        for r in hll_registers(
            b1.unionByName(b2), "seg", "user_id", p=8
        ).collect()
    }
    assert got == want and got

    # time travel: v1 is batch 1 alone
    old = {
        (r["seg"], r["hll_idx"], r["hll_rho"])
        for r in read_version(spark, root, version=v1).collect()
    }
    want_v1 = {
        (r["seg"], r["hll_idx"], r["hll_rho"])
        for r in hll_registers(b1, "seg", "user_id", p=8).collect()
    }
    assert old == want_v1

    est = {
        r["seg"]: r["hll_est"]
        for r in hll_estimate(read_version(spark, root), "seg", p=8).collect()
    }
    assert abs(est["a"] - 1200) / 1200 < 0.2
    assert abs(est["b"] - 80) / 80 < 0.2


def test_incremental_drift_ingest_matches_batch_report(spark, tmp_path):
    """Schema-drift delta maintenance: two incremental batches must
    (a) be replay-idempotent, (b) serve EXACTLY the batch
    schema_drift_report of the union (delta fold through the versioned
    store), and (c) time-travel — version 1 is batch 1's report."""
    import datetime as dt

    from incremental_github_data_pipeline_spark.operators.quality import (
        schema_drift_report,
    )
    from incremental_github_data_pipeline_spark.sources.versioned import (
        latest_version,
    )
    from incremental_github_data_pipeline_spark.streaming import (
        drift_report_versioned,
        run_incremental_drift_ingest,
    )

    src = tmp_path / "shards"
    root = str(tmp_path / "drift")
    ckpt = str(tmp_path / "ckpt")
    schema = "win date, payload string"
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    b1 = spark.createDataFrame(
        [(d1, '{"a": 1, "b": 2}'), (d1, '{"a": 3}')], schema
    )
    # batch 2: day 2 arrives AND a late day-1 row lands its delta later
    b2 = spark.createDataFrame(
        [(d2, '{"a": 1, "c": 9}'), (d2, '{"c": 5}'), (d1, '{"b": 7}')],
        schema,
    )

    b1.coalesce(1).write.mode("append").parquet(str(src))
    run_incremental_drift_ingest(spark, str(src), root, ckpt)
    v1 = latest_version(root)
    run_incremental_drift_ingest(spark, str(src), root, ckpt)  # replay
    assert latest_version(root) == v1

    b2.coalesce(1).write.mode("append").parquet(str(src))
    run_incremental_drift_ingest(spark, str(src), root, ckpt)
    assert latest_version(root) == v1 + 1

    def canon(df):
        return sorted(
            tuple(r)
            for r in df.select(
                "win", "key", "n_rows", "n_present",
                "present_ppm", "prev_ppm", "status",
            ).collect()
        )

    served = canon(drift_report_versioned(spark, root))
    batch = canon(
        schema_drift_report(b1.unionByName(b2), "payload", "win")
    )
    assert served == batch and len(served) == 6  # 2 windows x 3 keys
    # late day-1 'b' delta folded in: b never reads dropped
    by = {(r[0], r[1]): r for r in served}
    assert by[(d2, "b")][6] == "dropped"  # b IS gone in window 2
    assert by[(d1, "b")][3] == 2  # both day-1 b rows counted

    # time travel: version 1 = batch 1 only (keys a, b; one window)
    v1_report = canon(drift_report_versioned(spark, root, version=v1))
    assert {r[1] for r in v1_report} == {"a", "b"}
    assert all(r[6] == "baseline" for r in v1_report)


def test_incremental_tcloseness_matches_batch_report(spark, tmp_path):
    """r11: the t-closeness delta log must serve (a) the identical
    report to a one-shot batch run after N increments (late rows
    included — the fold commutes), (b) replay-idempotence, and (c)
    time travel (version 1 audits batch 1's state)."""
    from incremental_github_data_pipeline_spark.operators.privacy import (
        t_closeness_report,
    )
    from incremental_github_data_pipeline_spark.sources.versioned import (
        latest_version,
    )
    from incremental_github_data_pipeline_spark.streaming import (
        run_incremental_tcloseness_ingest,
        t_closeness_versioned,
    )

    src = tmp_path / "shards"
    root = str(tmp_path / "tclose")
    ckpt = str(tmp_path / "ckpt")
    schema = "seg string, v int"
    b1 = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2), ("b", 2)], schema
    )
    b2 = spark.createDataFrame(
        [("b", 3), ("b", 3), ("a", 2)], schema  # a's late row lands here
    )

    b1.coalesce(1).write.mode("append").parquet(str(src))
    run_incremental_tcloseness_ingest(
        spark, str(src), root, ckpt, schema, ["seg"], "v"
    )
    v1 = latest_version(root)
    run_incremental_tcloseness_ingest(  # replay: no new version
        spark, str(src), root, ckpt, schema, ["seg"], "v"
    )
    assert latest_version(root) == v1

    b2.coalesce(1).write.mode("append").parquet(str(src))
    run_incremental_tcloseness_ingest(
        spark, str(src), root, ckpt, schema, ["seg"], "v"
    )
    assert latest_version(root) == v1 + 1

    def canon(df):
        return sorted(
            tuple(r)
            for r in df.select(
                "seg", "class_size", "emd_ppm", "t_violation"
            ).collect()
        )

    served = canon(
        t_closeness_versioned(spark, root, ["seg"], "v", t_ppm=100_000)
    )
    batch = canon(
        t_closeness_report(
            b1.unionByName(b2), ["seg"], "v", t_ppm=100_000
        )
    )
    assert served == batch and len(served) == 2

    # time travel: version 1 audits batch 1 alone
    v1_served = canon(
        t_closeness_versioned(
            spark, root, ["seg"], "v", t_ppm=100_000, version=v1
        )
    )
    assert v1_served == canon(
        t_closeness_report(b1, ["seg"], "v", t_ppm=100_000)
    )


def test_incremental_volume_gate_matches_batch(spark, tmp_path):
    """r11: the volume-count delta log must gate identically to the
    one-shot batch operator after N increments (late rows commute),
    replay idempotently, and time-travel."""
    import datetime as dt

    from incremental_github_data_pipeline_spark.operators.quality import (
        volume_gate,
    )
    from incremental_github_data_pipeline_spark.sources.versioned import (
        latest_version,
    )
    from incremental_github_data_pipeline_spark.streaming import (
        run_incremental_volume_ingest,
        volume_gate_versioned,
    )

    src = tmp_path / "shards"
    root = str(tmp_path / "vol")
    ckpt = str(tmp_path / "ckpt")
    schema = "day date, event_id long"
    days = [dt.date(2024, 1, d) for d in range(1, 6)]
    rows1 = [(days[d], i) for d in range(4) for i in range(10 + d)]
    # batch 2: day 5 collapses to 2 rows (a drop) + a late day-1 row
    rows2 = [(days[4], i) for i in range(2)] + [(days[0], 99)]
    b1 = spark.createDataFrame(rows1, schema)
    b2 = spark.createDataFrame(rows2, schema)

    b1.coalesce(1).write.mode("append").parquet(str(src))
    run_incremental_volume_ingest(
        spark, str(src), root, ckpt, schema, "day"
    )
    v1 = latest_version(root)
    run_incremental_volume_ingest(  # replay: no new version
        spark, str(src), root, ckpt, schema, "day"
    )
    assert latest_version(root) == v1

    b2.coalesce(1).write.mode("append").parquet(str(src))
    run_incremental_volume_ingest(
        spark, str(src), root, ckpt, schema, "day"
    )

    def canon(df):
        return sorted(
            tuple(r)
            for r in df.select(
                "day", "n_rows", "trailing_median", "dev_ppm", "status"
            ).collect()
        )

    kw = dict(trailing=3, drop_ppm=500_000, spike_ppm=1_000_000)
    served = canon(
        volume_gate_versioned(spark, root, "day", **kw)
    )
    batch = canon(volume_gate(b1.unionByName(b2), "day", **kw))
    assert served == batch and len(served) == 5
    by = {r[0]: r for r in served}
    assert by[days[4]][4] == "drop"  # the half-delivered day flags
    assert by[days[0]][1] == 11  # the late day-1 row counted

    # time travel: version 1 = batch 1's counts only
    v1_served = canon(
        volume_gate_versioned(spark, root, "day", version=v1, **kw)
    )
    assert v1_served == canon(volume_gate(b1, "day", **kw))


def test_incremental_kmv_ingest_merges_and_time_travels(spark, tmp_path):
    """KMV sketch maintenance: replay-idempotent, N-increment state ≡
    one-shot sketch of the union (the merge law through the versioned
    store), time travel to the batch-1 state, and the INTEGER estimate
    exact below k / within sampling error at k."""
    from incremental_github_data_pipeline_spark.operators.incremental_agg import (
        kmv_estimate,
        kmv_sketch,
    )
    from incremental_github_data_pipeline_spark.sources.versioned import (
        latest_version,
        read_version,
    )
    from incremental_github_data_pipeline_spark.streaming import (
        run_incremental_kmv_ingest,
    )

    src = tmp_path / "shards"
    root = str(tmp_path / "kmv")
    ckpt = str(tmp_path / "ckpt")
    schema = "seg string, user_id long"
    b1 = spark.createDataFrame(
        [("a", i) for i in range(0, 800)] + [("b", i) for i in range(0, 30)],
        schema,
    )
    b2 = spark.createDataFrame(
        [("a", i) for i in range(400, 1200)]
        + [("b", i) for i in range(30, 50)],
        schema,
    )

    b1.coalesce(1).write.mode("append").parquet(str(src))
    run_incremental_kmv_ingest(
        spark, str(src), root, ckpt, schema, "seg", "user_id", k=64
    )
    v1 = latest_version(root)
    run_incremental_kmv_ingest(  # replay: no new version
        spark, str(src), root, ckpt, schema, "seg", "user_id", k=64
    )
    assert latest_version(root) == v1

    b2.coalesce(1).write.mode("append").parquet(str(src))
    run_incremental_kmv_ingest(
        spark, str(src), root, ckpt, schema, "seg", "user_id", k=64
    )
    assert latest_version(root) == v1 + 1

    got = {
        (r["seg"], r["kmv_hash"])
        for r in read_version(spark, root).collect()
    }
    want = {
        (r["seg"], r["kmv_hash"])
        for r in kmv_sketch(
            b1.unionByName(b2), "seg", "user_id", k=64
        ).collect()
    }
    assert got == want and got

    old = {
        (r["seg"], r["kmv_hash"])
        for r in read_version(spark, root, version=v1).collect()
    }
    want_v1 = {
        (r["seg"], r["kmv_hash"])
        for r in kmv_sketch(b1, "seg", "user_id", k=64).collect()
    }
    assert old == want_v1

    est = {
        r["seg"]: r["kmv_est"]
        for r in kmv_estimate(
            read_version(spark, root), "seg", k=64
        ).collect()
    }
    assert est["b"] == 50  # below k: exact by construction
    assert abs(est["a"] - 1200) < 420  # at k: within ~1/sqrt(63)


def test_incremental_profile_ingest_matches_batch_profile(spark, tmp_path):
    """Column-profile maintenance: N histogram-delta increments served
    through the shared finisher must EQUAL the one-shot batch profile
    of the union (incl. a late-arriving batch — addition commutes),
    replays are no-ops, and time travel serves the batch-1 profile."""
    from incremental_github_data_pipeline_spark.operators.quality import (
        column_profile,
    )
    from incremental_github_data_pipeline_spark.sources.versioned import (
        latest_version,
    )
    from incremental_github_data_pipeline_spark.streaming import (
        profile_versioned,
        run_incremental_profile_ingest,
    )

    src = tmp_path / "shards"
    root = str(tmp_path / "prof")
    ckpt = str(tmp_path / "ckpt")
    schema = "cat string, n long"
    b1 = spark.createDataFrame(
        [("x", 1), ("x", 2), ("y", None), (None, 2)], schema
    )
    b2 = spark.createDataFrame(  # the "late" slice: shifts every lane
        [("x", 3), ("z", 2), ("z", 2), ("y", None)], schema
    )

    def snap(df):
        return {
            tuple(r)
            for r in df.select(
                "column", "n_rows", "n_null", "null_ppm", "n_distinct",
                "top_value", "top_count", "top_share_ppm", "gini_ppm",
            ).collect()
        }

    b1.coalesce(1).write.mode("append").parquet(str(src))
    run_incremental_profile_ingest(
        spark, str(src), root, ckpt, schema, ["cat", "n"]
    )
    v1 = latest_version(root)
    run_incremental_profile_ingest(  # replay: no new version
        spark, str(src), root, ckpt, schema, ["cat", "n"]
    )
    assert latest_version(root) == v1

    b2.coalesce(1).write.mode("append").parquet(str(src))
    run_incremental_profile_ingest(
        spark, str(src), root, ckpt, schema, ["cat", "n"]
    )
    assert latest_version(root) == v1 + 1

    assert snap(profile_versioned(spark, root)) == snap(
        column_profile(b1.unionByName(b2), ["cat", "n"])
    )
    # time travel: version 1 serves batch 1 alone
    assert snap(profile_versioned(spark, root, version=v1)) == snap(
        column_profile(b1, ["cat", "n"])
    )


def test_incremental_cc_ingest_equals_one_shot_and_time_travels(
    spark, tmp_path
):
    """Incremental connected components (r12): N-increment labeling ≡
    dedup.connected_components over everything ingested, through the
    versioned upsert log — including the hard topologies: a batch-2
    edge merging two batch-1 components (the absorbed side relabels),
    a LATER-arriving node smaller than an existing component's min
    (the whole old component relabels to the new min), and a chain
    merge through a fresh component. Replays are no-ops; time travel
    serves the labeling as of each batch."""
    from incremental_github_data_pipeline_spark.operators.dedup import (
        connected_components,
    )
    from incremental_github_data_pipeline_spark.sources.versioned import (
        latest_version,
    )
    from incremental_github_data_pipeline_spark.streaming import (
        cc_versioned,
        run_incremental_cc_ingest,
    )

    src = tmp_path / "edges"
    root = str(tmp_path / "cc")
    ckpt = str(tmp_path / "ckpt")
    schema = "id_a long, id_b long"
    batches = [
        [(1, 2), (5, 6), (10, 11)],
        [(2, 5), (20, 21)],  # merge {1,2}+{5,6}; fresh {20,21}
        [(0, 10), (6, 20)],  # new min 0 relabels {10,11}; chain merge
    ]

    def labels(df):
        return {(r["id"], r["component"]) for r in df.collect()}

    seen: list[tuple[int, int]] = []
    versions = []
    for b in batches:
        seen.extend(b)
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        run_incremental_cc_ingest(
            spark, str(src), root, ckpt, schema
        )
        versions.append(latest_version(root))
        want = labels(
            connected_components(
                spark.createDataFrame(seen, schema), "id_a", "id_b"
            )
        )
        assert labels(cc_versioned(spark, root)) == want

    # replay: the availableNow rerun sees no new files -> no version
    run_incremental_cc_ingest(spark, str(src), root, ckpt, schema)
    assert latest_version(root) == versions[-1]

    # time travel: the batch-2 state is CC of the first two batches
    mid = labels(
        connected_components(
            spark.createDataFrame(
                batches[0] + batches[1], schema
            ),
            "id_a",
            "id_b",
        )
    )
    assert labels(cc_versioned(spark, root, version=versions[1])) == mid
    # final spot check: one component {1,2,5,6,20,21} -> 1, {0,10,11} -> 0
    final = dict(labels(cc_versioned(spark, root)))
    assert final == {1: 1, 2: 1, 5: 1, 6: 1, 20: 1, 21: 1,
                     0: 0, 10: 0, 11: 0}


def test_incremental_keep_best_equals_one_shot_and_time_travels(
    spark, tmp_path
):
    """r14 (VERDICT r13 task 5): keep-best-of-cluster served
    incrementally ≡ dedup.keep_best_of_cluster over every doc and
    edge ingested — across interleaved doc/edge batches, including
    the hard case: an EDGE batch merging clusters AFTER the last doc
    batch (no ingest runs again; serve-time re-keying through the
    witness doc's current CC label must fold the two stored bests).
    Replays are no-ops; time travel serves any (docs, cc) version
    pair."""
    from incremental_github_data_pipeline_spark.operators.dedup import (
        connected_components,
        keep_best_of_cluster,
    )
    from incremental_github_data_pipeline_spark.sources.versioned import (
        latest_version,
    )
    from incremental_github_data_pipeline_spark.streaming import (
        keep_best_versioned,
        run_incremental_cc_ingest,
        run_incremental_keep_best_ingest,
    )

    dsrc = tmp_path / "docs"
    esrc = tmp_path / "edges"
    broot = str(tmp_path / "best")
    croot = str(tmp_path / "cc")
    bck = str(tmp_path / "bck")
    cck = str(tmp_path / "cck")
    dschema = "doc_id long, text string, q long"
    eschema = "id_a long, id_b long"

    doc_batches = [
        [(1, "a", 10), (2, "b", 30), (3, "c", 20), (4, "d", 20),
         (5, "e", 7), (6, "f", 9)],
        [(7, "g", 99), (8, "h", 50), (9, "i", 1), (10, "j", 30)],
    ]
    edge_batches = [
        [(1, 2), (3, 4)],        # clusters {1,2}, {3,4}
        [(2, 3), (7, 8)],        # merge {1..4}; cluster fresh {7,8}
    ]

    def serve():
        return {
            (r["component"], r["doc_id"], r["text"], r["q"],
             r["n_docs"])
            for r in keep_best_versioned(
                spark, broot, croot, "q", "doc_id"
            ).collect()
        }

    def one_shot(docs, edges):
        d = spark.createDataFrame(docs, dschema)
        if edges:
            cc = connected_components(
                spark.createDataFrame(edges, eschema), "id_a", "id_b"
            )
        else:
            cc = spark.createDataFrame([], "id long, component long")
        return {
            (r["component"], r["doc_id"], r["text"], r["q"],
             r["n_docs"])
            for r in keep_best_of_cluster(d, cc, "q").collect()
        }

    # docs b1 (no graph yet) -> all singletons
    spark.createDataFrame(doc_batches[0], dschema).coalesce(
        1
    ).write.mode("append").parquet(str(dsrc))
    run_incremental_keep_best_ingest(
        spark, str(dsrc), broot, bck, dschema, croot, "q", "doc_id"
    )
    assert serve() == one_shot(doc_batches[0], [])

    # edges b1 -> clusters appear without any new doc ingest
    spark.createDataFrame(edge_batches[0], eschema).coalesce(
        1
    ).write.mode("append").parquet(str(esrc))
    run_incremental_cc_ingest(
        spark, str(esrc), croot, cck, eschema
    )
    assert serve() == one_shot(doc_batches[0], edge_batches[0])

    # docs b2 under the current labeling
    spark.createDataFrame(doc_batches[1], dschema).coalesce(
        1
    ).write.mode("append").parquet(str(dsrc))
    run_incremental_keep_best_ingest(
        spark, str(dsrc), broot, bck, dschema, croot, "q", "doc_id"
    )
    assert serve() == one_shot(
        doc_batches[0] + doc_batches[1], edge_batches[0]
    )

    # edges b2: merges {1,2}+{3,4} AFTER the last doc batch
    spark.createDataFrame(edge_batches[1], eschema).coalesce(
        1
    ).write.mode("append").parquet(str(esrc))
    run_incremental_cc_ingest(
        spark, str(esrc), croot, cck, eschema
    )
    want = one_shot(
        doc_batches[0] + doc_batches[1],
        edge_batches[0] + edge_batches[1],
    )
    assert serve() == want
    # the merged cluster {1,2,3,4} keeps max q=30, tie -> min id 2
    merged = next(t for t in want if t[0] == 1)
    assert merged[1] == 2 and merged[4] == 4

    # replays are no-ops on both stores
    vb, vc = latest_version(broot), latest_version(croot)
    run_incremental_keep_best_ingest(
        spark, str(dsrc), broot, bck, dschema, croot, "q", "doc_id"
    )
    run_incremental_cc_ingest(spark, str(esrc), croot, cck, eschema)
    assert (latest_version(broot), latest_version(croot)) == (vb, vc)
    assert serve() == want

    # time travel: docs v1 x cc v1 == one-shot over that exact pair
    tt = {
        (r["component"], r["doc_id"], r["text"], r["q"], r["n_docs"])
        for r in keep_best_versioned(
            spark, broot, croot, "q", "doc_id",
            version=1, cc_version=1,
        ).collect()
    }
    assert tt == one_shot(doc_batches[0], edge_batches[0])


def test_keep_best_fold_scopes_to_pre_batch_state(spark, tmp_path):
    """ADVICE r14 (fixed r15): the ingest folds the prior state with
    ``before_seq=batch_id``, so a crash-post-commit replay recomputes
    its merge from exactly the pre-batch state — rows the interrupted
    attempt already wrote (same _seq) must NOT fold back in."""
    from incremental_github_data_pipeline_spark.sources.versioned import (
        commit_version,
    )
    from incremental_github_data_pipeline_spark.streaming.incremental import (
        _keep_best_fold,
    )

    root = str(tmp_path / "best")
    schema = "component long, best string, n_docs long, _seq long"
    commit_version(
        spark.createDataFrame(
            [(1, "old", 2, 0), (2, "keep", 1, 0)], schema
        ),
        root,
        mode="append",
    )
    # the batch-1 write that a crash-post-commit replay would re-read
    commit_version(
        spark.createDataFrame([(1, "new", 3, 1)], schema),
        root,
        mode="append",
    )
    full = {
        (r["component"], r["best"], r["n_docs"])
        for r in _keep_best_fold(spark, root).collect()
    }
    assert full == {(1, "new", 3), (2, "keep", 1)}
    scoped = {
        (r["component"], r["best"], r["n_docs"])
        for r in _keep_best_fold(spark, root, before_seq=1).collect()
    }
    assert scoped == {(1, "old", 2), (2, "keep", 1)}


def test_incremental_lsh_ingest_candidates_equal_one_shot(spark, tmp_path):
    """Incremental LSH index (r12): candidates served from the
    N-increment index ≡ the one-shot band join over everything
    ingested; replays are no-ops; time travel sees only the first
    batch's corpus; near-identical docs collide, disjoint docs don't;
    the params sidecar pins re-band parameters."""
    from incremental_github_data_pipeline_spark.operators.dedup import (
        minhash_bands,
        minhash_signature,
    )
    from incremental_github_data_pipeline_spark.sources.versioned import (
        latest_version,
    )
    from incremental_github_data_pipeline_spark.streaming import (
        lsh_candidates_versioned,
        run_incremental_lsh_ingest,
    )

    src = tmp_path / "docs"
    root = str(tmp_path / "lsh")
    ckpt = str(tmp_path / "ckpt")

    def doc(i, mutate=False):
        words = [f"w{(i * 3 + j) % 40}" for j in range(30)]
        if mutate:
            words[-1] = "zz"
        return " ".join(words)

    b1 = [(i, doc(i)) for i in range(20)]
    b2 = [(i, doc(i)) for i in range(20, 40)]
    for b in (b1, b2):
        spark.createDataFrame(b, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(str(src))
        run_incremental_lsh_ingest(spark, str(src), root, ckpt)
    v2 = latest_version(f"{root}/postings")
    run_incremental_lsh_ingest(spark, str(src), root, ckpt)  # replay
    assert latest_version(f"{root}/postings") == v2

    # queries: near-copies of doc 3 (batch 1) and doc 25 (batch 2),
    # plus a disjoint-vocabulary doc
    queries = spark.createDataFrame(
        [
            (100, doc(3, mutate=True)),
            (101, doc(25, mutate=True)),
            (102, " ".join(f"only{j}" for j in range(30))),
        ],
        "query_id long, qtext string",
    )
    got = {
        (r["query_id"], r["doc_id"])
        for r in lsh_candidates_versioned(spark, root, queries).collect()
    }
    assert (100, 3) in got and (101, 25) in got
    assert not any(q == 102 for q, _ in got)

    # one-shot equivalence: band the full corpus + queries directly
    corpus = spark.createDataFrame(
        b1 + b2, "doc_id long, text string"
    )
    def band(df, idc, txt):
        return df.select(
            F.col(idc),
            F.explode(
                minhash_bands(
                    minhash_signature(F.col(txt), num_hashes=32, k=5),
                    16, 2,
                )
            ).alias("bk"),
        ).select(idc, F.col("bk.band").alias("band"),
                 F.col("bk.bucket").alias("bucket"))
    want = {
        (r["query_id"], r["doc_id"])
        for r in band(queries, "query_id", "qtext")
        .join(band(corpus, "doc_id", "text"), ["band", "bucket"])
        .select("query_id", "doc_id").distinct().collect()
    }
    assert got == want

    # time travel: version 1 of the postings knows only batch 1
    v1 = {
        (r["query_id"], r["doc_id"])
        for r in lsh_candidates_versioned(
            spark, root, queries, version=1
        ).collect()
    }
    assert (100, 3) in v1
    assert not any(d >= 20 for _, d in v1)


def test_incremental_bloom_ingest_equals_one_shot(spark, tmp_path):
    """Incremental Bloom maintenance (r12): the folded filter is
    bit-identical to the one-shot build over everything ingested
    (position-set union is algebraic), no false negatives at any
    version for the keys that version had seen, replays are no-ops,
    and the prefilter convenience splits a probe batch correctly."""
    from incremental_github_data_pipeline_spark.operators.dedup import (
        build_bloom,
    )
    from incremental_github_data_pipeline_spark.sources.versioned import (
        latest_version,
    )
    from incremental_github_data_pipeline_spark.streaming import (
        bloom_prefilter_versioned,
        bloom_versioned,
        run_incremental_bloom_ingest,
    )

    src = tmp_path / "keys"
    root = str(tmp_path / "bloom")
    ckpt = str(tmp_path / "ckpt")
    schema = "k string"
    b1 = [(f"doc-{i}",) for i in range(0, 300)]
    b2 = [(f"doc-{i}",) for i in range(300, 600)]
    for b in (b1, b2):
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        run_incremental_bloom_ingest(
            spark, str(src), root, ckpt, schema, "k", n_bits=1 << 12
        )
    v2 = latest_version(f"{root}/positions")
    run_incremental_bloom_ingest(  # replay: no new version
        spark, str(src), root, ckpt, schema, "k", n_bits=1 << 12
    )
    assert latest_version(f"{root}/positions") == v2

    words, n_bits, n_hashes = bloom_versioned(spark, root)
    want = build_bloom(
        spark.createDataFrame(b1 + b2, schema), "k", n_bits=1 << 12
    )
    assert words == want  # OR-merge exactness, bit for bit

    # probe: every ingested key maybe, mostly-new keys mostly rejected
    probe = spark.createDataFrame(
        [(f"doc-{i}",) for i in range(500, 700)], schema
    )
    got = {
        r["k"]: r["bloom_maybe"]
        for r in bloom_prefilter_versioned(
            spark, root, probe, "k"
        ).collect()
    }
    assert all(got[f"doc-{i}"] for i in range(500, 600))  # no false neg
    new_flags = [got[f"doc-{i}"] for i in range(600, 700)]
    assert sum(new_flags) < 30  # false positives stay a small minority

    # time travel: version 1 must reject most of batch 2's keys but
    # still has no false negatives for batch 1
    got1 = {
        r["k"]: r["bloom_maybe"]
        for r in bloom_prefilter_versioned(
            spark, root, spark.createDataFrame(b1 + b2, schema), "k",
            version=1,
        ).collect()
    }
    assert all(got1[f"doc-{i}"] for i in range(0, 300))
    assert sum(got1[f"doc-{i}"] for i in range(300, 600)) < 100


def test_incremental_index_params_are_enforced(spark, tmp_path):
    """ADVICE r12: once the params sidecar is pinned, a later ingest
    with DIFFERENT parameters must raise, not silently append
    incompatible postings (zeroed LSH recall) or bit positions hashed
    under a different geometry (Bloom false negatives)."""
    from incremental_github_data_pipeline_spark.streaming import (
        run_incremental_bloom_ingest,
        run_incremental_lsh_ingest,
    )

    # LSH: first ingest pins (32, 16, 5); a 5-gram re-band under
    # (16, 8) must be refused on the next non-empty batch
    src = tmp_path / "docs"
    root = str(tmp_path / "lsh")
    ckpt = str(tmp_path / "ckpt")
    rows = [(i, " ".join(f"w{j}" for j in range(i, i + 20)))
            for i in range(10)]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(str(src))
    run_incremental_lsh_ingest(spark, str(src), root, ckpt)
    spark.createDataFrame(
        [(99, "fresh shard to make the next batch non-empty " * 3)],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(str(src))
    with pytest.raises(Exception, match="different\\s+parameters"):
        run_incremental_lsh_ingest(
            spark, str(src), root, str(tmp_path / "ckpt2"),
            num_hashes=16, bands=8, k=5,
        )

    # Bloom: geometry is validated up front (batch-twin contract)...
    with pytest.raises(ValueError, match="multiple of 64"):
        run_incremental_bloom_ingest(
            spark, str(src), str(tmp_path / "bloom"),
            str(tmp_path / "bc"), "doc_id long, text string", "text",
            n_bits=100,
        )
    with pytest.raises(ValueError, match="n_hashes"):
        run_incremental_bloom_ingest(
            spark, str(src), str(tmp_path / "bloom"),
            str(tmp_path / "bc"), "doc_id long, text string", "text",
            n_hashes=0,
        )
    # ...and pinned geometry is enforced on later ingests
    broot = str(tmp_path / "bloom")
    run_incremental_bloom_ingest(
        spark, str(src), broot, str(tmp_path / "bc"),
        "doc_id long, text string", "text", n_bits=1 << 12,
    )
    spark.createDataFrame(
        [(100, "another fresh shard")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(str(src))
    with pytest.raises(Exception, match="different\\s+parameters"):
        run_incremental_bloom_ingest(
            spark, str(src), broot, str(tmp_path / "bc2"),
            "doc_id long, text string", "text", n_bits=1 << 13,
        )


def test_compact_cc_log_folds_without_changing_serving(spark, tmp_path):
    """CC-log compaction (r12): the folded rewrite serves the identical
    labeling, shrinks the log to one row per live node, keeps older
    versions time-travelable, and later ingests keep working."""
    from incremental_github_data_pipeline_spark.sources.versioned import (
        latest_version,
        read_version,
    )
    from incremental_github_data_pipeline_spark.streaming import (
        cc_versioned,
        compact_cc_log,
        run_incremental_cc_ingest,
    )

    src = tmp_path / "edges"
    root = str(tmp_path / "cc")
    ckpt = str(tmp_path / "ckpt")
    schema = "id_a long, id_b long"
    batches = [[(5, 6), (10, 11)], [(1, 5)], [(0, 10)]]  # churny merges
    for b in batches:
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        run_incremental_cc_ingest(spark, str(src), root, ckpt, schema)

    def labels(v=None):
        return {
            (r["id"], r["component"])
            for r in cc_versioned(spark, root, version=v).collect()
        }

    before = labels()
    v_pre = latest_version(root)
    raw_rows = read_version(spark, root).count()
    v_new = compact_cc_log(spark, root)
    assert v_new == v_pre + 1
    assert labels() == before  # serving unchanged
    folded_rows = read_version(spark, root).count()
    assert folded_rows == len(before) < raw_rows  # one row per node
    assert labels(v=2) != before  # time travel still sees history
    # ingest after compaction keeps folding correctly
    spark.createDataFrame([(20, 0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    run_incremental_cc_ingest(spark, str(src), root, ckpt, schema)
    after = dict(labels())
    assert after[20] == 0 and after[11] == 0


def test_incremental_curation_funnel_equals_one_shot(spark, tmp_path):
    """r13: the incremental curation funnel through the versioned
    store reproduces the CERTIFIED batch funnel exactly — summed
    per-batch audit rows equal the one-shot funnel's audit over the
    union corpus (claims are disjoint across batches, so every lane
    is additive), replays are no-ops, redaction is visible in the
    curated table, and time travel sees batch 1's corpus only."""
    from incremental_github_data_pipeline_spark.queries import load_all
    from incremental_github_data_pipeline_spark.queries.ext_curation import (
        _CUR_ROBOT_RULES,
        _curation_corpus,
    )
    from incremental_github_data_pipeline_spark.sources.versioned import (
        latest_version,
        read_version,
    )
    from incremental_github_data_pipeline_spark.streaming import (
        run_incremental_curation_funnel,
    )

    corpus = _curation_corpus(spark).collect()
    src = tmp_path / "warcs"
    root = str(tmp_path / "cur")
    ckpt = str(tmp_path / "ckpt")
    schema = "payload_id long, payload binary"
    b1 = [tuple(r) for r in corpus if r["payload_id"] < 12]
    b2 = [tuple(r) for r in corpus if r["payload_id"] >= 12]
    for b in (b1, b2):
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        run_incremental_curation_funnel(
            spark, str(src), root, ckpt, robots_rules=_CUR_ROBOT_RULES
        )
    v_cur = latest_version(f"{root}/curated")
    run_incremental_curation_funnel(  # replay: no new versions
        spark, str(src), root, ckpt, robots_rules=_CUR_ROBOT_RULES
    )
    assert latest_version(f"{root}/curated") == v_cur

    # summed per-batch audit == the certified one-shot funnel's audit
    audit = read_version(spark, f"{root}/audit")
    summed = {
        r["stage"]: r
        for r in audit.groupBy("stage_idx", "stage")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("n_chars").alias("n_chars"),
        )
        .collect()
    }
    one_shot = {
        r["stage"]: r
        for r in load_all()["q_crawl_curation"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert set(summed) == set(one_shot)
    for stage, want in one_shot.items():
        got = summed[stage]
        for c in ("n_rows", "n_tokens", "n_chars"):
            assert got[c] == want[c], (stage, c, got[c], want[c])

    # redaction landed in the curated table
    curated = read_version(spark, f"{root}/curated")
    texts = [r["text"] for r in curated.collect()]
    assert not any("ex.com" in t for t in texts)
    assert any("<EMAIL>" in t for t in texts)

    # time travel: curated v1 holds only batch-1 survivors
    v1 = read_version(spark, f"{root}/curated", version=1)
    assert all(r["payload_id"] < 12 for r in v1.collect())
    a1 = {
        r["stage"]: r["n_rows"]
        for r in read_version(spark, f"{root}/audit", version=1).collect()
    }
    assert a1["records"] == 48  # 12 payloads x 4 records


@pytest.fixture(scope="module")
def _funnel_clean_root(spark, tmp_path_factory):
    """The crash-free two-batch funnel reference used by every
    crash_after parametrization below — identical by construction, so
    it is computed ONCE per module (r16: the three params re-ran it
    three times, ~40 s of pure duplication in the suite's slowest
    test)."""
    from incremental_github_data_pipeline_spark.queries.ext_curation import (
        _CUR_ROBOT_RULES,
        _curation_corpus,
    )
    from incremental_github_data_pipeline_spark.streaming import (
        run_incremental_curation_funnel,
    )

    base = tmp_path_factory.mktemp("funnel_clean")
    corpus = _curation_corpus(spark).collect()
    schema = "payload_id long, payload binary"
    b1 = [tuple(r) for r in corpus if r["payload_id"] < 12]
    b2 = [tuple(r) for r in corpus if r["payload_id"] >= 12]
    src, root, ckpt = base / "warcs", str(base / "cur"), str(base / "ckpt")
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    run_incremental_curation_funnel(
        spark, str(src), root, ckpt, robots_rules=_CUR_ROBOT_RULES
    )
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    run_incremental_curation_funnel(
        spark, str(src), root, ckpt, robots_rules=_CUR_ROBOT_RULES
    )
    return root


@pytest.mark.parametrize("crash_after", [1, 2, 3])
def test_curation_funnel_mid_batch_crash_replays_exactly_once(
    spark, tmp_path, monkeypatch, crash_after, _funnel_clean_root
):
    """ADVICE r13 (medium): a crash BETWEEN a batch's table commits
    must not lose data on replay. Claim rows carry their batch_id and
    drop_claimed reads only batches < current, so the replayed
    recompute is bit-identical whichever commits of the crashed
    attempt landed (crash_after=1: curated committed only;
    =2: +audit; =3: +url_state — the case where the old code's
    drop_claimed saw the batch's own claims and recomputed empty)."""
    from incremental_github_data_pipeline_spark.queries.ext_curation import (
        _CUR_ROBOT_RULES,
        _curation_corpus,
    )
    from incremental_github_data_pipeline_spark.sources import versioned
    from incremental_github_data_pipeline_spark.sources.versioned import (
        read_version,
    )
    from incremental_github_data_pipeline_spark.streaming import (
        run_incremental_curation_funnel,
    )

    corpus = _curation_corpus(spark).collect()
    schema = "payload_id long, payload binary"
    b1 = [tuple(r) for r in corpus if r["payload_id"] < 12]
    b2 = [tuple(r) for r in corpus if r["payload_id"] >= 12]

    def run_two_batches(tag, crash_on_batch2=False):
        src = tmp_path / f"warcs_{tag}"
        root = str(tmp_path / f"cur_{tag}")
        ckpt = str(tmp_path / f"ckpt_{tag}")
        spark.createDataFrame(b1, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        run_incremental_curation_funnel(
            spark, str(src), root, ckpt, robots_rules=_CUR_ROBOT_RULES
        )
        spark.createDataFrame(b2, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        if crash_on_batch2:
            real = versioned.commit_version
            calls = {"n": 0}

            def crashing(*a, **kw):
                if calls["n"] >= crash_after:
                    raise RuntimeError("planted mid-batch crash")
                calls["n"] += 1
                return real(*a, **kw)

            monkeypatch.setattr(versioned, "commit_version", crashing)
            with pytest.raises(Exception, match="planted mid-batch"):
                run_incremental_curation_funnel(
                    spark, str(src), root, ckpt,
                    robots_rules=_CUR_ROBOT_RULES,
                )
            monkeypatch.setattr(versioned, "commit_version", real)
            assert calls["n"] == crash_after
        run_incremental_curation_funnel(  # replay / normal batch 2
            spark, str(src), root, ckpt, robots_rules=_CUR_ROBOT_RULES
        )
        return root

    root_c = run_two_batches("crash", crash_on_batch2=True)
    root_ok = _funnel_clean_root

    for table in ("curated", "audit", "url_state", "sent_state"):
        got = read_version(spark, f"{root_c}/{table}")
        want = read_version(spark, f"{root_ok}/{table}")
        assert got.count() == want.count(), table
        assert got.exceptAll(want).isEmpty(), table
        assert want.exceptAll(got).isEmpty(), table


def _replay_text(i):
    return " ".join(f"w{(i * 11 + j) % 97} t{j % 5}" for j in range(50))


def _replay_vec(i):
    return [((i * 7 + d * 13) % 29) / 29.0 + 0.05 for d in range(16)]


def _land_rows(schema, batches):
    def land(spark, src, b):
        spark.createDataFrame(batches[b], schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    return land


def _land_vectors(spark, src, b):
    src.mkdir(exist_ok=True)
    (src / f"b{b}.jsonl").write_text(
        "\n".join(
            json.dumps({"vec_id": i, "embedding": _replay_vec(i)})
            for i in range(40 * b, 40 * b + 40)
        )
    )


_REPLAY_DOCS = _land_rows(
    "doc_id long, text string",
    [
        [(i, _replay_text(i)) for i in range(20)],
        # half of batch 2 repeats batch-1 texts under new ids
        [(100 + i, _replay_text(i)) for i in range(10, 30)],
    ],
)
_REPLAY_KEYS = _land_rows(
    "seg string, user_id long",
    [
        [("a", i) for i in range(30)] + [("b", i) for i in range(10)],
        [("a", i) for i in range(20, 45)] + [("b", i) for i in range(10, 15)],
    ],
)
_REPLAY_BEST_DOCS = "doc_id long, text string, q long"


def _land_gz(spark, src, b):
    """One gzip shard per batch, one member per document."""
    import gzip

    src.mkdir(exist_ok=True)
    (src / f"b{b}.gz").write_bytes(
        b"".join(
            gzip.compress(_replay_text(i).encode(), mtime=0)
            for i in range(20 * b, 20 * b + 20)
        )
    )


def _replay_days(schema, rows):
    """Rows of ``rows(day, i)`` over days 2024-01-01 + (i % 3), with
    batch 2 landing late rows for batch 1's days."""
    import datetime as dt

    day = lambda i: dt.date(2024, 1, 1) + dt.timedelta(days=i % 3)  # noqa: E731
    return _land_rows(
        schema,
        [[rows(day(i), i) for i in range(30)], [rows(day(i), i) for i in range(20, 50)]],
    )


def _keep_best_ingest(spark, src, root, ckpt):
    """Keep-best over a fixed CC labeling, {1, 2, 3, 4, 11} and
    {7, 8, 12}: batch 2's docs 11 and 12 join components batch 1 has
    bests for, so the replay must scope the prior fold to batch 1."""
    from incremental_github_data_pipeline_spark.sources import versioned
    from incremental_github_data_pipeline_spark.streaming import (
        run_incremental_keep_best_ingest,
    )

    cc = f"{root}/cc"
    if versioned.latest_version(cc) is None:
        versioned.commit_version(
            spark.createDataFrame(
                [(i, 1, 0) for i in (1, 2, 3, 4, 11)] + [(i, 7, 0) for i in (7, 8, 12)],
                "id long, component long, _seq long",
            ),
            cc,
        )
    run_incremental_keep_best_ingest(
        spark, src, f"{root}/best", ckpt, _REPLAY_BEST_DOCS, cc, "q"
    )


def _replay_lanes():
    """lane -> (land(spark, src, batch), ingest(spark, src, root, ckpt),
    {table under root: the txn token format its manifests record})."""
    from incremental_github_data_pipeline_spark.streaming import incremental as st

    keys = "seg string, user_id long"
    return {
        "index": (
            _REPLAY_DOCS,
            st.run_incremental_index_ingest,
            {
                t: f"index-{t}:{{ckpt}}:{{b}}"
                for t in ("postings", "termstats", "doclens", "docstats")
            },
        ),
        "ann": (
            _land_vectors,
            lambda spark, src, root, ckpt: st.run_incremental_ann_ingest(
                spark, src, f"{root}/enc", f"{root}/model", ckpt, m_sub=4, ksub=8
            ),
            {"enc": "ann-ingest:{ckpt}:{b}"},
        ),
        "hll": (
            _REPLAY_KEYS,
            lambda spark, src, root, ckpt: st.run_incremental_hll_ingest(
                spark, src, root, ckpt, keys, "seg", "user_id", p=6
            ),
            {"": "hll-ingest:{ckpt}:{b}"},
        ),
        "kmv": (
            _REPLAY_KEYS,
            lambda spark, src, root, ckpt: st.run_incremental_kmv_ingest(
                spark, src, root, ckpt, keys, "seg", "user_id", k=16
            ),
            {"": "kmv-ingest:{ckpt}:{b}"},
        ),
        "cc": (
            _land_rows(
                "id_a long, id_b long",
                [[(1, 2), (5, 6), (10, 11)], [(2, 5), (20, 21), (0, 10)]],
            ),
            lambda spark, src, root, ckpt: st.run_incremental_cc_ingest(
                spark, src, root, ckpt, "id_a long, id_b long"
            ),
            {"": "cc-ingest:{ckpt}:{b}"},
        ),
        "keep_best": (
            _land_rows(
                _REPLAY_BEST_DOCS,
                [
                    [(1, "a", 10), (2, "b", 30), (3, "c", 20), (4, "d", 20),
                     (7, "g", 5), (8, "h", 9)],
                    [(11, "k", 40), (12, "l", 9), (13, "m", 1)],
                ],
            ),
            _keep_best_ingest,
            {"best": "keep-best:{ckpt}:{b}"},
        ),
        "lsh": (
            _REPLAY_DOCS,
            lambda spark, src, root, ckpt: st.run_incremental_lsh_ingest(
                spark, src, root, ckpt, num_hashes=16, bands=8
            ),
            {"postings": "lsh-ingest:{ckpt}:{b}", "params": "lsh-params:{ckpt}"},
        ),
        "bloom": (
            _REPLAY_KEYS,
            lambda spark, src, root, ckpt: st.run_incremental_bloom_ingest(
                spark, src, root, ckpt, keys, "user_id", n_bits=1024, n_hashes=3
            ),
            {"positions": "bloom-ingest:{ckpt}:{b}", "params": "bloom-params:{ckpt}"},
        ),
        # the ledger lands, the claim table does not: the replay fills
        # it in without counting the ledger twice
        "cdc": (
            _REPLAY_DOCS,
            st.run_incremental_cdc_ingest,
            {"ledger": "cdc-ledger:{ckpt}:{b}", "chunk_state": "cdc-state:{ckpt}:{b}"},
        ),
        # single-commit append lanes: the replayed batch's one commit
        # must no-op on its txn token
        "text": (
            _land_gz,
            st.run_incremental_text_ingest,
            {"": "text-ingest:{ckpt}:{b}"},
        ),
        "drift": (
            _replay_days(
                "win date, payload string",
                lambda d, i: (d, json.dumps({f"k{i % 4}": i, f"k{i % 7}": 1})),
            ),
            st.run_incremental_drift_ingest,
            {"": "drift-ingest:{ckpt}:{b}"},
        ),
        "tcloseness": (
            _land_rows(
                "seg string, v int",
                [[("ab"[i % 2], i % 5) for i in range(30)],
                 [("abc"[i % 3], i % 4) for i in range(30)]],
            ),
            lambda spark, src, root, ckpt: st.run_incremental_tcloseness_ingest(
                spark, src, root, ckpt, "seg string, v int", ["seg"], "v"
            ),
            {"": "tclose-ingest:{ckpt}:{b}"},
        ),
        "volume": (
            _replay_days("day date, event_id long", lambda d, i: (d, i)),
            lambda spark, src, root, ckpt: st.run_incremental_volume_ingest(
                spark, src, root, ckpt, "day date, event_id long", "day"
            ),
            {"": "volume-ingest:{ckpt}:{b}"},
        ),
        "profile": (
            _land_rows(
                "cat string, n long",
                [[("xyz"[i % 3], i % 6) for i in range(30)],
                 [("xw"[i % 2], i % 8) for i in range(30)]],
            ),
            lambda spark, src, root, ckpt: st.run_incremental_profile_ingest(
                spark, src, root, ckpt, "cat string, n long", ["cat", "n"]
            ),
            {"": "profile-ingest:{ckpt}:{b}"},
        ),
    }


def _shard_names(df):
    """The text lane records each shard's absolute path, and the runs
    compared land their shards in different directories: keep the
    file name."""
    if "shard" not in df.columns:
        return df
    return df.withColumn("shard", F.regexp_extract("shard", "[^/]+$", 0))


def _run_two_batches(spark, lane, base, crash_batch2=None):
    """Ingest two batches of ``lane`` under ``base``; ``crash_batch2``
    runs batch 2 once first with that ``commit_version`` in place."""
    from incremental_github_data_pipeline_spark.sources import versioned

    land, ingest, _ = _replay_lanes()[lane]
    src, root, ckpt = base / "src", str(base / "t"), str(base / "ckpt")
    land(spark, src, 0)
    ingest(spark, str(src), root, ckpt)
    land(spark, src, 1)
    if crash_batch2 is not None:
        real = versioned.commit_version
        versioned.commit_version = crash_batch2
        try:
            with pytest.raises(Exception, match="planted crash"):
                ingest(spark, str(src), root, ckpt)
        finally:
            versioned.commit_version = real
    ingest(spark, str(src), root, ckpt)
    return root, ckpt


@pytest.fixture(scope="module")
def _replay_clean(spark, tmp_path_factory):
    """The crash-free two-batch run of each lane, made once per module."""
    runs = {}

    def clean(lane):
        if lane not in runs:
            runs[lane] = _run_two_batches(spark, lane, tmp_path_factory.mktemp(lane))[0]
        return runs[lane]

    return clean


@pytest.mark.parametrize(
    "lane",
    [
        "index", "ann", "hll", "kmv", "cc", "keep_best", "lsh", "bloom", "cdc",
        "text", "drift", "tcloseness", "volume", "profile",
    ],
)
def test_versioned_ingest_crash_after_commit_replays_exactly_once(
    spark, tmp_path, lane, _replay_clean
):
    """Batch 2 crashes right after its first commit lands (the
    at-least-once replay ``foreachBatch`` produces); the rerun must
    leave every table equal to a crash-free run, and every manifest
    must record the lane's txn token once per batch."""
    from incremental_github_data_pipeline_spark.sources import versioned

    real, calls = versioned.commit_version, []

    def crash_after_commit(*a, **kw):
        calls.append(real(*a, **kw))
        raise RuntimeError("planted crash after a commit")

    root, ckpt = _run_two_batches(spark, lane, tmp_path, crash_after_commit)
    assert len(calls) == 1
    want_root = _replay_clean(lane)
    for table, token in _replay_lanes()[lane][2].items():
        got, want = (
            _shard_names(versioned.read_version(spark, f"{r}/{table}"))
            for r in (root, want_root)
        )
        assert got.count() == want.count(), table
        assert got.exceptAll(want).isEmpty(), table
        assert want.exceptAll(got).isEmpty(), table
        txns = [m["txn"] for m in versioned.history(f"{root}/{table}")]
        assert txns == list(dict.fromkeys(token.format(ckpt=ckpt, b=b) for b in (0, 1))), table


def _stream_jobs(spark, run):
    """Spark jobs in the job group of the one streaming query ``run``
    starts (its runId); a caller's job group does not reach the stream
    thread."""
    from pyspark.sql.streaming import StreamingQueryListener

    run_ids = []

    class Started(StreamingQueryListener):
        def onQueryStarted(self, event):
            run_ids.append(str(event.runId))

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Started()
    spark.streams.addListener(listener)
    try:
        run()
    finally:
        spark.streams.removeListener(listener)
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    (run_id,) = run_ids
    return len(sc.statusTracker().getJobIdsForGroup(run_id))


@pytest.mark.parametrize(
    "lane, jobs",
    [("index", [9, 9]), ("hll", [3, 4]), ("curation", [12, 17])],
)
def test_ingest_jobs_per_micro_batch_are_pinned(spark, tmp_path, lane, jobs):
    """Jobs of the first and of a later micro-batch of 100 rows each,
    counted in the streaming query's own job group."""
    from incremental_github_data_pipeline_spark.streaming.incremental import (
        run_incremental_curation,
        run_incremental_hll_ingest,
        run_incremental_index_ingest,
    )

    src, root, ckpt = tmp_path / "src", str(tmp_path / "t"), str(tmp_path / "ckpt")
    runs = {
        "index": (
            _land_rows(
                "doc_id long, text string",
                [[(i, _replay_text(i)) for i in range(100 * b, 100 * b + 100)] for b in (0, 1)],
            ),
            lambda: run_incremental_index_ingest(spark, str(src), root, ckpt),
        ),
        "hll": (
            _land_rows(
                "seg string, user_id long",
                [[("ab"[i % 2], i) for i in range(50 * b, 50 * b + 100)] for b in (0, 1)],
            ),
            lambda: run_incremental_hll_ingest(
                spark, str(src), root, ckpt, "seg string, user_id long", "seg", "user_id"
            ),
        ),
        "curation": (
            lambda spark, src, b: _land_curation(src, f"b{b}.jsonl", range(100 * b, 100 * b + 100)),
            lambda: run_incremental_curation(spark, src, root, ckpt),
        ),
    }
    land, run = runs[lane]
    got = []
    for b in (0, 1):
        land(spark, src, b)
        got.append(_stream_jobs(spark, run))
    assert got == jobs


def test_index_postings_shuffle_documents_once_below_the_tf_aggregate(spark):
    """The index fold's postings plan has exactly one exchange, a hash
    partitioning of the raw documents on doc_id, and the tf aggregate
    runs above it with no second exchange; the docstats observation
    sits below it."""
    from incremental_github_data_pipeline_spark.streaming.incremental import _index_tf

    docs = spark.createDataFrame(
        [(i, _replay_text(i)) for i in range(20)], "doc_id long, text string"
    )
    tf, _ = _index_tf(docs)
    plan = tf._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    exchange = plan.index("Exchange hashpartitioning(doc_id#")
    assert plan.rindex("HashAggregate") < exchange < plan.index("CollectMetrics"), plan


def test_index_docstats_come_from_the_batch(spark, tmp_path):
    """docstats rows equal a count of the landed documents and the sum
    of the committed postings' tf; a document with NULL text counts as
    one document with no tokens."""
    from incremental_github_data_pipeline_spark.sources import versioned
    from incremental_github_data_pipeline_spark.streaming.incremental import (
        run_incremental_index_ingest,
    )

    src, root, ckpt = tmp_path / "src", str(tmp_path / "t"), str(tmp_path / "ckpt")
    batches = [
        [(i, _replay_text(i)) for i in range(30)] + [(30, None), (31, "  ")],
        [(i, _replay_text(i)) for i in range(100, 140)],
    ]
    land = _land_rows("doc_id long, text string", batches)
    for b in (0, 1):
        land(spark, src, b)
        run_incremental_index_ingest(spark, str(src), root, ckpt)
    postings = versioned.read_version(spark, f"{root}/postings")
    tf_sum = {
        lo: postings.filter(F.col("doc_id").between(lo, lo + 99)).agg(F.sum("tf")).first()[0]
        for lo in (0, 100)
    }
    got = sorted(tuple(r) for r in versioned.read_version(spark, f"{root}/docstats").collect())
    assert got == [(0, 32, tf_sum[0]), (1, 40, tf_sum[100])]


def test_funnel_robots_gate_many_record_payloads_no_uid_collision(
    spark, tmp_path
):
    """ADVICE r13 (high): payload_id*10+record_idx collided for
    >=10-record payloads (e.g. (1,11) and (2,1) both mapped to 21),
    merging robots verdicts across records. With the shiftleft-32
    uid, a 12-record blocked payload and a 12-record allowed payload
    gate independently."""
    from incremental_github_data_pipeline_spark.operators import (
        text as tx,
    )
    from incremental_github_data_pipeline_spark.sources.versioned import (
        read_version,
    )
    from incremental_github_data_pipeline_spark.streaming import (
        run_incremental_curation_funnel,
    )

    rules = [
        ("colhost.example.com", r["allow"], r["pattern"], r["regex"],
         r["plen"])
        for r in tx.parse_robots(
            "User-agent: *\nDisallow: /blocked\n", agent="*"
        )
    ]

    def payload(pid, kind):
        recs = []
        for j in range(12):
            words = " ".join(
                f"p{pid}r{j}w{k} unique{(pid * 31 + j * 7 + k) % 101}"
                for k in range(12)
            )
            recs.append(
                {
                    "warc_type": "response",
                    "target_uri": (
                        f"https://colhost.example.com/{kind}{pid}_{j}"
                    ),
                    "http_status": 200,
                    "body": (
                        f"<html><body><p>{words}.</p></body></html>"
                    ).encode("utf-8"),
                }
            )
        return (pid, tx.warc_build(recs, gzip_per_record=False))

    src = tmp_path / "warcs_col"
    root = str(tmp_path / "cur_col")
    ckpt = str(tmp_path / "ckpt_col")
    spark.createDataFrame(
        [payload(1, "blocked"), payload(2, "ok")],
        "payload_id long, payload binary",
    ).coalesce(1).write.parquet(str(src))
    run_incremental_curation_funnel(
        spark, str(src), root, ckpt, robots_rules=rules
    )
    audit = {
        r["stage"]: r["n_rows"]
        for r in read_version(spark, f"{root}/audit").collect()
    }
    assert audit["extracted"] == 24
    assert audit["robots_gate"] == 12  # exactly payload 2
    curated = read_version(spark, f"{root}/curated").collect()
    assert curated and all(r["payload_id"] == 2 for r in curated)


def test_incremental_cdc_ingest_ledger_equals_one_shot(spark, tmp_path):
    """r13: the chunk-claim ledger is additive — summed chars_new over
    batches equals the one-shot distinct-chunk volume of the union
    corpus; replays are no-ops; time travel sees batch 1 only."""
    from incremental_github_data_pipeline_spark.operators.text import (
        cdc_chunk_rows,
    )
    from incremental_github_data_pipeline_spark.sources.versioned import (
        latest_version,
        read_version,
    )
    from incremental_github_data_pipeline_spark.streaming import (
        run_incremental_cdc_ingest,
    )

    def doc(i: int) -> str:
        return (
            " ".join(
                f"w{(i * 7 + j) % 300} tail{j % 9}" for j in range(60)
            )
            + " shared boilerplate sentence that repeats everywhere."
        )

    src = tmp_path / "docs"
    root = str(tmp_path / "cdc")
    ckpt = str(tmp_path / "ckpt")
    b1 = [(i, doc(i)) for i in range(40)]
    # batch 2 repeats half of batch 1's docs with a small prefix edit
    # (CDC keeps their tail chunks identical -> mostly claimed) plus
    # genuinely new docs
    b2 = [(100 + i, "EDIT! " + doc(i)) for i in range(20)] + [
        (200 + i, doc(1000 + i)) for i in range(20)
    ]
    for b in (b1, b2):
        spark.createDataFrame(b, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(str(src))
        run_incremental_cdc_ingest(spark, str(src), root, ckpt)
    v = latest_version(f"{root}/chunk_state")
    run_incremental_cdc_ingest(spark, str(src), root, ckpt)  # replay
    assert latest_version(f"{root}/chunk_state") == v

    ledger = read_version(spark, f"{root}/ledger").collect()
    assert len(ledger) == 2
    summed_new = sum(r["chars_new"] for r in ledger)
    union = spark.createDataFrame(b1 + b2, "doc_id long, text string")
    one_shot = (
        cdc_chunk_rows(union)
        .select("chunk")
        .distinct()
        .agg(F.sum(F.length("chunk")).cast("long").alias("c"))
        .collect()[0]["c"]
    )
    assert summed_new == one_shot
    # dedup actually bit: batch 2 re-used claimed chunks
    r2 = next(r for r in ledger if r["batch_id"] == 1)
    assert r2["chars_new"] < r2["chars_in"]
    # time travel: the version-1 state is batch 1's distinct chunks
    s1 = read_version(spark, f"{root}/chunk_state", version=1)
    d1 = (
        cdc_chunk_rows(spark.createDataFrame(b1, "doc_id long, text string"))
        .select("chunk").distinct().count()
    )
    assert s1.count() == d1
