"""sources.versioned — manifest-based multi-version snapshots: time
travel, append without rewrite, atomic latest pointer, vacuum safety."""

from __future__ import annotations

import pytest

from incremental_github_data_pipeline_spark.sources.versioned import (
    commit_version,
    history,
    latest_version,
    read_version,
    vacuum,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, val string")


def test_overwrite_versions_and_time_travel(spark, tmp_path):
    root = tmp_path / "t"
    v1 = commit_version(_df(spark, [(1, "a")]), root)
    v2 = commit_version(_df(spark, [(1, "A"), (2, "b")]), root)
    assert (v1, v2) == (1, 2)
    assert latest_version(root) == 2
    assert read_version(spark, root).count() == 2  # latest
    old = {(r["id"], r["val"]) for r in read_version(spark, root, 1).collect()}
    assert old == {(1, "a")}  # time travel


def test_append_reuses_prior_files(spark, tmp_path):
    root = tmp_path / "t"
    commit_version(_df(spark, [(1, "a")]), root)
    commit_version(_df(spark, [(2, "b")]), root, mode="append")
    h = history(root)
    assert h[1]["files"][0] == h[0]["files"][0]  # prior file referenced
    assert len(h[1]["files"]) == 2
    assert h[1]["n_rows"] == 2
    got = {r["id"] for r in read_version(spark, root).collect()}
    assert got == {1, 2}


def test_vacuum_keeps_recent_and_pinned_reads_survive(spark, tmp_path):
    root = tmp_path / "t"
    for i in range(4):
        commit_version(_df(spark, [(i, str(i))]), root)
    res = vacuum(root, keep=2)
    assert res["dropped_versions"] == [1, 2]
    assert res["deleted_dirs"] == 2
    # retained versions still read through their manifests
    assert read_version(spark, root, 3).collect()[0]["id"] == 2
    assert read_version(spark, root, 4).collect()[0]["id"] == 3
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        read_version(spark, root, 1)


def test_vacuum_sweeps_orphaned_crash_dirs(spark, tmp_path):
    root = tmp_path / "t"
    commit_version(_df(spark, [(1, "a")]), root)
    # simulate a crash mid-commit: data written, manifest never landed
    _df(spark, [(9, "x")]).write.parquet(str(root / "data" / "orphan.parquet"))
    res = vacuum(root, keep=2)
    assert res["deleted_dirs"] == 1
    assert read_version(spark, root).count() == 1  # table unaffected


def test_append_to_empty_and_bad_mode(spark, tmp_path):
    root = tmp_path / "t"
    v = commit_version(_df(spark, [(1, "a")]), root, mode="append")
    assert v == 1 and read_version(spark, root).count() == 1
    with pytest.raises(ValueError, match="mode"):
        commit_version(_df(spark, [(1, "a")]), root, mode="merge")
    with pytest.raises(FileNotFoundError):
        read_version(spark, tmp_path / "absent")


@pytest.mark.parametrize("dtype", ["long", "int", "double"])
def test_stats_skipping_prunes_files_and_stays_exact(spark, tmp_path, dtype):
    """Bounds from the footers (integers) and from the Spark aggregate
    (double) prune alike."""
    from pyspark.sql import functions as F

    def ids(lo):
        ids = spark.range(lo, lo + 100).select(F.col("id").cast(dtype).alias("id"))
        return ids.repartition(1)

    root = tmp_path / "t"
    # three appends with disjoint id ranges -> three prunable units
    commit_version(ids(0), root, stats_cols=["id"])
    commit_version(ids(100), root, mode="append", stats_cols=["id"])
    commit_version(ids(200), root, mode="append", stats_cols=["id"])
    pruned = read_version(spark, root, skip=("id", 120, 150))
    assert len(pruned.inputFiles()) == 1  # two of three commits skipped
    assert pruned.count() == 31
    assert pruned.agg(F.min("id"), F.max("id")).collect()[0][:] == (120, 150)
    # open bounds and no-stats fallback stay exact
    assert read_version(spark, root, skip=("id", None, 99)).count() == 100
    empty = read_version(spark, root, skip=("id", 1000, 2000))
    assert empty.count() == 0


def test_merge_version_upserts_and_is_idempotent(spark, tmp_path):
    from incremental_github_data_pipeline_spark.sources.versioned import (
        merge_version,
    )

    root = tmp_path / "t"
    merge_version(_df(spark, [(1, "a"), (2, "b")]), root, ["id"])
    merge_version(_df(spark, [(2, "B2"), (3, "c")]), root, ["id"])
    got = {(r["id"], r["val"]) for r in read_version(spark, root).collect()}
    assert got == {(1, "a"), (2, "B2"), (3, "c")}
    # time travel still sees the pre-merge state
    v1 = {(r["id"], r["val"]) for r in read_version(spark, root, 1).collect()}
    assert v1 == {(1, "a"), (2, "b")}
    # replay produces an identical (new) version
    merge_version(_df(spark, [(2, "B2"), (3, "c")]), root, ["id"])
    again = {(r["id"], r["val"]) for r in read_version(spark, root).collect()}
    assert again == got and latest_version(root) == 3


def test_commit_changelog_applies_deletes_with_history(spark, tmp_path):
    from incremental_github_data_pipeline_spark.sources.versioned import (
        commit_changelog,
    )

    root = tmp_path / "t"
    ch1 = spark.createDataFrame(
        [(1, "a", 1, "insert"), (2, "b", 1, "insert")],
        "id long, val string, seq long, op string",
    )
    commit_changelog(ch1, root, ["id"], "seq")
    ch2 = spark.createDataFrame(
        [(2, None, 2, "delete"), (3, "c", 2, "insert")],
        "id long, val string, seq long, op string",
    )
    commit_changelog(ch2, root, ["id"], "seq")
    now = {(r["id"], r["val"]) for r in read_version(spark, root).collect()}
    assert now == {(1, "a"), (3, "c")}
    # the deleted row's pre-image is retained at version 1
    v1 = {(r["id"], r["val"]) for r in read_version(spark, root, 1).collect()}
    assert (2, "b") in v1


def test_optimistic_concurrency_detects_lost_update(spark, tmp_path):
    from incremental_github_data_pipeline_spark.sources.versioned import (
        CommitConflict,
    )

    root = tmp_path / "t"
    v1 = commit_version(_df(spark, [(1, "a")]), root)
    # writer B sneaks in a commit
    commit_version(_df(spark, [(9, "z")]), root)
    with pytest.raises(CommitConflict, match="expected version 1"):
        commit_version(_df(spark, [(2, "b")]), root, expected_version=v1)
    # expected 0 requires an empty table
    with pytest.raises(CommitConflict):
        commit_version(_df(spark, [(3, "c")]), root, expected_version=0)
    assert latest_version(root) == 2  # failed commits advanced nothing


def test_schema_evolution_appends_widen_and_backfill_null(spark, tmp_path):
    root = tmp_path / "t"
    commit_version(_df(spark, [(1, "a")]), root)
    widened = spark.createDataFrame(
        [(2, "b", 7.5)], "id long, val string, score double"
    )
    commit_version(widened, root, mode="append")
    rows = {r["id"]: (r["val"], r["score"])
            for r in read_version(spark, root).collect()}
    assert rows == {1: ("a", None), 2: ("b", 7.5)}
    # time travel to v1 keeps the narrow schema
    assert read_version(spark, root, 1).columns == ["id", "val"]


def test_diff_versions_reports_added_removed_changed(spark, tmp_path):
    from incremental_github_data_pipeline_spark.sources.versioned import (
        diff_versions,
    )

    root = tmp_path / "t"
    commit_version(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), root)
    commit_version(_df(spark, [(1, "a"), (2, "B!"), (4, "d")]), root)
    got = {
        (r["id"], r["status"])
        for r in diff_versions(spark, root, 1, 2, ["id"]).collect()
    }
    # 1 unchanged (absent), 2 changed, 3 removed, 4 added
    assert got == {(2, "changed"), (3, "removed"), (4, "added")}


def test_txn_id_makes_commit_idempotent(spark, tmp_path):
    """foreachBatch replay safety (ADVICE r4): a second commit carrying
    the same txn_id is a no-op returning the committed version."""
    root = tmp_path / "t"
    v1 = commit_version(_df(spark, [(1, "a")]), root, mode="append",
                        txn_id="ingest:ckpt:0")
    v2 = commit_version(_df(spark, [(1, "a")]), root, mode="append",
                        txn_id="ingest:ckpt:0")  # replayed batch
    assert (v1, v2) == (1, 1)
    assert read_version(spark, root).count() == 1  # not doubled
    v3 = commit_version(_df(spark, [(2, "b")]), root, mode="append",
                        txn_id="ingest:ckpt:1")
    assert v3 == 2 and read_version(spark, root).count() == 2


def test_sharded_manifests_append_read_vacuum(spark, tmp_path, monkeypatch):
    """Past INLINE_FILES_MAX the manifest stores JSONL part paths, each
    append writes ONE new part (O(new) metadata), reads resolve through
    the parts, and vacuum sweeps unreferenced parts."""
    import json as _json

    from incremental_github_data_pipeline_spark.sources import versioned

    monkeypatch.setattr(versioned, "INLINE_FILES_MAX", 2)
    root = tmp_path / "t"
    for i in range(5):
        commit_version(_df(spark, [(i, str(i))]), root, mode="append")
    h = history(root)
    assert "files" in h[0] and "files" in h[1]  # below threshold: inline
    for m in h[2:]:
        assert "parts" in m and "files" not in m
    # append metadata is O(new): the last manifest JSON references its
    # parts by path and contains NO data-dir paths inline
    assert "data/" not in _json.dumps(h[-1].get("files", []))
    assert len(h[4]["parts"]) == len(h[3]["parts"]) + 1
    assert h[4]["n_files"] == 5
    got = {r["id"] for r in read_version(spark, root).collect()}
    assert got == {0, 1, 2, 3, 4}
    # time travel across the inline->parts transition
    assert read_version(spark, root, 2).count() == 2
    # the Spark-side metadata read path sees every entry
    ents = versioned.manifest_entries(spark, root)
    assert ents.count() == 5
    # append chains SHARE parts, so vacuum keeps them while any
    # retained manifest references them...
    res = vacuum(root, keep=1)
    assert res["deleted_parts"] == 0
    assert read_version(spark, root).count() == 5  # latest intact
    # ...but an overwrite resets the chain, and vacuuming the old
    # versions away sweeps their now-unreferenced parts
    commit_version(_df(spark, [(9, "z")]), root, mode="overwrite")
    res = vacuum(root, keep=1)
    assert res["deleted_parts"] == 3
    assert read_version(spark, root).count() == 1


def test_manifest_metadata_at_10k_files(spark, tmp_path):
    """Design ceiling check (VERDICT r4 task 7): a 10k-file manifest in
    sharded form stays readable — entry resolution + stats-based file
    skipping prune 9,999 never-touched fake dirs down to the one real
    one before any file opens."""
    import json as _json

    from incremental_github_data_pipeline_spark.sources import versioned

    root = tmp_path / "t"
    real = commit_version(
        spark.range(100, 200).toDF("id").repartition(1), root,
        stats_cols=["id"],
    )
    m = versioned._load_manifest(root, real)
    real_dir = m["files"][0]
    real_stats = m["stats"]
    # fabricate 9,999 additional entries with disjoint id ranges
    versioned._parts_dir(root).mkdir(parents=True, exist_ok=True)
    lines = [
        _json.dumps(
            {
                "dir": f"/nonexistent/fake-{i}.parquet",
                "stats_json": _json.dumps(
                    {
                        f"/nonexistent/fake-{i}.parquet/part-0": {
                            "id": [1000 + 2 * i, 1001 + 2 * i]
                        }
                    }
                ),
            }
        )
        for i in range(9999)
    ] + [_json.dumps({"dir": real_dir, "stats_json": _json.dumps(real_stats)})]
    part = versioned._parts_dir(root) / "big.jsonl"
    part.write_text("\n".join(lines))
    manifest = {
        "version": 2, "n_rows": 100, "ts": 0.0, "mode": "append",
        "schema": m["schema"], "parts": [str(part)], "n_files": 10000,
    }
    (versioned._manifest_dir(root) / "00000002.json").write_text(
        _json.dumps(manifest)
    )
    (root / "_latest").write_text("2")
    assert versioned.manifest_entries(spark, root).count() == 10000
    pruned = read_version(spark, root, skip=("id", 120, 150))
    assert len(pruned.inputFiles()) == 1  # only the real dir survives
    assert pruned.count() == 31


@pytest.mark.parametrize(
    "prune",
    [{"skip": ("id", 0, 100)}, {"skip_values": ("id", list(range(101)))}],
    ids=["skip", "skip_values"],
)
def test_skip_keeps_files_with_all_null_stats(spark, tmp_path, prune):
    """ADVICE r4: a [null, null] bound (stats column entirely NULL in a
    file) must be treated as no-stats — file kept, not a TypeError —
    under range and IN-list pruning alike."""
    from pyspark.sql import functions as F

    root = tmp_path / "t"
    nulls = spark.range(3).select(
        F.lit(None).cast("long").alias("id"), F.lit("x").alias("val")
    )
    commit_version(nulls.repartition(1), root, stats_cols=["id"])
    commit_version(
        spark.range(10, 20).select(
            F.col("id"), F.lit("y").alias("val")
        ).repartition(1),
        root, mode="append", stats_cols=["id"],
    )
    got = read_version(spark, root, **prune)
    assert got.count() == 10  # null-id rows excluded by predicate only
    assert len(got.inputFiles()) >= 1  # and no crash resolving stats


@pytest.mark.parametrize(
    "prune",
    [{"skip": ("id", 5000, 6000)}, {"skip_values": ("id", [5000, 6000])}],
    ids=["skip", "skip_values"],
)
def test_all_pruned_read_keeps_evolved_schema(spark, tmp_path, prune):
    """ADVICE r4: the everything-pruned empty result must carry the
    manifest's recorded (evolved) schema, same as non-empty reads,
    under range and IN-list pruning alike."""
    root = tmp_path / "t"
    commit_version(
        _df(spark, [(1, "a")]).repartition(1), root, stats_cols=["id"]
    )
    widened = spark.createDataFrame(
        [(100, "b", 7.5)], "id long, val string, score double"
    )
    commit_version(
        widened.repartition(1), root, mode="append", stats_cols=["id"]
    )
    empty = read_version(spark, root, **prune)
    assert empty.count() == 0
    assert empty.columns == ["id", "val", "score"]
    assert empty.schema == read_version(spark, root).schema


def test_diff_versions_sees_evolved_columns(spark, tmp_path):
    """ADVICE r4: a row whose ONLY change lives in a schema-evolved
    column must report `changed`; a dropped column must not raise."""
    from incremental_github_data_pipeline_spark.sources.versioned import (
        diff_versions,
    )

    root = tmp_path / "t"
    commit_version(_df(spark, [(1, "a"), (2, "b")]), root)
    widened = spark.createDataFrame(
        [(1, "a", 9.5), (2, "b", None)],
        "id long, val string, score double",
    )
    commit_version(widened, root)
    got = {
        (r["id"], r["status"])
        for r in diff_versions(spark, root, 1, 2, ["id"]).collect()
    }
    # row 1 changed ONLY via the new score column; row 2's score is
    # NULL ≡ absent, so it stays unchanged (dropped from the diff)
    assert got == {(1, "changed")}
    # dropped-column direction: diff new -> old must not raise
    back = {
        (r["id"], r["status"])
        for r in diff_versions(spark, root, 2, 1, ["id"]).collect()
    }
    assert back == {(1, "changed")}


def test_compact_preserves_content_and_shrinks_files(spark, tmp_path):
    """OPTIMIZE: 6 append-debris data dirs rewrite into one; content
    identical, old version still time-travelable, vacuum then reclaims
    the small files without touching the compacted version."""
    from incremental_github_data_pipeline_spark.sources.versioned import compact

    root = tmp_path / "t"
    for i in range(6):
        commit_version(_df(spark, [(i, f"v{i}")]), root, mode="append")
    before = {(r["id"], r["val"]) for r in read_version(spark, root).collect()}
    v = compact(spark, root, target_partitions=1)
    assert v == 7 and latest_version(root) == 7
    m = history(root)[-1]
    assert len(m["files"]) == 1  # 6 data dirs -> 1
    after = {(r["id"], r["val"]) for r in read_version(spark, root).collect()}
    assert after == before  # logical no-op
    assert read_version(spark, root, 3).count() == 3  # time travel intact
    vacuum(root, keep=1)
    assert {(r["id"], r["val"]) for r in read_version(spark, root).collect()} == before


def test_compact_clustering_enables_file_skipping(spark, tmp_path):
    """cluster_cols makes per-file bounds tight: after compacting into
    3 range-partitioned files, a point predicate reads 1 file."""
    from incremental_github_data_pipeline_spark.sources import versioned

    root = tmp_path / "t"
    rows = [(i, f"v{i}") for i in range(90)]
    import random

    rng = random.Random(7)
    rng.shuffle(rows)
    for part in (rows[:30], rows[30:60], rows[60:]):
        commit_version(_df(spark, part), root, mode="append")
    versioned.compact(
        spark, root, target_partitions=3, cluster_cols=["id"]
    )
    m = history(root)[-1]
    assert len(m["files"]) == 1  # 3 append dirs -> 1 compacted dir
    assert len(m["stats"]) == 3  # ...holding 3 range-clustered parts
    hit = versioned.read_version(spark, root, skip=("id", 5, 5))
    assert {r["id"] for r in hit.collect()} == {5}
    # skipping proof: the pruned read touches ONE of the three parts
    assert len(hit.inputFiles()) == 1


def test_compact_conflicts_with_concurrent_append(spark, tmp_path):
    """An append landing between read and commit must raise
    CommitConflict, not be dropped by the overwrite."""
    from incremental_github_data_pipeline_spark.sources.versioned import (
        CommitConflict,
        compact,
    )

    root = tmp_path / "t"
    commit_version(_df(spark, [(1, "a")]), root, mode="append")
    commit_version(_df(spark, [(2, "b")]), root, mode="append")

    from incremental_github_data_pipeline_spark.sources import versioned as V
    real_read = V.read_version

    def racing_read(spark_, root_, version=None, skip=None):
        out = real_read(spark_, root_, version=version, skip=skip)
        commit_version(_df(spark_, [(3, "c")]), root_, mode="append")
        return out

    import unittest.mock as mock
    with mock.patch.object(V, "read_version", side_effect=racing_read):
        with pytest.raises(CommitConflict):
            V.compact(spark, root)
    assert read_version(spark, root).count() == 3  # append survived


def test_skip_values_prunes_per_value_not_envelope(spark, tmp_path):
    """IN-list skipping: values {5, 250} must open ONLY the first and
    third of three disjoint-range parts — a [min, max] envelope skip
    would span [5, 250] and read all three. Results stay exact (the
    IN predicate applies on top), empty lists return a schema-stable
    empty frame, and no-stats parts are conservatively kept."""
    from incremental_github_data_pipeline_spark.sources.versioned import (
        commit_version,
        read_version,
    )

    root = tmp_path / "t"
    for lo in (0, 100, 200):
        commit_version(
            spark.range(lo, lo + 100).toDF("id").repartition(1),
            root,
            mode="append" if lo else "overwrite",
            stats_cols=["id"],
        )
    picked = read_version(spark, root, skip_values=("id", [5, 250]))
    assert len(picked.inputFiles()) == 2  # middle part skipped
    assert {r["id"] for r in picked.collect()} == {5, 250}

    # single value -> single part; absent value -> empty but exact
    one = read_version(spark, root, skip_values=("id", [150]))
    assert len(one.inputFiles()) == 1 and one.count() == 1
    assert read_version(spark, root, skip_values=("id", [999])).count() == 0
    empty = read_version(spark, root, skip_values=("id", []))
    assert empty.count() == 0 and empty.columns == ["id"]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        read_version(
            spark, root, skip=("id", 0, 1), skip_values=("id", [1])
        )


def test_restore_rolls_back_as_new_version(spark, tmp_path):
    from incremental_github_data_pipeline_spark.sources.versioned import (
        commit_version,
        latest_version,
        read_version,
        restore_version,
    )

    root = str(tmp_path / "t")
    commit_version(
        spark.createDataFrame([(1, "a")], "id long, v string"), root
    )
    commit_version(
        spark.createDataFrame([(2, "bad")], "id long, v string"),
        root,
        mode="append",
    )
    v_bad = latest_version(root)
    new_v = restore_version(spark, root, version=v_bad - 1)
    assert new_v == v_bad + 1 and latest_version(root) == new_v
    assert [tuple(r) for r in read_version(spark, root).collect()] == [
        (1, "a")
    ]
    # the bad interval stays time-travelable (history not rewritten)
    assert read_version(spark, root, version=v_bad).count() == 2
    # idempotent under txn replay (same token -> same version back)
    again = restore_version(spark, root, version=v_bad - 1, txn_id="r1")
    assert (
        restore_version(spark, root, version=v_bad - 1, txn_id="r1")
        == again
    )


def test_txn_replay_after_crash_before_latest_keeps_the_batch(
    spark, tmp_path, monkeypatch
):
    """A crash between the manifest write and the ``_latest`` write
    leaves an orphan manifest N carrying the batch's token. The replay
    must commit the batch again (as version N), not return the orphan's
    version: the next commit would overwrite manifest N and lose the
    batch."""
    import os
    from pathlib import Path

    root = tmp_path / "t"
    batch = {
        t: _df(spark, [(i, t) for i in range(lo, lo + 3)])
        for t, lo in (("a", 0), ("b", 3), ("c", 6))
    }
    commit_version(batch["a"], root, mode="append", txn_id="a")
    real = os.replace

    def crash_at_pointer(src, dst):
        if Path(dst).name == "_latest":
            raise OSError("planted crash before the _latest write")
        return real(src, dst)

    monkeypatch.setattr(os, "replace", crash_at_pointer)
    with pytest.raises(OSError, match="planted"):
        commit_version(batch["b"], root, mode="append", txn_id="b")
    monkeypatch.undo()
    assert latest_version(root) == 1
    assert commit_version(batch["b"], root, mode="append", txn_id="b") == 2
    assert commit_version(batch["b"], root, mode="append", txn_id="b") == 2
    commit_version(batch["c"], root, mode="append", txn_id="c")
    assert sorted(r["id"] for r in read_version(spark, root).collect()) == list(range(9))
    assert [m["txn"] for m in history(root)] == ["a", "b", "c"]


def _bounds_frame(spark, case):
    """A two-file frame for one footer-bounds case: the stats column
    ``c``, and the writer options."""
    from pyspark.sql import functions as F

    ids = spark.range(0, 4000).repartition(2)
    cols = {
        "long": F.col("id") * 7 - 5000,
        "int": (F.col("id") % 1013 - 500).cast("int"),
        "string_non_ascii": F.concat(
            F.element_at(
                F.array(*[F.lit(t) for t in ("é", "z", "日本", "\U0001f600", "a", "")]),
                (F.col("id") % 6 + 1).cast("int"),
            ),
            F.col("id").cast("string"),
        ),
        "multi_row_group": F.col("id") * 3,
        "all_null": F.lit(None).cast("long"),
        "double": F.col("id") / 3 - 100,
        "string_over_4k": F.concat(F.repeat(F.lit("x"), 5000), F.col("id").cast("string")),
    }
    opts = {"parquet.block.size": "4096"} if case == "multi_row_group" else {}
    return ids.select(cols[case].alias("c"), "id"), opts


@pytest.mark.parametrize(
    "case, from_footers",
    [
        ("long", True),
        ("int", True),
        ("string_non_ascii", True),
        ("multi_row_group", True),
        ("all_null", True),
        ("double", False),
        ("string_over_4k", False),
    ],
)
def test_footer_bounds_equal_the_spark_aggregate(spark, tmp_path, case, from_footers):
    """Commit-time per-file bounds read from the parquet footers equal
    the ``input_file_name`` aggregate they replace, key for key, and
    cost no Spark job. A double column and a string whose footer holds
    no min/max (over 4 KiB) take the aggregate instead."""
    import uuid

    import pyarrow.parquet as pq

    from incremental_github_data_pipeline_spark.sources import versioned

    df, opts = _bounds_frame(spark, case)
    data_dir = tmp_path / "d.parquet"
    df.write.options(**opts).parquet(str(data_dir))
    if case == "multi_row_group":
        assert all(pq.read_metadata(f).num_row_groups > 1 for f in data_dir.glob("*.parquet"))
    sc, group = spark.sparkContext, f"footers-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        n_rows, bounds = versioned._footer_stats(df, data_dir, ["c"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    want = versioned._file_stats(spark, data_dir, ["c"])
    assert n_rows == 4000
    assert len(want) == 2 and bounds == want
    assert (jobs == 0) == from_footers, jobs
    if case == "all_null":
        assert all(b["c"] == [None, None] for b in bounds.values())
