"""Manifest-based versioned tables: multi-version snapshots with time
travel, atomic commits, and vacuum — the Delta-style upgrade of the
reference's one-generation rotation (`extract.py:23-34` keeps exactly
one backup; SURVEY.md §1.1 maps rotation to "table versions").

Layout under a table root::

    data/<uuid>.parquet/      one immutable parquet directory per commit
    _manifests/00000001.json  {"version", "files"|"parts", "n_rows", ...}
    _manifests/parts/<uuid>.jsonl   sharded file entries (large tables)
    _latest                   text file holding the committed version number

A commit writes its data directory first, then its manifest, then
atomically renames a temp ``_latest`` pointer over the old one — readers
referencing any already-committed version are never disturbed, and a
crash mid-commit leaves the previous version intact (the half-written
data dir is orphaned and swept by :func:`vacuum`). This is the
single-writer design (like the reference's rename dance); multi-writer
coordination would need a log store, out of scope.

Every read goes through the manifest's explicit file list — never a
directory glob — so concurrent vacuum of OLD versions cannot break a
pinned-time-travel reader of a retained version.

Manifest sharding (the Iceberg manifest-list idea, VERDICT r4 task 7):
a table at millions of files cannot re-serialize its whole file list
into every commit's manifest JSON — that makes APPEND cost O(total
files) in metadata alone, the exact bottleneck Iceberg shards manifests
and Delta checkpoints the log to avoid. Tables with at most
``INLINE_FILES_MAX`` data dirs keep the file list inline (readable at a
glance, zero extra I/O); past that, each commit writes ONE immutable
JSONL part holding only its new entries (``{"dir", "stats"}`` per
line) and the manifest stores the part-path list — append metadata
cost returns to O(new files) + one path per prior commit. Parts are
shared structurally across append chains (same immutability contract
as data dirs) and swept by :func:`vacuum` when unreferenced.
:func:`manifest_entries` exposes the entries as a Spark DataFrame
(``spark.read.json`` over the parts) so metadata-scale jobs
(compaction planning, stats audits) never materialize the list on the
driver.

Idempotent commits: ``commit_version(..., txn_id=...)`` records the
token in the manifest and turns a replayed commit with the same token
into a no-op returning the already-committed version — the
foreachBatch sink contract Structured Streaming requires (its
checkpoint is only at-least-once; see
``streaming.incremental._run_versioned_ingest``). Detection
scans retained manifests, so version retention must exceed the replay
horizon (one batch, in practice) — the same contract as Delta's
``txn`` retention.
"""

from __future__ import annotations

import bisect
import json
import os
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from incremental_github_data_pipeline_spark.sources.local import local_rows_df

__all__ = [
    "CommitConflict",
    "commit_version",
    "read_version",
    "history",
    "vacuum",
    "merge_version",
    "commit_changelog",
    "diff_versions",
    "manifest_entries",
    "INLINE_FILES_MAX",
]

# Data-dir count past which manifests shard their file entries into
# JSONL parts instead of inlining them (see module docstring).
INLINE_FILES_MAX = 64


def _manifest_dir(root: Path) -> Path:
    return root / "_manifests"


def _parts_dir(root: Path) -> Path:
    return _manifest_dir(root) / "parts"


def _latest_path(root: Path) -> Path:
    return root / "_latest"


def latest_version(root: str | Path) -> int | None:
    p = _latest_path(Path(root))
    if not p.exists():
        return None
    return int(p.read_text().strip())


def _load_manifest(root: Path, version: int) -> dict:
    mp = _manifest_dir(root) / f"{version:08d}.json"
    if not mp.exists():
        raise FileNotFoundError(
            f"version {version} not found (vacuumed or never committed)"
        )
    return json.loads(mp.read_text())


def _files_and_stats(manifest: dict) -> tuple[list[str], dict]:
    """Resolve a manifest's data-dir list + per-part-file stats from
    either representation: inline (small tables) or sharded JSONL parts
    (see module docstring)."""
    if "files" in manifest:
        return list(manifest["files"]), manifest.get("stats", {})
    files: list[str] = []
    stats: dict = {}
    for part in manifest["parts"]:
        for line in Path(part).read_text().splitlines():
            if not line.strip():
                continue
            e = json.loads(line)
            files.append(e["dir"])
            # stats ride as a serialized string so the Spark-side read
            # (manifest_entries) gets a stable scalar schema regardless
            # of which columns/types any one part recorded
            stats.update(json.loads(e.get("stats_json") or "{}"))
    return files, stats


def _dir_stats(stats: dict, data_dir: str) -> dict:
    """The stats entries of one committed data dir: stats are keyed by
    part-file URI, so a dir owns every key under its path."""
    return {
        p: b
        for p, b in stats.items()
        if p.removeprefix("file://").startswith(data_dir)
    }


def manifest_entries(
    spark: SparkSession, root: str | Path, version: int | None = None
) -> DataFrame:
    """The manifest's file entries as a Spark DataFrame — the
    metadata-scale read path: at millions of files the entry list must
    not materialize on the driver, so compaction planners / stats
    audits read the JSONL parts distributed (``spark.read.json``).
    Inline manifests surface through the same schema via a local
    createDataFrame (they are ≤ ``INLINE_FILES_MAX`` rows by
    construction)."""
    root = Path(root)
    if version is None:
        version = latest_version(root)
        if version is None:
            raise FileNotFoundError(f"no committed version under {root}")
    manifest = _load_manifest(root, version)
    if "parts" in manifest:
        return spark.read.json(manifest["parts"]).select("dir", "stats_json")
    files, stats = _files_and_stats(manifest)
    rows = [(f, json.dumps(_dir_stats(stats, f))) for f in files]
    return local_rows_df(spark, rows, "dir string, stats_json string")


# Path characters that ``input_file_name()`` leaves unescaped in its
# ``file://`` URI: a part file whose path holds any other character
# takes the Spark aggregate, whose keys are that URI.
_URI_SAFE = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789/_.-~"
)


def _file_bounds(md, stats_cols: list[str]) -> dict | None:
    """``[min, max]`` of each column over the row groups of one parquet
    footer, or ``None`` when the footer cannot give them exactly: a
    column missing from it, or a row group with values but without
    min/max (parquet-mr omits binary statistics over 4 KiB). An
    all-null column gives ``[None, None]``, as the Spark aggregate
    does."""
    cols = {md.schema.column(j).path: j for j in range(md.num_columns)}
    out = {}
    for c in stats_cols:
        if c not in cols:
            return None
        lo = hi = None
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            st = rg.column(cols[c]).statistics
            if st is not None and st.has_min_max:
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            elif st is None or st.null_count != rg.num_rows:
                return None
        out[c] = [lo, hi]
    return out


def _footer_stats(
    df: DataFrame, data_dir: Path, stats_cols: list[str] | None
) -> tuple[int, dict]:
    """Manifest ``n_rows`` and per-file ``stats_cols`` bounds of the
    local parquet dir ``df`` was just written to, from one
    ``read_metadata`` per part file instead of Spark jobs (a count job
    per commit, and the three-job aggregate of :func:`_file_stats` per
    stats commit). Bounds are keyed by the ``file://`` URI that
    ``input_file_name()`` gives; a file with no rows gets no entry.

    The footers give bounds only where parquet's statistics order
    equals Spark's ``min``/``max`` order: signed integers, and strings
    under the default binary collation (both compare UTF-8 bytes
    unsigned). Floats (NaN, -0.0), decimals, dates, timestamps, other
    collations, footers without min/max (:func:`_file_bounds`) and
    paths the URI would escape take :func:`_file_stats`; a dir whose
    footers cannot be read (non-local) takes the counting job too."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
    )

    spark = df.sparkSession
    stats_cols = list(stats_cols or [])
    types = {f.name: f.dataType for f in df.schema.fields}
    ordered = stats_cols and all(
        isinstance(types.get(c), (ByteType, ShortType, IntegerType, LongType))
        or types.get(c) == StringType()
        for c in stats_cols
    )
    n_rows, bounds = None, ({} if ordered else None)
    try:
        files = sorted(data_dir.rglob("*.parquet"))
        if files or not any(data_dir.iterdir()):
            n_rows = 0
        for f in files:
            md = pq.read_metadata(f)
            n_rows += md.num_rows
            if bounds is not None and md.num_rows:
                path = os.path.abspath(f)
                entry = _file_bounds(md, stats_cols) if set(path) <= _URI_SAFE else None
                if entry is None:
                    bounds = None
                else:
                    bounds["file://" + path] = entry
    except Exception:
        n_rows = None
    if n_rows is None:
        n_rows, bounds = spark.read.parquet(str(data_dir)).count(), None
    if stats_cols and bounds is None:
        bounds = _file_stats(spark, data_dir, stats_cols)
    return n_rows, bounds or {}


def _file_stats(
    spark: SparkSession, data_dir: Path, stats_cols: list[str]
) -> dict:
    """Per-file min/max for the given columns (one aggregate over the
    freshly written directory only): the fallback and reference of
    :func:`_footer_stats`. Values must be JSON-scalar (numeric/string)
    — the same restriction Iceberg places on its lower/upper bounds."""
    from pyspark.sql import functions as F

    aggs = []
    for c in stats_cols:
        aggs += [F.min(c).alias(f"_min_{c}"), F.max(c).alias(f"_max_{c}")]
    rows = (
        spark.read.parquet(str(data_dir))
        .groupBy(F.input_file_name().alias("_f"))
        .agg(*aggs)
        .collect()
    )
    out = {}
    for r in rows:
        out[r["_f"]] = {
            c: [r[f"_min_{c}"], r[f"_max_{c}"]] for c in stats_cols
        }
    return out


class CommitConflict(RuntimeError):
    """Another writer committed since the expected version was read."""


def commit_version(
    df: DataFrame,
    root: str | Path,
    mode: str = "overwrite",
    stats_cols: list[str] | None = None,
    expected_version: int | None = None,
    txn_id: str | None = None,
) -> int:
    """Commit ``df`` as the next table version and return its number.

    ``mode="overwrite"`` makes the new version's content exactly ``df``;
    ``mode="append"`` makes it the previous version's files PLUS the new
    data directory — append never rewrites old data, it only adds a
    manifest entry referencing the prior files (constant metadata cost,
    zero data movement — the property that makes incremental loads cheap
    at 100 TB).

    ``stats_cols`` records per-FILE min/max bounds for those columns in
    the manifest (numeric/string only) — the Iceberg-style metadata
    that lets :func:`read_version` skip whole files against a range
    predicate without opening them. Appends merge prior stats, so
    skipping works across the full file list. The bounds of integer
    and binary-collation string columns come from the footers just
    written (row-group statistics, the same pass that reads
    ``n_rows``); other types, row groups without min/max and non-local
    paths take one Spark aggregate over the new files
    (:func:`_footer_stats`).

    ``expected_version`` enables optimistic concurrency: pass the
    version you read before computing ``df`` and the commit refuses
    (``CommitConflict``) if another writer has advanced the table in
    the meantime — read-modify-write sequences like
    :func:`merge_version` stay lost-update-free without any lock. Use
    ``expected_version=None`` for blind appends, ``0`` to require an
    empty table.

    ``txn_id`` makes the commit idempotent: if any retained manifest
    up to the ``_latest`` version already carries the token, the call
    is a no-op returning that version — the contract an at-least-once
    caller (foreachBatch) needs for replay safety. Retention must
    exceed the replay horizon (module docstring).
    """
    if mode not in ("overwrite", "append"):
        raise ValueError("mode must be 'overwrite' or 'append'")
    root = Path(root)
    prev = latest_version(root)
    if txn_id is not None:
        # Only committed versions count: a manifest past ``_latest`` is
        # the orphan of a crash before the pointer write, and the next
        # commit overwrites it, so honouring its token would lose the
        # batch.
        for m in reversed(history(root)):
            if m["version"] <= (prev or 0) and m.get("txn") == txn_id:
                return m["version"]
    (root / "data").mkdir(parents=True, exist_ok=True)
    _manifest_dir(root).mkdir(parents=True, exist_ok=True)
    if expected_version is not None and (prev or 0) != expected_version:
        raise CommitConflict(
            f"expected version {expected_version}, table is at {prev}"
        )
    new_version = 1 if prev is None else prev + 1

    data_dir = root / "data" / f"{uuid.uuid4().hex}.parquet"
    df.write.mode("errorifexists").parquet(str(data_dir))
    n_rows, stats = _footer_stats(df, data_dir, stats_cols)

    prev_manifest = None
    prev_files: list[str] = []
    prev_stats: dict = {}
    if mode == "append" and prev is not None:
        prev_manifest = _load_manifest(root, prev)
        n_rows += prev_manifest["n_rows"]
        if "parts" not in prev_manifest:
            prev_files, prev_stats = _files_and_stats(prev_manifest)

    # r16 (guide §6): record whether EVERY referenced file was written
    # with exactly this schema. When true, read_version passes the
    # recorded schema straight to the parquet reader — no
    # mergeSchema=true, which runs a distributed read of every part
    # footer on EACH read (the serving lanes measured one footer job
    # per table per evaluation). Overwrites are trivially stable;
    # appends stay stable only while the incoming schema matches the
    # previous manifest's (an evolved append flips the flag off and the
    # read path falls back to footer merging). Pre-r16 manifests lack
    # the flag → treated as unstable, same behavior as before.
    schema_json = df.schema.jsonValue()
    if mode == "overwrite" or prev is None:
        schema_stable = True
    else:
        schema_stable = bool(
            prev_manifest is not None
            and prev_manifest.get("schema_stable")
            and prev_manifest.get("schema") == schema_json
        )
    manifest = {
        "version": new_version,
        "n_rows": n_rows,
        "ts": time.time(),
        "mode": mode,
        "schema": schema_json,
        "schema_stable": schema_stable,
    }
    if txn_id is not None:
        manifest["txn"] = txn_id

    prev_parts = (
        list(prev_manifest["parts"])
        if prev_manifest is not None and "parts" in prev_manifest
        else None
    )
    n_files = (
        (prev_manifest.get("n_files") if prev_manifest else 0) or len(prev_files)
    ) + 1
    if prev_parts is None and n_files <= INLINE_FILES_MAX:
        manifest["files"] = prev_files + [str(data_dir)]
        manifest["stats"] = {**prev_stats, **stats}
    else:
        # Sharded representation: one immutable JSONL part per commit
        # holding only the NEW entries; crossing the inline threshold
        # rewrites the prior inline entries into the part once.
        entries = [{"dir": str(data_dir), "stats_json": json.dumps(stats)}]
        if prev_parts is None:
            entries = [
                {"dir": f, "stats_json": json.dumps(_dir_stats(prev_stats, f))}
                for f in prev_files
            ] + entries
        _parts_dir(root).mkdir(parents=True, exist_ok=True)
        part = _parts_dir(root) / f"{uuid.uuid4().hex}.jsonl"
        ptmp = part.with_suffix(".jsonl.tmp")
        ptmp.write_text("\n".join(json.dumps(e) for e in entries))
        os.replace(ptmp, part)  # part visible atomically
        manifest["parts"] = (prev_parts or []) + [str(part)]
        manifest["n_files"] = n_files
    mp = _manifest_dir(root) / f"{new_version:08d}.json"
    tmp = mp.with_suffix(".json.tmp")
    tmp.write_text(json.dumps(manifest))
    os.replace(tmp, mp)  # manifest visible atomically

    ltmp = _latest_path(root).with_suffix(".tmp")
    ltmp.write_text(str(new_version))
    os.replace(ltmp, _latest_path(root))  # commit point
    return new_version


def read_version(
    spark: SparkSession,
    root: str | Path,
    version: int | None = None,
    skip: tuple[str, object, object] | None = None,
    skip_values: tuple[str, list] | None = None,
) -> DataFrame:
    """Read the table at ``version`` (default: latest). Time travel =
    passing an older retained version; reads resolve through the
    manifest's explicit file list, never a glob.

    ``skip=(col, lo, hi)`` prunes the file list against the manifest's
    per-file bounds BEFORE any file opens (file-level skipping above
    parquet's own row-group pruning): a file survives only if
    ``[min, max]`` overlaps ``[lo, hi]`` (None = unbounded; files
    without recorded stats are conservatively kept). The predicate
    itself is also applied, so results are exact either way.

    ``skip_values=(col, values)`` is the IN-list twin: a part survives
    only if SOME value falls inside its [min, max] — precise for
    multi-point lookups (e.g. a query's term set) where a single
    [min(values), max(values)] envelope would span everything between
    the extremes and prune nothing. One read over the pruned list (no
    per-value plan fan-out); the IN predicate is applied on top, so
    results are exact either way. Mutually exclusive with ``skip``.
    """
    from pyspark.sql import functions as F

    root = Path(root)
    if version is None:
        version = latest_version(root)
        if version is None:
            raise FileNotFoundError(f"no committed version under {root}")
    manifest = _load_manifest(root, version)
    files, stats = _files_and_stats(manifest)
    if skip is not None and skip_values is not None:
        raise ValueError("pass skip or skip_values, not both")
    if skip is None and skip_values is None:
        return _read_files(spark, manifest, files)
    candidates = files
    if skip is not None:
        col, lo, hi = skip
        conds = [F.col(col) >= F.lit(lo)] if lo is not None else []
        if hi is not None:
            conds.append(F.col(col) <= F.lit(hi))

        def overlaps(bmin, bmax) -> bool:
            return (lo is None or bmax >= lo) and (hi is None or bmin <= hi)

    else:
        col, vals = skip_values
        vals = sorted(set(vals))
        conds = [F.col(col).isin(vals)]
        if not vals:
            candidates = []  # an empty IN-list matches no file

        def overlaps(bmin, bmax) -> bool:
            # any value in [min, max]? (vals sorted: one bisect)
            i = bisect.bisect_left(vals, bmin)
            return i < len(vals) and vals[i] <= bmax

    def survives(bounds) -> bool:
        # A [null, null] bound (column entirely NULL in that part)
        # carries no range information — treat it as no stats, so the
        # part is conservatively kept, never a TypeError.
        return bounds[0] is None or bounds[1] is None or overlaps(*bounds)

    # Prune at PART-file granularity: stats keys are per-part URIs
    # (input_file_name), so a compacted single-dir table whose parts
    # were range-clustered still skips — dir-level pruning would
    # aggregate the dir's bounds back to the full range and read
    # everything. Dirs with no recorded stats are kept whole.
    pruned = []
    for f in candidates:
        parts = _dir_stats(stats, f)
        if not parts:
            pruned.append(f)  # no usable stats → cannot skip
            continue
        pruned.extend(
            p for p, b in parts.items() if col not in b or survives(b[col])
        )
    if not pruned:
        # schema-stable empty result: route through the same projection
        # as non-empty reads, or a post-evolution empty read could
        # surface a different (single-file-sampled) schema and break
        # downstream unions
        return _read_files(spark, manifest, files).filter(F.lit(False))
    df = _read_files(spark, manifest, pruned)
    for cond in conds:
        df = df.filter(cond)
    return df


def _read_files(spark: SparkSession, manifest: dict, files: list) -> DataFrame:
    """Read a manifest's files with schema-evolution support: appends
    may have widened the schema, so multi-file reads merge schemas and
    project to the manifest's recorded (latest) schema — rows from
    pre-evolution files surface the new columns as NULL."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    recorded = manifest.get("schema")
    if recorded and manifest.get("schema_stable"):
        # every file was written with exactly this schema (commit-time
        # invariant): hand it to the reader — no footer-merging job,
        # no inference, no per-column cast needed
        return spark.read.schema(StructType.fromJson(recorded)).parquet(
            *files
        )
    df = spark.read.option("mergeSchema", "true").parquet(*files)
    if recorded:
        want = StructType.fromJson(recorded)
        cols = [
            F.col(f.name).cast(f.dataType).alias(f.name)
            if f.name in df.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in want.fields
        ]
        df = df.select(*cols)
    return df


def restore_version(
    spark: SparkSession,
    root: str | Path,
    version: int,
    txn_id: str | None = None,
) -> int:
    """RESTORE (r10): make an earlier retained version the table's new
    CURRENT state by committing its content as a NEW version — the
    Delta-style rollback. History is never rewritten: time travel
    still sees the bad interval, the audit trail survives, and a
    second restore can undo the undo. Returns the new version number.

    The restored content is read through :func:`read_version` and
    committed with ``mode="overwrite"`` — one distributed copy of the
    snapshot, no manifest surgery, so OCC, per-file stats capture and
    ``txn_id`` idempotence all apply exactly as for any other
    commit."""
    df = read_version(spark, root, version=version)
    return commit_version(df, root, mode="overwrite", txn_id=txn_id)


def history(root: str | Path) -> list[dict]:
    """All retained manifests, oldest first."""
    root = Path(root)
    out = []
    if _manifest_dir(root).exists():
        for mp in sorted(_manifest_dir(root).glob("[0-9]*.json")):
            out.append(json.loads(mp.read_text()))
    return out


def vacuum(root: str | Path, keep: int = 2) -> dict:
    """Drop all but the newest ``keep`` versions: delete their
    manifests, then delete data directories no retained manifest
    references (orphans from crashed commits are swept too). Returns
    ``{"dropped_versions": [...], "deleted_dirs": n}``."""
    import shutil

    if keep < 1:
        raise ValueError("keep must be >= 1")
    root = Path(root)
    manifests = history(root)
    drop = manifests[:-keep] if len(manifests) > keep else []
    for m in drop:
        (_manifest_dir(root) / f"{m['version']:08d}.json").unlink()
    retained = history(root)
    retained_files = {f for m in retained for f in _files_and_stats(m)[0]}
    retained_parts = {p for m in retained for p in m.get("parts", [])}
    deleted = 0
    for d in (root / "data").iterdir() if (root / "data").exists() else []:
        if str(d) not in retained_files:
            shutil.rmtree(d)
            deleted += 1
    deleted_parts = 0
    if _parts_dir(root).exists():
        for pf in _parts_dir(root).iterdir():
            if str(pf) not in retained_parts:
                pf.unlink()
                deleted_parts += 1
    return {
        "dropped_versions": [m["version"] for m in drop],
        "deleted_dirs": deleted,
        "deleted_parts": deleted_parts,
    }


def merge_version(
    df: DataFrame,
    root: str | Path,
    key_cols: list[str],
    order_col: str | None = None,
) -> int:
    """Keyed upsert as a new table version: latest snapshot + batch →
    keep-last per key (batch wins; ``order_col`` breaks within-batch
    ties, else arrival order) → commit. Deterministic keys make replay
    produce an identical version (the reference's idempotence story on
    top of time travel).

    Copy-on-write at TABLE granularity — every merge rewrites the
    snapshot, which is the honest trade at this implementation size;
    file-level COW (rewrite only touched files, as Delta/Iceberg do) is
    the production refinement and would slot in at the manifest layer.
    For append-heavy loads prefer ``commit_version(mode="append")``.
    """
    from incremental_github_data_pipeline_spark.operators import core as ops

    root = Path(root)
    if latest_version(root) is None:
        merged = (
            ops.dedupe_keep_last(df, key_cols, order_by=order_col)
            if order_col
            else ops.dedupe_keep_last(ops.with_input_seq(df), key_cols)
        )
        return commit_version(merged.select(*df.columns), root)
    spark = df.sparkSession
    base = read_version(spark, root)
    from pyspark.sql import functions as F

    combined = base.withColumn("_src", F.lit(0)).unionByName(
        df.withColumn("_src", F.lit(1))
    )
    order = [F.col("_src")] + ([F.col(order_col)] if order_col else [])
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(*[c.desc() for c in order])
    merged = (
        combined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*base.columns)
    )
    return commit_version(merged, root)


def commit_changelog(
    changes: DataFrame,
    root: str | Path,
    key_cols: list[str],
    order_col: str,
    op_col: str = "op",
) -> int:
    """Apply an insert/update/delete changelog to the latest version
    and commit the folded result as a new version — CDC into the
    versioned table, with every pre-image retained for time travel
    (the audit property a mutable warehouse table cannot give you).
    Reuses ``streaming.apply_changelog`` fold semantics; same
    table-granularity copy-on-write note as :func:`merge_version`."""
    from incremental_github_data_pipeline_spark.streaming.incremental import (
        apply_changelog,
    )

    root = Path(root)
    spark = changes.sparkSession
    data_cols = [c for c in changes.columns if c not in (op_col, order_col)]
    if latest_version(root) is None:
        base = local_rows_df(
            spark,
            [], changes.select(*data_cols).schema
        )
    else:
        base = read_version(spark, root)
    folded = apply_changelog(base, changes, key_cols, order_col, op_col)
    return commit_version(folded.select(*data_cols), root)


def diff_versions(
    spark: SparkSession,
    root: str | Path,
    v_old: int,
    v_new: int,
    key_cols: list[str],
) -> DataFrame:
    """Row-level diff between two retained versions: one row per
    changed key with status ``added`` / ``removed`` / ``changed``
    (``unchanged`` keys are dropped — the diff is output-sensitive).
    Comparison hashes all non-key columns with a 128-bit xxhash pair,
    so wide rows diff without shuffling their payloads twice.

    Schema evolution between the versions is part of the contract: the
    fingerprint covers the UNION of both versions' non-key columns,
    with a column absent on one side entering as NULL — a row whose
    only change is in an added (or dropped) column reports ``changed``
    instead of being silently skipped. Hash input is
    ``to_json(struct(...))`` — JSON omits null fields but NAMES the
    present ones, so "absent column" ≡ "NULL value" without the
    positional aliasing a flat null-skipping hash argument list has
    (hash(a, NULL, b) == hash(a, b, NULL)).

    The pipeline-regression primitive: "what did this run change?" is
    one full-outer join on the keys between two manifests — no stored
    changelog needed, because versions are immutable.
    """
    from pyspark.sql import functions as F

    old = read_version(spark, root, v_old)
    new = read_version(spark, root, v_new)
    non_keys = sorted(
        (set(old.columns) | set(new.columns)) - set(key_cols)
    )

    def keyed(df: DataFrame, side: str) -> DataFrame:
        if non_keys:
            j = F.to_json(
                F.struct(
                    *[
                        (
                            F.col(c)
                            if c in df.columns
                            else F.lit(None).cast("string")
                        ).alias(c)
                        for c in non_keys
                    ]
                )
            )
            fp = F.struct(
                F.xxhash64(j, F.lit(1)), F.xxhash64(j, F.lit(2))
            )
        else:
            fp = F.lit(None)
        return df.select(
            *key_cols, fp.alias(f"_fp_{side}"), F.lit(True).alias(f"_in_{side}")
        )

    j = keyed(old, "old").join(keyed(new, "new"), key_cols, "full_outer")
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.col("_fp_old") != F.col("_fp_new"), F.lit("changed"))
    )
    return (
        j.withColumn("status", status)
        .filter(F.col("status").isNotNull())
        .select(*key_cols, "status")
    )


def compact(
    spark: SparkSession,
    root: str | Path,
    target_partitions: int = 1,
    cluster_cols: list[str] | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """OPTIMIZE for versioned tables: rewrite the CURRENT version's
    many small files (the debris of zero-rewrite appends — one data
    dir per commit) into ``target_partitions`` files and commit the
    result as a new version. Logically a no-op: content is identical,
    older versions stay time-travelable, and :func:`vacuum` reclaims
    the small files once they fall out of retention.

    ``cluster_cols`` range-partitions and sorts the rewrite on those
    columns, so the recomputed per-file min/max stats (``stats_cols``,
    defaulting to the cluster columns) become TIGHT and
    :func:`read_version`'s file skipping starts pruning — compaction
    is where clustering pays for itself. Multi-dimensional layouts can
    pre-compose ``sources.writers.write_zordered`` instead.

    Concurrency: the commit pins ``expected_version`` to the version
    that was read, so an append landing mid-compaction raises
    ``CommitConflict`` instead of being silently dropped by the
    overwrite — retry on the new tip. (Real OPTIMIZE sizes bins by
    bytes; partition count is the right knob at this scale and keeps
    the rewrite one deterministic exchange.)
    """
    root = Path(root)
    cur = latest_version(root)
    if cur is None:
        raise ValueError("cannot compact an empty table")
    from pyspark.sql import functions as F

    df = read_version(spark, root, version=cur)
    if cluster_cols:
        df = df.repartitionByRange(
            target_partitions, *[F.col(c) for c in cluster_cols]
        ).sortWithinPartitions(*cluster_cols)
        stats_cols = stats_cols or cluster_cols
    else:
        df = df.repartition(target_partitions)
    return commit_version(
        df,
        root,
        mode="overwrite",
        stats_cols=stats_cols,
        expected_version=cur,
    )
