"""Per-layer metrics of a traced run.

``targets`` lists the engine calls a traced run wraps in spans, each by
the module attribute through which the engine itself looks it up (so
calls made inside ``foreachBatch`` bodies are caught too). ``per_layer``
turns the spans and the event log into the per-layer table: every figure
is a mean per timed step over the first steps of the run, so the counts
repeat exactly for one seed. A layer a workload never touches reports 0.

METRICS.md maps each layer metric to the end-to-end metric it should
move and names the workload with the most work in that layer.
"""

from __future__ import annotations

from pathlib import Path

from spans import EventLog, Span, Tracer, attribute, driver_time, self_time
from workloads import MIX

CLEANERS = ("repos", "owners", "branches", "issues", "users")


def _part_files(path: str | Path) -> int:
    return sum(
        1
        for p in Path(path).rglob("*")
        if p.is_file() and not p.name.startswith((".", "_"))
    )


def targets(tracer: Tracer) -> list[tuple]:
    """(module, attribute, span name, after-hook) for every traced call."""
    from incremental_github_data_pipeline_spark.pipelines import github
    from incremental_github_data_pipeline_spark.sources import versioned
    from incremental_github_data_pipeline_spark.streaming import incremental

    load, files_and_stats = versioned._load_manifest, versioned._files_and_stats

    def rotated(idx, args, kwargs, out):
        tracer.add(idx, "files_written", _part_files(out))

    def committed(idx, args, kwargs, version):
        root = Path(kwargs.get("root", args[1] if len(args) > 1 else None))
        files = set(files_and_stats(load(root, version))[0])
        if version > 1:
            files -= set(files_and_stats(load(root, version - 1))[0])
        tracer.add(idx, "files_written", sum(_part_files(f) for f in files))

    def history_read(idx, args, kwargs, out):
        tracer.add(idx, "manifests", len(out))

    def files_read(idx, args, kwargs, out):
        manifest, kept = args[1], args[2]
        every, stats = files_and_stats(manifest)
        parts = {
            f: max(1, sum(p.removeprefix("file://").startswith(f) for p in stats))
            for f in every
        }
        tracer.add(idx, "kept", sum(parts.get(f, 1) for f in kept))
        tracer.add(idx, "total", sum(parts.values()))

    out = [
        (incremental, "run_incremental_github", "incremental.run_incremental_github", None),
        (incremental, "merge_upsert", "incremental.merge_upsert", None),
        (incremental, "write_rotating", "writers.write_rotating", rotated),
        (incremental, "run_incremental_index_ingest", "incremental.run_incremental_index_ingest", None),
        (incremental, "bm25_search_versioned", "incremental.bm25_search_versioned", None),
        (versioned, "commit_version", "versioned.commit_version", committed),
        (versioned, "history", "versioned.history", history_read),
        (versioned, "read_version", "versioned.read_version", None),
        (versioned, "_read_files", "versioned._read_files", files_read),
    ]
    out += [(github, f"clean_{c}", f"github.clean_{c}", None) for c in CLEANERS]
    return out


def per_layer(
    spans: list[Span],
    log: EventLog,
    steps: int,
    extra: dict[str, tuple[float, str]],
) -> dict[str, tuple[float, str]]:
    """The per-layer table over spans of the first ``steps`` timed steps."""
    work = attribute(spans, log)
    mine = [i for i, s in enumerate(spans) if s.step is not None and s.step < steps]

    def of(name):
        return [i for i in mine if spans[i].name == name]

    def per_step(xs) -> float:
        return sum(xs) / steps

    def wsum(name, field) -> float:
        return per_step(getattr(work[i].work, field) for i in of(name))

    def count(name, key) -> float:
        return per_step(spans[i].counts.get(key, 0) for i in of(name))

    m: dict[str, tuple[float, str]] = dict(extra)

    def spark_layer(name, *fields, label=None):
        ids = of(name)
        table = {
            "calls": (per_step(1 for _ in ids), "count"),
            "wall_s": (per_step(spans[i].wall for i in ids), "s"),
            "self_s": (per_step(self_time(spans, i) for i in ids), "s"),
            "driver_s": (per_step(driver_time(spans[i], work[i]) for i in ids), "s"),
            "jobs": (per_step(work[i].jobs for i in ids), "count"),
            "stages": (per_step(work[i].stages for i in ids), "count"),
            "tasks": (wsum(name, "tasks"), "count"),
            "executor_cpu_s": (wsum(name, "cpu_s"), "s"),
            "worker_gap_s": (wsum(name, "run_s") - wsum(name, "cpu_s"), "s"),
            "bytes_written": (wsum(name, "bytes_written"), "bytes"),
            "shuffle_bytes": (wsum(name, "shuffle_bytes"), "bytes"),
        }
        for f in fields:
            m[f"{label or name}.{f}"] = table[f]

    spark_layer(
        "incremental.run_incremental_github",
        "wall_s", "self_s", "driver_s", "jobs", "stages", "tasks", "executor_cpu_s", "worker_gap_s",
    )
    spark_layer("incremental.merge_upsert", "calls", "wall_s", "jobs", "bytes_written")
    # rows the merges wrote (whole snapshots) per row of the batch's
    # cleaned tables
    merged_rows = wsum("incremental.merge_upsert", "records_written")
    clean_rows = count("op.batch", "clean_rows")
    m["incremental.merge_upsert.write_amp"] = (
        merged_rows / clean_rows if clean_rows else 0.0,
        "ratio",
    )
    spark_layer("writers.write_rotating", "calls", "wall_s")
    m["writers.write_rotating.files_written"] = (
        count("writers.write_rotating", "files_written"),
        "count",
    )
    for c in CLEANERS:
        m[f"github.clean_{c}.plan_s"] = (per_step(spans[i].wall for i in of(f"github.clean_{c}")), "s")
    spark_layer(
        "incremental.run_incremental_index_ingest",
        "wall_s", "self_s", "driver_s", "jobs", "tasks", "executor_cpu_s", "worker_gap_s",
    )
    spark_layer("versioned.commit_version", "calls", "wall_s", "jobs", "bytes_written")
    m["versioned.commit_version.files_written"] = (
        count("versioned.commit_version", "files_written"),
        "count",
    )
    m["versioned.commit_version.manifests_read"] = (
        per_step(
            spans[i].counts.get("manifests", 0)
            for i in of("versioned.history")
            if spans[i].parent is not None
            and spans[spans[i].parent].name == "versioned.commit_version"
        ),
        "count",
    )
    spark_layer("versioned.read_version", "calls", "wall_s")
    total = count("versioned._read_files", "total")
    m["versioned.read_version.files_kept_ratio"] = (
        count("versioned._read_files", "kept") / total if total else 0.0,
        "ratio",
    )
    m["incremental.bm25_search_versioned.plan_s"] = (
        per_step(spans[i].wall for i in of("incremental.bm25_search_versioned")),
        "s",
    )
    # serving is the call plus collecting its result: the workload's query op
    spark_layer(
        "op.query", "wall_s", "jobs", "tasks", "shuffle_bytes",
        label="incremental.bm25_search_versioned",
    )
    for q in MIX:
        spark_layer(
            f"queries.{q}",
            "wall_s", "jobs", "tasks", "driver_s", "executor_cpu_s", "worker_gap_s", "shuffle_bytes",
        )
    return m
