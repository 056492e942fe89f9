"""Incremental / streaming layer (SURVEY.md §2.8).

The reference is batch-only: "incremental" means snapshot-replace plus
deterministic uuid5 keys that make reloads idempotent (SURVEY.md §1.5).
The Spark-native upgrade keeps exactly those semantics and swaps the
manual rerun for Structured Streaming:

- new raw JSON files arriving in a directory are discovered by a file
  stream (``availableNow`` trigger = "process everything that's here,
  then stop" — the scheduled-batch sweet spot);
- each micro-batch runs the SAME batch cleaners (pipelines.github) —
  one transform codebase for both modes. Every ``run_incremental_*``
  lane hands its per-batch fold to one driver
  (:func:`_run_available_now`, and :func:`_run_versioned_ingest` for the
  lanes that commit into ``sources.versioned``), which owns the
  ``foreachBatch`` sink, the trigger, and the exactly-once contract;
- the load is an idempotent keep-last MERGE on the uuid5 keys. Without
  a transactional table format in the environment we implement merge as
  read-current → union → keep-last → atomic snapshot rotation
  (sources.writers.write_rotating). On Delta/Iceberg the same call
  becomes ``MERGE INTO``; the interface is unchanged.

Late/out-of-order data: watermarked windowed aggregation, session
windows, and ``dropDuplicatesWithinWatermark`` (the streaming twin of
the batch keep-last dedup, A1). Custom stateful logic goes through
``applyInPandasWithState`` (running_totals_stateful) — Arrow-batched,
one state object per key, the documented pattern for operators Spark
lacks natively.
"""

from __future__ import annotations

from concurrent.futures import Future, ThreadPoolExecutor
from pathlib import Path
from typing import Iterator

import pandas as pd
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from incremental_github_data_pipeline_spark.operators import core as ops
from incremental_github_data_pipeline_spark.sources import versioned
from incremental_github_data_pipeline_spark.sources.writers import write_rotating
from incremental_github_data_pipeline_spark.sources.local import local_rows_df


def stream_json_dir(
    spark: SparkSession, path: str | Path, schema: StructType, multiline: bool = True
) -> DataFrame:
    """S5 as a stream: schema'd JSON file source. New files in ``path``
    become micro-batch input; ``maxFilesPerTrigger`` can bound batch
    size on backfills."""
    return (
        spark.readStream.schema(schema)
        .option("multiLine", multiline)
        .json(str(path))
    )


def _run_available_now(stream: DataFrame, checkpoint, process) -> None:
    """Run ``process(batch_df, batch_id)`` on each micro-batch of
    ``stream`` under the ``availableNow`` trigger: process what the
    source holds now, checkpointed at ``checkpoint``, then return. A
    batch that raises fails the run, and the next run replays it."""
    (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(checkpoint))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _run_versioned_ingest(stream: DataFrame, checkpoint, fold) -> None:
    """The driver of every lane that commits into ``sources.versioned``:
    call ``fold(batch_df, batch_id, commit)`` on each micro-batch.

    Exactly-once is the checkpoint plus an idempotent sink, not the
    checkpoint alone. ``foreachBatch`` is at-least-once: a crash after
    a commit but before the offset commit replays the batch. So
    ``commit(df, root, tag, mode="append", **kw)`` calls
    ``versioned.commit_version`` with ``txn_id = <tag>:<checkpoint>:
    <batch_id>``, and a replayed commit is a no-op that returns the
    version already committed (the batch-id dedup contract of the
    Structured Streaming docs). Version retention must exceed the
    one-batch replay horizon; vacuum keeps at least one version.

    The tokens are persisted in table manifests, so a lane's tags never
    change: a new tag would commit the first replay after an upgrade a
    second time. A batch whose ``take(1)`` is empty is skipped (one
    job, no commit). ``versioned.commit_version`` is looked up at call
    time, so a patched one (tests, the perfbench tracer) takes effect.
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.take(1):
            return

        def commit(df: DataFrame, root, tag: str, mode: str = "append", **kw):
            txn_id = f"{tag}:{checkpoint}:{batch_id}"
            return versioned.commit_version(df, root, mode=mode, txn_id=txn_id, **kw)

        fold(batch_df, batch_id, commit)

    _run_available_now(stream, checkpoint, process)


def merge_upsert(
    spark: SparkSession,
    new_df: DataFrame,
    base_dir: str | Path,
    name: str,
    key_cols: list[str],
    order_col: str | None = None,
) -> Path:
    """Idempotent keep-last upsert of ``new_df`` into the parquet
    snapshot ``{base_dir}/{name}`` keyed on ``key_cols``.

    New rows win over current rows for the same key (arrival-order
    recency, reference A1 semantics); within the batch, ``order_col``
    breaks ties if given. Deterministic uuid5 keys ⇒ replaying a batch
    is a no-op — the reference's idempotency contract (SURVEY.md §1.5)
    carried over. Snapshot swap is atomic with one backup generation
    retained (write_rotating).

    The current snapshot is read with ``new_df``'s schema rather than
    one inferred from its parquet footers, which saves the inference
    job (a merge into an existing snapshot runs two jobs: the keep-last
    shuffle and the write). Consequences: a column the batch has and
    the snapshot lacks is added, and rows merged before it read NULL
    there (additive evolution, as in Delta); a snapshot column the
    batch lacks is dropped, as before; a column whose stored type the
    batch type cannot read (string stored, long in the batch) fails the
    write, and the current snapshot stays in place.
    """
    target = Path(base_dir) / name
    gen = F.lit(1)
    new_tagged = new_df.withColumn("_gen", gen)
    if target.exists():
        current = spark.read.schema(new_df.schema).parquet(str(target))
        merged = current.withColumn("_gen", F.lit(0)).unionByName(new_tagged)
    else:
        merged = new_tagged
    # lexicographic struct ordering: new generation first, then recency
    order = (
        F.struct(F.col("_gen"), F.col(order_col)) if order_col else F.col("_gen")
    )
    merged = ops.dedupe_keep_last(merged, key_cols, order_by=order).drop("_gen")
    # write_rotating stages to a temp dir, so reading `target` while
    # overwriting it is safe — the source snapshot survives until swap.
    return write_rotating(merged, base_dir, name)


def run_incremental_github(
    spark: SparkSession,
    raw_dir: str | Path,
    out_dir: str | Path,
    checkpoint_dir: str | Path,
    issues_available: bool = True,
) -> None:
    """Entry point 2 upgraded to incremental: stream the repos raw zone,
    run the batch cleaners per micro-batch, MERGE each output table on
    its uuid5 key. ``availableNow`` processes the current directory
    contents exactly once (checkpointed), then returns — rerunning after
    new files land processes only the new files.

    Fan-in note: issues/branches join the repos dim *of their batch*;
    with per-entity directories landing together (the reference's layout)
    that is the same repos snapshot the batch reference used.

    Within a micro-batch the five merges run side by side, one thread
    per table. A batch is a few dozen small Spark jobs, and most of its
    wall time is driver-side planning and scheduling between them;
    threads let one table's planning overlap another's jobs (py4j calls
    and the JVM's work release the GIL). Each thread is made with
    ``pyspark.inheritable_thread_target``, so its jobs keep the stream's
    job group and local properties. The repos cleaner runs first, on the
    stream's thread, because every table reads its output; every other
    cleaner is built in its table's thread.

    The dependency order is repos → {repos, owners, branches, issues}
    and issues → users. The cleaned repos frame, and the issues frame in
    its own thread, are cached and filled before any merge reads them:
    merges that start together on an unfilled cache would each run a
    job to fill it. Every merge is an idempotent keep-last upsert, so
    running them concurrently keeps the replay contract: if one fails,
    the others still finish, every snapshot is a whole generation, the
    batch raises, and the rerun replays it. The cached frames are
    released before the batch returns.
    """
    from incremental_github_data_pipeline_spark.pipelines import github as gh

    raw_dir = Path(raw_dir)
    stream = stream_json_dir(spark, raw_dir / "repos_raw*.json", gh.REPOS_RAW_SCHEMA)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        branch_path = raw_dir / "branches_raw.json"
        issue_path = raw_dir / "issues_raw.json"
        with_branches = branch_path.exists()
        with_issues = issues_available and issue_path.exists()
        cached: list[DataFrame] = []

        def cache(df: DataFrame) -> DataFrame:
            """Cache ``df`` and fill the cache now: building a frame's RDD
            runs the query stages of its adaptive plan, the cache's among
            them, but not its final stage, so no job is spent on a result."""
            cached.append(df.cache())
            df.rdd  # noqa: B018 - read for its side effect
            return df

        def branches_frame() -> DataFrame:
            raw = gh.read_json_array(spark, branch_path, gh.BRANCHES_RAW_SCHEMA)
            return gh.clean_branches(raw, repos)

        def issues_frame() -> DataFrame:
            raw = gh.read_json_array(spark, issue_path, gh.ISSUES_RAW_SCHEMA)
            return cache(gh.clean_issues(raw, repos))

        futures: list[Future] = []
        try:
            repos = cache(gh.clean_repos(batch_df))
            with ThreadPoolExecutor(2 + with_branches + 2 * with_issues) as pool:

                def submit(fn) -> Future:
                    futures.append(pool.submit(inheritable_thread_target(spark)(fn)))
                    return futures[-1]

                def table(name: str, key: str, build) -> None:
                    submit(lambda: merge_upsert(spark, build(), out_dir, name, [key]))

                table("repos_clean", "repo_id", lambda: repos)
                table("owners_clean", "owner_id", lambda: gh.clean_owners(repos))
                if with_branches:
                    table("branches_clean", "branch_id", branches_frame)
                if with_issues:
                    # submitted before its two waiters, so it never waits for a thread
                    issues = submit(issues_frame)
                    table("issues_clean", "issue_id", issues.result)
                    table("users_clean", "user_id", lambda: gh.clean_users(issues.result()))
            for f in futures:
                f.result()
        finally:
            for df in cached:
                df.unpersist()

    _run_available_now(stream, checkpoint_dir, process)


# ---------------------------------------------------------------------------
# Watermarked operators over event streams
# ---------------------------------------------------------------------------


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Tumbling (or sliding, if ``slide``) windowed counts with a
    watermark bounding state: windows older than max(event time) −
    watermark are finalized and evicted. The streaming twin of
    q_events_hourly."""
    w = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    keys = [w] + [F.col(c) for c in (group_cols or [])]
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *(group_cols or []),
            "n_events",
        )
    )


def session_window_agg(
    events: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    user_col: str = "user_id",
) -> DataFrame:
    """Session windows (gap-based, the streaming twin of q_sessionize):
    a session closes when no event arrives within ``gap``; the watermark
    lets Spark finalize and emit closed sessions."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(user_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
        .drop("session_window")
    )


def dedup_within_watermark(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming dedup with bounded state: duplicates of a key arriving
    within the watermark horizon are dropped (first wins); state for
    keys older than the watermark is evicted. The A1/A2 dedup family
    under late-data constraints (SURVEY.md §2.8)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


_RUNNING_TOTALS_SCHEMA = "user_id long, n_events long, total_value double"
_RUNNING_TOTALS_STATE = "n long, total double"


def _running_totals_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (n, total) = state.get if state.exists else (0, 0.0)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def running_totals_stateful(events: DataFrame, user_col: str = "user_id") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (count, sum) that survives across micro-batches — the
    pattern for operators Spark lacks natively (SURVEY.md §2.8). Arrow
    batches in/out, one tiny state tuple per key, no timeout (state
    lives for the stream's lifetime; use a timeout for TTL semantics).
    """
    return (
        events.select(F.col(user_col).alias("user_id"), F.col("value"))
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_totals_fn,
            outputStructType=_RUNNING_TOTALS_SCHEMA,
            stateStructType=_RUNNING_TOTALS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def enrich_stream_static(
    events: DataFrame,
    dim: DataFrame,
    on: list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static join: each micro-batch joins against the CURRENT
    state of the (batch) dimension — the streaming twin of the
    pipeline's broadcast dim joins (J1/J2). The dim is re-read per
    batch, so a slowly-changing dimension updates mid-stream without
    restarts; keep it broadcast-sized or bucketed."""
    return events.join(F.broadcast(dim), on, how)


def join_streams_windowed(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "1 hour",
    max_gap: str = "30 minutes",
) -> DataFrame:
    """Stream-stream inner join with bounded state: both sides carry
    watermarks and the join condition includes a time band
    (right within [left − max_gap, left]), so Spark can evict state
    older than watermark + band — without the band the state grows
    forever. The streaming twin of operators.temporal.range_join."""
    lt = left.withWatermark(left_ts, watermark).alias("l")
    rt = right.withWatermark(right_ts, watermark).alias("r")
    cond = None
    for c in on:
        clause = F.col(f"l.{c}") == F.col(f"r.{c}")
        cond = clause if cond is None else cond & clause
    band = (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {max_gap}")) & (
        F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}")
    )
    return lt.join(rt, cond & band, "inner")


def attribution_join(
    impressions: DataFrame,
    clicks: DataFrame,
    on: str = "user_id",
    imp_ts: str = "imp_ts",
    click_ts: str = "click_ts",
    horizon: str = "30 minutes",
    how: str = "left_outer",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked stream-stream equi-join, the click/impression
    attribution shape: every impression pairs with each same-key click
    whose timestamp lands in ``[imp_ts, imp_ts + horizon]``; with
    ``how='left_outer'`` an impression that never converts still emits
    one row (NULL click columns) once the watermark proves no matching
    click can arrive.

    State cleanup is what makes this scale: both sides carry event-time
    watermarks and the join condition is time-banded, so Spark evicts
    impression state older than ``watermark + horizon`` and click state
    older than ``watermark`` — state is bounded by arrival rate × that
    horizon, not by stream length. Without the band (or with only one
    watermark) a left-outer stream-stream join is rejected by Spark's
    UnsupportedOperationChecker, which is exactly the footgun this
    wrapper removes.

    Works unchanged on BATCH frames (watermarks are skipped; the band
    join is ordinary SQL), so the same call is its own batch twin —
    ``tests/test_streaming.py`` proves stream≡batch across a checkpoint
    restart, and ``q_stream_join_attribution`` oracle-checks the batch
    plan against DuckDB.

    Output: all impression columns, then the click's non-key columns,
    then ``delay_us`` (click_ts − imp_ts in exact integer microseconds,
    the engine-portable lane; NULL for unconverted impressions).

    Reference n/a — the reference pipeline is batch-only
    (``transform.py:492-497``); this is the [EXT] incremental tier.
    """
    imp, clk = impressions, clicks
    if imp.isStreaming:
        imp = imp.withWatermark(imp_ts, watermark)
    if clk.isStreaming:
        clk = clk.withWatermark(click_ts, watermark)
    i, c = imp.alias("i"), clk.alias("c")
    cond = (
        (F.col(f"i.{on}") == F.col(f"c.{on}"))
        & (F.col(f"c.{click_ts}") >= F.col(f"i.{imp_ts}"))
        & (
            F.col(f"c.{click_ts}")
            <= F.col(f"i.{imp_ts}") + F.expr(f"INTERVAL {horizon}")
        )
    )
    joined = i.join(c, cond, how)
    keep = [F.col(f"i.{col}") for col in impressions.columns] + [
        F.col(f"c.{col}") for col in clicks.columns if col != on
    ]
    return joined.select(*keep).withColumn(
        "delay_us",
        (F.unix_micros(F.col(click_ts)) - F.unix_micros(F.col(imp_ts))).cast(
            "long"
        ),
    )


def _interval_us(spec: str) -> int:
    """Parse 'N seconds|minutes|hours|days' to integer microseconds."""
    n, unit = spec.split()
    mult = {
        "second": 1_000_000,
        "seconds": 1_000_000,
        "minute": 60_000_000,
        "minutes": 60_000_000,
        "hour": 3_600_000_000,
        "hours": 3_600_000_000,
        "day": 86_400_000_000,
        "days": 86_400_000_000,
    }[unit.lower()]
    return int(n) * mult


_SESSION_ATTR_OUT = (
    "impression_id long, user_id long, imp_ts timestamp, "
    "session_start timestamp, session_end timestamp, "
    "n_session_events long, delay_us long"
)
# Per-user state (all times integer microseconds UTC):
#  - pending impressions (id, ts, matched?)  — live until the horizon
#    plus every session that could start inside it is finalized;
#  - sessions under construction or awaiting late impressions
#    (start, last-event ts, count, finalized?).
_SESSION_ATTR_STATE = (
    "imp_id array<long>, imp_t array<long>, imp_m array<boolean>, "
    "s_start array<long>, s_last array<long>, s_n array<long>, "
    "s_fin array<boolean>"
)


def _session_attr_fn(gap_us: int, horizon_us: int, outer: bool):
    """Build the applyInPandasWithState function for session_attribution.

    Invariants that make the emission exactly-once and the state
    bounded (all proved against the event-time watermark wm, below
    which Spark drops input rows):

    * a FINALIZED session (wm >= last + gap) can never change — any
      future event has ts >= wm >= last + gap, which under the strict
      merge rule (merge iff ts < last + gap) starts a new session;
    * a non-finalized session can only extend or LOWER its start
      (left-merge), and never to a start below wm — so once
      wm > imp_ts + horizon, no session can newly enter that
      impression's [imp_ts, imp_ts + horizon] window;
    * a pair (impression, session) is emitted either when the session
      FINALIZES (impression already in state) or when the impression
      ARRIVES (session already finalized) — exactly one of the two
      happens, so no pair is emitted twice;
    * state eviction: an impression leaves once wm > imp_ts + horizon
      and no in-window session is still open (emitting its NULL row
      then, if outer and never matched); a finalized session leaves
      once wm > start (a later impression would need
      imp_ts <= start < wm, and such a row is watermark-dropped).
    """

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            (imp_id, imp_t, imp_m, s_start, s_last, s_n, s_fin) = (
                list(x) for x in state.get
            )
        else:
            imp_id, imp_t, imp_m = [], [], []
            s_start, s_last, s_n, s_fin = [], [], [], []
        wm_us = state.getCurrentWatermarkMs() * 1000

        new_imp: list[tuple[int, int]] = []
        new_evt: list[int] = []
        for pdf in batches:
            if not len(pdf):
                continue
            t_us = (pdf["t"].astype("int64") // 1000).tolist()
            for kind, rid, t in zip(
                pdf["kind"].tolist(), pdf["rid"].tolist(), t_us
            ):
                if kind == 0:
                    # rid arrives float64 when the batch mixes kinds
                    # (events carry NULL rid) — int() it back or the
                    # array<long> state round-trip nulls it
                    new_imp.append((int(rid), t))
                else:
                    new_evt.append(t)

        out_rows: list[tuple] = []
        uid = key[0]

        def emit(i_idx: int, s_idx: int | None) -> None:
            iid, it = imp_id[i_idx], imp_t[i_idx]
            if s_idx is None:
                out_rows.append((iid, uid, it, None, None, None, None))
            else:
                st, en, n = s_start[s_idx], s_last[s_idx], s_n[s_idx]
                out_rows.append((iid, uid, it, st, en, n, st - it))
                imp_m[i_idx] = True

        # 1) fold new events into the session list (sorted insert +
        #    strict-rule merge pass; the list is tiny — everything
        #    inside the watermark horizon for ONE key)
        for t in sorted(new_evt):
            s_start.append(t)
            s_last.append(t)
            s_n.append(1)
            s_fin.append(False)
        if new_evt:
            order = sorted(range(len(s_start)), key=lambda i: s_start[i])
            ns, nl, nn, nf = [], [], [], []
            for i in order:
                if ns and s_start[i] < nl[-1] + gap_us and not nf[-1]:
                    nl[-1] = max(nl[-1], s_last[i])
                    nn[-1] += s_n[i]
                else:
                    ns.append(s_start[i])
                    nl.append(s_last[i])
                    nn.append(s_n[i])
                    nf.append(s_fin[i])
            s_start, s_last, s_n, s_fin = ns, nl, nn, nf

        # 2) new impressions match already-finalized sessions now
        for iid, it in sorted(new_imp):
            imp_id.append(iid)
            imp_t.append(it)
            imp_m.append(False)
            for j in range(len(s_start)):
                if s_fin[j] and it <= s_start[j] <= it + horizon_us:
                    emit(len(imp_id) - 1, j)

        # 3) finalize sessions the watermark has passed; each newly
        #    finalized session pairs with every in-window impression
        for j in range(len(s_start)):
            if not s_fin[j] and wm_us >= s_last[j] + gap_us:
                s_fin[j] = True
                for i in range(len(imp_id)):
                    if imp_t[i] <= s_start[j] <= imp_t[i] + horizon_us:
                        emit(i, j)

        # 4) evict resolved impressions (NULL row if outer & unmatched)
        keep_i = []
        for i in range(len(imp_id)):
            blocked = any(
                not s_fin[j] and s_start[j] <= imp_t[i] + horizon_us
                for j in range(len(s_start))
            )
            if wm_us > imp_t[i] + horizon_us and not blocked:
                if outer and not imp_m[i]:
                    emit(i, None)
            else:
                keep_i.append(i)
        imp_id = [imp_id[i] for i in keep_i]
        imp_t = [imp_t[i] for i in keep_i]
        imp_m = [imp_m[i] for i in keep_i]

        # 5) evict finalized sessions no future impression can reach
        keep_s = [
            j
            for j in range(len(s_start))
            if not (s_fin[j] and wm_us > s_start[j])
        ]
        s_start = [s_start[j] for j in keep_s]
        s_last = [s_last[j] for j in keep_s]
        s_n = [s_n[j] for j in keep_s]
        s_fin = [s_fin[j] for j in keep_s]

        if imp_id or s_start:
            state.update(
                (imp_id, imp_t, imp_m, s_start, s_last, s_n, s_fin)
            )
            # wake this key when the next decision point passes: a
            # session finalization or an impression horizon expiry
            nxt = min(
                [s_last[j] + gap_us for j in range(len(s_start)) if not s_fin[j]]
                + [t + horizon_us + 1 for t in imp_t],
                default=None,
            )
            if nxt is not None:
                state.setTimeoutTimestamp(
                    max(nxt // 1000, wm_us // 1000 + 1)
                )
        else:
            state.remove()

        if out_rows:
            cols = list(zip(*out_rows))
            yield pd.DataFrame(
                {
                    "impression_id": cols[0],
                    "user_id": cols[1],
                    "imp_ts": pd.to_datetime(cols[2], unit="us"),
                    "session_start": pd.to_datetime(
                        pd.Series(cols[3], dtype="float64"), unit="us"
                    ),
                    "session_end": pd.to_datetime(
                        pd.Series(cols[4], dtype="float64"), unit="us"
                    ),
                    "n_session_events": pd.Series(
                        cols[5], dtype="object"
                    ),
                    "delay_us": pd.Series(cols[6], dtype="object"),
                }
            )

    return fn


def session_attribution(
    impressions: DataFrame,
    events: DataFrame,
    on: str = "user_id",
    imp_ts: str = "imp_ts",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    horizon: str = "30 minutes",
    how: str = "left_outer",
    watermark: str = "10 minutes",
    tiebreak_col: str | None = None,
    impression_id: str = "impression_id",
) -> DataFrame:
    """Session-window attribution: gap-based sessions composed with the
    attribution band join. The event stream is first collapsed into
    sessions per key (strict ``session_window`` boundary rule: two
    events merge iff ``next_ts < prev_ts + gap`` — an event landing
    exactly ``gap`` after its predecessor opens a NEW session, because
    the half-open per-event windows ``[ts, ts+gap)`` touch but do not
    overlap); then every impression pairs with each same-key SESSION
    whose start lands in ``[imp_ts, imp_ts + horizon]`` — the "did this
    ad start a visit" question, where joining raw clicks would
    over-count one visit as many conversions.

    Streaming path: Spark's chained-stateful support does NOT cover a
    session aggregation feeding a time-interval outer join (the
    UnsupportedOperationChecker rejects it: the aggregated side's
    selected ``session_window.start`` no longer carries event-time
    watermark metadata), so this is the documented case (c) — a custom
    stateful operator. Both inputs union into one keyed stream
    (``kind`` 0=impression / 1=event) and a single
    ``applyInPandasWithState`` per key maintains open sessions plus
    pending impressions, emitting each (impression, session) pair
    exactly once when the session finalizes — state bounded by
    arrival rate × (watermark + max(gap, horizon)), evicted against
    the event-time watermark with an EventTimeTimeout to resolve keys
    that go quiet. Streaming contract: columns ``impression_id`` /
    ``on`` / ``imp_ts`` and ``on`` / ``ts_col``, long ids.

    Batch path (same call, its own twin): sessions via lag + running
    sum with the exact same boundary rule, then the time-banded
    equi-join (one shuffle on the key shared by window and agg). Note
    q_sessionize's batch oracle uses the inclusive gap convention
    (``<=``); this operator pins the strict one so stream ≡ batch
    holds bit-exactly at the boundary.

    Output: impression columns, then ``session_start``,
    ``session_end`` (min/max event ts — engine-portable, NOT the
    ``ts + gap`` window edge), ``n_session_events``, and ``delay_us``
    (session_start − imp_ts in integer microseconds; NULL columns for
    impressions that started no session under ``how='left_outer'``).

    Reference n/a — batch-only reference (transform.py); this is the
    [EXT] incremental tier (VERDICT r7 task 8).
    """
    if events.isStreaming or impressions.isStreaming:
        tagged = (
            impressions.select(
                F.col(on).alias("k"),
                F.lit(0).alias("kind"),
                F.col(impression_id).alias("rid"),
                F.col(imp_ts).alias("t"),
            )
            .unionByName(
                events.select(
                    F.col(on).alias("k"),
                    F.lit(1).alias("kind"),
                    F.lit(None).cast("long").alias("rid"),
                    F.col(ts_col).alias("t"),
                )
            )
            .withWatermark("t", watermark)
        )
        return tagged.groupBy("k").applyInPandasWithState(
            _session_attr_fn(
                _interval_us(gap),
                _interval_us(horizon),
                how == "left_outer",
            ),
            outputStructType=_SESSION_ATTR_OUT,
            stateStructType=_SESSION_ATTR_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    else:
        # tiebreak_col pins the lag/running-sum order for equal-ts
        # events; without it, which of two tied rows carries is_new=1
        # is nondeterministic and the running sum can split a tie pair
        # across sessions (session_window always merges tied events,
        # so a deterministic tie order is also what parity requires).
        order = (
            [ts_col, tiebreak_col] if tiebreak_col else [ts_col]
        )
        w = Window.partitionBy(on).orderBy(*order)
        lag_ts = F.lag(ts_col).over(w)
        is_new = F.when(
            lag_ts.isNull()
            | (F.col(ts_col) >= lag_ts + F.expr(f"INTERVAL {gap}")),
            1,
        ).otherwise(0)
        wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        sessions = (
            events.withColumn("_new", is_new)
            .withColumn("_sid", F.sum("_new").over(wsum))
            .groupBy(on, "_sid")
            .agg(
                F.min(ts_col).alias("session_start"),
                F.max(ts_col).alias("session_end"),
                F.count(F.lit(1)).alias("n_session_events"),
            )
            .drop("_sid")
        )
    return attribution_join(
        impressions,
        sessions,
        on=on,
        imp_ts=imp_ts,
        click_ts="session_start",
        horizon=horizon,
        how=how,
        watermark=watermark,
    )


# ---------------------------------------------------------------------------
# Incremental corpus curation ([EXT] §2.10 — the streaming twin of
# operators.text.curation_funnel)
# ---------------------------------------------------------------------------

DOCS_STREAM_SCHEMA = (
    "doc_id long, text string, lang string, source string"
)


def run_incremental_curation(
    spark: SparkSession,
    docs_dir: str | Path,
    out_dir: str | Path,
    checkpoint_dir: str | Path,
    langs: tuple[str, ...] = ("en", "de", "es"),
    min_tokens: int = 25,
    max_mean_token_len: float = 15.0,
    min_stopword_ratio: float = 0.01,
    audit_log: str | Path | None = None,
) -> None:
    """Streaming corpus curation: JSONL document files landing in
    ``docs_dir`` are discovered by an ``availableNow`` file stream and
    curated per micro-batch with the SAME operator surface as the batch
    funnel (quality gate → language allowlist → exact dedup), then
    MERGEd into the curated snapshot on ``doc_id`` — one curation
    codebase for both modes, exactly like run_incremental_github reuses
    the batch cleaners.

    Cross-batch dedup never shuffles the accumulated corpus: the
    incoming batch's 128-bit content keys broadcast, the curated
    snapshot is scanned map-side for collisions, and only colliding
    keys flow back to drop batch rows (the dedup_against_corpus
    asymmetry, applied to exact keys). Within-batch dups resolve to the
    min id; across batches the earlier-arrived copy wins — arrival
    order, the streaming analogue of keep-first (A2).

    Each batch appends one audit line per funnel stage (raw → quality
    → lang → new) to ``audit_log`` — the reference's counts-per-stage
    observability contract (transform.py:121,140-143) on the streaming
    path.
    """
    from incremental_github_data_pipeline_spark.operators import text as tx
    from incremental_github_data_pipeline_spark.operators.dedup import (
        content_key,
        exact_dedup,
    )
    from incremental_github_data_pipeline_spark.sources.writers import AuditLog

    out_dir = Path(out_dir)
    audit = AuditLog(audit_log) if audit_log else None
    stream = (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .json(str(docs_dir))  # JSON Lines: one doc per line
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        n_raw = batch_df.count()
        passed = batch_df.filter(
            tx.quality_ok(
                "text", min_tokens, max_mean_token_len, min_stopword_ratio
            )
        ).cache()
        in_lang = passed.filter(F.col("lang").isin(list(langs))).cache()
        try:
            n_quality = passed.count()
            n_lang = in_lang.count()
            batch_unique = in_lang.transform(
                lambda d: exact_dedup(d, ["text"], "doc_id")
            )
            target = out_dir / "curated_docs"
            if target.exists():
                curated = spark.read.parquet(str(target))
                batch_keys = batch_unique.select(
                    content_key(["text"]).alias("_h")
                ).distinct()
                collided = (
                    curated.select(content_key(["text"]).alias("_h"))
                    .join(F.broadcast(batch_keys), "_h", "left_semi")
                    .distinct()
                )
                survivors = (
                    batch_unique.withColumn("_h", content_key(["text"]))
                    .join(F.broadcast(collided), "_h", "left_anti")
                    .drop("_h")
                )
            else:
                survivors = batch_unique
            # materialize before the merge: merge_upsert rotates the curated
            # snapshot directory, and a lazy survivors plan would re-read
            # the replaced part files on the post-merge audit count
            survivors = survivors.localCheckpoint(eager=True)
            merge_upsert(spark, survivors, out_dir, "curated_docs", ["doc_id"])
            if audit:
                n_new = survivors.count()
                for stage, n in (
                    ("raw", n_raw),
                    ("quality", n_quality),
                    ("lang", n_lang),
                    ("new", n_new),
                ):
                    audit.log(f"curation batch {batch_id}: {stage} rows = {n}")
        finally:
            passed.unpersist()
            in_lang.unpersist()

    _run_available_now(stream, checkpoint_dir, process)


def run_incremental_curation_funnel(
    spark: SparkSession,
    warc_dir: str | Path,
    table_root: str,
    checkpoint: str | Path,
    robots_rules: list[tuple] | None = None,
    min_tokens: int = 9,
    salt_buckets: int = 16,
) -> None:
    """Incremental twin of the CERTIFIED crawl-curation funnel
    (``queries.ext_curation.q_crawl_curation``, r13) — the r5
    ``run_incremental_curation`` predates sentence dedup, the robots
    gate, the URL policy stack and redaction; this one maintains the
    full stage list continuously through the versioned store. Watch a
    directory of WARC shards (``payload_id long, payload binary``);
    per micro-batch: warc_ingest → HTTP-200 gate → strip_html + the
    URL stack (percent-normalize → canonicalize → tracker-strip) →
    robots gate (``robots_rules`` is the per-host driver-side
    dimension, broadcast) → URL keep-first → corpus-wide sentence
    keep-first → token-count quality gate → typed PII redaction, then
    APPEND the surviving curated docs and the per-stage audit rows.

    The cross-batch state is exactly the funnel's sufficient
    statistic, the same insight as incremental CC: keep-first dedup
    is determined by the CLAIM TABLES — which URLs and which
    sentences have ever been kept. Each batch (a) drops rows whose
    key is already claimed — via the broadcast-batch-keys / map-side
    corpus-scan asymmetry, so history is scanned once per batch and
    NEVER reshuffled — (b) keeps the batch-first row per fresh key
    through :func:`operators.skew.salted_keep_first` (the same
    skew-immune two-phase form the batch funnel routes to; a viral
    URL inside one batch can't straggle the stream), and (c) appends
    the newly claimed keys: O(batch) work and O(batch) appended state
    whatever the corpus size. Because claims are disjoint across
    batches, every audit lane is ADDITIVE: summing the per-batch
    audit rows reproduces the one-shot funnel's audit over the union
    corpus bit-for-bit, and the curated table at version k equals the
    one-shot funnel over batches 1..k — arrival order is the
    keep-first order, the streaming analogue of (payload, record)
    order when shards land in payload order.

    Exactly-once (:func:`_run_versioned_ingest`, tags
    ``cur-funnel-<table>``) holds across a MID-BATCH crash too (ADVICE
    r13): claim rows carry the batch that claimed them and
    ``drop_claimed`` reads only ``batch_id < current``, so a replay
    never sees the crashed attempt's own
    partial claims and recomputes bit-identically; output tables
    also commit BEFORE claim tables. Tables under ``table_root``:
    ``curated`` (payload_id, record_idx, url, text, n_tokens),
    ``url_state`` (url, batch_id), ``sent_state`` (sentence,
    batch_id), ``audit`` (batch_id, stage_idx, stage, n_rows,
    n_tokens, n_chars)."""
    from pyspark.sql import Row

    from incremental_github_data_pipeline_spark.operators import text as tx
    from incremental_github_data_pipeline_spark.operators.skew import (
        salted_keep_first,
    )

    stream = spark.readStream.schema(
        "payload_id long, payload binary"
    ).parquet(str(warc_dir))

    def drop_claimed(
        batch: DataFrame, state_root: str, key: str, batch_id: int
    ):
        """History-claimed keys drop out of the batch: batch keys
        broadcast, the state table is scanned MAP-SIDE (one column,
        no shuffle of history), only colliding keys flow back.

        Claims are filtered to ``batch_id < current`` (ADVICE r13):
        state rows carry the batch that claimed them, so a REPLAYED
        batch never sees its own partially-committed claims — the
        recompute is bit-identical whichever commits of the crashed
        attempt landed, and every per-table txn_id then no-ops or
        fills the gap. Exactly-once holds across a mid-batch crash,
        not just across whole-batch replays."""
        if versioned.latest_version(state_root) is None:
            return batch
        state = (
            versioned.read_version(spark, state_root)
            .filter(F.col("batch_id") < F.lit(batch_id))
            .select(key)
        )
        batch_keys = batch.select(key).distinct()
        collided = (
            state.join(F.broadcast(batch_keys), key, "left_semi")
            .distinct()
        )
        return batch.join(F.broadcast(collided), key, "left_anti")

    def fold(batch_df: DataFrame, batch_id: int, commit) -> None:
        recs = tx.warc_ingest(batch_df).localCheckpoint(eager=True)
        ok = recs.filter(
            (F.col("warc_type") == "response")
            & (F.col("http_status") == 200)
        )
        ext = ok.select(
            "payload_id",
            "record_idx",
            tx.strip_tracking_params(
                tx.canonicalize_url(
                    tx.normalize_percent_encoding(F.col("target_uri"))
                )
            ).alias("url"),
            tx.strip_html(F.col("text")).alias("text"),
        ).localCheckpoint(eager=True)
        ext = ext.withColumn(
            "n_tokens", F.size(F.split("text", " ")).cast("long")
        )
        if robots_rules:
            rules = local_rows_df(
                spark,
                robots_rules,
                "host string, allow int, pattern string, "
                "regex string, plen int",
            )
            # collision-free per-record uid (ADVICE r13: the old
            # payload_id*10+record_idx collided for >=10-record
            # payloads — the normal case for real shards — merging
            # robots verdicts across records); record_idx is bounded
            # by a payload's record count << 2^32
            hp = ext.select(
                "*",
                (
                    F.shiftleft(F.col("payload_id"), 32)
                    + F.col("record_idx")
                ).alias("_uid"),
                F.regexp_extract(
                    "url", "^https?://([^/]+)", 1
                ).alias("host"),
                F.regexp_extract(
                    "url", "^https?://[^/]+([^?]*)", 1
                ).alias("path"),
            )
            gated = (
                hp.join(
                    tx.robots_match(hp, rules, url_id="_uid")
                    .filter("allowed")
                    .select("_uid"),
                    "_uid",
                )
                .drop("_uid", "host", "path")
            )
        else:
            gated = ext
        gated = gated.localCheckpoint(eager=True)

        fresh = drop_claimed(
            gated, f"{table_root}/url_state", "url", batch_id
        )
        kept_docs = salted_keep_first(
            fresh, ["url"], ["payload_id", "record_idx"],
            buckets=salt_buckets,
        ).localCheckpoint(eager=True)

        sents = kept_docs.select(
            "payload_id",
            "record_idx",
            F.posexplode(tx.split_sentences("text")).alias(
                "sent_idx", "sentence"
            ),
        ).localCheckpoint(eager=True)
        fresh_sents = drop_claimed(
            sents, f"{table_root}/sent_state", "sentence", batch_id
        )
        kept_sents = salted_keep_first(
            fresh_sents,
            ["sentence"],
            ["payload_id", "record_idx", "sent_idx"],
            buckets=salt_buckets,
        ).localCheckpoint(eager=True)

        per_doc = (
            sents.join(
                kept_sents.withColumnRenamed("sentence", "_ks")
                .select("payload_id", "record_idx", "sent_idx", "_ks"),
                ["payload_id", "record_idx", "sent_idx"],
                "left",
            )
            .groupBy("payload_id", "record_idx")
            .agg(
                F.sum(
                    F.when(
                        F.col("_ks").isNotNull(),
                        F.size(F.split("sentence", " ")),
                    ).otherwise(F.lit(0))
                )
                .cast("long")
                .alias("kept_toks"),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("_ks").isNotNull(),
                                    F.struct("sent_idx", "sentence"),
                                )
                            )
                        ),
                        lambda s: s.sentence,
                    ),
                    " ",
                ).alias("kept_text"),
            )
        )
        quality = per_doc.filter(F.col("kept_toks") >= min_tokens)
        curated = quality.select(
            "payload_id",
            "record_idx",
            tx.redact_typed(F.col("kept_text")).alias("text"),
            F.col("kept_toks").alias("n_tokens"),
        ).localCheckpoint(eager=True)
        commit(curated, f"{table_root}/curated", "cur-funnel-curated")

        def audit(idx, name, frame, toks, chars):
            row = frame.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                (
                    F.sum(toks).cast("long")
                    if toks is not None
                    else F.lit(None).cast("long")
                ).alias("n_tokens"),
                (
                    F.sum(F.length(chars)).cast("long")
                    if chars is not None
                    else F.lit(None).cast("long")
                ).alias("n_chars"),
            ).collect()[0]
            return Row(
                batch_id=batch_id,
                stage_idx=idx,
                stage=name,
                n_rows=row["n_rows"],
                n_tokens=row["n_tokens"],
                n_chars=row["n_chars"],
            )

        per_doc_c = per_doc.localCheckpoint(eager=True)
        quality_c = per_doc_c.filter(F.col("kept_toks") >= min_tokens)
        rows = [
            audit(0, "records", recs, None, None),
            audit(1, "http200", ok, None, None),
            audit(2, "extracted", ext, F.col("n_tokens"), F.col("text")),
            audit(3, "robots_gate", gated, F.col("n_tokens"),
                  F.col("text")),
            audit(4, "url_dedup", kept_docs,
                  F.size(F.split("text", " ")).cast("long"),
                  F.col("text")),
            audit(5, "sentence_dedup", per_doc_c, F.col("kept_toks"),
                  F.col("kept_text")),
            audit(6, "quality", quality_c, F.col("kept_toks"),
                  F.col("kept_text")),
            audit(7, "redact", curated,
                  F.size(F.split("text", " ")).cast("long"),
                  F.col("text")),
        ]
        commit(
            local_rows_df(
                spark,
                rows,
                "batch_id long, stage_idx long, stage string, "
                "n_rows long, n_tokens long, n_chars long",
            ),
            f"{table_root}/audit",
            "cur-funnel-audit",
        )
        # claim tables commit LAST (ADVICE r13): outputs above derive
        # from pre-claim state, and drop_claimed scopes reads to
        # batch_id < current, so a crash between ANY two commits here
        # replays to a bit-identical recompute — committed tables
        # no-op on their txn_id, missing ones fill in.
        commit(
            kept_docs.select(
                "url", F.lit(batch_id).cast("long").alias("batch_id")
            ),
            f"{table_root}/url_state",
            "cur-funnel-url",
        )
        commit(
            kept_sents.select("sentence")
            .distinct()
            .select(
                "sentence",
                F.lit(batch_id).cast("long").alias("batch_id"),
            ),
            f"{table_root}/sent_state",
            "cur-funnel-sent",
        )

    _run_versioned_ingest(stream, checkpoint, fold)


def run_incremental_cdc_ingest(
    spark: SparkSession,
    docs_dir: str | Path,
    table_root: str,
    checkpoint: str | Path,
) -> None:
    """Incremental chunk-level dedup ledger (r13): keep the
    content-defined-chunk store (``text.cdc_chunk_rows`` is the
    chunking) current under document arrival — the storage/compute
    saving CDC exists for, maintained continuously. Per micro-batch
    of document shards (``doc_id long, text string``): chunk every
    document, key each chunk by the 128-bit ``dedup.content_key``
    posture (two independently-seeded xxhash64 lanes — exact-dedup
    collision bounds hold to ~2^64 distinct chunks), drop chunks the
    store has already claimed via the broadcast-batch-keys /
    map-side-scan asymmetry (the claim table is scanned once per
    batch and NEVER reshuffled), and APPEND the new claims plus one
    ledger row: chunks/chars seen vs chunks/chars actually new. The
    cumulative ledger is the dedup ratio over time; because claims
    are disjoint across batches, summed ``chars_new`` equals the
    one-shot distinct-chunk volume of the union corpus exactly.

    O(batch) work and O(new chunks) appended state at any corpus
    size; exactly-once via :func:`_run_versioned_ingest` (tags
    ``cdc-ledger``, ``cdc-state``), and crash-safe across a MID-BATCH
    failure (ADVICE r13): claim rows carry their batch id and the claimed-scan reads only ``batch_id < current``, so a
    replay recomputes bit-identically whichever commits landed; the
    ledger commits before the claim table. Tables under
    ``table_root``: ``chunk_state`` (h1, h2, n_chars, batch_id),
    ``ledger`` (batch_id, n_chunks_in, n_new, chars_in,
    chars_new)."""
    from incremental_github_data_pipeline_spark.operators import text as tx

    stream = spark.readStream.schema(
        "doc_id long, text string"
    ).parquet(str(docs_dir))

    def fold(batch_df: DataFrame, batch_id: int, commit) -> None:
        chunks = tx.cdc_chunk_rows(
            batch_df.repartition(spark.sparkContext.defaultParallelism)
        ).select(
            F.xxhash64("chunk").alias("h1"),
            F.xxhash64(F.lit(0x9E3779B9), F.col("chunk")).alias("h2"),
            F.length("chunk").cast("long").alias("n_chars"),
        ).localCheckpoint(eager=True)
        batch_distinct = chunks.groupBy("h1", "h2").agg(
            F.first("n_chars").alias("n_chars")
        )
        state_root = f"{table_root}/chunk_state"
        if versioned.latest_version(state_root) is not None:
            # claims scoped to batch_id < current (ADVICE r13): a
            # replayed batch never sees its own partial claims, so
            # the recompute is bit-identical across a mid-batch crash
            state = versioned.read_version(spark, state_root).filter(
                F.col("batch_id") < F.lit(batch_id)
            )
            batch_keys = batch_distinct.select("h1", "h2")
            collided = state.select("h1", "h2").join(
                F.broadcast(batch_keys), ["h1", "h2"], "left_semi"
            )
            fresh = batch_distinct.join(
                F.broadcast(collided), ["h1", "h2"], "left_anti"
            )
        else:
            fresh = batch_distinct
        fresh = fresh.localCheckpoint(eager=True)
        totals = chunks.agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks_in"),
            F.sum("n_chars").cast("long").alias("chars_in"),
        ).collect()[0]
        news = fresh.agg(
            F.count(F.lit(1)).cast("long").alias("n_new"),
            F.coalesce(F.sum("n_chars"), F.lit(0))
            .cast("long")
            .alias("chars_new"),
        ).collect()[0]
        commit(
            local_rows_df(
                spark,
                [
                    (
                        batch_id,
                        totals["n_chunks_in"],
                        news["n_new"],
                        totals["chars_in"],
                        news["chars_new"],
                    )
                ],
                "batch_id long, n_chunks_in long, n_new long, "
                "chars_in long, chars_new long",
            ),
            f"{table_root}/ledger",
            "cdc-ledger",
        )
        # claim table LAST (ADVICE r13) — see the funnel's twin note
        commit(
            fresh.withColumn(
                "batch_id", F.lit(batch_id).cast("long")
            ),
            state_root,
            "cdc-state",
        )

    _run_versioned_ingest(stream, checkpoint, fold)


def apply_changelog(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    order_col: str,
    op_col: str = "op",
) -> DataFrame:
    """CDC apply: fold an insert/update/delete changelog into a base
    snapshot — the general form of :func:`merge_upsert` (which only
    upserts). ``changes`` carries the base's columns plus ``op_col``
    ('insert' | 'update' | 'delete') and a monotone ``order_col``
    (change LSN / commit timestamp); for each key the latest change
    wins, a winning delete removes the key, and keys untouched by the
    changelog pass through. Replaying the same changelog is a no-op
    (idempotent), matching the reference's deterministic-key reload
    contract (SURVEY.md §1.5).

    Scale shape: one shuffle on the key (the keep-last window), base
    and changelog co-partitioned by it; per-key state is one row. The
    'insert' / 'update' distinction is intentionally not enforced
    against the base (standard CDC upsert tolerance: an update for a
    missing key inserts, an insert for an existing key replaces) — the
    strict variant is an expectations-module check, not a join.

    Tie-break contract: ``order_col`` SHOULD be unique per key (LSNs
    are); when two changes to one key carry the same order value
    (multi-row transactions stamped with one commit timestamp), the
    winner is chosen by a deterministic op precedence —
    delete > update > insert — so replays and different engines agree
    instead of a partition-order lottery (round-3 ADVICE). A
    same-stamp delete+insert therefore resolves to delete; emit
    distinct order values if the insert must survive.
    """
    base_tagged = base.select(
        *base.columns,
        F.lit("base").alias("_cdc_op"),
        F.lit(None).cast(changes.schema[order_col].dataType).alias(
            "_cdc_order"
        ),
    )
    change_tagged = changes.select(
        *base.columns,
        F.col(op_col).alias("_cdc_op"),
        F.col(order_col).alias("_cdc_order"),
    )
    merged = base_tagged.unionByName(change_tagged)
    op_rank = (
        F.when(F.col("_cdc_op") == "delete", 3)
        .when(F.col("_cdc_op") == "update", 2)
        .when(F.col("_cdc_op") == "insert", 1)
        .otherwise(0)  # base
    )
    w = Window.partitionBy(*key_cols).orderBy(
        # base rows sort before every change (nulls first), changes by
        # their LSN with op precedence breaking order-value ties
        # deterministically; the LAST row per key is the winner
        F.col("_cdc_order").asc_nulls_first(),
        op_rank.asc(),
    )
    winner = (
        merged.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy(*key_cols))
        )
        .filter(F.col("_rn") == F.col("_n"))
    )
    return winner.filter(F.col("_cdc_op") != "delete").drop(
        "_cdc_op", "_cdc_order", "_rn", "_n"
    )


def scd2_history(
    changes: DataFrame,
    key_cols: list[str],
    order_col: str,
) -> DataFrame:
    """Slowly-changing-dimension Type 2: turn a change stream into a
    versioned history — each key's changes, ordered by ``order_col``
    (effective date / LSN), become rows with ``valid_from`` /
    ``valid_to`` intervals and an ``is_current`` flag (open interval =
    NULL valid_to). The warehouse pattern the reference's snapshot-
    replace model cannot express: it keeps only the latest state, SCD2
    keeps every state with its validity window, enabling as-of
    reporting (join with operators.temporal.as_of_join or an interval
    filter).

    One shuffle on the key; per-key state is the sort for ``lead`` —
    the same window the keep-last dedup family uses, so skew behavior
    and scale characteristics are identical.
    """
    w = Window.partitionBy(*key_cols).orderBy(F.col(order_col))
    return (
        changes.withColumn("valid_from", F.col(order_col))
        .withColumn("valid_to", F.lead(order_col).over(w))
        .withColumn(
            "is_current", F.col("valid_to").isNull().cast("int")
        )
    )


def run_incremental_to_warehouse(
    spark: SparkSession,
    raw_dir: str | Path,
    warehouse,
    checkpoint_dir: str | Path,
) -> None:
    """Streaming ingestion straight into the JDBC warehouse: stream the
    repos raw zone (``availableNow``), clean per micro-batch, and
    stage-then-MERGE each batch through ``Warehouse.merge_upsert``.

    Exactly-once story, end to end: the checkpoint guarantees each file
    is CLEANED at most once per successful run, and the keyed MERGE
    makes re-delivery after a mid-batch failure IDEMPOTENT (a replayed
    batch upserts the same uuid5-keyed rows to the same values) — the
    standard at-least-once-delivery + idempotent-sink = exactly-once
    composition. At 100 TB the micro-batch is the unit of JDBC load;
    partition-parallel writes happen inside ``merge_upsert``'s stage
    step, while the MERGE itself is one set-based server-side
    statement per batch.
    """
    from incremental_github_data_pipeline_spark.pipelines import github as gh

    raw_dir = Path(raw_dir)
    stream = stream_json_dir(
        spark, raw_dir / "repos_raw*.json", gh.REPOS_RAW_SCHEMA
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        repos = gh.clean_repos(batch_df).cache()
        try:
            # owners first: repos reference them by foreign key
            warehouse.merge_upsert(gh.clean_owners(repos), "owners", ["owner_id"])
            warehouse.merge_upsert(
                gh.repos_for_warehouse(repos), "repos", ["repo_id"]
            )
        finally:
            repos.unpersist()

    _run_available_now(stream, checkpoint_dir, process)


def running_totals_tws(events: DataFrame, user_col: str = "user_id") -> DataFrame:
    """The Spark-4 ``transformWithStateInPandas`` twin of
    :func:`running_totals_stateful`: the new arbitrary-state API
    (named state variables on a handle object instead of one opaque
    tuple, explicit processor lifecycle) — where custom stateful
    operators are headed; the applyInPandasWithState lane stays as the
    long-term-support shape. Same contract: per-user running
    (count, sum) surviving across micro-batches.

    Runtime requirements: the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass``) and the
    ``protobuf`` package (the API's Python state server) — absent from
    this container, so the agreement test self-skips there; the
    applyInPandasWithState twin carries the tested contract."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", "n_events LONG, total_value DOUBLE"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, total = (
                self._state.get() if self._state.exists() else (0, 0.0)
            )
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return (
        events.select(F.col(user_col).alias("user_id"), F.col("value"))
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningTotals(),
            outputStructType=_RUNNING_TOTALS_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


# ---------------------------------------------------------------------------
# Streaming TWAP — incremental twin of operators.timeseries.
# time_weighted_avg: per-key time-weighted running average folded across
# micro-batches with one 5-number state tuple per key.
# ---------------------------------------------------------------------------

_TWAP_SCHEMA = "k string, n_obs long, sum_dt_us long, twap_num long, twap double"
_TWAP_STATE = "last_ts long, last_v long, n long, sum_dt long, num long"


def _twap_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (last_ts, last_v, n, sum_dt, num) = (
        state.get if state.exists else (None, None, 0, 0, 0)
    )
    # A key's micro-batch arrives as an ITERATOR of Arrow chunks in
    # arbitrary order; sorting chunks independently would fold a
    # >1-chunk batch out of time order (negative dt contributions) —
    # concatenate first so the sort spans the whole batch per key.
    chunks = [pdf for pdf in batches if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["_ts", "_tb"], kind="mergesort"
        )
        ts_us = pdf["_ts"].values.astype("datetime64[us]").astype("int64")
        for t, v in zip(ts_us, pdf["_v"].values):
            if last_ts is not None:
                dt = int(t) - last_ts
                sum_dt += dt
                num += last_v * dt
            last_ts, last_v = int(t), int(v)
            n += 1
    state.update((last_ts, last_v, n, sum_dt, num))
    yield pd.DataFrame(
        {
            "k": [key[0]],
            "n_obs": [n],
            "sum_dt_us": [sum_dt],
            "twap_num": [num],
            "twap": [num / sum_dt if sum_dt else float("nan")],
        }
    )


def twap_stateful(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "v",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Streaming time-weighted average: the incremental twin of
    ``operators.timeseries.time_weighted_avg``, folding each key's
    observation stream across micro-batches with a constant-size state
    tuple (last observation + three accumulators). Rows are sorted by
    (event-time, tiebreak) WITHIN each batch; cross-batch order is
    arrival order, so with in-order sources the emitted running values
    equal the batch operator over the prefix — pinned by the
    stream-vs-batch agreement test. The held-until-next-observation
    weighting means the latest observation per key stays pending in
    state (exactly the interval the batch operator also excludes)."""
    return (
        events.select(
            F.col(key_col).alias("k"),
            F.col(ts_col).alias("_ts"),
            F.col(value_col).cast("long").alias("_v"),
            F.col(tiebreak_col).alias("_tb"),
        )
        .groupBy("k")
        .applyInPandasWithState(
            _twap_fn,
            outputStructType=_TWAP_SCHEMA,
            stateStructType=_TWAP_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_incremental_text_ingest(
    spark: SparkSession,
    src_dir: str,
    table_root: str,
    checkpoint: str,
    on_error: str = "skip",
) -> None:
    """Incremental compressed-corpus ingestion: watch a directory of
    gzip shards with the ``binaryFile`` stream source, split each shard
    into its gzip members (one document per member — the WARC/WET
    layout; `operators.text.gzip_ingest`), and append each micro-batch
    to a manifest-versioned table. Every batch is a table version, so a
    bad shard's ingestion can be time-traveled around. Decode runs
    where the bytes land, no shuffle.

    Exactly-once as in :func:`_run_versioned_ingest` (tag
    ``text-ingest``), with the empty-batch guard after the decode:
    a ``take(1)`` of the ``binaryFile`` batch would read a whole shard."""
    from incremental_github_data_pipeline_spark.operators.text import gzip_ingest

    stream = (
        spark.readStream.format("binaryFile")
        # the binaryFile source's fixed schema, required explicitly for
        # streaming reads
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", "*.gz")
        .load(src_dir)
        .select(F.col("path").alias("shard"), F.col("content").alias("payload"))
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        docs = gzip_ingest(
            batch_df, payload_col="payload", id_col="shard", on_error=on_error
        )
        if docs.take(1):
            versioned.commit_version(
                docs.withColumn("n_chars", F.length("text").cast("long")),
                table_root,
                mode="append",
                txn_id=f"text-ingest:{checkpoint}:{batch_id}",
            )

    _run_available_now(stream, checkpoint, process)


def run_incremental_index_ingest(
    spark: SparkSession,
    src_dir: str,
    table_root: str,
    checkpoint: str,
) -> None:
    """Incremental SEARCH-INDEX maintenance: watch a directory of
    document parquet shards (``doc_id long, text string``), tokenize
    each micro-batch where it lands, and append four
    manifest-versioned tables under ``table_root`` — ``postings/``
    (term, doc_id, tf), ``termstats/`` (term, df_delta, tf_delta: the
    batch's per-term contribution), ``doclens/`` (doc_id, dl: each new
    document's length, computed once at ingest), and ``docstats/``
    (one row per batch: n_docs, total_len). New crawl increments
    extend the index with O(batch) work; NOTHING about the existing
    corpus is re-read or re-shuffled — the "deltas never re-join full
    tables" incremental-maintenance discipline, applied to lexical
    search. Query-time statistics (df, N, avgdl) FOLD the term-level /
    batch-level delta tables, per-document lengths come from the
    doc-level ``doclens`` table — the token-level postings are only
    ever touched by the query-term equi-join, never re-aggregated at
    serving time.

    Exactly-once via :func:`_run_versioned_ingest` (tags
    ``index-<table>``). Postings commits record per-file term min/max
    bounds (``stats_cols``), so a query-term search can file-skip
    before any parquet opens.

    Serving: :func:`bm25_search_versioned` — same scoring lane as
    ``operators.text.bm25_topk``; ``version`` time-travels the search
    to an earlier index state."""
    from incremental_github_data_pipeline_spark.operators.text import tokens

    stream = spark.readStream.schema("doc_id long, text string").parquet(
        src_dir
    )

    def fold(batch_df: DataFrame, batch_id: int, commit) -> None:
        toks = batch_df.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("term")
        )
        tf = (
            toks.groupBy("term", "doc_id")
            .agg(F.count(F.lit(1)).alias("tf"))
            .localCheckpoint(eager=True)  # one tokenize per batch
        )
        commit(
            tf.select("term", "doc_id", "tf"),
            f"{table_root}/postings",
            "index-postings",
            stats_cols=["term"],
        )
        commit(
            tf.groupBy("term").agg(
                F.count(F.lit(1)).alias("df_delta"),
                F.sum("tf").alias("tf_delta"),
            ),
            f"{table_root}/termstats",
            "index-termstats",
        )
        # Per-doc lengths, committed in the same lockstep so serving
        # never has to rebuild them from the token-level postings (a
        # corpus-sized shuffle per search at 100 TB). O(batch): docs
        # only ever appear in one batch, so append is exact.
        commit(
            tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")),
            f"{table_root}/doclens",
            "index-doclens",
        )
        n_docs = batch_df.count()
        total_len = (
            tf.agg(F.coalesce(F.sum("tf"), F.lit(0)).alias("t"))
            .collect()[0]["t"]
        )
        commit(
            local_rows_df(
                spark,
                [(int(batch_id), int(n_docs), int(total_len))],
                "batch_id long, n_docs long, total_len long",
            ),
            f"{table_root}/docstats",
            "index-docstats",
        )

    _run_versioned_ingest(stream, checkpoint, fold)


def bm25_search_versioned(
    spark: SparkSession,
    table_root: str,
    queries: DataFrame,
    k: int = 5,
    qid_col: str = "query_id",
    qtext_col: str = "qtext",
    k1: float = 1.2,
    b: float = 0.75,
    version: int | None = None,
) -> DataFrame:
    """BM25 top-k over a :func:`run_incremental_index_ingest` table:
    df/N/avgdl fold the TERM-level and BATCH-level delta tables, doc
    lengths join from the doc-level ``doclens`` table (never an
    aggregate over the token-level postings — pinned by a plan test),
    query terms equi-join the postings with term-bounded FILE skipping
    (the distinct query terms are collected — workload-sized, the one
    bounded collect here — and prune postings parts VALUE-precisely
    against the manifest's per-file term bounds before any parquet
    opens: a part survives only if some query term falls inside its
    [min, max], so a {'apple', 'zebra'} workload does not read the
    alphabet between them), and the scoring expression is identical to
    ``operators.text.bm25_topk`` — indexing the corpus in one shot or
    in N increments yields the same ranking. ``version`` applies to
    all four tables for a consistent time-traveled view ONLY when they
    were committed in lockstep (one version per batch per table, as
    the ingester does)."""
    from incremental_github_data_pipeline_spark.operators.text import tokens

    qterms = queries.select(
        F.col(qid_col), F.explode(tokens(F.col(qtext_col))).alias("term")
    ).distinct()
    term_list = sorted(
        r["term"] for r in qterms.select("term").distinct().collect()
    )
    postings = versioned.read_version(
        spark,
        f"{table_root}/postings",
        version,
        skip_values=("term", term_list) if term_list else None,
    )
    termstats = (
        versioned.read_version(spark, f"{table_root}/termstats", version)
        .groupBy("term")
        .agg(F.sum("df_delta").alias("df"))
    )
    doc_tot = versioned.read_version(spark, f"{table_root}/docstats", version).agg(
        F.sum("n_docs").alias("_n"),
        (F.sum("total_len") / F.sum("n_docs")).alias("_avgdl"),
    )
    dl = versioned.read_version(spark, f"{table_root}/doclens", version)
    hits = (
        qterms.join(postings, "term")
        .join(termstats, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(doc_tot))
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("_n") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "_s",
            F.col("_idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("_avgdl"))
            ),
        )
    )
    scored = hits.groupBy(qid_col, "doc_id").agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("tf").alias("sum_tf"),
        F.sum("_s").alias("score"),
    )
    w = Window.partitionBy(qid_col).orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(qid_col, "rank", "doc_id", "n_terms", "sum_tf", "score")
    )


def run_incremental_ann_ingest(
    spark: SparkSession,
    src_dir: str,
    table_root: str,
    model_path: str,
    checkpoint: str,
    m_sub: int = 8,
    ksub: int = 16,
) -> None:
    """Incremental ANN index maintenance: watch a directory of JSONL
    embedding shards (``{"vec_id": ..., "embedding": [...]}``), PQ-
    encode each micro-batch, and append the 64x-compressed
    reconstructions to a manifest-versioned table — the
    index-new-crawl-increments-without-retraining lifecycle a 100 TB
    ANN deployment needs. The FIRST batch trains the codebooks and
    persists them (`operators.similarity.save_pq_codebooks`); every
    later batch loads the SAME model artifact, so codes stay mutually
    comparable across increments (retraining per batch would silently
    break ADC score comparability — the classic drifting-index bug).

    Encode is the Arrow map-side path (no shuffle; vectors never leave
    the task that read them); exactly-once via
    :func:`_run_versioned_ingest` (tag ``ann-ingest``). Search the
    result with :func:`ann_search_versioned`."""
    from incremental_github_data_pipeline_spark.operators.similarity import (
        load_pq_codebooks,
        pq_encode_arrow,
        pq_train,
        save_pq_codebooks,
    )

    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("pathGlobFilter", "*.jsonl")
        .json(src_dir)
    )

    def fold(batch_df: DataFrame, batch_id: int, commit) -> None:
        if Path(model_path).exists():
            codebooks = load_pq_codebooks(spark, model_path)
        else:
            codebooks = pq_train(
                batch_df, "embedding", "vec_id", m_sub=m_sub, ksub=ksub
            )
            save_pq_codebooks(spark, codebooks, model_path)
        enc = pq_encode_arrow(batch_df, "embedding", "vec_id", codebooks)
        commit(
            enc,
            table_root,
            "ann-ingest",
        )

    _run_versioned_ingest(stream, checkpoint, fold)


def ann_search_versioned(
    spark: SparkSession,
    table_root: str,
    queries: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    vec_col: str = "embedding",
    version: int | None = None,
) -> DataFrame:
    """ADC top-k over a :func:`run_incremental_ann_ingest` table: the
    stored reconstructions stream (corpus never shuffles), queries
    broadcast, ranking key = dot(normalized query, reconstruction)
    with the corpus-id tie-break — the same scoring lane as
    ``pq_topk``, so results are bit-identical to encoding the full
    corpus in one shot with the same codebooks. ``version`` time-
    travels the search to an earlier index state."""
    from incremental_github_data_pipeline_spark.operators.similarity import (
        l2_normalize,
    )

    enc = versioned.read_version(spark, table_root, version=version)
    qn = queries.select(F.col(query_id), l2_normalize(vec_col).alias("_qv"))
    scored = enc.crossJoin(F.broadcast(qn)).select(
        query_id,
        "vec_id",
        F.aggregate(
            F.zip_with(F.col("_recon"), F.col("_qv"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("adc_score"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("adc_score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy(query_id, "rank")
    )


def hybrid_search_versioned(
    spark: SparkSession,
    index_root: str,
    ann_root: str,
    queries: DataFrame,
    k: int = 10,
    qid_col: str = "query_id",
    qtext_col: str = "qtext",
    vec_col: str = "embedding",
    k0: int = 60,
    lane_k: int | None = None,
    version: int | None = None,
) -> DataFrame:
    """Hybrid retrieval over INCREMENTALLY-maintained indexes: the
    lexical lane is :func:`bm25_search_versioned` over a
    :func:`run_incremental_index_ingest` table, the semantic lane is
    :func:`ann_search_versioned` over a
    :func:`run_incremental_ann_ingest` table, and the two top-k lists
    fuse with ``operators.similarity.rrf_fuse`` — the versioned twin
    of the batch ``q_hybrid_rrf_topk`` lane, so a corpus indexed in N
    crawl increments serves the same fused ranking as one indexed in
    a single shot (same codebooks, same BM25 statistics).

    ``queries`` needs BOTH a text column and an embedding column (one
    frame, two lanes). ``lane_k`` (default ``k``) bounds each lane's
    candidate list before fusion; each lane touches only its own
    index, the fusion join sees queries × lane_k rows per lane.
    ``version`` time-travels both indexes — meaningful when the two
    ingests ran in lockstep (same batch cadence), else pass None for
    latest-of-each."""
    from incremental_github_data_pipeline_spark.operators.similarity import (
        rrf_fuse,
    )

    lane_k = k if lane_k is None else lane_k
    lex = bm25_search_versioned(
        spark,
        index_root,
        queries.select(qid_col, qtext_col),
        k=lane_k,
        qid_col=qid_col,
        qtext_col=qtext_col,
        version=version,
    )
    sem = ann_search_versioned(
        spark,
        ann_root,
        queries.select(qid_col, vec_col),
        k=lane_k,
        query_id=qid_col,
        vec_col=vec_col,
        version=version,
    ).withColumnRenamed("vec_id", "doc_id")
    return rrf_fuse(lex, sem, qid_col=qid_col, id_col="doc_id", k0=k0, k=k)


def compact_index(
    spark: SparkSession,
    table_root: str,
    target_partitions: int = 4,
) -> dict[str, int]:
    """OPTIMIZE for a :func:`run_incremental_index_ingest` index: each
    micro-batch appends one small postings part spanning the whole
    alphabet, so after K batches the manifest's per-file term bounds
    all cover [a..z] and :func:`bm25_search_versioned`'s term-range
    file skipping stops pruning anything. This rewrites the postings
    range-clustered ON TERM (``versioned.compact`` with
    ``cluster_cols=["term"]``), so the recomputed per-part min/max
    become tight alphabet slices and a point-term search opens ~1 of
    ``target_partitions`` parts again; ``doclens`` likewise clusters
    on doc_id. All four lockstep tables get exactly one new version in
    the same call, so the version↔batch correspondence that makes
    time travel consistent is preserved (every table advances by one).
    Old versions stay readable; ``versioned.vacuum`` reclaims the
    small pre-compaction parts once out of retention."""
    return {
        "postings": versioned.compact(
            spark,
            f"{table_root}/postings",
            target_partitions=target_partitions,
            cluster_cols=["term"],
        ),
        "doclens": versioned.compact(
            spark,
            f"{table_root}/doclens",
            target_partitions=target_partitions,
            cluster_cols=["doc_id"],
        ),
        "termstats": versioned.compact(spark, f"{table_root}/termstats"),
        "docstats": versioned.compact(spark, f"{table_root}/docstats"),
    }


def run_incremental_hll_ingest(
    spark: SparkSession,
    src_dir: str,
    table_root: str,
    checkpoint: str,
    schema: str,
    group_col: str,
    key_col: str,
    p: int = 8,
) -> None:
    """Incremental DISTINCT-COUNT maintenance: watch a directory of
    parquet shards (``schema``, e.g. ``"seg string, user_id long"``),
    sketch each micro-batch with :func:`~incremental_github_data_pipeline_spark.
    operators.incremental_agg.hll_registers`, fold it into the current
    register state with ``hll_merge`` (union + max — associative,
    commutative, idempotent), and commit the merged state as the next
    version of a manifest-versioned table. Distinct counts are the
    canonical NON-algebraic aggregate (the rollup module refuses them
    outright — ``incremental_agg`` module docstring); the sketch makes
    them incrementally maintainable with O(state) work per batch,
    where state = groups × 2^p rows REGARDLESS of batch or history
    size, and exact-replay determinism survives because the register
    table is integer arithmetic end-to-end.

    Exactly-once via :func:`_run_versioned_ingest` (tag
    ``hll-ingest``). Commits use ``mode="overwrite"`` (the state is a
    snapshot, not a log), so every version is a
    consistent time-traveled sketch of the stream so far; max-merge
    idempotence means even a torn retry that re-merges an already-
    folded batch cannot change the state. Serving: ``read_version`` +
    ``hll_estimate`` at any version."""
    from incremental_github_data_pipeline_spark.operators.incremental_agg import (
        hll_merge,
        hll_registers,
    )

    stream = spark.readStream.schema(schema).parquet(src_dir)

    def fold(batch_df: DataFrame, batch_id: int, commit) -> None:
        regs = hll_registers(batch_df, group_col, key_col, p=p)
        if versioned.latest_version(table_root) is not None:
            regs = hll_merge(versioned.read_version(spark, table_root), regs)
        commit(
            regs,
            table_root,
            "hll-ingest",
            mode="overwrite",
        )

    _run_versioned_ingest(stream, checkpoint, fold)


def run_incremental_drift_ingest(
    spark: SparkSession,
    src_dir: str,
    table_root: str,
    checkpoint: str,
    schema: str = "win date, payload string",
    json_col: str = "payload",
    window_col: str = "win",
) -> None:
    """Incremental SCHEMA-DRIFT maintenance: watch a directory of
    parquet shards of (window, JSON payload) rows, reduce each
    micro-batch to its per-(window, key) presence deltas + per-window
    row-count deltas (``operators/quality``'s counting stage), and
    APPEND them to a manifest-versioned table. Presence counts are
    ALGEBRAIC (plain sums), so unlike the HLL state this is a delta
    LOG, not a snapshot: per-batch work is O(batch scan) + O(batch's
    windows × keys), nothing about history is re-read, and
    :func:`drift_report_versioned` folds the deltas at serving time —
    the same deltas-never-re-join-full-tables discipline as the BM25
    termstats table.

    Exactly-once via :func:`_run_versioned_ingest` (tag
    ``drift-ingest``). Late data is handled by construction — a
    late row just lands its deltas in a later version, and the fold
    is order-independent because addition commutes."""
    stream = spark.readStream.schema(schema).parquet(src_dir)

    def fold(batch_df: DataFrame, batch_id: int, commit) -> None:
        keyed = batch_df.select(
            F.col(window_col).alias("win"),
            F.json_object_keys(F.col(json_col)).alias("_keys"),
        )
        rows = (
            keyed.groupBy("win")
            .agg(F.count(F.lit(1)).alias("d_rows"))
            .select(
                "win",
                F.lit(None).cast("string").alias("key"),
                "d_rows",
                F.lit(0).cast("long").alias("d_present"),
            )
        )
        present = (
            keyed.select("win", F.explode("_keys").alias("key"))
            .groupBy("win", "key")
            .agg(F.count(F.lit(1)).alias("d_present"))
            .select(
                "win",
                "key",
                F.lit(0).cast("long").alias("d_rows"),
                "d_present",
            )
        )
        commit(
            rows.unionByName(present),
            table_root,
            "drift-ingest",
        )

    _run_versioned_ingest(stream, checkpoint, fold)


def drift_report_versioned(
    spark: SparkSession,
    table_root: str,
    shift_ppm: int = 100_000,
    version: int | None = None,
) -> DataFrame:
    """Serve the schema-drift report from a
    :func:`run_incremental_drift_ingest` delta table: fold the
    per-batch deltas by sum (one aggregate over the monitoring-sized
    log), rebuild the dense window × key-universe grid, and apply the
    same ppm/lag/verdict lanes as the batch
    ``operators.quality.schema_drift_report`` — an N-increment ingest
    must serve the identical report to a one-shot batch run (pinned in
    tests). ``version`` time-travels the report to an earlier ingest
    state."""
    deltas = versioned.read_version(spark, table_root, version=version)
    per_win = (
        deltas.filter(F.col("key").isNull())
        .groupBy("win")
        .agg(F.sum("d_rows").alias("n_rows"))
    )
    present = (
        deltas.filter(F.col("key").isNotNull())
        .groupBy("win", "key")
        .agg(F.sum("d_present").alias("n_present"))
        .localCheckpoint(eager=True)  # feeds universe AND the grid join
    )
    universe = present.select("key").distinct()
    stats = (
        per_win.crossJoin(universe)
        .join(present, ["win", "key"], "left")
        .select(
            "win",
            "key",
            "n_rows",
            F.coalesce(F.col("n_present"), F.lit(0)).alias("n_present"),
        )
        .withColumn(
            "present_ppm", F.expr("n_present * 1000000 div n_rows")
        )
    )
    w = Window.partitionBy("key").orderBy("win")
    out = stats.withColumn("prev_ppm", F.lag("present_ppm").over(w))
    status = (
        F.when(F.col("prev_ppm").isNull(), F.lit("baseline"))
        .when(
            (F.col("prev_ppm") == 0) & (F.col("present_ppm") > 0),
            F.lit("new"),
        )
        .when(
            (F.col("prev_ppm") > 0) & (F.col("present_ppm") == 0),
            F.lit("dropped"),
        )
        .when(
            F.abs(F.col("present_ppm") - F.col("prev_ppm"))
            > F.lit(shift_ppm),
            F.lit("shifted"),
        )
        .otherwise(F.lit("stable"))
    )
    return out.withColumn("status", status)


def run_incremental_tcloseness_ingest(
    spark: SparkSession,
    src_dir: str,
    table_root: str,
    checkpoint: str,
    schema: str,
    quasi_cols,
    sensitive_col: str,
) -> None:
    """Incremental t-CLOSENESS maintenance (r11): watch a directory of
    parquet shards, reduce each micro-batch to its (quasi…, sensitive)
    COUNT DELTAS — the audit's sufficient statistic
    (``operators/privacy.t_closeness_report`` computes everything else
    by summation) — and APPEND them to a manifest-versioned table.
    Counts are algebraic, so this is a delta LOG like the drift
    maintainer: per-batch work is O(batch scan) + O(batch's classes ×
    values), history never re-read, and
    :func:`t_closeness_versioned` folds the log at serving time. The
    privacy release gate becomes continuously maintained instead of
    recomputed from the fact table per release.

    Exactly-once via :func:`_run_versioned_ingest` (tag
    ``tclose-ingest``); late rows land their deltas in a later
    version and the fold commutes (addition)."""
    quasi = [quasi_cols] if isinstance(quasi_cols, str) else list(quasi_cols)
    stream = spark.readStream.schema(schema).parquet(src_dir)

    def fold(batch_df: DataFrame, batch_id: int, commit) -> None:
        deltas = batch_df.groupBy(*quasi, sensitive_col).agg(
            F.count(F.lit(1)).alias("d_c")
        )
        commit(
            deltas,
            table_root,
            "tclose-ingest",
        )

    _run_versioned_ingest(stream, checkpoint, fold)


def t_closeness_versioned(
    spark: SparkSession,
    table_root: str,
    quasi_cols,
    sensitive_col: str,
    t_ppm: int,
    ordered: bool = True,
    version: int | None = None,
) -> DataFrame:
    """Serve the t-closeness report from a
    :func:`run_incremental_tcloseness_ingest` delta table: fold the
    per-batch count deltas by sum (one aggregate over the
    governance-sized log), then apply the identical EMD lanes as the
    batch operator (``privacy.t_closeness_from_counts`` — shared code,
    not a reimplementation), so an N-increment ingest serves the SAME
    report as a one-shot batch run (pinned in tests). ``version``
    time-travels the audit to an earlier ingest state — "was this
    release t-close when we shipped it" stays answerable."""
    from incremental_github_data_pipeline_spark.operators.privacy import (
        t_closeness_from_counts,
    )

    quasi = [quasi_cols] if isinstance(quasi_cols, str) else list(quasi_cols)
    counts = (
        versioned.read_version(spark, table_root, version=version)
        .groupBy(*quasi, sensitive_col)
        .agg(F.sum("d_c").alias("_c"))
        .localCheckpoint(eager=True)  # the from_counts consumers fold it
    )
    return t_closeness_from_counts(
        counts, quasi, sensitive_col, t_ppm, ordered=ordered
    )


def run_incremental_volume_ingest(
    spark: SparkSession,
    src_dir: str,
    table_root: str,
    checkpoint: str,
    schema: str,
    window_col: str,
    key_cols=None,
) -> None:
    """Incremental VOLUME-GATE maintenance (r11): watch a directory of
    parquet shards, reduce each micro-batch to its per-(key…, window)
    row-count deltas — the gate's sufficient statistic — and APPEND
    them to a manifest-versioned log. Per-batch work is O(batch scan)
    + O(batch's windows × keys); :func:`volume_gate_versioned` folds
    the log at serving time, so the ingest-freshness breaker runs on
    continuously maintained counts instead of re-scanning the fact
    table per check. Exactly-once via :func:`_run_versioned_ingest`
    (tag ``volume-ingest``); a late row lands its delta in a later
    version and the fold commutes."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols or [])
    stream = spark.readStream.schema(schema).parquet(src_dir)

    def fold(batch_df: DataFrame, batch_id: int, commit) -> None:
        deltas = batch_df.groupBy(*keys, window_col).agg(
            F.count(F.lit(1)).alias("d_rows")
        )
        commit(
            deltas,
            table_root,
            "volume-ingest",
        )

    _run_versioned_ingest(stream, checkpoint, fold)


def volume_gate_versioned(
    spark: SparkSession,
    table_root: str,
    window_col: str,
    key_cols=None,
    trailing: int = 7,
    drop_ppm: int = 500_000,
    spike_ppm: int = 1_000_000,
    version: int | None = None,
) -> DataFrame:
    """Serve the volume-anomaly gate from a
    :func:`run_incremental_volume_ingest` delta log: fold the count
    deltas by sum (one aggregate over the monitoring-sized log), then
    apply the identical trailing-median lanes as the batch operator
    (``quality.volume_gate_from_counts`` — shared code). An
    N-increment ingest gates identically to a one-shot batch run
    (pinned in tests); ``version`` time-travels the gate — "what did
    the breaker see before yesterday's backfill landed"."""
    from incremental_github_data_pipeline_spark.operators.quality import (
        volume_gate_from_counts,
    )

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols or [])
    counts = (
        versioned.read_version(spark, table_root, version=version)
        .groupBy(*keys, window_col)
        .agg(F.sum("d_rows").alias("n_rows"))
    )
    return volume_gate_from_counts(
        counts, window_col, keys,
        trailing=trailing, drop_ppm=drop_ppm, spike_ppm=spike_ppm,
    )


def run_incremental_kmv_ingest(
    spark: SparkSession,
    src_dir: str,
    table_root: str,
    checkpoint: str,
    schema: str,
    group_col: str,
    key_col: str,
    k: int = 64,
) -> None:
    """Incremental KMV (bottom-k) sketch maintenance — the certifiable
    sibling of :func:`run_incremental_hll_ingest`: watch a directory of
    parquet shards, sketch each micro-batch with
    :func:`~incremental_github_data_pipeline_spark.operators.incremental_agg.kmv_sketch`,
    fold it into the current state with ``kmv_merge`` (union →
    distinct → re-rank: associative, commutative, idempotent — the
    k smallest of a union are among the union of per-shard k
    smallest), and commit the merged state as the next version of a
    manifest-versioned table. Per-batch work is O(batch scan) +
    O(groups × k) state rows regardless of history; serving is
    ``read_version`` + ``kmv_estimate`` (integer-exact) or
    ``kmv_jaccard`` between groups at any version.

    Exactly-once via :func:`_run_versioned_ingest` (tag
    ``kmv-ingest``); overwrite commits keep every version a consistent
    snapshot, and merge idempotence means a torn retry that re-folds
    an already-merged batch cannot change the state."""
    from incremental_github_data_pipeline_spark.operators.incremental_agg import (
        kmv_merge,
        kmv_sketch,
    )

    stream = spark.readStream.schema(schema).parquet(src_dir)

    def fold(batch_df: DataFrame, batch_id: int, commit) -> None:
        sk = kmv_sketch(batch_df, group_col, key_col, k=k)
        if versioned.latest_version(table_root) is not None:
            sk = kmv_merge(versioned.read_version(spark, table_root), sk, k=k)
        commit(
            sk,
            table_root,
            "kmv-ingest",
            mode="overwrite",
        )

    _run_versioned_ingest(stream, checkpoint, fold)


def run_incremental_profile_ingest(
    spark: SparkSession,
    src_dir: str,
    table_root: str,
    checkpoint: str,
    schema: str,
    cols: list[str],
) -> None:
    """Incremental COLUMN-PROFILE maintenance: watch a directory of
    parquet shards, reduce each micro-batch to its (column, value)
    histogram deltas (``operators/quality.profile_histogram`` — counts
    are ALGEBRAIC, so this is a delta LOG like the drift/volume lanes,
    not a snapshot), and APPEND them to a manifest-versioned table.
    Per-batch work is O(batch scan) + O(batch's distinct values);
    history is never re-read. Serving (:func:`profile_versioned`)
    folds the log by sum and applies the SAME finishing lanes as the
    batch operator (shared ``profile_from_hist``), so the continuously
    maintained profile provably equals the one-shot profile of
    everything ingested — the always-fresh data-quality dashboard
    primitive.

    Exactly-once via :func:`_run_versioned_ingest` (tag
    ``profile-ingest``); late data just lands its deltas in a later
    version (addition commutes)."""
    from incremental_github_data_pipeline_spark.operators.quality import (
        profile_histogram,
    )

    stream = spark.readStream.schema(schema).parquet(src_dir)

    def fold(batch_df: DataFrame, batch_id: int, commit) -> None:
        commit(
            profile_histogram(batch_df, cols),
            table_root,
            "profile-ingest",
        )

    _run_versioned_ingest(stream, checkpoint, fold)


def profile_versioned(
    spark: SparkSession, table_root: str, version: int | None = None
) -> DataFrame:
    """Serve the column profile at any version: fold the histogram
    delta log by sum, finish through the shared lanes. O(distinct
    values in the log), never re-reads raw data."""
    from incremental_github_data_pipeline_spark.operators.quality import (
        profile_from_hist,
    )

    log = versioned.read_version(spark, table_root, version=version)
    hist = log.groupBy("column", "_v").agg(F.sum("_n").alias("_n"))
    return profile_from_hist(hist)


def run_incremental_cc_ingest(
    spark: SparkSession,
    src_dir: str,
    table_root: str,
    checkpoint: str,
    schema: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> None:
    """Incremental CONNECTED-COMPONENTS maintenance (r12) — the graph
    lane that gates near-dup clustering at scale
    (``dedup.connected_components`` is the batch twin): watch a
    directory of edge shards and keep the per-node component labeling
    (component = MIN node id, the batch twin's exact contract) current
    under edge arrival, without ever re-running CC over history.

    The sufficient statistic is the labeling itself, and it merges
    algebraically: map each batch edge through the CURRENT labels
    (new nodes label themselves), run the batch CC on that
    CONTRACTED graph — O(batch) super-nodes, never corpus-sized —
    and the min-label fold over super-nodes IS the new labeling,
    because min is associative over the merged node-id sets. The
    state table is an APPEND LOG of (id, component, _seq) upserts:
    a batch appends only NEW nodes plus members of components whose
    label actually changed (when a big and a small component merge,
    the side keeping the min writes nothing) — O(batch + affected
    components) appended rows. Serving keeps the last upsert per id.

    Per-batch cost: one column-pruned fold-read of the label log (the
    versioned store's compaction keeps it proportional to live
    nodes), O(batch) contraction + batch-sized CC, O(affected)
    append. Exactly-once via :func:`_run_versioned_ingest` (tag
    ``cc-ingest``), and the upsert log is insensitive to re-appending
    an identical relabeling (last-writer-wins serving folds duplicates
    away)."""
    from incremental_github_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    stream = spark.readStream.schema(schema).parquet(src_dir)

    def fold(batch_df: DataFrame, batch_id: int, commit) -> None:
        edges = (
            batch_df.select(
                F.col(id_a).alias("_a"), F.col(id_b).alias("_b")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        if versioned.latest_version(table_root) is not None:
            cur = cc_versioned(spark, table_root).localCheckpoint(
                eager=True
            )
        else:
            cur = (
                edges.select(F.col("_a").alias("id"))
                .limit(0)
                .withColumn("component", F.col("id"))
            )
        # resolve batch endpoints through the current labeling; a node
        # the state has never seen labels itself
        la = edges.join(
            cur.withColumnRenamed("id", "_a").withColumnRenamed(
                "component", "_la"
            ),
            "_a",
            "left",
        )
        both = la.join(
            cur.withColumnRenamed("id", "_b").withColumnRenamed(
                "component", "_lb"
            ),
            "_b",
            "left",
        ).select(
            F.coalesce("_la", "_a").alias("la"),
            F.coalesce("_lb", "_b").alias("lb"),
            "_a",
            "_b",
        ).localCheckpoint(eager=True)
        contracted = both.filter(F.col("la") != F.col("lb")).select(
            F.col("la").alias("id_a"), F.col("lb").alias("id_b")
        )
        if contracted.take(1):
            sup = connected_components(
                contracted, "id_a", "id_b"
            ).localCheckpoint(eager=True)
        else:
            sup = both.select(F.col("la").alias("id")).limit(
                0
            ).withColumn("component", F.col("id"))
        relabel = sup.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias("_old"), F.col("component").alias("_new")
        )
        # (a) members of components whose label changed
        changed_members = cur.join(
            F.broadcast(relabel), cur.component == F.col("_old")
        ).select("id", F.col("_new").alias("component"))
        # (b) batch nodes the state has never seen, at their final label
        batch_nodes = (
            both.select(F.col("_a").alias("id"), F.col("la").alias("l"))
            .unionAll(
                both.select(F.col("_b").alias("id"), F.col("lb").alias("l"))
            )
            .distinct()
            .join(cur.select(F.col("id").alias("_seen")),
                  F.col("id") == F.col("_seen"), "left_anti")
        )
        new_rows = batch_nodes.join(
            F.broadcast(relabel), batch_nodes.l == F.col("_old"), "left"
        ).select(
            "id", F.coalesce("_new", "l").alias("component")
        )
        upserts = changed_members.unionByName(new_rows).withColumn(
            "_seq", F.lit(batch_id).cast("long")
        )
        if not upserts.take(1):
            return
        commit(
            upserts,
            table_root,
            "cc-ingest",
        )

    _run_versioned_ingest(stream, checkpoint, fold)


def cc_versioned(
    spark: SparkSession, table_root: str, version: int | None = None
) -> DataFrame:
    """Serve the connected-components labeling at any version: fold the
    upsert log last-writer-wins per node (one window over the
    column-pruned log — O(log), never re-reads edges). Returns
    ``(id, component)``, bit-identical to
    ``dedup.connected_components`` over every edge ingested up to
    ``version``."""
    log = versioned.read_version(spark, table_root, version=version)
    w = Window.partitionBy("id").orderBy(F.col("_seq").desc())
    return (
        log.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("id", "component")
    )


def run_incremental_keep_best_ingest(
    spark: SparkSession,
    docs_dir: str,
    table_root: str,
    checkpoint: str,
    schema: str,
    cc_root: str,
    score_col: str,
    id_col: str = "doc_id",
) -> None:
    """Keep-best-of-cluster served INCREMENTALLY (r14, VERDICT r13
    task 5): maintain a versioned "current best doc per near-dup
    component" table under document arrival, composed with the CC
    labeling :func:`run_incremental_cc_ingest` maintains. The insight
    is the same algebra ``dedup.keep_best_of_cluster`` exploits in
    one shot: argmax-of-``(score, -id)`` is an algebraic MAX, so
    per-batch deltas merge into the running best exactly like the CC
    upsert log merges labels — no history rescan, ever.

    Per micro-batch of doc shards: label each doc through the CURRENT
    CC serving view (nodes the graph has never seen label
    themselves), fold the batch to one best-candidate row per touched
    label, merge those with the prior bests of the SAME labels (read
    via a broadcast-batch-labels semi-join — history is scanned
    map-side, never reshuffled), and APPEND one upsert row per
    touched label: ``(component, n_docs, best struct<doc row>,
    _seq)``. O(batch + touched components) work and appended state.

    Labels drift as later edge batches merge components; the log is
    deliberately NOT rewritten (the same append-only posture as the
    CC log). :func:`keep_best_versioned` resolves drift at serve
    time by re-keying each live row through the witness doc's
    CURRENT label — a components-sized join, never corpus-sized.
    Summed ``n_docs`` and the argmax survive re-keying because both
    are algebraic (sum / max are associative over the merged sets),
    which is the whole point of the composition.

    Exactly-once via :func:`_run_versioned_ingest` (tag ``keep-best``).
    Contract: doc ids are unique across all batches (each doc counts
    once), and ``id_col`` is integral (the keep_best tie-break)."""
    stream = spark.readStream.schema(schema).parquet(docs_dir)

    def best_key(prefix: F.Column | None = None):
        s = prefix[score_col] if prefix is not None else F.col(score_col)
        i = prefix[id_col] if prefix is not None else F.col(id_col)
        return F.struct(
            s.alias("_s"),
            (-i.cast("decimal(38,0)")).alias("_negid"),
        )

    def fold(batch_df: DataFrame, batch_id: int, commit) -> None:
        docs = batch_df.localCheckpoint(eager=True)
        doc_cols = docs.columns
        if versioned.latest_version(cc_root) is not None:
            labels = cc_versioned(spark, cc_root)
        else:
            labels = docs.select(F.col(id_col).alias("id")).limit(
                0
            ).withColumn("component", F.col("id"))
        labeled = docs.join(
            labels.withColumnRenamed("id", id_col), id_col, "left"
        ).withColumn(
            "component", F.coalesce("component", F.col(id_col))
        )
        batch_best = labeled.groupBy("component").agg(
            F.max_by(
                F.struct(*[F.col(c) for c in doc_cols]), best_key()
            ).alias("best"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        ).localCheckpoint(eager=True)
        if versioned.latest_version(table_root) is not None:
            prior = _keep_best_fold(
                spark, table_root, before_seq=batch_id
            ).join(
                F.broadcast(batch_best.select("component")),
                "component",
                "left_semi",
            )
            merged = (
                batch_best.unionByName(prior)
                .groupBy("component")
                .agg(
                    F.max_by("best", best_key(F.col("best"))).alias(
                        "best"
                    ),
                    F.sum("n_docs").cast("long").alias("n_docs"),
                )
            )
        else:
            merged = batch_best
        commit(
            merged.withColumn("_seq", F.lit(batch_id).cast("long")),
            table_root,
            "keep-best",
        )

    _run_versioned_ingest(stream, checkpoint, fold)


def _keep_best_fold(
    spark: SparkSession,
    table_root: str,
    version: int | None = None,
    before_seq: int | None = None,
) -> DataFrame:
    """Last-writer-wins fold of the keep-best upsert log: one window
    over the (components-sized) log, O(log) like ``cc_versioned``.

    ``before_seq`` bounds the fold to rows with ``_seq < before_seq``
    (r15, ADVICE r14): the ingest passes its batch_id so a replay
    after a crash-post-commit recomputes from exactly the pre-batch
    state instead of folding its own earlier write back in — making
    the recomputed merge bit-identical, the same scoping the funnel
    and CDC ingests apply via ``batch_id < current`` claims."""
    log = versioned.read_version(spark, table_root, version=version)
    if before_seq is not None:
        log = log.filter(F.col("_seq") < F.lit(int(before_seq)))
    w = Window.partitionBy("component").orderBy(F.col("_seq").desc())
    return (
        log.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("component", "best", "n_docs")
    )


def keep_best_versioned(
    spark: SparkSession,
    table_root: str,
    cc_root: str,
    score_col: str,
    id_col: str = "doc_id",
    version: int | None = None,
    cc_version: int | None = None,
) -> DataFrame:
    """Serve the incremental keep-best table
    (:func:`run_incremental_keep_best_ingest`): fold the upsert log
    last-writer-wins, re-key every live row through its WITNESS
    doc's current CC label (edge batches that merged components
    after a row was written re-key it here — the witness is a
    cluster member, so its current label IS the merged label;
    singletons the graph never saw keep their own), then one
    algebraic argmax + sum per final label. Cost is
    O(live components): the fold window, one join against the CC
    serving view, one aggregate — never corpus-sized.

    Returns the full best-doc rows plus ``component`` and ``n_docs``,
    bit-identical to ``dedup.keep_best_of_cluster`` over every doc
    and edge ingested up to the given versions."""
    cur = _keep_best_fold(spark, table_root, version=version)
    if versioned.latest_version(cc_root) is not None:
        labels = cc_versioned(spark, cc_root, version=cc_version)
    else:
        labels = cur.select(
            F.col("component").alias("id")
        ).limit(0).withColumn("component", F.col("id"))
    rekeyed = cur.join(
        labels.select(
            F.col("id").alias("_wid"), F.col("component").alias("_nc")
        ),
        cur["best"][id_col] == F.col("_wid"),
        "left",
    ).select(
        F.coalesce("_nc", "component").alias("component"),
        "best",
        "n_docs",
    )
    final = rekeyed.groupBy("component").agg(
        F.max_by(
            "best",
            F.struct(
                F.col("best")[score_col].alias("_s"),
                (-F.col("best")[id_col].cast("decimal(38,0)")).alias(
                    "_negid"
                ),
            ),
        ).alias("best"),
        F.sum("n_docs").cast("long").alias("n_docs"),
    )
    return final.select(F.col("best.*"), "component", "n_docs")


def _assert_pinned_params(
    spark: SparkSession, params_root: str, called: dict, what: str
) -> None:
    """Guard for parameterized versioned indexes (ADVICE r12): once a
    ``params`` sidecar is pinned, every later ingest must pass the SAME
    parameters — appending postings banded under different hash counts
    (or Bloom positions hashed under a different geometry) silently
    corrupts the index (zeroed LSH recall / Bloom false negatives).
    1-row sidecar read: bounded by construction."""
    pinned = versioned.read_version(spark, params_root).collect()[0]
    diffs = {
        name: (pinned[name], value)
        for name, value in called.items()
        if pinned[name] != value
    }
    if diffs:
        detail = ", ".join(
            f"{name}: pinned={p} called={c}"
            for name, (p, c) in sorted(diffs.items())
        )
        raise ValueError(
            f"{what} at {params_root!r} was built with different "
            f"parameters ({detail}); re-ingesting with mismatched "
            "parameters would corrupt the index"
        )


def run_incremental_lsh_ingest(
    spark: SparkSession,
    src_dir: str,
    table_root: str,
    checkpoint: str,
    num_hashes: int = 32,
    bands: int = 16,
    k: int = 5,
) -> None:
    """Incremental MinHash-LSH index maintenance (r12) — the candidate
    -generation side of near-dup dedup kept CURRENT under crawl
    arrival, completing the incremental dedup story next to
    :func:`run_incremental_cc_ingest` (which maintains the clusters
    the verified pairs form): watch a directory of document shards
    (``doc_id long, text string``), band each micro-batch's MinHash
    signatures where the text lands (one Arrow-free codegen pass —
    ``dedup.minhash_signature`` + ``minhash_bands``), and APPEND the
    (band, bucket, doc_id) postings to a manifest-versioned table.
    O(batch × bands) appended rows; the existing index is never
    re-read or re-shuffled.

    Postings are range-partitioned on ``bucket`` before the commit and
    the manifest records per-file bucket min/max (``stats_cols``), so
    a query's bucket probes FILE-SKIP before any parquet opens — the
    same Iceberg-style pruning the BM25 postings use for terms.

    Exactly-once via :func:`_run_versioned_ingest` (tag
    ``lsh-ingest``). Serving: :func:`lsh_candidates_versioned` — band the query docs with the
    SAME parameters and equi-join the postings; parameters are part
    of the index contract (mixing band counts across versions would
    silently zero the collision probability), so they are pinned in a
    1-row ``_params`` sidecar committed with version 1, ENFORCED on
    every later ingest (a re-run with different parameters raises
    instead of silently appending incompatible postings — ADVICE
    r12), and re-read at serve time."""
    from incremental_github_data_pipeline_spark.operators.dedup import (
        minhash_bands,
        minhash_signature,
    )

    stream = spark.readStream.schema("doc_id long, text string").parquet(
        src_dir
    )
    rows_per_band = num_hashes // bands
    if rows_per_band * bands != num_hashes:
        raise ValueError("bands must divide num_hashes")

    def fold(batch_df: DataFrame, batch_id: int, commit) -> None:
        if versioned.latest_version(f"{table_root}/postings") is None:
            versioned.commit_version(
                local_rows_df(
                    spark,
                    [(num_hashes, bands, k)],
                    "num_hashes int, bands int, k int",
                ),
                f"{table_root}/params",
                mode="overwrite",
                txn_id=f"lsh-params:{checkpoint}",
            )
        else:
            _assert_pinned_params(
                spark,
                f"{table_root}/params",
                {"num_hashes": num_hashes, "bands": bands, "k": k},
                what="LSH index",
            )
        # signature work is CPU-bound and the micro-batch often arrives
        # as a handful of small files (= a handful of input partitions);
        # spread it across the executors before banding — an O(batch)
        # shuffle of raw text that unlocks full parallelism (r13: 5k-doc
        # batches went 13.9s -> 3.4s on local[32])
        spread = batch_df.repartition(
            spark.sparkContext.defaultParallelism
        )
        keys = spread.select(
            "doc_id",
            F.explode(
                minhash_bands(
                    minhash_signature(
                        F.col("text"), num_hashes=num_hashes, k=k
                    ),
                    bands,
                    rows_per_band,
                )
            ).alias("_bk"),
        ).select(
            F.col("_bk.band").alias("band"),
            F.col("_bk.bucket").alias("bucket"),
            "doc_id",
        )
        commit(
            keys.repartitionByRange(8, "bucket"),
            f"{table_root}/postings",
            "lsh-ingest",
            stats_cols=["bucket"],
        )

    _run_versioned_ingest(stream, checkpoint, fold)


def lsh_candidates_versioned(
    spark: SparkSession,
    table_root: str,
    queries: DataFrame,
    qid_col: str = "query_id",
    qtext_col: str = "qtext",
    version: int | None = None,
) -> DataFrame:
    """Near-dup CANDIDATES for query docs against a
    :func:`run_incremental_lsh_ingest` index at any version: band the
    queries with the index's pinned parameters (read from the
    ``params`` sidecar — a mismatched re-band would silently zero
    recall) and equi-join the postings on (band, bucket). Returns
    distinct ``(query_id, doc_id)``; exact verification
    (``dedup.verified_near_dups`` / ``ngram_jaccard``) is the
    caller's next stage, on candidates only — the LSH contract.
    The query side is banded in one codegen pass and broadcast-sized
    in the incremental use (a new batch probing the corpus index);
    postings are touched via the bucket-bounded file-skipping scan."""
    from incremental_github_data_pipeline_spark.operators.dedup import (
        minhash_bands,
        minhash_signature,
    )

    p = versioned.read_version(spark, f"{table_root}/params").collect()[0]
    rows_per_band = p["num_hashes"] // p["bands"]
    qk = queries.select(
        F.col(qid_col).alias("query_id"),
        F.explode(
            minhash_bands(
                minhash_signature(
                    F.col(qtext_col), num_hashes=p["num_hashes"], k=p["k"]
                ),
                p["bands"],
                rows_per_band,
            )
        ).alias("_bk"),
    ).select(
        F.col("_bk.band").alias("band"),
        F.col("_bk.bucket").alias("bucket"),
        "query_id",
    )
    idx = versioned.read_version(spark, f"{table_root}/postings", version=version)
    return (
        idx.join(qk, ["band", "bucket"])
        .select("query_id", "doc_id")
        .distinct()
    )


def run_incremental_bloom_ingest(
    spark: SparkSession,
    src_dir: str,
    table_root: str,
    checkpoint: str,
    schema: str,
    key_col: str,
    n_bits: int = 1 << 16,
    n_hashes: int = 4,
) -> None:
    """Incremental BLOOM-FILTER maintenance (r12): keep the corpus
    membership filter (``dedup.build_bloom`` is the batch twin)
    current under arrival, so every new ingest can
    ``bloom_prefilter_new`` against an always-fresh filter without a
    corpus scan. The sufficient statistic is the SET of set bit
    positions — bounded by ``n_bits`` (the filter's own size, never
    the corpus), and set union is algebraic — so each micro-batch
    appends its distinct positions to a delta log: O(batch scan) work,
    ≤ ``n_bits`` rows appended, history never re-read. Serving folds
    the log by distinct (≤ ``n_bits`` rows at ANY corpus size) and is
    bit-identical to the one-shot filter over everything ingested —
    Bloom OR-merge exactness, through the versioned store.

    Hash parameters are pinned in a ``params`` sidecar (a filter
    probed with different seeds or width is silently broken — false
    NEGATIVES, the one thing a Bloom filter must never produce) and
    ENFORCED on every later ingest — a re-run with different
    ``(n_bits, n_hashes)`` raises instead of silently appending bit
    positions hashed under an incompatible geometry (ADVICE r12).
    ``n_bits`` must be a multiple of 64 and ``n_hashes >= 1``,
    matching the batch twin ``dedup.build_bloom``'s contract — the
    serving fold packs positions into 64-bit words, so a ragged width
    would otherwise get permanently pinned and break every serve.
    Exactly-once via :func:`_run_versioned_ingest` (tag
    ``bloom-ingest``)."""
    if n_bits <= 0 or n_bits % 64 != 0:
        raise ValueError("n_bits must be a positive multiple of 64")
    if n_hashes < 1:
        raise ValueError("n_hashes must be >= 1")

    stream = spark.readStream.schema(schema).parquet(src_dir)

    def fold(batch_df: DataFrame, batch_id: int, commit) -> None:
        if versioned.latest_version(f"{table_root}/positions") is None:
            versioned.commit_version(
                local_rows_df(
                    spark,
                    [(n_bits, n_hashes)], "n_bits int, n_hashes int"
                ),
                f"{table_root}/params",
                mode="overwrite",
                txn_id=f"bloom-params:{checkpoint}",
            )
        else:
            _assert_pinned_params(
                spark,
                f"{table_root}/params",
                {"n_bits": n_bits, "n_hashes": n_hashes},
                what="Bloom filter",
            )
        positions = batch_df.select(
            F.explode(
                F.array(
                    *[
                        F.pmod(
                            F.xxhash64(F.col(key_col), F.lit(i)),
                            F.lit(n_bits),
                        )
                        for i in range(n_hashes)
                    ]
                )
            ).alias("p")
        ).distinct()
        commit(
            positions,
            f"{table_root}/positions",
            "bloom-ingest",
        )

    _run_versioned_ingest(stream, checkpoint, fold)


def bloom_versioned(
    spark: SparkSession, table_root: str, version: int | None = None
) -> tuple[list[int], int, int]:
    """Materialize the maintained Bloom filter at any version:
    ``(words, n_bits, n_hashes)`` ready for
    ``dedup.bloom_might_contain``. The fold is a distinct over the
    position log — ≤ ``n_bits`` rows whatever the corpus size, the
    same bounded-model collect class as the filter itself."""
    p = versioned.read_version(spark, f"{table_root}/params").collect()[0]
    rows = (
        versioned.read_version(spark, f"{table_root}/positions", version=version)
        .distinct()
        .collect()
    )
    words = [0] * (p["n_bits"] // 64)
    for r in rows:
        words[r["p"] // 64] |= 1 << (r["p"] % 64)
    return words, p["n_bits"], p["n_hashes"]


def bloom_prefilter_versioned(
    spark: SparkSession,
    table_root: str,
    batch: DataFrame,
    key_col: str,
    version: int | None = None,
) -> DataFrame:
    """``dedup.bloom_prefilter_new`` against the MAINTAINED filter:
    rows the filter rejects are definitely new (no false negatives —
    the filter saw every ingested key at the probed version) and skip
    the exact-membership join; only ``bloom_maybe`` rows need it."""
    from incremental_github_data_pipeline_spark.operators.dedup import (
        bloom_might_contain,
    )

    words, n_bits, n_hashes = bloom_versioned(
        spark, table_root, version=version
    )
    return batch.withColumn(
        "bloom_maybe",
        bloom_might_contain(key_col, words, n_bits, n_hashes),
    )


def compact_cc_log(spark: SparkSession, table_root: str) -> int:
    """Semantic compaction for the connected-components upsert log
    (r12): rewrite the CURRENT version as the FOLDED labeling — the
    last upsert per node, exactly what :func:`cc_versioned` serves —
    committed as a new version. Unlike the generic
    ``sources.versioned.compact`` (byte-identical rewrite), this
    shrinks the log from O(upserts ever) to O(live nodes): relabel
    churn (every component merge re-appends the absorbed side)
    otherwise grows the log without bound. Serving over the folded
    log is identical by construction (the fold is idempotent); older
    versions stay time-travelable; OCC pins the tip so a concurrent
    ingest raises instead of being dropped."""
    cur = versioned.latest_version(table_root)
    if cur is None:
        raise ValueError("cannot compact an empty CC log")
    log = versioned.read_version(spark, table_root, version=cur)
    w = Window.partitionBy("id").orderBy(F.col("_seq").desc())
    folded = (
        log.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("id", "component", "_seq")
    )
    return versioned.commit_version(
        folded, table_root, mode="overwrite", expected_version=cur
    )
