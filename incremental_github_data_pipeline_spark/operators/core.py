"""Core relational operators (SURVEY.md §2.2-2.6) as composable
DataFrame→DataFrame functions.

Everything here is declarative — each function only *extends the logical
plan*; Catalyst handles pruning/pushdown/join strategy. No collects, no
driver-side loops: every operator is a constant-depth plan transformation
regardless of data size, so the same code runs at sf0.001 and at 100 TB.
The one stage that runs Python per row, :func:`per_row_stage`, is the
shell every payload decoder, chunker and per-row tokenizer pass shares.

Reference citations are /root/reference/<file>:<lines>.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

SEQ_COL = "_seq"


def sized_range(spark, n: int, rows_per_part: int = 65536) -> DataFrame:
    """``spark.range(n)`` with a SIZE-derived partition count (r16,
    guide §2: scale-adaptive partitioning, never a constant tuned for
    one core count). Bare ``spark.range(n)`` always splits into
    ``defaultParallelism`` pieces — a 400-row node table arrives as 32
    near-empty partitions, and every loop round that unions or joins it
    drags ~32 no-op tasks per stage through the scheduler (the graph
    loops measured 1,000+ tiny tasks per evaluation from exactly this).
    One partition per ``rows_per_part`` rows keeps small dimension
    frames at 1 partition and lets a 10⁹-row range fan out to ~15k —
    proportional at every scale, identical rows either way."""
    return spark.range(0, n, 1, max(1, -(-n // rows_per_part)))


def ensure_min_partitions(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition IFF the plan currently has fewer
    partitions than ``min_partitions`` (default: cluster default
    parallelism).

    Why: CPU-heavy map work (minhash/simhash signatures, embedding
    math) is parallelized by input splits. A small table in one parquet
    row group scans as ONE task and serializes the whole computation on
    one core. At real scale (thousands of splits) the condition is
    false and this is a zero-cost no-op — the guard means we never pay
    a full-table shuffle on genuinely large inputs.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def per_row_stage(
    df: DataFrame, schema: StructType, rows, where=None, on_error: str = "raise"
) -> DataFrame:
    """The one ``mapInPandas`` call of every per-row stage (payload
    decoders, chunkers, tokenizer passes): each Arrow batch becomes one
    pandas frame of what ``rows(r)`` yields for each input row ``r`` (an
    ``itertuples`` record) — tuples in ``schema`` order, zero or more
    per row. A batch with no output rows still yields an empty frame
    with the schema's columns. ``where``, when given, filters the input
    first (a stage's mime or kind gate).

    ``on_error="raise"`` fails the job on the first bad row;
    ``"skip"`` drops every input row whose ``rows`` raises
    ``ValueError`` (``UnicodeDecodeError`` included). A row's outputs
    are collected in full before any is kept, so a payload that fails
    on its third member drops whole — never its first two members
    alone. Skipped ids can be recovered with a ``left_anti`` join."""
    if on_error not in ("raise", "skip"):
        raise ValueError("on_error must be 'raise' or 'skip'")
    names = schema.fieldNames()

    def batches(it):
        import pandas as pd

        for pdf in it:
            out = []
            for r in pdf.itertuples(index=False):
                try:
                    got = list(rows(r))
                except ValueError:
                    if on_error == "raise":
                        raise
                    continue
                out += got
            yield pd.DataFrame(out, columns=names)

    if where is not None:
        df = df.filter(where)
    return df.mapInPandas(batches, schema)


def with_input_seq(df: DataFrame, seq_col: str = SEQ_COL) -> DataFrame:
    """Attach an explicit arrival-order column.

    The reference's keep-last dedup (transform.py:135-138 etc.) leans on
    pandas preserving input order. Distributed scans have no implicit
    order, so recency must be a *column*. ``monotonically_increasing_id``
    is non-decreasing within a partition and partition-prefixed, which
    reproduces file/arrival order for ordered single-source reads; for
    real recency semantics prefer a data column (e.g. ``updated_at``).
    """
    return df.withColumn(seq_col, F.monotonically_increasing_id())


def select_rename(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """P1+P2 — projection with rename, in mapping order.

    ``mapping`` is {source_expr: target_name}; dotted paths select struct
    fields (pd.json_normalize parity, transform.py:83,213,352 — struct
    field access replaces the flatten step entirely).
    """
    return df.select([F.col(src).alias(dst) for src, dst in mapping.items()])


def drop_null_keys(df: DataFrame, subset: Iterable[str]) -> DataFrame:
    """P3 — reject rows with NULL in any required key column
    (``dropna(subset=...)``, transform.py:125-131, :247-254, :369-371).
    Expressed as a conjunctive filter so it pushes down to the scan.
    """
    cond = None
    for c in subset:
        clause = F.col(c).isNotNull()
        cond = clause if cond is None else cond & clause
    return df.filter(cond) if cond is not None else df


def dedupe_keep_last(
    df: DataFrame, keys: list[str], order_by: Column | str | None = None
) -> DataFrame:
    """A1/W1 — ``drop_duplicates(subset=keys, keep='last')``
    (transform.py:135-138, :256-259, :373-376).

    pandas keep='last' = latest arrival wins. Spark's ``dropDuplicates``
    keeps an *arbitrary* row, so the correct mapping is a recency window:
    row_number over (partition by keys order by recency desc) == 1.
    ``order_by`` defaults to the injected ``_seq`` column (see
    :func:`with_input_seq`).

    Scale note: this is one shuffle on ``keys``; with AQE skew-join/
    partition coalescing it stays balanced. It beats a groupBy+max_by
    struct-pack only when few columns; window+filter keeps all columns
    with a single exchange either way.
    """
    order = F.col(SEQ_COL) if order_by is None else (
        F.col(order_by) if isinstance(order_by, str) else order_by
    )
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(order.desc())
    out = df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    return out.drop(SEQ_COL) if order_by is None else out


def dedupe_keep_first(df: DataFrame, keys: list[str]) -> DataFrame:
    """A2 — ``drop_duplicates(subset=keys)`` where duplicates are exact
    on all retained columns (users/owners: key is uuid5 of the only other
    column — transform.py:438,449-451,479), so ``dropDuplicates`` is
    semantically safe and cheaper than a window (partial aggregation
    map-side before the shuffle).
    """
    return df.dropDuplicates(keys)


def cast_schema(df: DataFrame, casts: Mapping[str, str]) -> DataFrame:
    """P6/P8 — dict-at-once cast (``astype``, transform.py:165-180 etc.).

    Spark ints are natively nullable, so pandas' Int64-vs-int64 split
    disappears; booleans destined for SQL BIT cast via boolean→long.
    """
    return df.withColumns({c: F.col(c).cast(t) for c, t in casts.items()})


def parse_timestamps_utc(df: DataFrame, cols: Iterable[str]) -> DataFrame:
    """P7/F4 — ``pd.to_datetime(errors='coerce', utc=True)``
    (transform.py:186-192, :324-331). ``try_to_timestamp`` yields NULL on
    parse failure ≙ coerce; session tz is pinned to UTC in session.py.

    GitHub API timestamps are ISO-8601 Zulu; cast handles both those and
    already-typed timestamp columns.
    """
    return df.withColumns(
        {c: F.try_to_timestamp(F.col(c).cast("string")) for c in cols}
    )


def collapse_array(col: Column | str, sep: str = ",") -> Column:
    """P9/F2 — ``','.join(x) if isinstance(x, list) else None``
    (transform.py:182-184). Empty list → '' (pandas join parity); NULL /
    non-array → NULL.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isNotNull(), F.array_join(c, sep))


def collapse_struct_array(
    col: Column | str, field: str = "name", sep: str = ","
) -> Column:
    """P10 — ``','.join(l['name'] for l in labels) if labels else None``
    (transform.py:335-339). NULL or *empty* list → NULL (note: unlike P9,
    the reference's `and labels` makes empty → None here).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        c.isNotNull() & (F.size(c) > 0),
        F.array_join(F.transform(c, lambda x: x[field]), sep),
    )


def resolve_fk(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    key: str,
    drop_orphans: bool = True,
    broadcast_dim: bool = True,
    audit: dict | None = None,
) -> DataFrame:
    """J1/J2 + J3 — resolve a natural key to a surrogate FK.

    Left equi-join fact→dim on ``on`` pulling ``key``
    (transform.py:290-295, :391-396), drop the natural key (P13), then
    orphan audit + drop (transform.py:301-308). ``audit`` (if given) gets
    ``{'orphans': <accumulating count column name>}`` recorded via
    ``observe`` so the FK-enforcement count (A4) costs no extra action.

    The dim side in this workload is tiny (repos=300 rows) → broadcast
    hash join, no shuffle of the fact side. At 100 TB the fact side
    streams through map tasks; only if the dim outgrew the broadcast
    threshold would this degrade to a shuffle join (AQE decides).

    ``drop_orphans=True`` applies J3 uniformly — including the branches
    path the reference forgot (SURVEY.md §4.4 deviation 3).
    """
    d = dim.select(key, on)
    if broadcast_dim:
        d = F.broadcast(d)
    joined = fact.join(d, on=on, how="left").drop(on)
    if audit is not None:
        # ``audit['observation']`` (a pyspark.sql.Observation) makes the
        # orphan count retrievable driver-side via ``.get`` after the
        # next action; a bare name records a plan-level named metric.
        target = audit.get("observation") or audit.get("name", "fk_orphans")
        joined = joined.observe(
            target, F.count(F.when(F.col(key).isNull(), 1)).alias("orphans")
        )
    if drop_orphans:
        joined = joined.filter(F.col(key).isNotNull())
    return joined


def union_conform(
    dfs: Iterable[DataFrame], mappings: Iterable[Mapping[str, str]]
) -> DataFrame:
    """U1 — rename each input to the common schema, UNION ALL by name
    (transform.py:417-434). Callers follow with dedup for UNION DISTINCT
    semantics. The reference's empty typed seed-frame concat
    (transform.py:442-445) is a schema anchor with no row effect — the
    explicit mappings here make it unnecessary.
    """
    parts = [select_rename(df, m) for df, m in zip(dfs, mappings)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
