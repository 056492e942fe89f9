"""Data-quality drift monitors for semi-structured ingest: per-window
schema-key presence tracking over a JSON payload column.

No counterpart in the reference (`/root/reference` validates fixed
schemas only); [EXT] per SURVEY.md §2.10 — the upstream-broke-their-
export detector every long-running ingest pipeline needs: crawl
sources add, drop and rename JSON fields without notice, and the
failure mode is silent NULL floods downstream, not errors. Companion
to ``plans/expectations.py`` (which audits a KNOWN schema's
constraints; this one watches the schema itself move).

Scale shape (100 TB): key extraction is ``json_object_keys`` +
``explode`` — map-side, no UDF; the stats are one map-combined
aggregate on (window, key) plus a window-level row-count aggregate,
then everything after is (windows × keys)-sized — monitoring-table
small. The (window, key) shuffle key is as uniform as the key
vocabulary; a pathological single-key corpus just degenerates to the
window count.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from incremental_github_data_pipeline_spark.operators.core import per_row_stage
from incremental_github_data_pipeline_spark.sources.local import local_rows_df


__all__ = ["schema_drift_report", "volume_gate", "volume_gate_from_counts"]


def volume_gate(
    df: DataFrame,
    window_col: str,
    key_cols=None,
    trailing: int = 7,
    drop_ppm: int = 500_000,
    spike_ppm: int = 1_000_000,
) -> DataFrame:
    """Volume-anomaly circuit breaker (r10): per window (optionally
    per key), compare the row count against the LOWER MEDIAN of the
    previous ``trailing`` windows and flag ``drop`` (count fell more
    than ``drop_ppm`` below the median), ``spike`` (rose more than
    ``spike_ppm`` above), ``ok``, or ``warmup`` (fewer than
    ``trailing`` prior windows — no verdict without a full baseline).
    The ingest-freshness gate that catches a half-delivered day or a
    double-loaded feed BEFORE it trains into a model.

    The median is a selection from an at-most-``trailing``-element
    sorted array (collect_list over the moving frame) — exact,
    bounded, integer; deviations are integral ppm divisions, so the
    whole gate is engine-replayable. The counts frame is
    monitoring-sized (one row per window[, key]); without keys the
    ordering window runs on a single partition OF THAT TINY FRAME —
    a dashboard table, not a fact scan, stated on purpose."""
    keys = (
        [key_cols] if isinstance(key_cols, str) else list(key_cols or [])
    )
    counts = df.groupBy(*keys, window_col).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    return volume_gate_from_counts(
        counts, window_col, keys,
        trailing=trailing, drop_ppm=drop_ppm, spike_ppm=spike_ppm,
    )


def volume_gate_from_counts(
    counts: DataFrame,
    window_col: str,
    key_cols=None,
    trailing: int = 7,
    drop_ppm: int = 500_000,
    spike_ppm: int = 1_000_000,
) -> DataFrame:
    """The gate lanes of :func:`volume_gate` over a precomputed
    ``(keys…, window, n_rows)`` counts frame — the shared tail of the
    batch operator and the versioned serving twin (per-window counts
    are the gate's sufficient statistic, and counts fold by sum, so an
    incrementally-maintained counts log must gate identically)."""
    keys = (
        [key_cols] if isinstance(key_cols, str) else list(key_cols or [])
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*keys)
        .orderBy(window_col)
        .rowsBetween(-trailing, -1)
    )
    arr = F.array_sort(F.collect_list("n_rows").over(w))
    med = F.when(
        F.size(arr) >= trailing,
        F.element_at(arr, F.floor((F.size(arr) + 1) / 2).cast("int")),
    )
    out = counts.withColumn("trailing_median", med).withColumn(
        "dev_ppm",
        F.when(
            F.col("trailing_median").isNotNull(),
            F.expr(
                "(n_rows - trailing_median) * 1000000 div trailing_median"
            ),
        ),
    )
    status = (
        F.when(F.col("trailing_median").isNull(), F.lit("warmup"))
        .when(F.col("dev_ppm") < -F.lit(drop_ppm), F.lit("drop"))
        .when(F.col("dev_ppm") > F.lit(spike_ppm), F.lit("spike"))
        .otherwise(F.lit("ok"))
    )
    return out.withColumn("status", status)


def schema_drift_report(
    df: DataFrame,
    json_col: str,
    window_col: str,
    shift_ppm: int = 100_000,
    key_universe: Sequence[str] | None = None,
) -> DataFrame:
    """Per (window, key) presence audit over a JSON object column:
    ``n_rows`` (window volume), ``n_present`` (rows carrying the key),
    ``present_ppm`` (integer parts-per-million), ``prev_ppm`` (the
    previous window's ratio; NULL on each key's first window) and a
    ``status`` verdict:

    - ``baseline`` — the table's first window (nothing to compare),
    - ``new``      — key absent in the previous window, present now,
    - ``dropped``  — key present before, zero rows carry it now,
    - ``shifted``  — |present_ppm − prev_ppm| > ``shift_ppm``,
    - ``stable``   — everything else.

    The report is computed over the FULL (window × key-universe) grid
    (both monitoring-table small), so a key that vanishes still gets
    its ``dropped`` row — an explode-only pipeline would silently skip
    exactly the rows that matter. Integer ppm arithmetic end-to-end:
    the report is bit-reproducible in any engine that replays it.

    The key universe defaults to every key OBSERVED in at least one
    window — a key absent from the ENTIRE frame (e.g. retired before
    the audited range starts) gets no rows at all, by construction
    (r10 ADVICE: a data dependency, not a bug — the report can only
    audit keys it has evidence of). Pass ``key_universe`` to pin an
    explicit expected-key list instead: schema-registry-driven audits
    then report ``dropped``/0-ppm rows even for keys no surviving row
    carries."""
    keyed = df.select(
        F.col(window_col).alias("win"),
        F.json_object_keys(F.col(json_col)).alias("_keys"),
    )
    per_win = keyed.groupBy("win").agg(F.count(F.lit(1)).alias("n_rows"))
    # present feeds the key universe AND the grid join — materialize
    # the (window × key)-sized aggregate once so the payload scan (the
    # expensive column) runs exactly once; per_win's scan prunes down
    # to the window column alone
    present = (
        keyed.select("win", F.explode("_keys").alias("key"))
        .groupBy("win", "key")
        .agg(F.count(F.lit(1)).alias("n_present"))
        .localCheckpoint(eager=True)
    )
    if key_universe is not None:
        universe = local_rows_df(
            per_win.sparkSession,
            [(k,) for k in key_universe], "key string"
        )
    else:
        universe = present.select("key").distinct()
    grid = per_win.crossJoin(universe)
    stats = (
        grid.join(present, ["win", "key"], "left")
        .select(
            "win",
            "key",
            "n_rows",
            F.coalesce(F.col("n_present"), F.lit(0)).alias("n_present"),
        )
        .withColumn(
            "present_ppm",
            F.expr("n_present * 1000000 div n_rows"),
        )
    )
    from pyspark.sql import Window

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


def column_profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Per-column data-profiling audit (r11) — the governance summary a
    warehouse runs on every landed table: for each named column,
    ``n_rows``, ``n_null`` + ``null_ppm``, exact ``n_distinct``
    (non-null), the most frequent value as ``top_value`` (rendered to
    string; ties broken by smallest value — deterministic) with
    ``top_count`` and ``top_share_ppm``, and ``gini_ppm`` — the Gini
    impurity 1 − Σ (cᵢ/n)² of the non-null value distribution in ppm.
    Gini instead of Shannon entropy deliberately: entropy's ln is
    irrational, Gini is one exact fraction — Σ cᵢ² flows through
    DECIMAL(38,0) so petabyte-scale counts cannot overflow, and the
    final ppm is a floor ``div`` both engines evaluate identically.
    All-null columns keep their row with NULL top/gini lanes.

    Plan shape: ONE scan however many columns are profiled — rows melt
    to (column, value) pairs map-side (explode of a struct array), one
    map-combined (column, value) histogram shuffle, then a per-column
    1-row fold over the histogram. The shuffle carries value
    HISTOGRAMS, never rows; no driver-side count, no per-column
    re-scan (the q_doc_contained lesson applied at design time)."""
    return profile_from_hist(profile_histogram(df, cols))


def profile_histogram(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """The profile's sufficient statistic: the (column, value) -> count
    histogram, via a map-side melt (explode of a struct array) and one
    map-combined aggregate. ALGEBRAIC (counts add), which is what makes
    the profile incrementally maintainable — see
    ``streaming.incremental.run_incremental_profile_ingest``."""
    melted = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("_v"),
                    )
                    for c in cols
                ]
            )
        ).alias("s")
    ).select("s.column", "s._v")
    return melted.groupBy("column", "_v").agg(
        F.count(F.lit(1)).alias("_n")
    )


def profile_from_hist(hist: DataFrame) -> DataFrame:
    """Finish a profile from its histogram — shared by the batch
    operator and the versioned serving fold, so incremental and
    one-shot results agree by construction."""
    nn_n = F.when(F.col("_v").isNotNull(), F.col("_n"))
    agg = hist.groupBy("column").agg(
        F.sum("_n").alias("_rows"),
        F.coalesce(
            F.sum(F.when(F.col("_v").isNull(), F.col("_n"))), F.lit(0)
        ).alias("_nulls"),
        F.coalesce(F.sum(nn_n), F.lit(0)).alias("_nn"),
        F.count(nn_n).alias("n_distinct"),
        # min over (-count, value): largest count first, then the
        # SMALLEST value on ties — deterministic without a window
        F.min(
            F.when(
                F.col("_v").isNotNull(),
                F.struct(
                    (-F.col("_n")).alias("_negn"),
                    F.col("_v").alias("_v"),
                ),
            )
        ).alias("_top"),
        F.sum(
            F.when(
                F.col("_v").isNotNull(),
                F.col("_n").cast("decimal(38,0)") * F.col("_n"),
            )
        ).alias("_sumsq"),
    )
    return agg.select(
        "column",
        F.col("_rows").cast("long").alias("n_rows"),
        F.col("_nulls").cast("long").alias("n_null"),
        F.expr("(_nulls * 1000000) div _rows").cast("long").alias(
            "null_ppm"
        ),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        F.col("_top._v").alias("top_value"),
        (-F.col("_top._negn")).cast("long").alias("top_count"),
        F.when(
            F.col("_nn") > 0,
            F.expr("((-_top._negn) * 1000000) div _nn"),
        )
        .cast("long")
        .alias("top_share_ppm"),
        # Spark's `div` floors DECIMAL operands exactly like DuckDB's
        # HUGEINT // — no rounding-at-scale hazard from decimal `/`
        F.when(
            F.col("_nn") > 0,
            F.lit(1000000)
            - F.expr(
                "(_sumsq * 1000000) div "
                "(CAST(_nn AS DECIMAL(38,0)) * _nn)"
            ),
        )
        .cast("long")
        .alias("gini_ppm"),
    )


def parquet_layout(spark, paths: Sequence[str]) -> DataFrame:
    """Parquet physical-layout audit (r11) — the input to every
    compaction / small-file / row-group-sizing decision: per row group,
    ``(file_name, row_group, n_rows, n_columns,
    n_bytes_compressed)`` read from the FOOTER ONLY via pyarrow (no
    data pages touched — auditing a petabyte costs footer I/O). Paths
    are distributed one-per-task (``spark.createDataFrame`` over the
    path list, Arrow-batched footer reads where the metadata lives) —
    a million-file lake audits in parallel with no shuffle; the path
    LIST itself is table-catalog-sized, not data-sized. The footer
    fields (num_rows, num_columns, column-chunk total_compressed_size)
    are spec-defined, so an independent engine's metadata reader
    (DuckDB's parquet_metadata in the oracle twin) must agree
    byte-for-byte."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("file_name", StringType(), False),
            StructField("row_group", IntegerType(), False),
            StructField("n_rows", LongType(), False),
            StructField("n_columns", LongType(), False),
            StructField("n_bytes_compressed", LongType(), False),
        ]
    )

    def rows(r):
        import pyarrow.parquet as pq

        md = pq.ParquetFile(r.path).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            yield (
                os.path.basename(r.path), g, rg.num_rows, rg.num_columns,
                sum(
                    rg.column(i).total_compressed_size
                    for i in range(rg.num_columns)
                ),
            )

    paths_df = local_rows_df(spark, [(p,) for p in paths], "path string")
    return per_row_stage(
        paths_df.repartition(max(1, min(len(paths), 64))), schema, rows
    )
