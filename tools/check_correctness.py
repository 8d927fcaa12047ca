"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at
the given scale factor, then compares row count, column names, and values
(column-name-sorted, row-sorted). Exact match is the goal; a small float
tolerance fallback is reported separately so near-misses are visible.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod
from tern_ep_data_pipeline_spark.session import get_spark
from tern_ep_data_pipeline_spark.sources.tables import TABLES


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="last")


def _values_equal(a, b, tol=0.0) -> bool:
    if a is b:
        return True
    an = a is None or (isinstance(a, float) and math.isnan(a)) or a is pd.NaT or (a != a)
    bn = b is None or (isinstance(b, float) and math.isnan(b)) or b is pd.NaT or (b != b)
    if an or bn:
        return an and bn
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return a == b
        if fa == fb:
            return True
        return tol > 0 and abs(fa - fb) <= tol * max(1.0, abs(fa), abs(fb))
    return a == b


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> tuple[str, str]:
    if len(sdf) != len(odf):
        return "ROWS", f"spark={len(sdf)} oracle={len(odf)}"
    if sorted(sdf.columns) != sorted(odf.columns):
        return "SCHEMA", f"spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
    a, b = _canon(sdf), _canon(odf)
    exact_bad = approx_bad = 0
    first_diff = ""
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if not _values_equal(x, y):
                exact_bad += 1
                if not _values_equal(x, y, tol=1e-9):
                    approx_bad += 1
                if not first_diff:
                    first_diff = f"col={c} row={i}: spark={x!r} oracle={y!r}"
    if exact_bad == 0:
        return "OK", ""
    if approx_bad == 0:
        return "APPROX", f"{exact_bad} cells differ <1e-9; first: {first_diff}"
    return "VALUES", f"{approx_bad} cells differ >1e-9; first: {first_diff}"


def main() -> int:
    if {"-h", "--help"} & set(sys.argv[1:]):
        print(__doc__)
        return 0
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    from tern_ep_data_pipeline_spark.operators.dedup import release_staged

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
            release_staged(spark)  # drop per-query staged persists
        except Exception as exc:
            failures.append(name)
            print(f"[SPARK-ERR] {name}: {type(exc).__name__}: {str(exc)[:300]}")
            continue
        if name not in oracles:
            print(f"[ROWSONLY ] {name}: {len(sdf)} rows, cols={list(sdf.columns)} ({time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as exc:
            failures.append(name)
            print(f"[ORACLE-ERR] {name}: {str(exc)[:300]}")
            continue
        status, detail = compare(name, sdf, odf)
        tag = {"OK": "ok", "APPROX": "~~", "ROWS": "!!", "SCHEMA": "!!", "VALUES": "!!"}[status]
        print(f"[{tag} {status:6s}] {name}: rows={len(sdf)} ({time.time()-t0:.1f}s) {detail}")
        if status not in ("OK",):
            failures.append(name)
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL MATCH")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
