#!/usr/bin/env python
"""Drive the driver contract end-to-end: entry() smoke + queries() vs
oracle_sql() on DuckDB. Exits nonzero on any mismatch.

Usage: python scripts/drive_contract.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import importlib.util
import os
import sys

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def load_entry():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", f"{REPO}/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare(sdf: pd.DataFrame, ddf: pd.DataFrame) -> tuple[bool, str]:
    cols = sorted(sdf.columns)
    if cols != sorted(ddf.columns):
        return False, f"schema: {cols} vs {sorted(ddf.columns)}"
    if len(sdf) != len(ddf):
        return False, f"rows: {len(sdf)} vs {len(ddf)}"
    a = sdf.reindex(cols, axis=1).copy()
    b = ddf.reindex(cols, axis=1).copy()
    for c in cols:
        for f in (a, b):
            if pd.api.types.is_datetime64_any_dtype(f[c]):
                s = pd.to_datetime(f[c])
                if getattr(s.dt, "tz", None) is not None:
                    s = s.dt.tz_convert("UTC").dt.tz_localize(None)
                f[c] = s
    a = a.sort_values(cols, na_position="first").reset_index(drop=True)
    b = b.sort_values(cols, na_position="first").reset_index(drop=True)
    for c in cols:
        if pd.api.types.is_float_dtype(a[c]) or pd.api.types.is_float_dtype(b[c]):
            import numpy as np

            if not np.allclose(
                a[c].astype(float).fillna(-9e18),
                b[c].astype(float).fillna(-9e18),
                rtol=1e-9,
            ):
                return False, f"float values differ in {c}"
        else:
            av = a[c].astype(str).where(~a[c].isna(), "<NA>")
            bv = b[c].astype(str).where(~b[c].isna(), "<NA>")
            if not (av == bv).all():
                i = (av != bv).idxmax()
                return False, f"values differ in {c} at {i}: {av[i]!r} vs {bv[i]!r}"
    return True, "ok"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    mod = load_entry()

    from dataflow_opinion_analysis_spark.session import get_spark

    # one task slot per core the process may run on
    cores = len(os.sched_getaffinity(0))
    spark = get_spark(app_name="drive_contract", master=f"local[{cores}]")
    rc = 0

    n = mod.entry(spark).count()
    print(f"entry(): {n} rows  OK")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, orc = mod.queries(), mod.oracle_sql()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: SPARK ERROR {e}")
            rc = 1
            continue
        if name not in orc:
            print(f"{name}: rows={len(sdf)} (no oracle — rows-only check)")
            continue
        try:
            ddf = con.execute(orc[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ORACLE ERROR {e}")
            rc = 1
            continue
        ok, msg = compare(sdf, ddf)
        print(f"{name}: rows={len(sdf)} {'MATCH' if ok else 'MISMATCH: ' + msg}")
        if not ok:
            rc = 1
    spark.stop()
    return rc


if __name__ == "__main__":
    sys.exit(main())
