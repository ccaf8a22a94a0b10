#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark and its oracle_sql() twin on DuckDB
at the same sf dir, compare row count + schema + order-insensitive values
(columns sorted by name, rows sorted, floats compared exactly after the
entry-level rounding).

The staged-tf gates (`STAGED_GATES`) compare only at the scale whose stage
their oracles read (`ORACLE_STAGE_SF`); elsewhere their Spark side runs and
the compare is reported as SKIP, counted apart from PASS and FAIL.

    python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].astype(np.float64).round(9)
        elif np.issubdtype(df[c].dtype, np.integer):
            df[c] = df[c].astype(np.int64)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from document_retrieval_spark.session import get_spark

    spark = get_spark(
        "parity", master="local[8]", shuffle_partitions=8,
        # progress bars end in \r, not \n: keep them off so every PASS/FAIL
        # line starts at column 0 of the log
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    off_stage = os.path.basename(os.path.normpath(sf_dir)) != entry_mod.ORACLE_STAGE_SF
    failures, skipped, passed = [], [], 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            skipped.append(name)
            print(f"SKIP  {name}: no oracle ({len(sdf)} rows, rows-only check)")
            continue
        if off_stage and name in entry_mod.STAGED_GATES:
            skipped.append(name)
            print(f"SKIP  {name}: oracle reads the {entry_mod.ORACLE_STAGE_SF} stage")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {e}")
            continue
        s, o = normalize(sdf), normalize(odf)
        status = "ok"
        if list(s.columns) != list(o.columns):
            status = f"SCHEMA spark={list(s.columns)} oracle={list(o.columns)}"
        elif len(s) != len(o):
            status = f"ROWCOUNT spark={len(s)} oracle={len(o)}"
        else:
            for c in s.columns:
                sv, ov = s[c].to_numpy(), o[c].to_numpy()
                if np.issubdtype(sv.dtype, np.floating):
                    eq = np.allclose(sv, ov, rtol=0, atol=1e-9, equal_nan=True)
                else:
                    eq = (sv == ov).all()
                if not eq:
                    bad = int(np.flatnonzero(~(sv == ov) if not np.issubdtype(sv.dtype, np.floating) else ~np.isclose(sv, ov, rtol=0, atol=1e-9))[0])
                    status = (f"VALUES col={c} row{bad}: "
                              f"spark={s.iloc[bad].to_dict()} oracle={o.iloc[bad].to_dict()}")
                    break
            # dtype drift report (informational)
            dt = {
                c: (str(s[c].dtype), str(o[c].dtype))
                for c in s.columns
                if str(s[c].dtype) != str(o[c].dtype)
            }
            if status == "ok" and dt:
                status = f"ok (dtype drift: {dt})"
        tag = "PASS " if status.startswith("ok") else "FAIL "
        if tag == "FAIL ":
            failures.append(name)
        else:
            passed += 1
        print(f"{tag} {name}: rows={len(s)} {status} [{time.time()-t0:.1f}s]")

    spark.stop()
    print(f"\n{passed} passed, {len(skipped)} skipped, {len(failures)} failures"
          + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
