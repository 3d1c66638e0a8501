#!/usr/bin/env python
"""Strict pandas-level mimic of the driver's t2 correctness gate.

The driver (see its r1 artifacts, HISTORY.md) canonicalizes results
as *pandas DataFrames*: Spark via ``toPandas()``-style conversion, DuckDB
via ``.df()``, then sorts columns by name, ``sort_values`` over all
columns, and value-hashes.  That pipeline is dtype-sensitive in ways the
row-tuple checker (tools/check_oracle.py) is not:

- DuckDB HUGEINT (``sum()`` of integers) -> float64/object, while Spark
  BIGINT -> int64 (r1 ``priority_ship_stats``/``text_token_stats`` fails);
- list-valued cells crash ``sort_values`` (r1 ``customer_order_arrays``);
- float columns hash by repr, so any bit-level difference matters.

This checker therefore compares at the pandas level and FAILS on:
- dtype-kind mismatch per column (int vs float vs object vs datetime);
- unsortable (unhashable) cell types;
- any value inequality after column+row sort (floats: exact bitwise,
  with a near-miss diagnostic when |a-b| is tiny).

Passing here is the strongest local predictor we have that the driver's
hash will match.  Usage::

    python tools/check_driver_mimic.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tower_parse_spark.session import TABLES, get_spark, table_path  # noqa: E402


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """The driver's canonicalization shape: columns sorted by name, rows
    sorted by all columns (raises TypeError on unhashable cells, exactly
    like the driver did on r1 customer_order_arrays)."""
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _kind(dtype) -> str:
    k = getattr(dtype, "kind", "O")
    # unify signed/unsigned ints; datetimes regardless of unit
    return {"u": "i"}.get(k, k)


def compare(name: str, sdf: pd.DataFrame, ddf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(sdf) != len(ddf):
        problems.append(f"rowcount spark={len(sdf)} duck={len(ddf)}")
    if sorted(sdf.columns) != sorted(ddf.columns):
        problems.append(
            f"schema spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}"
        )
        return problems
    try:
        s = _canon(sdf)
    except TypeError as e:
        return problems + [f"spark side unsortable (driver ERR class): {e}"]
    try:
        d = _canon(ddf)
    except TypeError as e:
        return problems + [f"duck side unsortable (driver ERR class): {e}"]
    if problems:
        return problems
    for col in s.columns:
        ks, kd = _kind(s[col].dtype), _kind(d[col].dtype)
        if ks != kd:
            problems.append(
                f"dtype kind mismatch {col}: spark={s[col].dtype} duck={d[col].dtype}"
            )
            continue
        a, b = s[col], d[col]
        if ks == "M":
            eq = a.astype("datetime64[us]").equals(b.astype("datetime64[us]"))
        elif ks == "i":
            # width-insensitive: the driver hashes the string repr, where
            # int32(5) == int64(5); only the int-vs-float boundary matters.
            eq = a.astype("int64").equals(b.astype("int64"))
        elif ks == "f":
            av, bv = a.to_numpy(), b.to_numpy()
            both_nan = np.isnan(av) & np.isnan(bv)
            eq = bool(np.all((av == bv) | both_nan))
            if not eq and np.allclose(av, bv, rtol=0, atol=1e-9, equal_nan=True):
                problems.append(
                    f"value near-miss {col}: bitwise-unequal floats within 1e-9 "
                    "(order-dependent double agg? quantize both sides)"
                )
                continue
        else:
            eq = a.equals(b)
        if not eq:
            neq = None
            try:
                mask = ~(a == b)
                if ks == "f":
                    mask &= ~(a.isna() & b.isna())
                else:
                    mask &= ~(a.isna() & b.isna())
                idx = mask[mask].index
                if len(idx):
                    i = idx[0]
                    neq = f" first diff row {i}: spark={a[i]!r} duck={b[i]!r}"
            except Exception:
                pass
            problems.append(f"value mismatch {col}:{neq or ''}")
    return problems


def main() -> int:
    argv = [a for a in sys.argv[1:] if not a.startswith("--")]
    json_out = next(
        (a.split("=", 1)[1] for a in sys.argv[1:] if a.startswith("--json=")),
        None,
    )
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = get_spark("check_driver_mimic")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )

    n_pass = n_fail = n_rows_only = 0
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL {name}: spark raised")
            traceback.print_exc()
            results[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": None, "oracle_rows": None,
                "err": traceback.format_exc()[-500:],
            }
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            results[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": len(sdf), "oracle_rows": None, "err": None,
            }
            n_rows_only += 1
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception:
            print(f"FAIL {name}: duckdb raised")
            traceback.print_exc()
            results[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": len(sdf), "oracle_rows": None,
                "err": traceback.format_exc()[-500:],
            }
            n_fail += 1
            continue
        problems = compare(name, sdf, ddf)
        results[name] = {
            "rows_match": len(sdf) == len(ddf),
            "schema_match": sorted(sdf.columns) == sorted(ddf.columns),
            "hash_match": not problems,
            "spark_rows": len(sdf),
            "oracle_rows": len(ddf),
            "err": "; ".join(problems) if problems else None,
        }
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} ({time.time()-t0:.1f}s)")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1

    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(results, f, indent=2)
        print(f"wrote {json_out}")
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
