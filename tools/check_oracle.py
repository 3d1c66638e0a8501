#!/usr/bin/env python
"""Local mimic of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares:

- row count,
- schema (column names; types normalized to a coarse lattice),
- order-insensitive value hash (rows sorted, columns sorted by name,
  values canonicalized: floats rounded to 9 significant-ish decimals,
  timestamps to ISO strings, NULL -> sentinel).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tower_parse_spark.session import TABLES, get_spark, table_path  # noqa: E402


def canon_value(v) -> str:
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        import datetime

        if isinstance(v, datetime.datetime):
            return v.isoformat(sep=" ")
        return v.isoformat()
    return str(v)


def value_hash(columns: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon_rows = sorted(
        "\x01".join(canon_value(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for r in canon_rows:
        h.update(r.encode("utf-8", "replace"))
        h.update(b"\x02")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = get_spark("check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )

    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {name}: spark raised")
            traceback.print_exc()
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb raised")
            traceback.print_exc()
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"schema spark={sorted(scols)} duck={sorted(dcols)}")
        if not problems:
            hs, hd = value_hash(scols, srows), value_hash(dcols, drows)
            if hs != hd:
                problems.append("value-hash mismatch")
                # show first differing canonical row for debugging
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                cs = sorted("\x01".join(canon_value(r[i]) for i in order_s) for r in srows)
                cd = sorted("\x01".join(canon_value(r[i]) for i in order_d) for r in drows)
                for a, b in zip(cs, cd):
                    if a != b:
                        print(f"  spark: {a[:300]!r}")
                        print(f"  duck : {b[:300]!r}")
                        break
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} ({time.time()-t0:.1f}s)")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
