#!/usr/bin/env python
"""Dump `explain("formatted")` for registry queries into plans/r<N>/.

Optimization-round evidence (guide §1.1/§7.2): the judge cannot run
Spark, so every before/after plan claim in OPTIMIZATION_r*.md is backed
by a committed `plans/r<N>/<query>_<tag>.txt` produced here.

Usage:
  python tools/plan_dump.py <round> <tag> [sf_dir] [name ...]
  # e.g. python tools/plan_dump.py 16 before /root/testdata/sf0.1
  #      python tools/plan_dump.py 16 after /root/testdata/sf0.1 doc_chunking

Streaming-family queries execute their micro-batch loop while the
DataFrame is built; their dump covers the returned results relation.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def dump_plans(spark, out_dir: str, tag: str, sf_dir: str, names=None) -> list:
    from tower_parse_spark.queries import registry

    reg = registry()
    todo = list(reg) if not names else [n for n in names if n in reg]
    os.makedirs(out_dir, exist_ok=True)
    written = []
    for name in todo:
        df = reg[name].fn(spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        written.append(path)
    return written


def main() -> int:
    rnd, tag = sys.argv[1], sys.argv[2]
    rest = sys.argv[3:]
    sf_dir = rest[0] if rest and os.path.isdir(rest[0]) else DEFAULT_SF_DIR
    names = rest[1:] if rest and os.path.isdir(rest[0]) else rest

    from tower_parse_spark.session import get_spark

    spark = get_spark("plan_dump")
    spark.sparkContext.setLogLevel("ERROR")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(repo, "plans", f"r{rnd}")
    written = dump_plans(spark, out_dir, tag, sf_dir, names or None)
    print(f"wrote {len(written)} plans to {out_dir}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
