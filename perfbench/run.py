"""Tower-ingest benchmark: one workload per invocation.

    python3 perfbench/run.py --workload live_ingest --seed 1 --seconds 20 --trace 0

Workloads (see BENCHMARK.json and perfbench/README.md):

- ``live_ingest``   open loop: a separate generator process spools wide
  frames at a fixed rate; the pack pipeline runs under a processing-time
  trigger.
- ``spool_backlog`` closed loop over a pre-spooled narrow backlog:
  streaming catch-up, batch backfill, read-back.

Run from the root of a checkout of the repository; the program is
imported from there. Everything the run writes goes under
``perfbench/_work`` (deleted at exit) and ``perfbench/_traces``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys

from harness import (
    END_TO_END,
    HERE,
    PER_LAYER,
    ROOT,
    WORKLOADS,
    Bench,
    configure_env,
    shutdown_jvm,
)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="tower-ingest benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import tower_parse_spark  # noqa: F401  -- fails here outside a checkout

    from spans import Tracer

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(HERE, "_work", run_id)
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(work)
    configure_env(work)

    runner = importlib.import_module(WORKLOADS[args.workload])
    tracer = Tracer(run_id, enabled=bool(args.trace))
    bench = Bench(args, work, tracer)
    try:
        measured = runner.run(bench)
        bench.mark("run")
    finally:
        bench.stop_session()
        shutdown_jvm()
        tracer.dump(os.path.join(HERE, "_traces", run_id + ".json"))
        shutil.rmtree(work, ignore_errors=True)

    bench.mark("end")
    print("phases: " + ", ".join(
        f"{name} {t - prev:.1f}s" for (name, t), (_, prev)
        in zip(bench.marks[1:], bench.marks)
    ), file=sys.stderr)
    failed = min(len(bench.errors), bench.attempted)
    for e in bench.errors[:20]:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    print(f"# {args.workload} seed={args.seed} K={bench.cpus} "
          f"trace={args.trace} attempted={bench.attempted} failed={failed} "
          f"failed_share={failed / max(bench.attempted, 1):.6f}")
    for name, (value, unit) in bench.summary.items():
        print(f"#   {name} = {value:.6g} {unit}")
    measured["success_share"] = 1.0 - failed / max(bench.attempted, 1)
    if args.trace:
        for name, seconds in tracer.self_times().items():
            measured.setdefault(f"self_s.{name}", seconds)
    wanted = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": not bench.errors,
        "attempted": int(bench.attempted),
        "failed": int(failed),
        "metrics": {
            name: {"value": float(measured.get(name, 0.0)), "unit": unit}
            for name, unit in wanted.items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
