"""CLI entry point — reference parity for ``./readport.py`` (A25).

Four mutually exclusive modes. The first two are the reference's, with
the same contract as readport.py:497-533:

    python -m tower_parse_spark --config device.conf [--out DIR]
        run the streaming ingest pipeline for one device profile
        (socket source -> parse -> exact-count packs -> parquet)

    python -m tower_parse_spark --echo HOST:PORT
        dump the raw line stream to stdout for format discovery (A4)

The other two run the analytic registry from the same entry point:

    python -m tower_parse_spark --query NAME [--sf-dir DIR] [--limit N]
        run one registry query (see --query list) and print the result
    python -m tower_parse_spark --explain NAME [--sf-dir DIR]
        print the query's optimized + physical plan (the plan-audit view)

The reference's --debug maps to --log-level.
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="tower_parse_spark")
    mode = p.add_mutually_exclusive_group(required=True)
    mode.add_argument("--config", help="device profile .conf (INI) path")
    mode.add_argument("--echo", metavar="HOST:PORT", help="dump raw lines")
    mode.add_argument(
        "--query",
        metavar="NAME",
        help="run one registry query ('list' prints all names)",
    )
    mode.add_argument(
        "--explain",
        metavar="NAME",
        help="print a registry query's optimized + physical plan",
    )
    p.add_argument("--out", default="./data", help="output base directory")
    p.add_argument(
        "--sf-dir",
        default=None,
        help="test-table directory for --query/--explain "
        "(default $SPARK_GRAFT_SF_DIR or /root/testdata/sf0.1)",
    )
    p.add_argument(
        "--limit", type=int, default=20, help="rows to show for --query"
    )
    p.add_argument("--log-level", default="WARN")
    p.add_argument(
        "--metrics",
        action="store_true",
        help="log per-batch heartbeat metrics (rows/s, batch ms) — A24",
    )
    return p


def parse_endpoint(raw: str) -> tuple[str, int]:
    """Validate IP:PORT exactly the reference's way (readport.py:748-755):
    urlparse against a tcp:// scheme (handles bracketed IPv6), the host
    must be a literal IP address, the port in urlparse's valid range;
    any failure exits 1 with the offending input echoed."""
    from ipaddress import ip_address
    from urllib.parse import urlparse

    try:
        parsed = urlparse(f"tcp://{raw}")
        host = str(ip_address(parsed.hostname))
        port = parsed.port
        assert host, "please provide a valid IP address"
        assert port, "please provide a valid port number"
    except (ValueError, AssertionError) as e:
        raise SystemExit(f"Failed to parse {raw!r} as IP:PORT: {e}") from None
    return host, port


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from tower_parse_spark.session import get_spark
    from tower_parse_spark.streaming import pipeline as P
    from tower_parse_spark.streaming import sources as SRC

    spark = get_spark("tower_parse_spark_cli")
    spark.sparkContext.setLogLevel(args.log_level)
    # `is not None`, not truthiness: argparse accepts --query '' (it
    # satisfies the required group), and the empty string must resolve
    # to "unknown query" below, not fall through to the config branch
    if args.query is not None or args.explain is not None:
        from tower_parse_spark.queries import registry
        from tower_parse_spark.session import DEFAULT_SF_DIR

        reg = registry()
        name = args.query if args.query is not None else args.explain
        if name == "list":
            for n, q in reg.items():
                print(f"{n}\t{q.doc}")
            return 0
        if name not in reg:
            raise SystemExit(
                f"unknown query {name!r} — run --query list for names"
            )
        sf_dir = args.sf_dir or DEFAULT_SF_DIR
        df = reg[name].fn(spark, sf_dir)
        if args.explain:
            df.explain("formatted")
        else:
            df.show(args.limit, truncate=False)
        return 0
    if args.echo:
        host, port = parse_endpoint(args.echo)
        q = P.echo(SRC.socket_lines(spark, host, port))
    else:
        from tower_parse_spark.plans.profile import DeviceProfile

        prof = DeviceProfile.from_ini(args.config)
        lines = SRC.socket_lines(spark, prof.host, prof.port)
        q = P.run_ingest(spark, prof, lines, args.out, metrics=args.metrics)
    try:
        q.awaitTermination()
    except KeyboardInterrupt:
        # first SIGINT = graceful drain (readport.py:48-61 semantics)
        P.stop_gracefully(q)
    return 0


if __name__ == "__main__":
    sys.exit(main())
