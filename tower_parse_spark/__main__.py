"""CLI entry point — reference parity for ``./readport.py`` (A25).

Two mutually exclusive modes, same contract as readport.py:497-533:

    python -m tower_parse_spark --config device.conf [--out DIR]
        run the streaming ingest pipeline for one device profile
        (socket source -> parse -> exact-count packs -> parquet)

    python -m tower_parse_spark --echo HOST:PORT
        dump the raw line stream to stdout for format discovery (A4)

Beyond reference parity, the analytic registry is runnable from the
same entry point:

    python -m tower_parse_spark --query NAME [--sf-dir DIR] [--limit N]
        run one registry query (see --query list) and print the result
    python -m tower_parse_spark --explain NAME [--sf-dir DIR]
        print the query's optimized + physical plan (the plan-audit view)
    python -m tower_parse_spark --curate DIR --model PATH [--out DIR]
                                [--lm-model PATH]
        stream-curate a document spool: watch DIR for jsonl files
        ({"doc_id": long, "text": str} per line), quality-gate each
        micro-batch against the saved NB model artifact, optionally
        perplexity-gate survivors against a saved bigram-LM artifact
        (save_bigram_lm; CCNet tail-bucket rejection), near-dup-gate
        survivors against the growing signature index, and land
        accepted/rejected/verdicts/index under --out (exactly-once
        batch=N partitions; streaming/curation.py)

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
    mode.add_argument(
        "--curate",
        metavar="DIR",
        help="stream-curate a jsonl document spool directory",
    )
    mode.add_argument(
        "--phash-dedup",
        metavar="DIR",
        help="stream-dedup a perceptual-hash spool directory (jsonl "
        'rows {"doc_id": long, "phash": long} from with_phash, '
        "stub or phash_real: P6 PPM and PNG without dependencies, "
        "anything else through Pillow) against a "
        "growing Hamming-banded index under --out",
    )
    mode.add_argument(
        "--compact-index",
        metavar="DIR",
        help="compact a near-dup signature index (merge batch "
        "partitions and the partitioned-gate sidecar); run with the "
        "stream STOPPED or --through-batch strictly below the next "
        "epoch id",
    )
    p.add_argument(
        "--through-batch",
        type=int,
        default=None,
        help="highest batch id to fold into the compacted partition "
        "(default: the highest batch present in the index MINUS ONE — "
        "the last epoch may replay after a non-graceful stop and must "
        "not find its own rows compacted; pass =max explicitly only "
        "when the checkpoint is known committed through max)",
    )
    p.add_argument(
        "--rebit",
        type=int,
        default=None,
        metavar="BITS",
        help="with --compact-index: REBUILD the partitioned-gate "
        "sidecar from the full index at this geometry (bits, multiple "
        "of 64 — e.g. 17179869184 for 2^34) instead of merging the "
        "old-geometry deltas; the offline migration for a deployment "
        "raising bloom.PART_GATE_BITS near FP saturation (the running "
        "stream must be configured with the same raised constant)",
    )
    p.add_argument(
        "--model",
        help="quality-model artifact path (save_quality_model) for --curate",
    )
    p.add_argument(
        "--compact-every",
        type=int,
        default=None,
        metavar="K",
        help="with --curate: auto-compact the near-dup index and gate "
        "sidecars every K epochs from inside the stream (bounded "
        "partition counts without the manual --compact-index CLI; "
        "safety argument in neardup.process_epoch's docstring)",
    )
    p.add_argument(
        "--lm-model",
        help="optional bigram-LM artifact path (save_bigram_lm) for "
        "--curate's perplexity gate",
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


def start_phash_dedup(
    spark,
    spool_dir: str,
    out: str,
    compact_every: int | None = None,
):
    """Start the streaming perceptual near-dup query for the
    --phash-dedup mode (split out so tests can drive it with
    processAllAvailable). The spool rows carry 32-bit hashes produced
    upstream by ``with_phash`` (the stub hasher, or ``phash_real``,
    which decodes P6 PPM and PNG without dependencies and needs Pillow
    for anything else). Sinks under *out*:
    verdicts/ index/ checkpoint/ — the same exactly-once ``batch=N``
    layout every streaming sink here uses."""
    from tower_parse_spark.streaming.phash_index import stream_phash_dedup

    hashes = (
        spark.readStream.schema("doc_id long, phash long")
        .json(spool_dir)
    )
    return stream_phash_dedup(
        hashes,
        f"{out}/index",
        f"{out}/verdicts",
        f"{out}/checkpoint",
        compact_every=compact_every,
    )


def start_curate(
    spark,
    spool_dir: str,
    model_path: str | None,
    out: str,
    lm_model_path: str | None = None,
    compact_every: int | None = None,
):
    """Start the streaming curation query for the --curate mode (split
    out so tests can drive it with processAllAvailable instead of
    awaitTermination). Sinks live under *out*: accepted/ rejected/
    verdicts/ index/ checkpoint/. *lm_model_path* arms the optional
    perplexity gate (a save_bigram_lm artifact; its meta sidecar is
    validated on load, so a stale or foreign artifact refuses instead
    of silently mis-scoring)."""
    if not model_path:
        raise SystemExit("--curate requires --model (a saved NB artifact)")
    from tower_parse_spark.operators.classifier import load_quality_model
    from tower_parse_spark.streaming.curation import stream_curate

    model = load_quality_model(spark, model_path)
    lm = None
    if lm_model_path:
        from tower_parse_spark.operators.lm import load_bigram_lm

        lm = load_bigram_lm(spark, lm_model_path)
    docs = (
        spark.readStream.schema("doc_id long, text string")
        .json(spool_dir)
    )
    return stream_curate(
        docs,
        model,
        f"{out}/index",
        f"{out}/accepted",
        f"{out}/rejected",
        f"{out}/verdicts",
        f"{out}/checkpoint",
        lm=lm,
        compact_every=compact_every,
    )


def run_compact_index(
    spark,
    index_path: str,
    through_batch: int | None,
    rebit: int | None = None,
) -> int:
    """The --compact-index maintenance mode: fold the signature index's
    ``batch=N`` partitions AND its partitioned-gate ``_bloom_part``
    sidecar (when one exists) through *through_batch* — default the
    highest batch present MINUS ONE (ADVICE r13): a non-gracefully
    stopped stream replays its last epoch on restart, and that
    replayed probe at N=max must not read its own rows folded into
    batch=0 (self-flagging, plus a duplicate row set in the index) —
    only epochs that can no longer replay are compacted by default.
    Pass --through-batch explicitly (e.g. =max) only when the
    checkpoint is known committed through max. Prints one JSON line
    per compaction so operators can log the row/partition deltas."""
    import json

    from pyspark.sql import functions as F

    from tower_parse_spark.streaming import neardup as ND

    if through_batch is None:
        batches = (
            spark.read.option("basePath", index_path)
            .parquet(index_path)
            .select(F.max(F.col("batch").cast("long")).alias("m"))
            .collect()
        )
        max_batch = (
            int(batches[0]["m"])
            if batches and batches[0]["m"] is not None
            else 0
        )
        through_batch = max(max_batch - 1, 0)
    idx = ND.compact_minhash_index(spark, index_path, through_batch)
    print(json.dumps({"index": idx, "through_batch": through_batch}))
    if rebit is not None:
        # geometry migration replaces the sidecar wholesale — merging
        # the old-geometry deltas first would be wasted work
        gate = ND.rebit_part_gate(spark, index_path, n_bits=rebit)
        print(json.dumps({"part_gate_rebit": gate}))
    else:
        gate = ND.compact_part_gate(spark, index_path, through_batch)
        print(json.dumps({"part_gate": gate, "through_batch": through_batch}))
    # literal band-gate history: each epoch's cumulative one-row bloom
    # (~8 MB at the cap) below through_batch is dead weight — a replayed
    # epoch at max reads row max-1 == through_batch, which survives
    pruned = ND.prune_gate_history(spark, index_path, through_batch)
    print(json.dumps({"gate_rows_pruned": pruned}))
    return 0


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
    if args.compact_index is not None:
        return run_compact_index(
            spark, args.compact_index, args.through_batch, rebit=args.rebit
        )
    if args.phash_dedup is not None:
        q = start_phash_dedup(
            spark, args.phash_dedup, args.out,
            compact_every=args.compact_every,
        )
    elif args.curate:
        q = start_curate(
            spark, args.curate, args.model, args.out, args.lm_model,
            compact_every=args.compact_every,
        )
    elif args.echo:
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
