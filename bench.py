#!/usr/bin/env python
"""Benchmark harness — the driver's per-round BENCH_r{N}.json feed.

Runs the engine's headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": N}.

Each query is materialized with the noop sink (full distributed execution,
no driver-side collect — the time measures the plan, not row transfer).
A warm-up query first absorbs JVM/codegen startup, and each query is
timed twice with the best run reported: sub-second queries scatter
±0.3 s run-to-run on a busy JVM, and best-of-2 reports the plan's
steady state rather than GC luck. Queries whose best-of-2 lands under
FAST_QUERY_SEC get a THIRD sample (r13, VERDICT r12 #2): every round
since r8 flagged a disjoint sub-second query at the regression gate —
±30-40% spread on 0.3-1 s queries is pure measurement noise, and each
flag cost a standalone interleaved A/B to adjudicate. Best-of-3
tightens the minimum's distribution exactly where the noise lives, at
~1 s/query extra for the sub-second tail.

Noise is reported, not guessed (VERDICT r4 item 2 — the same code
measured 61.3 s on the driver and 50.8 s locally, ±20%): the output
carries every individual run time ("runs") plus a per-query relative
spread and its median ("noise_median_pct"), so a cross-round per-query
regression check can ask "is this delta outside the measured run-to-run
spread?" instead of comparing two single samples. Both lines also
carry "cal" (r9) — a fixed machine-speed probe that moves with
whole-run level drift so tools/bench_regress.py can divide it out
(see calibrate()).

``--all`` benches every registry query instead of the headline set
(one-off sweep for sleeper-plan detection — VERDICT r4 item 8).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# NOTE: no pyspark import at module level — tools/bench_regress.py and
# the contract tests import this module ONLY for its constants and
# pure-Python helpers (compact_line, run_suite), and must not pay the
# multi-second pyspark import (or silently fall back to stale hardcoded
# constants when it fails). get_spark is imported inside main().

# Representative headline set: relational (scan/join/agg/window), ingest
# (regex extract + count packs), and the LLM-pipeline families (dedup,
# similarity, text analysis, multimodal plumbing).
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q16_supplier_counts",
    "q17_small_quantity_revenue",
    "q21_blame_suppliers",
    "q11_important_parts",
    "top_customers_per_nation",
    "running_revenue_by_nation",
    "revenue_rollup",
    "lineitem_math_functions",
    "priority_ship_stats",
    "customer_order_arrays",
    "ingest_extract_probe",
    "ingest_pack_scalable",
    "ingest_multiformat",
    "events_tumbling_window",
    "events_sessionize",
    "events_session_window",
    "events_asof_order",
    "events_order_range_join",
    "events_time_rollup",
    "orders_with_returns",
    "dedup_exact",
    "dedup_passages",
    "boilerplate_removal",
    "split_leakage_check",
    "incremental_exact_dedup",
    "incremental_minhash_dedup",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "source_overlap_minhash",
    "dedup_embedding_cosine",
    "dedup_cluster_resolution",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_ivfpq_topk",
    "embedding_cluster_stats",
    "decontaminate_ngram",
    "decontaminate_fuzzy",
    "train_val_split",
    "market_share_by_year",
    "text_quality",
    "text_token_stats",
    "text_fingerprint",
    "text_pii_redact",
    "multimodal_decode",
    "training_data_pipeline",
    "doc_chunking",
    "sequence_packing",
    "streaming_late_data",
    "text_repetition",
    "text_tfidf_topterms",
    "quality_filter_funnel",
    "domain_curation",
    "semantic_dedup",
    "multimodal_near_dup",
    "streaming_minhash_dedup",
    "gopher_quality",
    "line_cleaning",
    "domain_reweight",
    "decontaminate_semantic",
    "perplexity_filter",
    "quality_classifier",
    "token_count_bpe",
]


def materialize(df) -> None:
    """Execute the full plan distributed-side; no rows cross to the driver."""
    df.write.format("noop").mode("overwrite").save()


#: driver stdout tail keeps ~2 kB and parses the final line; the compact
#: line must stay under this no matter how the registry grows
COMPACT_LINE_BUDGET = 1900

#: calibration probe size PER SLOT: ~1-2 s of pure JVM compute total at
#: local[32] (32 slots x 37.5M rows = the fixed 1.2B-row probe r9
#: introduced). Sizing from defaultParallelism keeps the probe's cost
#: AND its parallelism proportional to the machine the suite itself
#: runs at (ADVICE r9: a fixed 1.2B/32 probe adds tens of seconds on a
#: small box and stops tracking the suite's scaling there); on this
#: 32-core box the numbers are bit-identical to the r9 probe, so
#: cal values stay comparable across the r9->r10 artifact pair.
CAL_ROWS_PER_SLOT = 37_500_000

#: queries whose best-of-2 lands under this take a third timing sample
#: (VERDICT r12 #2). 1.5 s splits the registry where the noise class
#: lives: the r8/r10/r11/r12 false regression flags were all 0.3-1 s
#: queries with 30-40% spread, while multi-second queries never flagged
#: spuriously. Threshold on the measured best (not the previous round's
#: artifact) so fresh checkouts and --all sweeps behave identically.
FAST_QUERY_SEC = 1.5

#: a SECOND trigger for the third sample (r14): any query whose
#: best-of-2 spread exceeds this percent re-samples regardless of
#: absolute time. The r14 close demonstrated the hole in the
#: fast-only rule: incremental_minhash_dedup (1.7-2.2 s, a
#: localCheckpoint-heavy plan with a measured 74% standalone band)
#: recorded a 15.9% two-sample spread, flagged 1.31x against the
#: drift-contaminated r13 artifact, and cost a standalone best-of-6
#: adjudication — the same per-round tax rounds 8-13 paid for the
#: sub-second class before best-of-3. A noisy pair is the signature of
#: an under-measured band: the third sample both tightens the reported
#: minimum and grows the recorded spread toward the true band, so the
#: regression gate sees honest noise. ~25 s extra wall on the r14
#: close mix (11 queries); recorded totals stay comparable (best-of-N
#: sums). Sample counts remain DERIVABLE from the artifact (the
#: bench_regress contract): final spread >= the triggering two-sample
#: spread, so on a bv>=2 artifact "3 samples iff time < FAST_QUERY_SEC
#: or sp > SPREAD_RESAMPLE_PCT" is exact.
SPREAD_RESAMPLE_PCT = 15.0

#: bench line format version: 2 = the spread-resample rule is active
#: (bench_regress keys its sample-count inference on this; artifacts
#: with cal2 but no bv are the r13 fast-only era, artifacts with
#: neither are the best-of-2 era)
BENCH_VERSION = 2

#: |cal -> cal_end| within-run drift past which the whole headline loop
#: is RE-RUN once and the better-witnessed attempt becomes the emitted
#: artifact (r14, VERDICT r13 #2). BENCH_r13 is the motivating example:
#: its end-of-run probe read -37.3% vs its start probe — every raw
#: number in that artifact is machine drift, the witness fired exactly
#: as designed, and yet the contaminated run became the round's
#: permanent record while the definitive quiet run lived only in
#: SCALE.md prose. Detection without a retry leaves the record
#: unusable; one retry (~the suite's own cost, paid only on drifty
#: runs) makes the RECORD drift-proof. Matches bench_regress's
#: machine_unstable threshold so the two tools agree on "unstable".
DRIFT_RETRY_PCT = 15.0


def calibrate(spark) -> float:
    """Machine-speed calibration scalar (seconds, best of 3): a fixed,
    data-independent, shuffle-free job — sum(xxhash64(id)) over a
    constant range — timed AFTER warm-up. Same-code bench totals
    measured 83.0 / 96.8 / 101.7 s on one idle machine in one afternoon
    (r9): the whole-suite LEVEL drifts ~±20% with machine state, which
    is indistinguishable from a uniform real regression when comparing
    two single artifacts. The probe moves with that drift (it measures
    effective compute rate, not any query), so
    ``tools/bench_regress.py`` can divide it out: a uniform level shift
    shows up as cal_ratio ~ total_ratio and cancels; a real plan
    regression does not move the probe and survives adjustment."""
    from pyspark.sql import functions as F

    slots = spark.sparkContext.defaultParallelism
    best = float("inf")
    for _ in range(3):
        t0 = time.monotonic()
        # mod bounds the ANSI-mode sum (raw xxhash64 sums overflow long)
        spark.range(0, CAL_ROWS_PER_SLOT * slots, 1, slots).select(
            F.sum(F.pmod(F.xxhash64("id"), F.lit(1_000_000)))
        ).collect()
        best = min(best, time.monotonic() - t0)
    return round(best, 3)


def compact_line(
    times: dict[str, float],
    total: float,
    sf: float,
    spread_pct: dict[str, float] | None = None,
    cal: float | None = None,
    protect: set[str] | None = None,
    cal_end: float | None = None,
    retry_note: dict | None = None,
) -> str:
    """The driver-contract line: {"metric","value","unit","queries","sf"}
    plus ``sp`` — per-query run-to-run spread as an INTEGER-percent array
    aligned with the ``queries`` key order (VERDICT r7 item 2: a
    name-keyed spread dict costs ~20 chars/query and cannot fit the
    driver's ~2 kB tail next to the timings; the aligned array costs
    ~3). ``tools/bench_regress.py`` reconstructs spread_pct from it, so
    driver-to-driver comparisons carry a real noise gate instead of the
    bare 1.3x bar that let 13 load-noise flags stand unfalsifiable in r7.

    When the line would overflow the tail capture (the r5 artifact
    loss), degrade GRADUALLY (VERDICT r6 item 7): first re-round every
    timing to 2 decimals (keeps every query — 10 ms resolution is far
    inside the ~20% run-to-run noise), then, if still over, drop the
    FASTEST queries one at a time — timing and spread together, keeping
    the alignment — with a ``queries_truncated`` marker (a regression on
    a sub-0.1 s query is indistinguishable from noise anyway; the slow
    queries are the perf evidence). The headline total stays the exact
    full-set total in every form. Unit-tested against a 100+-query
    registry so growth can't silently break the contract again.

    *protect* (r11, VERDICT r10 #5) rotates WHICH queries get
    truncated: names in it are shed only after every unprotected query
    is gone. main() passes the set truncated from the PREVIOUS round's
    driver artifact, so the same 8 fastest queries no longer lose their
    driver timing every round — each query lands in the artifact at
    least every other round (shed counts stay ~constant because
    protecting the fastest 8 sheds the next-fastest 8)."""
    spread_pct = spread_pct or {}
    protect = protect or set()

    def sp_for(names) -> list[int]:
        # integers, capped at 999 (a 10x spread is already "unusable
        # sample" — precision past that buys nothing)
        return [
            min(999, int(round(spread_pct.get(n, 0.0)))) for n in names
        ]

    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sp": sp_for(times),
        "sf": sf,
        "bv": BENCH_VERSION,
    }
    if cal is not None:
        # machine-speed scalar (r9): ~12 bytes, included BEFORE the
        # truncation loop so the budget accounts for it
        compact["cal"] = cal
    if cal_end is not None:
        # end-of-run re-probe (r13): within-run drift witness — a large
        # cal->cal2 gap marks this artifact as drift-contaminated
        compact["cal2"] = cal_end
    if retry_note is not None:
        # drift-retry marker (r14, VERDICT r13 #2): this artifact is the
        # better-witnessed of TWO runs; "rtd" = the DISCARDED run's
        # within-run drift percent (int), proof the retry fired and what
        # it replaced — enough for bench_regress adjudication without
        # prose. The full discard record is in the enriched line. None
        # when the discarded run's drift was unmeasurable (a cal probe
        # failed) — 0 would falsely read as "discarded a quiet run".
        d = retry_note["discarded_drift_pct"]
        compact["rtd"] = None if d is None else int(round(d))
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) <= COMPACT_LINE_BUDGET:
        return line
    kept = dict(
        sorted(
            ((k, round(v, 2)) for k, v in times.items()), key=lambda kv: -kv[1]
        )
    )
    # shed order: fastest UNprotected first; protected names only once
    # every unprotected query is gone
    shed_queue = sorted(times, key=lambda k: (k in protect, times[k]))
    compact["queries"] = kept
    compact["sp"] = sp_for(kept)
    line = json.dumps(compact, separators=(",", ":"))
    for name in shed_queue:
        if len(line) <= COMPACT_LINE_BUDGET:
            break
        kept.pop(name)  # shed the query (and, via sp_for, its spread)
        compact["queries"] = kept
        compact["sp"] = sp_for(kept)
        compact["queries_truncated"] = len(times) - len(kept)
        line = json.dumps(compact, separators=(",", ":"))
    return line


def prev_truncated(times: dict[str, float]) -> set[str]:
    """Queries THIS run timed that the latest BENCH_r{N}.json driver
    artifact truncated (r11, VERDICT r10 #5): measured here but absent
    from the artifact's parsed ``queries``. compact_line protects them
    this round, so every query gets a driver timing at least every
    other round instead of the same 8 fastest being shed forever.
    Best-effort: no artifact (fresh checkout, local runs) or an
    unparseable one means nothing is protected — the r10 behavior.
    "Latest" = highest parsed round number, NOT lexicographic filename
    order (zero-padding runs out at r100: 'BENCH_r100.json' sorts
    before 'BENCH_r11.json')."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    arts = sorted(
        # keep only parseable names: a stray BENCH_r-something.json must
        # not crash the sort key (the old lexicographic sort couldn't)
        (
            p
            for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
            if re.fullmatch(r"BENCH_r(\d+)\.json", os.path.basename(p))
        ),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    )
    if not arts:
        return set()
    try:
        with open(arts[-1]) as f:
            parsed = json.load(f).get("parsed", {})
        if parsed.get("queries_truncated"):
            # intersect with HEADLINE: in --all mode `times` carries the
            # whole registry, and protecting the ~40 never-in-artifact
            # tail names would shed SLOW headline queries instead
            return (set(times) & set(HEADLINE)) - set(parsed.get("queries", {}))
    except (OSError, ValueError):
        pass
    return set()


def _drift_pct(suite: dict) -> float | None:
    """Within-run machine drift: cal -> cal_end percent change, or None
    when either probe failed."""
    cal, cal_end = suite.get("cal"), suite.get("cal_end")
    if not cal or not cal_end:
        return None
    return round(100.0 * (cal_end - cal) / cal, 1)


def run_suite(spark, qs, names, sf_dir: str) -> dict:
    """ONE full timing pass: start-of-run cal probe, the best-of-N
    timing loop, end-of-run cal probe. Returns {"times", "runs",
    "spread_pct", "errors", "cal", "cal_end"} so main() can re-run the
    whole pass when the two probes disagree (DRIFT_RETRY_PCT) and emit
    the better-witnessed attempt as the round's artifact.

    The END-of-run probe (r13): a same-code pair measured 12
    cal-adjusted flags purely from memory-reclaim drift DURING the
    slower run (cal 0.830 vs 0.924 between runs; reclaim stalls hit
    short shuffle-bound queries harder than the compute-bound probe,
    so the single start-of-run cal under-corrects). cal_end makes
    within-run drift measurable; since r14 it is also actionable —
    see DRIFT_RETRY_PCT."""
    import gc
    import traceback

    try:
        cal = calibrate(spark)
    except Exception:
        cal = None  # never let the probe break the perf record

    times: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    spread_pct: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in names:
        if name not in qs:
            continue
        samples: list[float] = []
        try:
            for _ in range(2):
                t0 = time.monotonic()
                materialize(qs[name](spark, sf_dir))
                samples.append(time.monotonic() - t0)
                # release localCheckpoint blocks of the finished run: the JVM
                # frees them only when the Python-side DataFrame is collected
                gc.collect()
            spread2 = 100.0 * (max(samples) - min(samples)) / min(samples)
            # trigger on the INT-ROUNDED spread: the compact artifact
            # records sp as integers, and the inference contract
            # ("3 samples iff sp > threshold on a bv>=2 artifact") must
            # hold after that rounding — a raw `spread2 > 15` trigger
            # at spread 15.2 records sp=15 and reads as best-of-2
            # (review r14). int(round(final)) >= int(round(spread2)) by
            # monotonicity, so the recorded witness stays exact.
            if min(samples) < FAST_QUERY_SEC or int(
                round(spread2)
            ) > SPREAD_RESAMPLE_PCT:
                # sub-1.5s queries carry the round-to-round noise flags
                # (r13 rule), and a noisy best-of-2 pair at ANY time
                # scale marks an under-measured band (r14 rule,
                # SPREAD_RESAMPLE_PCT): a third sample tightens
                # best-of-N exactly where the false flags live
                t0 = time.monotonic()
                materialize(qs[name](spark, sf_dir))
                samples.append(time.monotonic() - t0)
                gc.collect()
        except Exception:
            # One broken query must never zero out the round's perf
            # evidence: record the error, keep timing the rest.
            errors[name] = traceback.format_exc(limit=3)
            continue
        best = min(samples)
        times[name] = round(best, 3)
        runs[name] = [round(s, 3) for s in samples]
        spread_pct[name] = round(100.0 * (max(samples) - best) / best, 1)

    try:
        cal_end = calibrate(spark)
    except Exception:
        cal_end = None
    return {
        "times": times,
        "runs": runs,
        "spread_pct": spread_pct,
        "errors": errors,
        "cal": cal,
        "cal_end": cal_end,
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.0

    import __spark_entry__ as entrymod

    from tower_parse_spark.session import get_spark

    qs = entrymod.queries()
    spark = get_spark("bench")

    # Warm-up: JVM + codegen + parquet footer caches, plus the Python
    # worker pool (Arrow path) at the tiny SF so mapInPandas queries
    # measure steady state rather than worker cold-start, plus one
    # throwaway streaming query (Structured Streaming class-loading +
    # state-store init dominated streaming_late_data's first timed run:
    # driver r5 spread [6.8, 2.8] s = 145% — VERDICT r5 item 6). Warm-up
    # failures are non-fatal — they only cost the first timed query its
    # cache.
    for warm in (
        lambda: qs["q1_pricing_summary"](spark, sf_dir),
        lambda: qs["multimodal_decode"](spark, "/root/testdata/sf0.001"),
        lambda: qs["streaming_late_data"](spark, "/root/testdata/sf0.001"),
    ):
        try:
            materialize(warm())
        except Exception:
            pass

    names = HEADLINE
    if "--all" in sys.argv:
        names = list(qs)

    suite = run_suite(spark, qs, names, sf_dir)
    retry_note = None
    drift = _drift_pct(suite)
    if (
        drift is not None
        and abs(drift) > DRIFT_RETRY_PCT
        and "--no-retry" not in sys.argv
    ):
        # the artifact of record must not be a drift-contaminated run
        # (VERDICT r13 #2): re-run the whole loop once and emit the
        # better-witnessed attempt, recording the discard explicitly so
        # bench_regress adjudicates from the record, not prose
        print(
            json.dumps(
                {
                    "note": "within-run cal drift "
                    f"{drift}% > {DRIFT_RETRY_PCT}%: re-running the "
                    "headline loop once",
                }
            ),
            file=sys.stderr,
        )
        retry = run_suite(spark, qs, names, sf_dir)
        retry_drift = _drift_pct(retry)
        keep_retry = retry_drift is not None and abs(retry_drift) < abs(drift)
        discarded = suite if keep_retry else retry
        retry_note = {
            "kept": "retry" if keep_retry else "first",
            "discarded_cal": discarded["cal"],
            "discarded_cal2": discarded["cal_end"],
            "discarded_drift_pct": _drift_pct(discarded),
            "discarded_total": round(sum(discarded["times"].values()), 3),
        }
        if keep_retry:
            suite = retry

    times, runs = suite["times"], suite["runs"]
    spread_pct, errors = suite["spread_pct"], suite["errors"]
    cal, cal_end = suite["cal"], suite["cal_end"]

    total = round(sum(times.values()), 3)
    spreads = sorted(spread_pct.values())
    noise_median = spreads[len(spreads) // 2] if spreads else 0.0
    # TWO output lines (VERDICT r5 item 1): the driver's BENCH_r{N}.json
    # keeps only the last ~2 kB of stdout and parses the FINAL line —
    # r5's single enriched line (runs + spread for 50+ queries) overflowed
    # that capture and the round lost its external perf record. The
    # enriched payload (runs, per-query spread, errors) goes FIRST for
    # local tooling (tools/bench_regress.py reads either line's file);
    # the compact driver contract {"metric","value","unit","queries","sf"}
    # is the LAST line and stays under the tail capture.
    enriched = {
        "detail": "runs_and_spread",
        "bv": BENCH_VERSION,
        "queries": times,  # full dict even when the compact line truncates
        "runs": runs,
        "spread_pct": spread_pct,
        "noise_median_pct": noise_median,
    }
    if cal is not None:
        enriched["cal"] = cal
    if cal_end is not None:
        enriched["cal_end"] = cal_end
    if retry_note is not None:
        enriched["retry"] = retry_note
    if errors:
        enriched["errors"] = errors
    print(json.dumps(enriched))
    print(
        compact_line(
            times, total, sf, spread_pct, cal, prev_truncated(times),
            cal_end=cal_end, retry_note=retry_note,
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
