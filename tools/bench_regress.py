#!/usr/bin/env python
"""Noise-aware cross-round bench comparison.

Compares two bench.py JSON outputs (e.g. BENCH_r04.json vs
BENCH_r05.json) with the regression rule the round-4 verdict asked for:
a per-query delta only counts as a regression when it exceeds BOTH the
1.3x structural bar AND the query's own measured run-to-run spread (the
"is this delta outside the noise?" test — single-sample deltas under the
~30% median spread at sf0.1 are not evidence, SCALE.md bench-noise
section).

When BOTH artifacts carry the machine-speed calibration scalar ``cal``
(bench.py r9: a fixed data-independent probe timed in the same
session), ratios are additionally divided by ``cal_ratio = new_cal /
old_cal`` before gating: same-code totals measured 83-102 s across
quiet runs on one machine (r9), a uniform level drift the probe moves
with and a real plan regression does not — so the adjustment cancels
machine state without masking genuine deltas. A flag must survive the
gate on BOTH the raw and the adjusted ratio (symmetric for
improvements), and the output reports cal_ratio + adjusted totals so
the decision is auditable. Without cal on both sides, behavior is
unchanged.

One asymmetry the both-gates rule would otherwise hide (ADVICE r9,
medium): when the machine got FASTER between artifacts (cal_ratio < 1),
a genuine plan regression's raw ratio is deflated — e.g. a 1.5x
regression on a 2x-faster machine reads raw 0.75 / adjusted 1.5 — and
"must pass BOTH gates" would silently wave it through. Deltas that
exceed the bar only after calibration are therefore reported in a
separate ``masked_regressions`` list (and symmetric
``masked_improvements``) and count toward the non-zero exit, so they
reach adjudication instead of vanishing.

Superseded artifacts (r15, VERDICT r14 #4): a `<stem>.superseded.json`
sidecar next to a BENCH artifact marks that round's driver run as
permanently contaminated (machine_unstable) and carries the definitive
quiet re-run — `quiet_total`/`quiet_cal` always, per-query `queries`/
`spread_pct` when preserved. With per-query data the quiet record
replaces the contaminated one wholesale; totals-only sidecars fix the
headline (`total_ratio_quiet`) while per-query ratios keep the raw
values under the machine_unstable marker. The output says which.

Usage: python tools/bench_regress.py OLD.json NEW.json
Prints one JSON line: {"regressions": [...], "masked_regressions":
[...], "improvements": [...], "common": N, "total_ratio": r}. Exit 1 if
any regression (plain or masked) survives.
"""

from __future__ import annotations

import json
import os as _os
import sys

#: structural bar: below this ratio a delta is never flagged
RATIO_BAR = 1.3
#: queries faster than this are warmup-noise-dominated; never flagged
MIN_BASE_SEC = 0.2
#: suite-noise witness (r16): an artifact whose median per-query spread
#: exceeds this is flagged noise-suspect even when its cal drift stays
#: under the machine_unstable bar (the BENCH_r15 blind spot)
SUITE_NOISE_PCT = 30.0


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__)
        return 2
    def expand_sp(d: dict) -> dict:
        # r8+ compact lines carry per-query spread as the integer array
        # "sp", aligned with the queries key order (the name-keyed dict
        # doesn't fit the driver's ~2 kB tail) — expand it so driver
        # artifacts gate on real measured noise, not the bare 1.3x bar
        if "sp" in d and "spread_pct" not in d and "queries" in d:
            d = dict(d)
            d["spread_pct"] = dict(zip(d["queries"], d["sp"]))
        return d

    def load(path: str) -> dict:
        text = open(path).read()
        try:
            d = json.loads(text)
        except ValueError:
            # bench.py r6+ prints TWO JSON lines (enriched detail, then the
            # compact driver line) — merge them into one dict, keeping the
            # LARGER queries dict (the compact line truncates on --all runs)
            d = {}
            for ln in text.splitlines():
                ln = ln.strip()
                if ln.startswith("{"):
                    # expand sp per-line, BEFORE the merge can swap in the
                    # enriched line's (larger) queries dict and break the
                    # positional alignment; keep the LARGER dict for both
                    # queries and spread_pct (the compact line truncates,
                    # and its sp-derived spread must not clobber the
                    # enriched line's full spread_pct)
                    part = expand_sp(json.loads(ln))
                    for k in ("queries", "spread_pct"):
                        if len(part.get(k, {})) < len(d.get(k, {})):
                            part.pop(k, None)
                    d.update(part)
        # the driver's BENCH_r{N}.json wraps bench.py's line in "parsed"
        d = d.get("parsed", d) or d
        d = expand_sp(d)
        # superseded-artifact sidecar (r15, VERDICT r14 #4): a round
        # whose driver artifact is permanently machine_unstable (e.g.
        # BENCH_r13's -37.3% within-run drift, which predates bench.py's
        # drift-retry) records its definitive quiet-run totals in
        # <stem>.superseded.json so trend tooling reads ONE record
        # instead of re-deriving the route-around from SCALE.md prose
        sidecar = _os.path.splitext(path)[0] + ".superseded.json"
        if _os.path.exists(sidecar):
            try:
                d["_superseded"] = json.load(open(sidecar))
                d["_superseded"]["_file"] = _os.path.basename(sidecar)
            except ValueError:
                pass
        return d

    # shared thresholds: import from bench.py (which is pyspark-free at
    # module level precisely so this stays cheap) instead of duplicating
    # literals that would silently desynchronize the two tools
    try:
        sys.path.insert(
            0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
        )
        from bench import DRIFT_RETRY_PCT as _drift_bar
        from bench import FAST_QUERY_SEC as _fast
        from bench import SPREAD_RESAMPLE_PCT as _resample
    except Exception:
        _fast, _resample, _drift_bar = 1.5, 15.0, 15.0

    old, new = load(sys.argv[1]), load(sys.argv[2])
    # apply superseded sidecars BEFORE anything reads the artifacts: the
    # quiet re-run is the definitive record for that round. A sidecar
    # with per-query "queries" replaces the contaminated measurements
    # wholesale (cal/cal2/spread too — they belong to the same run); a
    # totals-only sidecar cannot fix per-query ratios, so those keep the
    # raw values (still guarded by the machine_unstable marker) and only
    # the headline total is preferred.
    superseded_notes = []
    for label, art in (("old", old), ("new", new)):
        sup = art.pop("_superseded", None)
        if not sup:
            continue
        note = {
            "artifact": label,
            "sidecar": sup.get("_file"),
            "reason": sup.get("reason"),
            "raw_total": art.get("value"),
        }
        if "queries" in sup:
            # coherent quiet-run record: per-query values, spread and
            # cal witnesses all come from the SAME run, so swap them as
            # a unit (cal2 defaults to quiet_cal — a totals+cal sidecar
            # without an end probe must not leave the contaminated cal2
            # behind to pair with the quiet cal)
            for k_src, k_dst in (
                ("queries", "queries"), ("spread_pct", "spread_pct"),
                ("quiet_cal", "cal"), ("quiet_cal2", "cal2"),
            ):
                if k_src in sup:
                    art[k_dst] = sup[k_src]
            if "quiet_cal" in sup and "quiet_cal2" not in sup:
                art.pop("cal2", None)
                art.pop("cal_end", None)
        # totals-only sidecar: per-query ratios cannot be fixed, so the
        # raw values stay (machine_unstable keeps firing on the
        # artifact's own cal witnesses) and only the headline total is
        # preferred
        if "quiet_total" in sup:
            art["value"] = sup["quiet_total"]
            note["quiet_total"] = sup["quiet_total"]
        note["per_query_replaced"] = "queries" in sup
        superseded_notes.append(note)
    oq, nq = old["queries"], new["queries"]
    # machine-speed normalization (r9): only when BOTH sides measured it
    old_cal, new_cal = old.get("cal"), new.get("cal")
    cal_ratio = (
        new_cal / old_cal if old_cal and new_cal else None
    )
    # per-query spread: prefer the NEW run's measurement, fall back to the
    # OLD run's (driver artifacts may lack the enriched fields — a missing
    # spread must not silently degrade the noise gate to the 1.3x bar
    # alone, ADVICE r5)
    new_spread = new.get("spread_pct", {}) or {}
    old_spread = old.get("spread_pct", {}) or {}
    common = sorted(set(oq) & set(nq))
    regressions, improvements = [], []
    masked_regressions, masked_improvements = [], []
    for name in common:
        base, cur = oq[name], nq[name]
        if base < MIN_BASE_SEC:
            continue
        ratio = cur / base
        # the query's own measured spread, as a ratio floor: a delta
        # inside its run-to-run scatter is variance, not regression.
        # Improvements use the SAME symmetric gate (1/max(bar, noise)) so
        # a noisy query is not counted as a win either.
        spread_val = new_spread.get(name, old_spread.get(name, 0.0))
        noise_ratio = 1.0 + (spread_val or 0.0) / 100.0
        bar = max(RATIO_BAR, noise_ratio)
        # with calibration on both sides a flag must survive BOTH the
        # raw gate and the machine-speed-adjusted gate (symmetric for
        # improvements): a uniform level drift moves every ratio AND
        # cal_ratio together, so dividing cancels it; a real plan delta
        # leaves the probe untouched and survives
        adj = ratio / cal_ratio if cal_ratio else ratio
        entry = {"query": name, "old": base, "new": cur,
                 "ratio": round(ratio, 2), "spread_pct": spread_val}
        if cal_ratio:
            entry["ratio_cal_adj"] = round(adj, 2)
        if ratio > bar and adj > bar:
            regressions.append(entry)
        elif adj > bar:
            # adjusted-only exceedance: a faster machine (cal_ratio < 1)
            # deflated the raw ratio below the bar — surface it rather
            # than silently passing (ADVICE r9 medium)
            masked_regressions.append(entry)
        elif ratio < 1 / bar and adj < 1 / bar:
            improvements.append(
                {"query": name, "old": base, "new": cur, "ratio": round(ratio, 2)}
            )
        elif adj < 1 / bar:
            masked_improvements.append(
                {"query": name, "old": base, "new": cur, "ratio": round(ratio, 2),
                 "ratio_cal_adj": round(adj, 2)}
            )
    total_old = sum(oq[n] for n in common)
    total_new = sum(nq[n] for n in common)
    out = {
        "regressions": sorted(regressions, key=lambda r: -r["ratio"]),
        "improvements": sorted(improvements, key=lambda r: r["ratio"]),
        "common": len(common),
        "total_ratio": round(total_new / total_old, 3) if total_old else None,
    }
    if superseded_notes:
        out["superseded"] = superseded_notes
        ov, nv = old.get("value"), new.get("value")
        if ov and nv:
            # the preferred cross-round headline: quiet totals where a
            # sidecar supplied them, the artifact's own otherwise
            out["total_ratio_quiet"] = round(nv / ov, 3)
        out["note"] = (
            "superseded artifact(s): quiet-run totals preferred "
            "(total_ratio_quiet); per-query values "
            + ("replaced from the quiet record"
               if all(s["per_query_replaced"] for s in superseded_notes)
               else "remain from the contaminated run — adjudicate "
                    "per-query flags via machine_unstable")
        )
    if cal_ratio:
        out["cal_ratio"] = round(cal_ratio, 3)
        out["masked_regressions"] = sorted(
            masked_regressions, key=lambda r: -r["ratio_cal_adj"]
        )
        out["masked_improvements"] = sorted(
            masked_improvements, key=lambda r: r["ratio_cal_adj"]
        )
        if total_old:
            out["total_ratio_cal_adj"] = round(
                total_new / total_old / cal_ratio, 3
            )
    # within-run drift witness (r13): bench.py re-probes cal at the END
    # of the run ("cal2"/"cal_end"). A start->end gap over 15% means the
    # machine's speed CHANGED DURING that run (memory-reclaim stalls in
    # a same-code r13 pair produced 12 cal-adjusted flags this way —
    # the single start-of-run cal under-corrects non-uniform drift), so
    # per-query flags from such a pair carry an explicit instability
    # marker instead of demanding a standalone re-time each. Flags
    # still gate the exit code — the marker informs whoever reads the
    # flags, it does not auto-dismiss.
    unstable = []
    for label, art in (("old", old), ("new", new)):
        c0 = art.get("cal")
        c1 = art.get("cal2", art.get("cal_end"))
        if c0 and c1 and abs(c1 - c0) / c0 > _drift_bar / 100.0:
            unstable.append(
                {"artifact": label, "cal": c0, "cal_end": c1,
                 "drift_pct": round(100.0 * (c1 - c0) / c0, 1)}
            )
    if unstable:
        out["machine_unstable"] = unstable
    # suite-noise witness (r16, VERDICT r15 #3): a run whose MEDIAN
    # per-query spread is huge while its start->end cal drift stays
    # under the machine_unstable bar is exactly the state that marker
    # cannot see — BENCH_r15 (noise_median_pct 36.1, cal drift -10.4%)
    # produced 6 phantom raw flags on untouched code this way and the
    # adjudication had to lean on a standalone idle re-run. Surface the
    # witness on the comparison itself: per-query flags from such a
    # pair are noise-suspect by the artifact's own record. Like
    # machine_unstable, it informs adjudication; it does not dismiss.
    noisy = []
    for label, art in (("old", old), ("new", new)):
        med = art.get("noise_median_pct")
        if med is None:
            sp = sorted(art.get("spread_pct", {}).values())
            if sp:
                mid = len(sp) // 2
                med = (
                    sp[mid]
                    if len(sp) % 2
                    else (sp[mid - 1] + sp[mid]) / 2.0
                )
        if med is not None and med > SUITE_NOISE_PCT:
            noisy.append(
                {"artifact": label, "noise_median_pct": round(float(med), 1)}
            )
    if noisy:
        out["suite_noise"] = noisy
    # drift-retry marker (r14): the artifact is the better-witnessed of
    # two runs; surface what the retry replaced so the adjudication is
    # fully on the record
    for label, art in (("old", old), ("new", new)):
        if "rtd" in art:
            out.setdefault("drift_retries", []).append(
                {"artifact": label, "discarded_drift_pct": art["rtd"]}
            )
    # sample-count asymmetry note (ADVICE r13, low): bench.py r13+ times
    # sub-FAST_QUERY_SEC queries best-of-3 (earlier artifacts are
    # best-of-2 everywhere), and min-of-3 is stochastically <= min-of-2,
    # so cross-era ratios for exactly the noisy query class bias
    # slightly fast in the newer round (can overstate improvements /
    # mask small regressions). Sample counts are DERIVABLE from the
    # record: the best-of-3 rule fires iff best-of-2 < FAST_QUERY_SEC,
    # and min() only decreases, so on a r13+ artifact time < 1.5 s <=>
    # 3 samples; r13+ is identified by the cal2/cal_end witness those
    # artifacts introduced. The driver's compact artifacts carry no runs
    # arrays, so the prefix comparison ADVICE offered is impossible from
    # the record — the note is the feasible half, and it marks exactly
    # the queries whose ratios carry the one-sided bias.
    def n_samples(art: dict, spread: dict, name: str, t: float) -> int:
        # three eras, each identifiable from the artifact itself:
        # bv>=2 (r14+): 3rd sample iff fast OR noisy pair — final
        # spread >= the triggering two-sample spread, so sp > threshold
        # is an exact witness; cal2-without-bv (r13): fast-only rule;
        # neither: best-of-2 everywhere.
        if art.get("bv", 0) >= 2:
            # mirror bench.py's trigger EXACTLY: it compares
            # int(round(spread2)) > threshold, so an enriched float
            # spread in (15.0, 15.5) did NOT trigger a third sample —
            # comparing the raw float here would misclassify it
            # (ADVICE r14). Compact sp is already int-rounded; rounding
            # it again is a no-op.
            return 3 if (
                t < _fast or int(round(spread.get(name) or 0.0)) > _resample
            ) else 2
        if ("cal2" in art) or ("cal_end" in art):
            return 3 if t < _fast else 2
        return 2

    asym = sorted(
        n for n in common
        if n_samples(old, old_spread, n, oq[n])
        != n_samples(new, new_spread, n, nq[n])
    )
    if asym:
        out["sample_asymmetry"] = asym
    print(json.dumps(out))
    return 1 if regressions or masked_regressions else 0


if __name__ == "__main__":
    raise SystemExit(main())
