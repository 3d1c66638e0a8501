#!/usr/bin/env python
"""Automated physical-plan audit over the whole query registry.

For every ``queries()`` entry, builds the DataFrame at the given SF and
inspects the executed plan string for the scale-relevant signals:

- ``exchanges``: number of ``Exchange`` operators (shuffles; output sorts
  included) — the thing to minimize at 100 TB (AQE hides codegen spans
  until execution, so codegen presence is asserted by test_plans.py at
  runtime instead of here);
- ``python``: any ``BatchEvalPython`` (row-at-a-time Python — banned) or
  ``ArrowEvalPython``/``MapInPandas`` (Arrow-batched — allowed, expected
  only in the multimodal family);
- ``nested_loop`` / ``cartesian``: BroadcastNestedLoopJoin /
  CartesianProduct — allowed only for the brute-force ANN baseline
  (broadcast cross join IS the exact scan) and the Q22 scalar-threshold
  shape (cross join against a broadcast one-row aggregate);
- ``single-partition funnel``: an ``Exchange SinglePartition`` feeding a
  Window (or a global Sort) — the shape Spark itself warns about at
  execution ("Moving all data to a single partition"): every input row
  serializes through ONE task, the definition of a 100x scale-killer.
  The r11 audit passed ``order_gaps_quartiles``'s global ntile for 11
  rounds because a SinglePartition exchange counted like any other;
  this rule closes that blind spot. A SinglePartition exchange feeding
  a final aggregate (one-row / partial->final) is normal and NOT
  flagged — only Window/global-Sort consumers are funnels.

Prints one summary line per query plus a final verdict; exits non-zero
if a banned pattern appears outside its allowlist. Writes the full
table as markdown when ``--md=PATH`` is given.

Usage: python tools/plan_audit.py [sf_dir] [--md=PLAN_AUDIT.md]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tower_parse_spark.session import get_spark  # noqa: E402

#: broadcast cross join IS the exact brute-force scan for the ANN
#: baseline; the Q22 shape compares against a broadcast ONE-ROW scalar
#: aggregate (O(n*1), the canonical scalar-subquery plan)
NESTED_LOOP_OK = {
    "ann_cosine_topk",  # the exact brute-force baseline IS a cross join
    "wealthy_inactive_customers",  # Q22 one-row scalar-threshold join
    "q11_important_parts",  # Q11 one-row global-share-threshold join
    "text_tfidf_topterms",  # one-row broadcast N (corpus doc count) for the idf
    "domain_reweight",  # two one-row broadcasts (total tokens; normalizer+max-rate)
    "perplexity_filter",  # one-row broadcasts: vocab V (LM build) + unk penalty
    "quality_classifier",  # one-row broadcasts: class totals (NB train) + consts row
    "text_langid",  # r9 trained-NB half: one-row broadcasts of the class
    # totals (train) + consts row (score) — the quality_classifier shape
}

#: Arrow-batched Python is the designed path for binary decode only
ARROW_OK_PREFIX = ("multimodal_",)

#: single-partition Window/Sort funnels allowed by name, with the reason
#: (same discipline as NESTED_LOOP_OK). Empty today: every global-order
#: computation routes through with_global_row_scalable instead.
SINGLE_PARTITION_OK: dict[str, str] = {}

#: streaming families whose plans legitimately carry Arrow Python:
#: the stateful pack operator IS applyInPandasWithState by design
ARROW_OK_STREAMING = {"pack_stateful"}


def single_partition_funnels(plan: str) -> list[str]:
    """Lines where an ``Exchange SinglePartition`` feeds a Window or a
    global Sort (the scale-killer funnel), by tree walk of the executed
    plan string.

    The consumer of a node is the nearest preceding line with a smaller
    branch indent. Sorts are transparent (a Window's required child is
    Sort(global=false) -> Exchange SinglePartition, so the funnel's
    Window sits one level above the Sort), and so are the AQE wrappers
    ``AQEShuffleRead`` / ``ShuffleQueryStage`` / ``*QueryStage`` that an
    EXECUTED (post-AQE-materialization) plan inserts between an Exchange
    and its consumer (ADVICE r12 #2: the walk previously broke at the
    first non-Sort ancestor, so the rule was correct only on
    pre-execution plan strings); any other consumer — final
    HashAggregate over partial results, collect-limit — is a one-row /
    output-sized exchange, not a funnel, and is left alone. A global
    orderBy compiles to Exchange rangepartitioning, never
    SinglePartition, so a flagged global Sort is always internal.
    """
    import re

    lines = plan.splitlines()

    def indent(line: str) -> int:
        m = re.match(r"^([ :]*)(?:\+-|:-)\s", line)
        return len(m.group(1)) if m else -1

    hits = []
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        # collect the ancestor chain (nearest lines with smaller indent)
        cur = indent(line)
        chain = []
        for j in range(i - 1, -1, -1):
            pj = indent(lines[j])
            if pj < cur:
                chain.append(lines[j])
                cur = pj
                if pj == -1 or len(chain) == 6:
                    # 6 admits Exchange -> ShuffleQueryStage ->
                    # AQEShuffleRead -> Sort -> Window with headroom
                    break
        for anc in chain:
            if "Window" in anc:
                hits.append(anc.strip()[:70])
                break
            if re.search(r"Sort \[[^\]]*\], true,", anc):
                hits.append(anc.strip()[:70])
                break
            if (
                "AQEShuffleRead" in anc
                or "ShuffleQueryStage" in anc
                or "QueryStage" in anc
            ):
                continue  # AQE wrapper between Exchange and consumer
            if "Sort" not in anc:
                break  # non-Sort, non-Window consumer: not a funnel
    return hits


class _EpochPlanCapture:
    """Record the physical plan of every DataFrame an epoch body
    materializes (VERDICT r12 #4: the foreachBatch epoch plans were
    audited only indirectly via their batch twins). Epochs act at two
    kinds of sites — eager ``localCheckpoint`` barriers (where the real
    compute executes; the downstream sinks see only a truncated
    LogicalRDD lineage) and writer ``save``/``parquet`` calls — so both
    are shimmed. Plans are captured BEFORE execution, the same
    pre-execution strings the batch sweep scans (the funnel walk is
    AQE-wrapper-transparent either way since r13)."""

    def __init__(self):
        self.plans: list[str] = []

    def _snap(self, df) -> None:
        try:
            self.plans.append(
                df._jdf.queryExecution().executedPlan().toString()
            )
        except Exception:  # noqa: BLE001 - capture must never break the epoch
            pass

    def __enter__(self):
        from pyspark.sql import DataFrame as _DF
        from pyspark.sql.readwriter import DataFrameWriter as _W

        cap = self
        self._orig = (_DF.localCheckpoint, _W.save, _W.parquet)

        def localCheckpoint(df, *a, **k):
            cap._snap(df)
            return cap._orig[0](df, *a, **k)

        def save(w, *a, **k):
            cap._snap(w._df)
            return cap._orig[1](w, *a, **k)

        def parquet(w, *a, **k):
            cap._snap(w._df)
            return cap._orig[2](w, *a, **k)

        _DF.localCheckpoint = localCheckpoint
        _W.save = save
        _W.parquet = parquet
        return self

    def __exit__(self, *exc):
        from pyspark.sql import DataFrame as _DF
        from pyspark.sql.readwriter import DataFrameWriter as _W

        _DF.localCheckpoint, _W.save, _W.parquet = self._orig
        return False


def _scan_plans(name: str, plans: list[str], bad: list) -> tuple:
    """The batch sweep's banned-operator + funnel rules over an epoch's
    captured plans; one summary row per family."""
    joined = "\n===\n".join(plans)
    exchanges = joined.count("Exchange ")
    notes = []
    if "BatchEvalPython" in joined:
        notes.append("ROW-PYTHON")
        bad.append((name, "BatchEvalPython (row-at-a-time Python)"))
    if (
        "ArrowEvalPython" in joined
        or "MapInPandas" in joined
        or "FlatMapGroupsInPandas" in joined
    ):
        if name in ARROW_OK_STREAMING:
            notes.append("arrow:stateful")
        else:
            notes.append("ARROW-UNEXPECTED")
            bad.append((name, "Arrow Python outside the stateful pack"))
    if "CartesianProduct" in joined:
        notes.append("CARTESIAN")
        bad.append((name, "CartesianProduct"))
    if "BroadcastNestedLoopJoin" in joined:
        notes.append("BNLJ")
        bad.append((name, "BroadcastNestedLoopJoin"))
    funnels = []
    for p in plans:
        funnels += single_partition_funnels(p)
    if funnels:
        notes.append("SINGLE-PARTITION-FUNNEL")
        bad.append((name, f"Exchange SinglePartition feeds {funnels[0]}"))
    return (
        f"stream:{name}",
        exchanges,
        "ok" if not any(n.isupper() for n in notes) else "FLAG",
        f"plans={len(plans)}," + (",".join(notes) or "-"),
    )


def audit_streaming(spark) -> tuple[list, list]:
    """One EXECUTED epoch per streaming family (VERDICT r12 #4), plans
    captured at the epoch's own materialization sites and scanned with
    the same rules as the batch registry:

    - ``neardup_epoch``: two process_epoch calls, band_gate on — the
      second probes through the live literal gate;
    - ``neardup_epoch_part_gated``: the same loop with MAX_GATE_BITS
      forced tiny, so the handover epoch and a PARTITIONED-gate probe
      epoch both execute (the r13 plan shape);
    - ``phash_epoch``: two process_phash_epoch calls (r15 — the
      image/audio near-dup twin), the second probing a live banded
      index;
    - ``curation_epoch``: quality gate -> near-dup gate -> three sinks;
    - ``pack_epoch_writer``: the foreachBatch pack sink body over the
      packer's one-row-per-pack-written output (the packer writes the
      files itself; the body only materializes those rows);
    - ``pack_stateful``: the ingest's pack-writing query
      (``pipeline.write_packs``), its applyInPandasWithState plan
      (explainInternal after a real run — the one family whose plan
      legitimately carries Arrow)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from tower_parse_spark.operators import bloom as B
    from tower_parse_spark.operators.classifier import train_quality_nb
    from tower_parse_spark.streaming import curation as CU
    from tower_parse_spark.streaming import neardup as ND
    from tower_parse_spark.streaming import pipeline as P

    rows, bad = [], []
    work = tempfile.mkdtemp(prefix="plan_audit_stream_")
    docs = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "pack my box with five dozen liquor jugs right now"),
        (3, "sphinx of black quartz judge my vow and more words"),
    ]

    def batch(rows_, ids):
        return spark.createDataFrame(
            [(i, rows_[j % len(rows_)][1]) for j, i in enumerate(ids)],
            "doc_id long, text string",
        )

    # --- near-dup epochs, literal gate ---
    with _EpochPlanCapture() as cap:
        ND.process_epoch(
            batch(docs, [1, 2]), 0, f"{work}/n_idx", f"{work}/n_ver",
            band_gate=True,
        )
        ND.process_epoch(
            batch(docs, [10, 11]), 1, f"{work}/n_idx", f"{work}/n_ver",
            band_gate=True,
        )
    rows.append(_scan_plans("neardup_epoch", cap.plans, bad))

    # --- near-dup epochs, partitioned gate (forced over the cap) ---
    orig = B.MAX_GATE_BITS
    B.MAX_GATE_BITS = 64
    try:
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("ignore")  # the expected handover warning
            with _EpochPlanCapture() as cap:
                ND.process_epoch(
                    batch(docs, [1, 2]), 0, f"{work}/p_idx", f"{work}/p_ver",
                    band_gate=True,
                )
                ND.process_epoch(
                    batch(docs, [10, 11]), 1, f"{work}/p_idx", f"{work}/p_ver",
                    band_gate=True,
                )
    finally:
        B.MAX_GATE_BITS = orig
    rows.append(_scan_plans("neardup_epoch_part_gated", cap.plans, bad))

    # --- perceptual-hash near-dup epochs (r15: the image/audio twin;
    # two epochs so the second probes a live banded index) ---
    from tower_parse_spark.streaming import phash_index as PH

    hashes = spark.createDataFrame(
        [(1, 0x12345678), (2, 0x0FF00FF0)], "doc_id long, phash long"
    )
    hashes2 = spark.createDataFrame(
        [(10, 0x12345679), (11, 0x7654321)], "doc_id long, phash long"
    )
    with _EpochPlanCapture() as cap:
        PH.process_phash_epoch(hashes, 0, f"{work}/ph_idx",
                               f"{work}/ph_ver")
        PH.process_phash_epoch(hashes2, 1, f"{work}/ph_idx",
                               f"{work}/ph_ver")
    rows.append(_scan_plans("phash_epoch", cap.plans, bad))

    # --- curation epoch (quality -> near-dup -> sinks) ---
    model = train_quality_nb(
        spark.createDataFrame(
            [(True, d[1]) for d in docs]
            + [(False, f"zzspama zzspamb zzspamc {i}") for i in range(3)],
            "label boolean, text string",
        )
    )
    with _EpochPlanCapture() as cap:
        CU.curate_epoch(
            batch(docs, [1, 2, 3]), 0, model, f"{work}/c_idx",
            f"{work}/c_acc", f"{work}/c_rej", f"{work}/c_ver",
        )
    rows.append(_scan_plans("curation_epoch", cap.plans, bad))

    # --- foreachBatch pack sink body (over the packer's per-pack rows) ---
    written = spark.createDataFrame(
        [(1, i, 4, 1024) for i in range(8)],
        "level int, pack_id long, rows long, bytes long",
    )
    with _EpochPlanCapture() as cap:
        P.make_epoch_writer(f"{work}/packs", "level")(written, 0)
    rows.append(_scan_plans("pack_epoch_writer", cap.plans, bad))

    # --- the ingest's pack-writing query (the stateful packer) ---
    from tower_parse_spark.plans.profile import DeviceProfile, GroupSpec
    from tower_parse_spark.streaming import sources as SRC

    profile = DeviceProfile(
        name="audit",
        regex=[r"^(?P<level>\d+) V= (?P<v>\S+)$"],
        group=GroupSpec("level", "int"),
        pack_length=2,
    )
    import os as _os

    spool = f"{work}/spool"
    _os.makedirs(spool)
    with open(f"{spool}/b0.txt", "w") as f:
        for i in range(6):
            f.write(f"01 V= {float(i)}\n")
    lines = SRC.file_lines(spark, spool)
    q = P.write_packs(
        P.packed_stream(lines, profile), f"{work}/pack_files", f"{work}/ckpt",
        "level", query_name="plan_audit_packs",
    )
    try:
        q.processAllAvailable()
        plan = q._jsq.explainInternal(True)
    finally:
        q.stop()
    rows.append(_scan_plans("pack_stateful", [plan], bad))

    shutil.rmtree(work, ignore_errors=True)
    return rows, bad


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    md_path = next(
        (a.split("=", 1)[1] for a in sys.argv[1:] if a.startswith("--md=")),
        None,
    )
    sf_dir = args[0] if args else "/root/testdata/sf0.001"

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    spark = get_spark("plan_audit")

    rows = []
    bad = []
    for name, fn in qs.items():
        try:
            plan = (
                fn(spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        except Exception as exc:  # noqa: BLE001 - audit must finish
            rows.append((name, None, "ERROR", str(exc)[:80]))
            bad.append((name, "plan build failed"))
            continue
        exchanges = plan.count("Exchange ")
        row_python = "BatchEvalPython" in plan
        arrow_python = (
            "ArrowEvalPython" in plan
            or "MapInPandas" in plan
            or "FlatMapGroupsInPandas" in plan
        )
        nested = "BroadcastNestedLoopJoin" in plan
        cartesian = "CartesianProduct" in plan
        notes = []
        if row_python:
            notes.append("ROW-PYTHON")
            bad.append((name, "BatchEvalPython (row-at-a-time Python)"))
        if arrow_python:
            if name.startswith(ARROW_OK_PREFIX):
                notes.append("arrow")
            else:
                notes.append("ARROW-UNEXPECTED")
                bad.append((name, "Arrow Python outside multimodal"))
        if cartesian:
            notes.append("CARTESIAN")
            bad.append((name, "CartesianProduct"))
        if nested:
            if name in NESTED_LOOP_OK:
                notes.append("bnlj:baseline")
            else:
                notes.append("BNLJ")
                bad.append((name, "BroadcastNestedLoopJoin"))
        funnels = single_partition_funnels(plan)
        if funnels:
            if name in SINGLE_PARTITION_OK:
                notes.append("1part:allowed")
            else:
                notes.append("SINGLE-PARTITION-FUNNEL")
                bad.append(
                    (name, f"Exchange SinglePartition feeds {funnels[0]}")
                )
        rows.append(
            (
                name,
                exchanges,
                "ok" if not any(n.isupper() for n in notes) else "FLAG",
                ",".join(notes) or "-",
            )
        )
        print(f"{name}: exchanges={exchanges} {','.join(notes) or 'clean'}")

    # streaming-epoch section (VERDICT r12 #4): one executed epoch per
    # foreachBatch family + the stateful pack plan, same rules
    try:
        s_rows, s_bad = audit_streaming(spark)
    except Exception as exc:  # noqa: BLE001 - the audit must finish
        s_rows = [("stream:ERROR", None, "ERROR", str(exc)[:80])]
        s_bad = [("streaming", "epoch audit failed")]
    for r in s_rows:
        print(f"{r[0]}: exchanges={r[1]} {r[3]}")
    bad += s_bad

    if md_path:
        with open(md_path, "w") as f:
            f.write(
                "# PLAN AUDIT — all registry queries at "
                f"{os.path.basename(sf_dir)}\n\n"
                "Automated sweep (tools/plan_audit.py): shuffle counts and\n"
                "banned-operator scan for every registered query, plus the\n"
                "single-partition-funnel rule (Exchange SinglePartition\n"
                "feeding a Window/global Sort, AQE wrappers transparent).\n"
                "Allowed exceptions: the ANN baseline's broadcast cross\n"
                "join, the Q22 one-row scalar-threshold cross join, and\n"
                "Arrow-batched Python in the multimodal family.\n\n"
                "| query | exchanges | verdict | notes |\n"
                "|---|---|---|---|\n"
            )
            for r in rows:
                f.write("| " + " | ".join(str(x) for x in r) + " |\n")
            f.write(
                "\n## Streaming-epoch plans (r13, VERDICT r12 #4)\n\n"
                "One EXECUTED epoch per streaming family — plans captured\n"
                "at the epoch's own localCheckpoint barriers and sink\n"
                "writes (where foreachBatch bodies actually compute), plus\n"
                "the applyInPandasWithState pack operator's streaming\n"
                "plan — scanned with the same banned-operator + funnel\n"
                "rules. Arrow is expected ONLY in pack_stateful (that\n"
                "operator IS the designed Arrow path).\n\n"
                "| family | exchanges (all captured plans) | verdict |"
                " notes |\n|---|---|---|---|\n"
            )
            for r in s_rows:
                f.write("| " + " | ".join(str(x) for x in r) + " |\n")
    if bad:
        print(f"\nFLAGGED: {bad}")
        return 1
    print(f"\nall {len(rows)} query plans clean")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
