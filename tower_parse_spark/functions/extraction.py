"""Regex projection: named-capture-group extraction as a Catalyst plan.

The reference's single hot-path operator is ``Parser.extract``
(readport.py:328-369): match a configured regex with named groups against a
raw line, drop ``///`` sentinels and non-participating groups, cast every
variable to float (group key to its declared type), skip malformed records.

Spark-first re-expression — all plan-time, zero Python per row:

- each variable becomes ``regexp_extract(line, pattern, idx)`` (JVM-side,
  whole-stage-codegen'd); group *names* are resolved to indices at plan
  time via Python's ``re`` groupindex, so the executed pattern carries no
  engine-specific named-group syntax (portable to the DuckDB oracle);
- alternation branches (reference needs the third-party ``regex`` module
  for same-name groups, readport.py:12-16) compile to per-column
  ``COALESCE`` over per-branch extracts (SURVEY.md §2.A9);
- sentinel ``///`` and non-participating groups (readport.py:348-351)
  become NULL via ``nullif`` — a documented divergence: the reference drops
  the dict key and later *skips* the whole record on schema mismatch
  (readport.py:258-262); NULL is strictly more information-preserving
  (SURVEY.md §7.4);
- malformed records (no branch matches / cast failure, readport.py:353-364)
  are routed, not dropped silently: ``extract_lines`` emits a ``_corrupt``
  flag so callers either filter or side-output them (PERMISSIVE-mode
  semantics, SURVEY.md §2.A12).

At 100 TB this stays a single scan + project: no shuffle, no UDF. The hot
path (:func:`extract_lines`) dispatches per branch on capture-group
count, from 10M-row measurements (SCALE.md, "Ingest"):

- **narrow branches (< 8 groups)**: one ``regexp_extract`` per variable —
  a packed parse's fixed cost (regexp_replace + split + array reads) is
  ~6-7x one anchored extract, so per-variable wins below ~7 groups
  (probe's 4-group schema: N-pass is 1.6x faster);
- **wide branches (>= 8 groups)**: ONE ``regexp_replace`` packs every
  group into a separator-joined string, one ``split`` unpacks it —
  measured 2.2x faster at 16 groups, more at the reference's widest
  schema (27 groups, configs/readport_4004_KLDPIO.conf:17). This is the
  reference's single ``match`` per line (readport.py:345), re-expressed.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tower_parse_spark.plans.profile import DeviceProfile

_NAMED_GROUP = re.compile(r"\(\?P<([A-Za-z_][A-Za-z0-9_]*)>")


def unnamed_pattern(branch: str) -> str:
    """Strip Python named-group syntax so the pattern runs identically on
    the JVM (Spark) and RE2 (DuckDB): ``(?P<v>...)`` -> ``(...)``."""
    return _NAMED_GROUP.sub("(", branch)


def group_indices(branch: str) -> dict[str, int]:
    """Resolve capture-group names to 1-based indices at plan time
    (the runtime analog of readport.py:610-620's groupindex use)."""
    return dict(re.compile(branch).groupindex)


def _extract_one(line: Column, branch: str, var: str, sentinel: str) -> Column:
    """One variable from one branch: extract -> ''/sentinel -> NULL."""
    idx = group_indices(branch)[var]
    raw = F.regexp_extract(line, unnamed_pattern(branch), idx)
    # '' covers both "branch did not match" and "group did not participate"
    # (regexp_extract returns '' in either case); the sentinel covers the
    # device's explicit missing-value marker (readport.py:348-351).
    return F.nullif(F.nullif(raw, F.lit("")), F.lit(sentinel))


def matches_any_branch(profile: DeviceProfile, line_col: str = "line") -> Column:
    """True when at least one regex branch matches the raw line."""
    line = F.col(line_col)
    cond = None
    for branch in profile.regex:
        c = line.rlike(unnamed_pattern(branch))
        cond = c if cond is None else (cond | c)
    return cond


#: Branches with at least this many capture groups use the packed
#: one-pass parse; below it, per-variable regexp_extract is cheaper
#: (measured break-even ~7 groups at 10M rows, SCALE.md "Ingest").
PACKED_MIN_GROUPS = 8

# Packing delimiters for the one-pass parse. Outside every device wire
# format (reference lines are printable ASCII plus STX/ETX framing bytes,
# tests/test_parser.py:21): US (unit separator) joins groups, RS (record
# separator) marks "this branch matched". A raw line containing RS+US
# could in principle spoof an unmatched branch — impossible for the
# reference's devices, documented here for exotic ones.
_GROUP_SEP = "\x1f"
_MATCH_MARK = "\x1e"


def packed_parts(line: Column, branch: str) -> Column:
    """Parse *branch* against *line* in ONE regex execution.

    Returns an array column: ``[MARK, group1, ..., groupN]`` when the
    branch matches (search semantics, like the reference's
    ``pattern.match`` scan, readport.py:345), else ``[<original line>]``.
    Non-participating groups substitute as ``''`` (same as
    ``regexp_extract``'s convention). The wrapped pattern anchors and
    consumes the whole line with ``[\\s\\S]*`` (not ``(?s)``/DOTALL, which
    would change the inner pattern's own ``.`` semantics).
    """
    n_groups = re.compile(branch).groups
    pat = unnamed_pattern(branch)
    # ^-anchored patterns (every reference config) skip the lazy scan
    # prefix — `[\s\S]*?` backtracking costs more than the match itself
    # on short device lines (measured 20% at 10M rows).
    prefix = "^" if branch.startswith("^") else "^[\\s\\S]*?"
    wrapped = f"{prefix}(?:{pat})[\\s\\S]*$"
    replacement = _MATCH_MARK + "".join(
        f"{_GROUP_SEP}${i}" for i in range(1, n_groups + 1)
    )
    return F.split(
        F.regexp_replace(line, wrapped, replacement), _GROUP_SEP, -1
    )


def extract_lines(
    df: DataFrame,
    profile: DeviceProfile,
    line_col: str = "line",
    time_col: str = "ts",
    keep_corrupt: bool = False,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Project a raw-lines DataFrame into the typed schema.

    Output columns: ``time`` (carried from *time_col* — the reference
    stamps processing time at receipt, readport.py:449-453; batch replays
    carry the recorded timestamp), every profile variable (typed), plus
    ``_corrupt`` when *keep_corrupt* — otherwise malformed lines are
    filtered out (the reference skips them, readport.py:490-494).

    Plan shape: wide branches (>= :data:`PACKED_MIN_GROUPS` groups)
    execute once per row into a staged ``_parts_i`` array column (its own
    projection, so Catalyst doesn't inline the regexp_replace into every
    consumer); their variables are ``F.get`` array lookups (NULL out of
    bounds — no ANSI error on unmatched lines, whose parts array has
    length 1). Narrow branches use per-variable ``regexp_extract``
    (cheaper below the packed parse's fixed cost — see module doc).
    """
    packed = [
        re.compile(b).groups >= PACKED_MIN_GROUPS for b in profile.regex
    ]
    staged = df
    for i, branch in enumerate(profile.regex):
        if packed[i]:
            staged = staged.withColumn(
                f"_parts_{i}", packed_parts(F.col(line_col), branch)
            )

    out: dict[str, Column] = {}
    for var in profile.variables:
        per_branch = []
        for i, branch in enumerate(profile.regex):
            gidx = group_indices(branch).get(var)
            if gidx is None:
                continue
            if packed[i]:
                raw = F.get(F.col(f"_parts_{i}"), gidx)
                # '' covers "group did not participate"; unmatched branches
                # have a 1-element parts array so F.get returns NULL; the
                # sentinel is the device's explicit missing marker
                # (readport.py:348-351).
                per_branch.append(
                    F.nullif(
                        F.nullif(raw, F.lit("")), F.lit(profile.sentinel)
                    )
                )
            else:
                per_branch.append(
                    _extract_one(
                        F.col(line_col), branch, var, profile.sentinel
                    )
                )
        expr = per_branch[0] if len(per_branch) == 1 else F.coalesce(*per_branch)
        # try_cast, not cast: under ANSI mode a plain cast on a malformed
        # capture kills the whole job; a cast failure is NULL instead
        # (readport.py:353-364, SURVEY.md §7.4)
        if profile.group is not None and var == profile.group.var:
            expr = expr.try_cast(profile.group.spark_type)
        else:
            expr = expr.try_cast("double")
        out[var] = expr.alias(var)

    projected = [F.col(time_col).alias("time"), *out.values()]
    if extra_cols:
        projected = [F.col(c) for c in extra_cols] + projected
    if keep_corrupt:
        # per-branch flag: free parts lookup for packed branches (no
        # Filter in this path, so no pushdown duplication), plain rlike
        # for narrow ones
        flags = [
            F.get(F.col(f"_parts_{i}"), 0) == F.lit(_MATCH_MARK)
            if packed[i]
            else F.col(line_col).rlike(unnamed_pattern(profile.regex[i]))
            for i in range(len(profile.regex))
        ]
        matched = flags[0]
        for m in flags[1:]:
            matched = matched | m
        # coalesce: a NULL line (upstream formatting of a NULL-field
        # event) is maximally malformed — route it corrupt instead of a
        # NULL flag that would group separately (r6 robustness rule)
        return staged.select(
            *projected, F.coalesce(~matched, F.lit(True)).alias("_corrupt")
        )
    # Filter with a plain rlike, NOT the packed-parts flag: predicate
    # pushdown substitutes the staged regexp_replace+split into the
    # Filter and would execute the heavy parse twice per row; a bare
    # match is the cheap reject path (same pattern, search semantics).
    return staged.filter(matches_any_branch(profile, line_col)).select(
        *projected
    )
