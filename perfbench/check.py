"""Output checks. Each returns a list of error strings (empty = pass);
the runner counts every error as one failed operation.

They take plain Python rows, so they run without Spark and are tested
on hand-built inputs (tests/test_gen_check.py).
"""

from __future__ import annotations

from collections import Counter, defaultdict

MAX_REPORTED = 20


def pack_shape(rows, pack_length: int, partial_last: bool = False) -> list[str]:
    """*rows*: iterable of ``(group, pack_id, pack_seq)``.

    Every pack holds exactly *pack_length* rows of one group with
    ``pack_seq`` running 0..N-1, and per group the pack ids run 0..P-1.
    With *partial_last*, each group's highest pack may be short (batch
    packing keeps the trailing remainder under the last pack id)."""
    seqs: dict[tuple, list[int]] = defaultdict(list)
    for g, pid, ps in rows:
        seqs[(g, pid)].append(ps)
    errors = []
    ids_by_group: dict = defaultdict(set)
    for (g, pid), ps in seqs.items():
        ids_by_group[g].add(pid)
    last = {g: max(ids) for g, ids in ids_by_group.items()}
    for (g, pid), ps in seqs.items():
        n = len(ps)
        short_ok = partial_last and pid == last[g] and 0 < n <= pack_length
        if n != pack_length and not short_ok:
            errors.append(f"pack {g}/{pid}: {n} rows, want {pack_length}")
        if sorted(ps) != list(range(n)):
            errors.append(f"pack {g}/{pid}: pack_seq is not 0..{n - 1}")
    for g, ids in ids_by_group.items():
        if ids != set(range(len(ids))):
            errors.append(f"group {g}: pack ids {sorted(ids)[:5]}... not 0..{len(ids) - 1}")
    return errors


def coverage(packed, valid, pack_length: int, arrival=None) -> list[str]:
    """*packed*: iterable of ``(group, seq)`` found in the packs;
    *valid*: iterable of ``(group, seq)`` of every well-formed spooled
    row. Every valid row appears at most once in the packs and no other
    row appears.

    Rows left out are the unflushed tail held in state: per group fewer
    than *pack_length*, and after every packed row of the group in
    arrival order — *arrival(group, seq)* gives a row's arrival rank
    (rows that arrive together share one: the packer's order among them
    is free). Without *arrival* no row may be left out."""
    errors = []
    counts = Counter(packed)
    dups = [k for k, n in counts.items() if n > 1]
    if dups:
        errors.append(f"{len(dups)} rows packed more than once, e.g. {dups[:3]}")
    valid_set = set(valid)
    stray = [k for k in counts if k not in valid_set]
    if stray:
        errors.append(f"{len(stray)} packed rows were never spooled, e.g. {stray[:3]}")
    left: dict = defaultdict(list)
    for g, s in valid_set:
        if (g, s) not in counts:
            left[g].append(s)
    if left and arrival is None:
        n = sum(len(v) for v in left.values())
        return errors + [f"{n} spooled rows missing from the packs"]
    last_packed: dict = {}
    for g, s in counts:
        r = arrival(g, s) if arrival else 0
        last_packed[g] = max(last_packed.get(g, r), r)
    for g, seqs in left.items():
        if len(seqs) >= pack_length:
            errors.append(f"group {g}: {len(seqs)} spooled rows missing from the packs")
        early = sorted(s for s in seqs if arrival(g, s) < last_packed.get(g, float("-inf")))
        if early:
            errors.append(
                f"group {g}: {len(early)} rows missing from before the tail, "
                f"e.g. {early[:3]}"
            )
    return errors


def values(rows, expected) -> list[str]:
    """*rows*: iterable of ``(seq, tuple_of_values)``; *expected(seq)*
    returns the tuple the generator wrote. Exact equality."""
    errors = []
    for seq, got in rows:
        want = expected(seq)
        if tuple(got) != tuple(want):
            errors.append(f"row {seq}: got {got}, want {want}")
            if len(errors) >= MAX_REPORTED:
                break
    return errors


def malformed(found_lines, planted_lines) -> list[str]:
    """The lines the engine routed as malformed are exactly the planted
    ones (as multisets)."""
    found, planted = Counter(found_lines), Counter(planted_lines)
    if found == planted:
        return []
    extra = list((found - planted).elements())[:3]
    missing = list((planted - found).elements())[:3]
    return [
        f"malformed routing differs: {sum((found - planted).values())} "
        f"unexpected (e.g. {extra}), {sum((planted - found).values())} "
        f"missed (e.g. {missing})"
    ]
