"""Generators and output checkers of the benchmark (no Spark needed).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import gen  # noqa: E402

LENGTH = 4


def _packs(n_groups=2, n_packs=3):
    """A correct pack set: (group, pack_id, pack_seq, seq) rows."""
    rows, seq = [], 0
    for g in range(n_groups):
        for pid in range(n_packs):
            for ps in range(LENGTH):
                rows.append((g, pid, ps, seq))
                seq += 1
    return rows


def test_wide_frames_are_seeded_and_parse():
    a = gen.wide_line(7, 123, 1.7e9 + 0.25)
    assert a == gen.wide_line(7, 123, 1.7e9 + 0.25)
    assert a != gen.wide_line(8, 123, 1.7e9 + 0.25)
    regex = _profile_regex("sonic32.conf")
    m = re.match(regex, a)
    assert m and len(m.groupdict()) >= 16
    assert int(m["dev"]) == gen.device(7, 123) and int(m["seq"]) == 123
    assert float(m["u"]) == float("%+08.3f" % gen.wide_values(7, 123)[0])
    assert re.match(regex, gen.torn(a)) is None


def test_devices_share_the_load_and_fill_packs_at_staggered_times():
    counts = [0] * gen.N_DEVICES
    filled = {}  # device -> seq of the frame that fills its first pack
    for s in range(64_000):
        d = gen.device(4, s)
        counts[d] += 1
        if counts[d] == gen.STAGGER_ROUNDS:
            filled[d] = s
    assert max(counts) - min(counts) <= gen.STAGGER_ROUNDS
    # first packs fill spread over a pack's worth of rounds, at most two
    # in one round (round robin would fill all 32 within one round)
    rounds = Counter(s // gen.N_DEVICES for s in filled.values())
    assert len(filled) == gen.N_DEVICES and max(rounds.values()) <= 2
    assert max(rounds) - min(rounds) >= gen.STAGGER_ROUNDS - 1
    assert [gen.device(5, s) for s in range(2000)] != [gen.device(4, s) for s in range(2000)]


def test_narrow_frames_parse_and_torn_ones_do_not():
    regex = _profile_regex("probe4.conf")
    line = gen.narrow_line(1234567)
    m = re.match(regex, line)
    assert m and int(m["id"]) == 1234567
    assert re.match(regex, gen.torn(line)) is None


def test_malformed_share_is_half_a_percent():
    n = sum(gen.is_malformed(3, s) for s in range(200_000))
    assert 0.004 < n / 200_000 < 0.006
    assert [gen.is_malformed(3, s) for s in range(500)] == [
        gen.is_malformed(3, s) for s in range(500)
    ]


def test_backlog_spool_is_seeded(tmp_path):
    first = gen.write_backlog(str(tmp_path / "a"), 5, 1000, 4)
    gen.write_backlog(str(tmp_path / "b"), 5, 1000, 4)
    names = sorted(os.listdir(tmp_path / "a"))
    assert names == sorted(os.listdir(tmp_path / "b")) and len(names) == 4
    for n in names:
        assert (tmp_path / "a" / n).read_text() == (tmp_path / "b" / n).read_text()
    mtimes = [os.path.getmtime(tmp_path / "a" / n) for n in names]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4
    lines = "".join((tmp_path / "a" / n).read_text() for n in names).split()
    assert f"ID={first:07d}" in lines


def test_correct_packs_pass():
    rows = _packs()
    assert check.pack_shape([r[:3] for r in rows], LENGTH) == []
    valid = [(g, s) for g, _, _, s in rows]
    assert check.coverage([(g, s) for g, _, _, s in rows], valid, LENGTH) == []


def test_corrupted_pack_is_caught():
    rows = _packs()
    short = [r for r in rows if not (r[0] == 1 and r[1] == 1 and r[2] == 3)]
    assert check.pack_shape([r[:3] for r in short], LENGTH)
    reseq = [(g, p, 0 if (g, p) == (0, 2) else ps, s) for g, p, ps, s in rows]
    assert check.pack_shape([r[:3] for r in reseq], LENGTH)
    gap = [(g, 5 if (g, p) == (0, 2) else p, ps, s) for g, p, ps, s in rows]
    assert check.pack_shape([r[:3] for r in gap], LENGTH)


def test_partial_last_pack_only_with_flag():
    rows = _packs(n_groups=1)[:-1]
    assert check.pack_shape([r[:3] for r in rows], LENGTH)
    assert check.pack_shape([r[:3] for r in rows], LENGTH, partial_last=True) == []


def test_coverage_catches_duplicates_strays_and_losses():
    rows = _packs(n_groups=1)
    valid = [(0, s) for _, _, _, s in rows]
    packed = [(0, s) for _, _, _, s in rows]

    def arrival(_, seq):  # rows arrive two at a time
        return seq // 2

    assert check.coverage(packed + packed[:1], valid, LENGTH, arrival)
    assert check.coverage(packed + [(0, 999)], valid, LENGTH, arrival)
    # a tail shorter than a pack may stay in state ...
    assert check.coverage(packed[:-3], valid, LENGTH, arrival) == []
    # ... but not a whole pack, and not at all when nothing is held back
    assert check.coverage(packed[:-LENGTH], valid, LENGTH, arrival)
    assert check.coverage(packed[:-1], valid, LENGTH)


def test_coverage_catches_a_dropped_middle_row():
    rows = _packs(n_groups=2)
    valid = [(g, s) for g, _, _, s in rows]
    packed = [(g, s) for g, _, _, s in rows]

    def arrival(_, seq):
        return seq // 2

    # one row short of the tail, in arrival order, is fine; a row from
    # the middle of group 1 is not, though fewer than a pack are missing
    assert check.coverage(packed[:-1], valid, LENGTH, arrival) == []
    middle = packed[len(packed) * 3 // 4]
    errors = check.coverage([p for p in packed if p != middle], valid, LENGTH, arrival)
    assert errors and "before the tail" in errors[0]
    # rows that arrived together with the last packed row may be held back
    assert check.coverage(packed[:-2] + packed[-1:], valid, LENGTH, arrival) == []


def test_live_and_backlog_rows_map_to_their_files(tmp_path):
    first = gen.write_backlog(str(tmp_path), 5, 1000, 4)
    for name in os.listdir(tmp_path):
        for line in (tmp_path / name).read_text().split("\n"):
            m = re.search(r"ID=(\d+)$", line)
            if m:
                assert gen.backlog_file(int(m[1]), first, 1000, 4) == name
    for rate, tick in ((300.0, 0.25), (333.0, 0.3)):
        for seq in range(2000):
            k = int(gen.live_file(seq, tick, rate)[1:7])
            assert gen.tick_end(k - 1, tick, rate) <= seq < gen.tick_end(k, tick, rate)


def test_values_and_malformed_routing():
    want = {1: (1.0, 2.0), 2: (3.0, 4.0)}
    assert check.values([(1, (1.0, 2.0)), (2, (3.0, 4.0))], want.get) == []
    assert check.values([(1, (1.0, 2.5))], want.get)
    assert check.malformed(["a", "b", "b"], ["b", "a", "b"]) == []
    assert check.malformed(["a"], ["a", "b"])
    assert check.malformed(["a", "c"], ["a"])


def _profile_regex(name: str) -> str:
    sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
    from tower_parse_spark.plans.profile import DeviceProfile

    return DeviceProfile.from_ini(
        os.path.join(os.path.dirname(HERE), "profiles", name)
    ).regex[0]
