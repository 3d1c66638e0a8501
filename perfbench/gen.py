"""Seeded input generators for the benchmark.

The program under test only ever sees the files these write. Every
value is a pure function of ``(seed, seq)``, so the checkers recompute
what a row must contain without reading anything back from the
generator.

- :func:`wide_line` — a sonic-style frame with 16 captured fields:
  device id, sequence number, the row's due time and 13 measurements.
- :func:`narrow_line` — the fake_server message shape, with the values
  ``tower_parse_spark.streaming.sources.generator_line`` computes.
- :func:`is_malformed` / :func:`torn` — 0.5 % of rows are planted as
  torn frames that no profile regex matches.
- :func:`write_backlog` — a pre-spooled narrow backlog.
- ``python3 gen.py live ...`` — the open-loop live generator, run as its
  own process: it writes one spool file per tick at a fixed row rate,
  stamping each row with its due time, and never slows down when the
  engine falls behind. It reports its own lateness when it ends.

Files land by atomic rename from a dot-prefixed name, which the file
source ignores, so the engine never reads a partial file.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import time

N_DEVICES = 32
WIDE_FIELDS = ("U", "V", "W", "C", "TS", "P", "RH", "TA", "X", "Y", "Z", "Q", "G")
NARROW_FMT = "%02d RH= %+08.3f %%RH T= %+08.3f 'C ID=%07d"
MALFORMED_PER_MILLE = 5


def _mix(seed: int, seq: int) -> int:
    """A 32-bit integer hash of (seed, seq) — stable across processes."""
    h = (seq * 0x9E3779B1 + seed * 0x85EBCA77 + 0x165667B1) & 0xFFFFFFFF
    h ^= h >> 15
    h = (h * 0x2C1B3C6D) & 0xFFFFFFFF
    h ^= h >> 12
    return h


def is_malformed(seed: int, seq: int) -> bool:
    return _mix(seed, seq) % 1000 < MALFORMED_PER_MILLE


def torn(line: str) -> str:
    """A frame cut short mid-field, as a dropped connection leaves it."""
    return line[: len(line) * 2 // 3]


#: the live pack length (profiles/sonic32.conf): device start times are
#: staggered over one pack's worth of rounds
STAGGER_ROUNDS = 25


@functools.lru_cache(maxsize=8)
def _schedule(seed: int) -> tuple[list[int], list[int]]:
    """(order, ramp) of :func:`device`: a seeded order of the devices
    and the device of every frame before all of them have started."""
    order = sorted(range(N_DEVICES), key=lambda d: _mix(seed + 7919, d))
    start = [i * STAGGER_ROUNDS // N_DEVICES for i in range(N_DEVICES)]
    ramp = [order[i] for r in range(STAGGER_ROUNDS)
            for i in range(N_DEVICES) if r >= start[i]]
    return order, ramp


def device(seed: int, seq: int) -> int:
    """Which of the N_DEVICES devices sent frame *seq*. Frames go round
    robin over a seeded device order, so every device sends at the same
    rate, but the devices start one after another over STAGGER_ROUNDS
    rounds. Their packs therefore fill at evenly spread instants rather
    than all in one round, and where those instants fall against the
    trigger does not depend on the seed: with randomly assigned devices
    the pack latency median moved by a quarter from seed to seed."""
    order, ramp = _schedule(seed)
    if seq < len(ramp):
        return ramp[seq]
    return order[(seq - len(ramp)) % N_DEVICES]


def wide_values(seed: int, seq: int) -> list[float]:
    """The 13 measurements of frame *seq*, each in [-99.999, +99.999]
    with three decimals (exact through ``%+08.3f`` and back)."""
    base = _mix(seed, seq)
    return [
        ((base + i * 7919 + seq * (104729 + 2 * i)) % 199999) / 1000.0 - 99.999
        for i in range(len(WIDE_FIELDS))
    ]


def wide_line(seed: int, seq: int, due: float) -> str:
    vals = ",".join(
        "%s=%+08.3f" % (name, v)
        for name, v in zip(WIDE_FIELDS, wide_values(seed, seq))
    )
    return "D=%02d,N=%09d,T=%.6f,%s" % (device(seed, seq), seq, due, vals)


def narrow_values(seq: int) -> tuple[int, float, float]:
    """(level, rh, temp) exactly as ``sources.generator_line`` computes
    them."""
    return (
        seq % 2 + 1,
        ((seq * 7919) % 19998) / 100.0 - 99.99,
        ((seq * 104729) % 19998) / 100.0 - 99.99,
    )


def narrow_line(seq: int) -> str:
    return NARROW_FMT % (*narrow_values(seq), seq)


def backlog_first_seq(seed: int) -> int:
    """Where a seed's backlog starts numbering (ids stay 7 digits)."""
    return (seed * 7_777_777) % 2_000_000


def land(path: str, text: str, mtime: float | None = None) -> None:
    """Write *text* to *path* by atomic rename from a hidden name."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name + ".tmp")
    with open(tmp, "w") as fh:
        fh.write(text)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.replace(tmp, path)


def backlog_file(seq: int, first: int, n_rows: int, n_files: int) -> str:
    """The name of the backlog file that holds row *seq*."""
    return f"b{(seq - first) // -(-n_rows // n_files):05d}.txt"


def write_backlog(spool: str, seed: int, n_rows: int, n_files: int) -> int:
    """Pre-spool *n_rows* narrow frames over *n_files* files with strictly
    increasing modification times (the file source's order). Returns the
    first sequence number; rows run ``first .. first + n_rows - 1``."""
    os.makedirs(spool, exist_ok=True)
    first = backlog_first_seq(seed)
    per = -(-n_rows // n_files)
    t0 = time.time() - n_files - 60
    for f in range(n_files):
        lo, hi = first + f * per, first + min((f + 1) * per, n_rows)
        lines = []
        for seq in range(lo, hi):
            line = narrow_line(seq)
            lines.append(torn(line) if is_malformed(seed, seq) else line)
        land(
            os.path.join(spool, backlog_file(lo, first, n_rows, n_files)),
            "\n".join(lines) + "\n",
            mtime=t0 + f,
        )
    return first


# ---------------------------------------------------------------------------
# the live open-loop generator (its own process)
# ---------------------------------------------------------------------------


def tick_end(k: int, tick_s: float, rate: float) -> int:
    """One past the last row the live spool file of tick *k* holds."""
    return int(k * tick_s * rate)


def live_file(seq: int, tick_s: float, rate: float) -> str:
    """The name of the live spool file that holds row *seq*."""
    k = int(seq / (tick_s * rate)) + 1
    while tick_end(k, tick_s, rate) <= seq:
        k += 1
    while k > 1 and tick_end(k - 1, tick_s, rate) > seq:
        k -= 1
    return f"t{k:06d}.txt"


def run_live(
    spool: str,
    seed: int,
    rate: float,
    tick_s: float,
    start_at: float,
    duration_s: float,
    report: str,
) -> None:
    """Write one file per tick from *start_at* for *duration_s* seconds.

    Row ``seq`` is due at ``start_at + seq / rate`` and carries that due
    time in its frame. The file for tick k holds every row due in
    ``(start_at + (k-1)*tick, start_at + k*tick]`` and is due itself at
    the end of that interval; it is written then, or as soon as
    possible if the generator runs late (lateness is reported, never
    made up by skipping rows)."""
    os.makedirs(spool, exist_ok=True)
    late_ms: list[float] = []
    seq = 0
    n_ticks = int(round(duration_s / tick_s))
    for k in range(1, n_ticks + 1):
        tick_due = start_at + k * tick_s
        wait = tick_due - time.time()
        if wait > 0:
            time.sleep(wait)
        late_ms.append(max(0.0, (time.time() - tick_due) * 1000.0))
        end_seq = tick_end(k, tick_s, rate)
        lines = []
        while seq < end_seq:
            line = wide_line(seed, seq, start_at + seq / rate)
            lines.append(torn(line) if is_malformed(seed, seq) else line)
            seq += 1
        land(os.path.join(spool, f"t{k:06d}.txt"), "\n".join(lines) + "\n")
    late_ms.sort()
    summary = {
        "rows": seq,
        "files": n_ticks,
        "late_ms_p50": late_ms[len(late_ms) // 2] if late_ms else 0.0,
        "late_ms_p99": late_ms[min(len(late_ms) - 1, int(len(late_ms) * 0.99))]
        if late_ms
        else 0.0,
    }
    land(report, json.dumps(summary))


def _main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    live = sub.add_parser("live", help="open-loop live spool writer")
    live.add_argument("--spool", required=True)
    live.add_argument("--seed", type=int, required=True)
    live.add_argument("--rate", type=float, required=True)
    live.add_argument("--tick", type=float, required=True)
    live.add_argument("--start-at", type=float, required=True)
    live.add_argument("--duration", type=float, required=True)
    live.add_argument("--report", required=True)
    args = ap.parse_args()
    run_live(
        args.spool, args.seed, args.rate, args.tick, args.start_at,
        args.duration, args.report,
    )


if __name__ == "__main__":
    _main()
