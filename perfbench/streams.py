"""Helpers shared by the two pack-ingest workloads: query progress,
the traced epoch writer, which epoch read which file, and reading the
pack sink back."""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


def progress(query) -> list[dict]:
    """Batch id, end time, input rows, durations and state-operator
    figures of every epoch in *query*'s progress log."""
    out = []
    for p in query.recentProgress:
        start = dt.datetime.fromisoformat(
            p["timestamp"].replace("Z", "+00:00")
        ).timestamp()
        dur = p["durationMs"]
        out.append({
            "batch": p["batchId"],
            "end": start + dur.get("triggerExecution", 0) / 1000.0,
            "rows": p["numInputRows"],
            "dur": dur,
            "state": (p.get("stateOperators") or [{}])[0],
        })
    return out


def epoch_seconds(epochs) -> list[float]:
    return [e["dur"]["triggerExecution"] / 1000.0 for e in epochs if e["rows"] > 0]


@contextmanager
def traced_writer(b, writes: list):
    """In a traced run, wrap the callable ``make_epoch_writer`` returns:
    each epoch's write runs inside a ``sink`` span and appends (epoch,
    seconds) to *writes*. Untraced runs leave the program untouched."""
    from tower_parse_spark.streaming import pipeline

    original = pipeline.make_epoch_writer
    if b.traced:
        def factory(out_dir, group_col):
            inner = original(out_dir, group_col)

            def write_epoch(df, epoch_id):
                t0 = time.monotonic()
                with b.tracer.span("sink"):
                    inner(df, epoch_id)
                writes.append((epoch_id, time.monotonic() - t0))
            return write_epoch
        pipeline.make_epoch_writer = factory
    try:
        yield
    finally:
        pipeline.make_epoch_writer = original


def file_epochs(checkpoint: str) -> dict[str, int]:
    """File name -> the epoch that read it, from the file source's log in
    a streaming *checkpoint* (``sources/0``: one JSON entry per file,
    batch files and their compactions)."""
    out = {}
    for log in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(log) as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def pipeline_layers(epochs) -> dict:
    """The packs.* and pipeline.* per-layer figures: medians over the
    given epochs' progress reports."""
    epochs = [e for e in epochs if e["rows"] > 0]
    if not epochs:
        return {}

    def dur(key):
        return statistics.median(e["dur"].get(key, 0) for e in epochs)

    def state(key):
        return statistics.median(e["state"].get(key, 0) for e in epochs)

    return {
        "packs.state_rows": state("numRowsTotal"),
        "packs.state_bytes": state("memoryUsedBytes"),
        "packs.update_ms": state("allUpdatesTimeMs"),
        "packs.commit_ms": state("commitTimeMs"),
        "pipeline.epoch_s_p50": dur("triggerExecution") / 1000.0,
        "pipeline.add_batch_ms": dur("addBatch"),
        "pipeline.wal_commit_ms": dur("walCommit"),
        "pipeline.latest_offset_ms": dur("latestOffset"),
        "pipeline.query_planning_ms": dur("queryPlanning"),
    }


def read_pack_dirs(out: str, group_col: str, columns: list[str]):
    """Yield ``(group, pack_id, written, n_files, n_bytes, table)`` per
    pack directory ``<group_col>=g/pack_id=n`` under *out*; *written* is
    the newest file modification time, *table* a dict of the requested
    columns."""
    import pyarrow.parquet as pq

    for pack_dir in glob.glob(os.path.join(out, f"{group_col}=*", "pack_id=*")):
        group = int(pack_dir.split(f"{group_col}=")[1].split(os.sep)[0])
        pid = int(pack_dir.rsplit("pack_id=", 1)[1])
        files = glob.glob(os.path.join(pack_dir, "*.parquet"))
        table: dict[str, list] = {c: [] for c in columns}
        for f in files:
            t = pq.read_table(f, columns=columns).to_pydict()
            for c in columns:
                table[c].extend(t[c])
        yield (
            group, pid, max(os.path.getmtime(f) for f in files), len(files),
            sum(os.path.getsize(f) for f in files), table,
        )
