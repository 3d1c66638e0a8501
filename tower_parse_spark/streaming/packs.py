"""Exact count-based packs on a stream — the engine's one custom stateful
operator (SURVEY.md §4.3).

The reference's Buffer holds rows per group and flushes exactly
``pack_length`` at a time (readport.py:277-289); rows beyond a full pack
stay buffered for the next flush. Micro-batching breaks the "exactly N"
invariant for any stateless operator, so this is ``applyInPandasWithState``:

- state per group = (next_pack_id, pickled remainder rows);
- each trigger: remainder + new rows -> emit every completed pack (with
  ``pack_id``/``pack_seq``), buffer the tail;
- state survives in the checkpoint, so a restart resumes mid-pack — an
  intentional upgrade over the reference's crash behavior (buffer lost,
  readport.py:409-419 acknowledges the loss).

Scale: state size is bounded by pack_length rows x #groups (identical to
the reference's memory bound, §4.2). A grouped stream has
``spark.sql.shuffle.partitions`` state partitions and its groups are
hash-distributed over them, so 10^6 devices spread evenly. A
single-group stream (key ``_g``) gets one state partition from
``pipeline.write_packs``: its one key would leave every other partition
empty, yet each would still load and commit a state store and hold a
Python worker every epoch. The cost is that such an epoch's packs are
written by one task. The remainder is pickled — opaque bytes survive any
column set without a fixed state schema.

Every packer task also pays a fixed cost in its Python worker. Before each
Python task, pyspark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On Python 3.11, each cached
``zipimporter`` then re-reads its archive's whole directory at once: a
worker that imports pyspark from ``pyspark.zip`` (~1.3k entries) holds
~18 of them, so every task spent 190-310 ms of CPU re-parsing the zip and
the worker kept ~18 copies of its directory (~0.6 MB each). The Python
body itself is 20-60 ms. Python 3.13 only drops the cache and re-reads
lazily. :func:`make_packer` brings that behaviour to the eager versions
(see ``share_zip_directories`` inside it): an archive is re-read only
when its ``(st_mtime_ns, st_size)`` changed, and every zipimporter of an
archive shares the one directory dict, so a task's ``invalidate_caches``
costs ~0.3 ms.
"""

from __future__ import annotations

import pickle
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StructField,
    StructType,
)


def packed_schema(df: DataFrame) -> StructType:
    return StructType(
        list(df.schema.fields)
        + [
            StructField("pack_id", LongType()),
            StructField("pack_seq", LongType()),
        ]
    )


STATE_SCHEMA = StructType(
    [
        StructField("next_pack_id", LongType()),
        StructField("buf", BinaryType()),
    ]
)


def make_packer(pack_length: int, order_cols: list[str], columns: list[str]):
    """Build the per-group stateful function.

    Ordering note: rows are sorted by *order_cols* within each trigger
    (deterministic tests); across triggers the semantics are arrival
    order, exactly like the reference's FIFO buffer (readport.py:271-275).

    Worker fixed cost: the packer's first call in each Python worker
    installs ``share_zip_directories`` (module docstring), so later tasks
    stop re-reading ``pyspark.zip``. The helper is nested here on purpose:
    cloudpickle ships a closure by value, while a module-level function
    goes by reference and would make every worker import
    ``tower_parse_spark``, which only resolves when the worker's cwd is
    the repo root. It acts only where ``zipimporter.invalidate_caches`` is
    the eager kind: Python < 3.13 with the private ``zipimport`` names it
    touches. Anywhere else it returns without changing anything.
    """

    def share_zip_directories() -> None:
        """Once per process: re-read a zip archive's directory on
        ``invalidate_caches`` only when the archive's stat changed, and
        point every zipimporter of the archive at the one dict in
        ``zipimport._zip_directory_cache``."""
        import os
        import sys
        import zipimport

        cls = zipimport.zipimporter
        eager = cls.invalidate_caches
        if (
            sys.version_info >= (3, 13)
            or getattr(eager, "stat_checked", False)
            or not hasattr(zipimport, "_zip_directory_cache")
            or hasattr(cls, "_get_files")
        ):
            return
        cache = zipimport._zip_directory_cache
        stamps: dict[str, tuple[int, int] | None] = {}

        def invalidate_caches(self) -> None:
            try:
                st = os.stat(self.archive)
                now = (st.st_mtime_ns, st.st_size)
            except OSError:
                now = None
            if now is None or stamps.get(self.archive) != now or (
                self.archive not in cache
            ):
                eager(self)
                stamps[self.archive] = now
            else:
                self._files = cache[self.archive]

        invalidate_caches.stat_checked = True
        cls.invalidate_caches = invalidate_caches
        # One read per archive now, so the instances that already hold a
        # private copy share the fresh dict from this task on.
        for finder in list(sys.path_importer_cache.values()):
            if isinstance(finder, cls):
                finder.invalidate_caches()

    def packer(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        share_zip_directories()
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            batch = batch.sort_values(order_cols, kind="mergesort").reset_index(
                drop=True
            )
        if state.exists:
            next_pack_id, raw = state.get
            buffered = pickle.loads(raw)
            batch = pd.concat([buffered, batch], ignore_index=True)
        else:
            next_pack_id = 0
        n_full = len(batch) // pack_length
        cut = n_full * pack_length
        full, rest = batch.iloc[:cut], batch.iloc[cut:]
        state.update((next_pack_id + n_full, pickle.dumps(rest)))
        if n_full:
            out = full.copy()
            idx = pd.RangeIndex(cut)
            out["pack_id"] = next_pack_id + idx // pack_length
            out["pack_seq"] = idx % pack_length
            yield out[columns + ["pack_id", "pack_seq"]]

    return packer


def stream_pack(
    df: DataFrame,
    pack_length: int,
    group_col: str,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Exact-N packs per group on a streaming DataFrame.

    Emits only rows of *completed* packs (append semantics — a pack is
    immutable once emitted, which is what makes the downstream file sink
    atomic per pack, A18/A20); the in-progress tail rides in state.
    """
    order = order_cols or ["time"]
    packer = make_packer(pack_length, order, df.columns)
    return df.groupBy(group_col).applyInPandasWithState(
        packer,
        outputStructType=packed_schema(df),
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
