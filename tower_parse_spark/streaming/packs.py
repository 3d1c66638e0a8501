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
    """

    def packer(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
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
