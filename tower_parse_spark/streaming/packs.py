"""Exact count-based packs on a stream — the engine's one custom stateful
operator (SURVEY.md §4.3).

The reference's Buffer holds rows per group and flushes exactly
``pack_length`` at a time (readport.py:277-289); rows beyond a full pack
stay buffered for the next flush. Micro-batching breaks the "exactly N"
invariant for any stateless operator, so this is ``applyInPandasWithState``:

- state per group = (next_pack_id, pickled remainder rows);
- each trigger: remainder + new rows -> every completed pack (with
  ``pack_id``/``pack_seq``), buffer the tail;
- state survives in the checkpoint, so a restart resumes mid-pack — an
  intentional upgrade over the reference's crash behavior (buffer lost,
  readport.py:409-419 acknowledges the loss).

This is the one streaming form of the pack semantics whose batch entry
is ``operators.pack.with_pack_id`` (order: ``order_cols`` ascending,
nulls first, stated there): after every commit, the packs written equal
the batch's full packs over the input read so far, and the state holds
the batch's trailing short pack (tests/test_properties.py).
:func:`stream_pack_files` runs the packer body (:func:`make_packer`) and
writes each completed pack in the task that cut it, as the reference
writes one ``.npz`` per pack when its buffer flushes (readport.py:392-405):
``<out>/<group>=<g>/pack_id=<n>/part-0.parquet`` (:data:`PACK_FILE`),
through ``pyarrow.fs`` so local and remote stores share one path. A pack
goes to a dot-prefixed temp name unique to the write, which Spark's
reader and a ``*.parquet`` glob both skip, and is renamed into place;
then any other visible data file in that directory is removed (one a
replay or an older writer left). The form emits one row per pack
written: (group, pack_id, rows, bytes).

Exactly-once: only completed packs leave the state store and the tail
rides in state, so each (group, pack_id) is cut in exactly one epoch. An
epoch replayed after a crash between its writes and its checkpoint
commit re-runs the packer from the same offsets and the same pre-epoch
state version, so it cuts the same packs and rewrites the same file
names; the end state holds each pack once, with no commit protocol.

Scale: state size is bounded by pack_length rows x #groups (identical to
the reference's memory bound, §4.2). A grouped stream has
``spark.sql.shuffle.partitions`` state partitions and its groups are
hash-distributed over them, so 10^6 devices spread evenly. A
single-group stream (key ``_g``) gets one state partition from
``pipeline.write_packs``: its one key would leave every other partition
empty, yet each would still load and commit a state store and hold a
Python worker every epoch. The cost is that such an epoch's packs are
cut and written by one task. The remainder is pickled — opaque bytes
survive any column set without a fixed state schema.
"""

from __future__ import annotations

import os
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


def written_schema(df: DataFrame, group_col: str) -> StructType:
    """The packer's output: one row per pack file written."""
    return StructType(
        [
            df.schema[group_col],
            StructField("pack_id", LongType()),
            StructField("rows", LongType()),
            StructField("bytes", LongType()),
        ]
    )


def pack_file_schema(df: DataFrame, group_col: str):
    """The Arrow schema of a pack file written from *df*'s packs: every
    column but the key, then ``pack_seq`` — the columns and types a Spark
    write partitioned by (key, ``pack_id``) stores in its data files."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(
        StructType(
            [f for f in df.schema.fields if f.name != group_col]
            + [StructField("pack_seq", LongType())]
        )
    )


#: the one data file of a pack directory the packer writes
PACK_FILE = "part-0.parquet"

STATE_SCHEMA = StructType(
    [
        StructField("next_pack_id", LongType()),
        StructField("buf", BinaryType()),
    ]
)


def make_packer(pack_length: int, order_cols: list[str], columns: list[str]):
    """Build the per-group stateful function.

    Ordering note: rows are sorted by *order_cols* within each trigger,
    ascending with nulls first, as ``with_pack_id``'s window sorts them;
    across triggers the semantics are arrival order, exactly like the
    reference's FIFO buffer (readport.py:271-275).
    """

    def packer(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        batch = pd.concat(list(pdfs), ignore_index=True)
        if len(batch):
            batch = batch.sort_values(
                order_cols, kind="mergesort", na_position="first"
            ).reset_index(drop=True)
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


def make_pack_writer(
    pack_length: int,
    order_cols: list[str],
    columns: list[str],
    group_col: str,
    out_dir: str,
    file_schema,
):
    """Build the per-group stateful function :func:`stream_pack_files`
    runs: the packs of :func:`make_packer`, each written to its own file
    (module docstring), and one ``(group, pack_id, rows, bytes)`` row per
    pack instead of its rows.

    *out_dir* is an absolute path or a URI ``pyarrow.fs`` resolves;
    *file_schema* is the Arrow schema of a pack file's columns: *columns*
    without *group_col*, then ``pack_seq`` (the key and ``pack_id`` live
    in the directory names, as in a Spark partitioned write). Writing
    with it keeps each column's Spark type: pandas holds a nullable int
    column with a null as float64. The helpers are nested on purpose:
    cloudpickle ships a closure by value, while a module-level function
    goes by reference and would make every worker import
    ``tower_parse_spark``, which only resolves when the worker's cwd is
    the repo root.
    """
    packer = make_packer(pack_length, order_cols, columns)
    data_cols = list(file_schema.names)

    def partition_value(value) -> str:
        """*value* as Spark names a partition directory: null and ''
        are Hive's default partition, a double is formatted as Java's
        ``Double.toString`` and a string is %-escaped."""
        import decimal
        import math

        if value is None or value == "":
            return "__HIVE_DEFAULT_PARTITION__"
        if isinstance(value, str):
            return "".join(
                f"%{ord(c):02X}"
                if ord(c) < 0x20 or ord(c) == 0x7F or c in "\"#%'*/:=?[\\]^{"
                else c
                for c in value
            )
        if not isinstance(value, float):
            return str(value)
        if math.isnan(value):
            return "NaN"
        if math.isinf(value):
            return "Infinity" if value > 0 else "-Infinity"
        if value == 0 or 1e-3 <= abs(value) < 1e7:
            return repr(value)
        sign, digits, exp = decimal.Decimal(repr(value)).as_tuple()
        head, tail = digits[0], "".join(map(str, digits[1:])).rstrip("0")
        return f"{'-' if sign else ''}{head}.{tail or '0'}E{len(digits) - 1 + exp}"

    def write_pack(fs, pack_dir: str, table) -> int:
        """Write *table* as ``pack_dir/part-0.parquet`` through a dot-temp
        file and a rename, remove any other visible data file in
        *pack_dir*, and return the file's size in bytes."""
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyarrow import fs as pafs

        buf = pa.BufferOutputStream()
        # no pandas or Arrow schema blobs in the footer and no dictionary
        # pages: on small packs they would double the file
        pq.write_table(table, buf, use_dictionary=False, store_schema=False)
        data = buf.getvalue()
        fs.create_dir(pack_dir, recursive=True)
        final = f"{pack_dir}/{PACK_FILE}"
        tmp = f"{pack_dir}/.{PACK_FILE}.{uuid.uuid4().hex}.tmp"
        try:
            with fs.open_output_stream(tmp, compression=None) as f:
                f.write(data)
            fs.move(tmp, final)
        except BaseException:
            try:
                fs.delete_file(tmp)
            except OSError:
                pass
            raise
        for info in fs.get_file_info(pafs.FileSelector(pack_dir)):
            name = info.base_name
            if (
                info.type == pafs.FileType.File
                and name != PACK_FILE
                and not name.startswith((".", "_"))
            ):
                fs.delete_file(info.path)
        return data.size

    def pack_writer(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import pyarrow as pa
        from pyarrow import fs as pafs

        for out in packer(key, pdfs, state):
            fs, root = pafs.FileSystem.from_uri(out_dir)
            group_dir = f"{root}/{group_col}={partition_value(key[0])}"
            ids, sizes = [], []
            for start in range(0, len(out), pack_length):
                pack = out.iloc[start : start + pack_length]
                table = pa.Table.from_pandas(
                    pack[data_cols], schema=file_schema, preserve_index=False
                ).replace_schema_metadata()
                ids.append(int(pack["pack_id"].iat[0]))
                sizes.append(write_pack(fs, f"{group_dir}/pack_id={ids[-1]}", table))
            yield pd.DataFrame({
                group_col: [key[0]] * len(ids),
                "pack_id": ids,
                "rows": [pack_length] * len(ids),
                "bytes": sizes,
            })

    return pack_writer


def stream_pack_files(
    df: DataFrame,
    pack_length: int,
    group_col: str,
    out_dir: str,
    order_cols: tuple[str, ...],
) -> DataFrame:
    """Exact-N packs per group on a streaming DataFrame, rows ordered by
    *order_cols* within a trigger: every completed pack is
    written under *out_dir* by the task that cuts it (module docstring),
    and the stream carries one ``(group, pack_id, rows, bytes)`` row per
    pack file written; the in-progress tail rides in state. Nothing is
    written until the stream's rows are materialized, so a sink must
    consume every row.

    *out_dir* is resolved here, in the process that builds the stream (a
    plain path against its cwd), because the closure that writes is
    pickled now and runs in Python workers whose cwd can differ."""
    if "://" not in out_dir:
        out_dir = os.path.abspath(out_dir.removeprefix("file:"))
    writer = make_pack_writer(
        pack_length, list(order_cols), df.columns, group_col, out_dir,
        pack_file_schema(df, group_col),
    )
    return df.groupBy(group_col).applyInPandasWithState(
        writer,
        outputStructType=written_schema(df, group_col),
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
