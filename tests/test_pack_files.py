"""The pack writer, driven directly (no stream): the pack
files it writes have the columns and Parquet types of a Spark partitioned
write of the same packs, sit in directories named as Spark names
partitions, and a failed write leaves no visible file behind; rows are cut
in ``with_pack_id``'s order, nulls first."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from tower_parse_spark.streaming.packs import (
    PACK_FILE,
    make_pack_writer,
    pack_file_schema,
)


class FakeState:
    """The three ``GroupState`` members the packer touches."""

    def __init__(self):
        self.value = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = value


def run_writer(df, group_col, out, key, pack_length=2, order_cols=("time",)):
    """Feed *df*'s rows (converted by Spark, as the stateful operator
    hands them over) to the writing packer under *key*; return its
    summary rows."""
    writer = make_pack_writer(
        pack_length, list(order_cols), df.columns, group_col, str(out),
        pack_file_schema(df, group_col),
    )
    return [
        r for pdf in writer(key, iter([df.toPandas()]), FakeState())
        for r in pdf.to_dict("records")
    ]


def parquet_columns(path):
    """(name, physical type, logical type, max definition level) of every
    column of a parquet file."""
    schema = pq.ParquetFile(path).schema
    return [
        (c.name, c.physical_type, str(c.logical_type), c.max_definition_level)
        for c in (schema.column(i) for i in range(len(schema)))
    ]


def test_pack_file_matches_spark_partitioned_write(spark, tmp_path):
    """Same packs, two writers: the pack file's columns and Parquet types
    equal those of Spark's partitioned write, and an int column holding a
    null stays INT32 (pandas holds it as float64)."""
    packs = spark.createDataFrame(
        [(1.0, 7, "a", 1.5, 3, 0, 0), (2.0, None, None, 2.5, 3, 0, 1)],
        "time double, n int, name string, v double, level int,"
        " pack_id long, pack_seq long",
    )
    ref = tmp_path / "spark"
    packs.coalesce(1).write.partitionBy("level", "pack_id").parquet(str(ref))
    df = packs.drop("pack_id", "pack_seq")
    (ref_file,) = (ref / "level=3" / "pack_id=0").glob("*.parquet")

    summary = run_writer(df, "level", tmp_path / "packs", (3,))
    pack_dir = tmp_path / "packs" / "level=3" / "pack_id=0"
    assert os.listdir(pack_dir) == [PACK_FILE]
    assert summary == [{
        "level": 3, "pack_id": 0, "rows": 2,
        "bytes": os.path.getsize(pack_dir / PACK_FILE),
    }]
    columns = parquet_columns(pack_dir / PACK_FILE)
    assert columns == parquet_columns(ref_file)
    assert ("n", "INT32") in [c[:2] for c in columns]
    back = spark.read.parquet(str(tmp_path / "packs")).orderBy("pack_seq")
    assert [tuple(r) for r in back.collect()] == [
        (1.0, 7, "a", 1.5, 0, 3, 0),
        (2.0, None, None, 2.5, 1, 3, 0),
    ]


@pytest.mark.parametrize(
    "kind, values",
    [
        ("int", [0, -3, 2**31 - 1, None]),
        ("double", [1.0, -0.0, 0.001, 9999999.0, 1e7, 1.23456789123e8,
                    1e-4, 2.5e-7, -1.5e300, float("inf"), float("nan")]),
        ("string", ["a b", "x/y", "k=v", "%", "{}[]", "tab\there", "é~|",
                    "", None]),
    ],
)
def test_pack_directories_named_like_spark_partitions(
    spark, tmp_path, kind, values
):
    """The group directory of each key is the one Spark's partitioned
    writer names: Java double formatting, %-escaping, Hive's default
    partition for null and ''."""
    ref = tmp_path / "spark"
    spark.createDataFrame(
        [(v, 1.0) for v in values], f"g {kind}, time double"
    ).write.partitionBy("g").parquet(str(ref))
    want = sorted(p for p in os.listdir(ref) if p.startswith("g="))

    out = tmp_path / "packs"
    for v in values:
        df = spark.createDataFrame([(v, 1.0)], f"g {kind}, time double")
        run_writer(df, "g", out, (v,), pack_length=1)
    assert sorted(os.listdir(out)) == want


def test_failed_write_leaves_no_file_behind(spark, tmp_path):
    """A write whose rename fails raises, and the pack directory holds no
    temp file and nothing Spark or a ``*.parquet`` glob would read."""
    df = spark.createDataFrame([(1.0, 1), (2.0, 1)], "time double, level int")
    pack_dir = tmp_path / "packs" / "level=1" / "pack_id=0"
    (pack_dir / PACK_FILE).mkdir(parents=True)  # the rename target is taken
    with pytest.raises(OSError):
        run_writer(df, "level", tmp_path / "packs", (1,))
    assert os.listdir(pack_dir) == [PACK_FILE]
    assert (pack_dir / PACK_FILE).is_dir()


def test_null_tiebreak_cut_before_time_tied_peers(spark, tmp_path):
    """Within one epoch, a row whose tie-break is null sorts before the
    rows that share its time, as ``with_pack_id``'s window puts it
    (ascending, nulls first), so it is cut into the earlier pack."""
    df = spark.createDataFrame(
        [(2.0, 5, 1), (1.0, 2, 1), (1.0, None, 1), (1.0, 1, 1)],
        "time double, tb long, level int",
    )
    run_writer(df, "level", tmp_path / "packs", (1,), 2, ("time", "tb"))
    back = spark.read.parquet(str(tmp_path / "packs"))
    got = sorted((r["pack_id"], r["pack_seq"], r["tb"]) for r in back.collect())
    assert got == [(0, 0, None), (0, 1, 1), (1, 0, 2), (1, 1, 5)]
