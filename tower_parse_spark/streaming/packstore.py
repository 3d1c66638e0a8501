"""Pack store: the read side and maintenance of the pack sink layout.

The reference's consumers read one ``.npz`` per pack — a dict of column
vectors in arrival order (readport.py:392-405). :func:`read_packs`
reconstructs exactly that shape from the parquet layout
(``<group>=g/pack_id=n/``): one row per pack, each variable a
``pack_seq``-ordered array. collect_list here is bounded by
``pack_length`` rows per group — a per-pack buffer, never a driver
collect.

:func:`compact_packs` addresses the scale cost of the one-file-per-pack
layout: at 100 TB/day the sink produces millions of small files, which
punishes every later scan (footer reads, task scheduling). Compaction
rewrites a day's directory into ~``target_file_mb`` files per group
partition while keeping (group, pack_id, pack_seq) intact — the
standard nightly maintenance job of every streaming lake. Readers
(:func:`read_packs`) are layout-agnostic between the two forms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_packs(
    spark: SparkSession,
    path: str,
    group_col: str,
    value_cols: list[str] | None = None,
) -> DataFrame:
    """One row per (group, pack): each value column as a pack_seq-ordered
    array plus row count and time bounds — the ``.npz`` consumer shape."""
    df = spark.read.parquet(path)
    vals = value_cols or [
        c
        for c in df.columns
        if c not in (group_col, "pack_id", "pack_seq", "time")
    ]
    # the reference's npz stores the full time vector too
    # (readport.py:392-405) — reconstruct it alongside the values
    vals = ["time"] + [c for c in vals if c != "time"]
    aggs = [
        F.array_sort(
            F.collect_list(F.struct("pack_seq", c))
        ).alias(f"_s_{c}")
        for c in vals
    ]
    out = (
        df.groupBy(group_col, "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("time").alias("t_min"),
            F.max("time").alias("t_max"),
            *aggs,
        )
    )
    for c in vals:
        out = out.withColumn(
            c, F.transform(F.col(f"_s_{c}"), lambda s: s[c])
        ).drop(f"_s_{c}")
    return out


def compact_packs(
    spark: SparkSession,
    src: str,
    dest: str,
    group_col: str,
    target_file_mb: int = 128,
) -> None:
    """Rewrite the pack directory into ~target-sized files per group.

    Files per group partition = ceil(bytes / target); rows keep their
    (pack_id, pack_seq) columns so pack identity survives compaction.
    Write goes to *dest* (publish-then-swap, never in place — the same
    atomicity posture as the sink's write-then-rename of each pack).
    """
    df = spark.read.parquet(src)
    total_rows = df.count()
    if total_rows == 0:
        df.write.mode("overwrite").partitionBy(group_col).parquet(dest)
        return
    # directory size via the Hadoop FS API (works on any filesystem the
    # cluster can read, not just local paths)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(src)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(hpath).getLength()
    rows_per_file = max(
        int(total_rows * target_file_mb * 1024 * 1024 / max(total_bytes, 1)),
        1,
    )
    (
        df.repartitionByRange(
            max(total_rows // rows_per_file, 1),
            F.col(group_col),
            F.col("pack_id"),
        )
        .sortWithinPartitions(group_col, "pack_id", "pack_seq")
        .write.mode("overwrite")
        .partitionBy(group_col)
        .parquet(dest)
    )
