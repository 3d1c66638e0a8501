"""Reference-parity ingest queries, oracle-checked.

The reference's pipeline is: raw line -> regex named-group extraction ->
sentinel dropping -> float/group casts -> per-group count-based packs ->
columnar sink (SURVEY.md §2.A8-A19). The driver's oracle runs over the
fixed TPC-H-ish tables, so these queries *derive a deterministic raw-line
stream from ``events``* (printf both engines can compute identically),
then run the real engine operators on it. This checks the full extraction
plan (regexp_extract + coalesce + nullif + casts) and the pack window
value-for-value against DuckDB.

``events`` columns used: event_id (line id / tie-break), ts (the
processing-time stamp the reference assigns at receipt, readport.py:449-453),
user_id -> device level, value -> measurements, event_type='error' ->
sentinel injection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tower_parse_spark.functions.extraction import extract_lines
from tower_parse_spark.functions.rounding import pround
from tower_parse_spark.operators.pack import pack_stats, with_pack_id
from tower_parse_spark.plans.profile import DeviceProfile, GroupSpec
from tower_parse_spark.queries import Query
from tower_parse_spark.session import ensure_parallelism, load_table

# ---------------------------------------------------------------------------
# Deterministic line synthesis (identical printf in Spark and DuckDB).
# Probe format F1 (FIXTURES.md; fake_server.py:28-30 shape):
#   "01 RH= +185.220 %RH T= -185.220 'C ID=0000042"
# level = user_id % 3 + 1, rh = value, temp = -value, id = event_id;
# event_type = 'error' rows carry the '///' missing-data sentinel for rh
# (configs/readport_4004_KLDPIO.conf:19 semantics).
# ---------------------------------------------------------------------------

PROBE_FMT = "%02d RH= %s %%RH T= %+08.3f 'C ID=%07d"

PROBE_REGEX = (
    r"^(?P<level>\d+) RH= (?P<rh>\S+) %RH T= (?P<temp>\S+) .C ID=(?P<id>\d+)$"
)

PROBE_PROFILE = DeviceProfile(
    name="probe",
    regex=[PROBE_REGEX],
    group=GroupSpec("level", "int"),
    pack_length=50,
)


def _probe_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    # regex extraction downstream is CPU-bound; small parquet arrives as
    # one split, so spread it (no-op when the source has >= cores splits)
    ev = ensure_parallelism(load_table(spark, sf_dir, "events"))
    rh_str = F.when(F.col("event_type") == "error", F.lit("///")).otherwise(
        F.format_string("%+08.3f", F.col("value"))
    )
    line = F.format_string(
        PROBE_FMT,
        (F.col("user_id") % 3 + 1).cast("int"),
        rh_str,
        -F.col("value"),
        F.col("event_id"),
    )
    return ev.select(
        F.col("event_id"),
        F.col("ts").cast("double").alias("ts"),  # epoch seconds, readport.py:453
        # NULL-safe mirror of DuckDB printf: Spark format_string prints a
        # literal "null" for a NULL argument where DuckDB's printf
        # propagates NULL — emit a NULL line on both engines when any
        # formatted field is NULL (routed corrupt downstream, r6)
        F.when(
            F.col("user_id").isNotNull()
            & F.col("value").isNotNull()
            & F.col("event_id").isNotNull(),
            line,
        ).alias("line"),
    )


_PROBE_LINES_SQL = """
SELECT event_id,
       epoch(ts) AS ts,
       printf('%02d RH= %s %%RH T= %+08.3f ''C ID=%07d',
              CAST(user_id % 3 + 1 AS INT),
              CASE WHEN event_type = 'error' THEN '///'
                   ELSE printf('%+08.3f', value) END,
              -value,
              event_id) AS line
FROM events
"""

_EXTRACT_SQL = f"""
WITH lines AS ({_PROBE_LINES_SQL}),
extracted AS (
  SELECT event_id,
         ts AS time,
         CAST(nullif(nullif(regexp_extract(line, '{{pat}}', 1), ''), '///') AS INT)    AS level,
         CAST(nullif(nullif(regexp_extract(line, '{{pat}}', 2), ''), '///') AS DOUBLE) AS rh,
         CAST(nullif(nullif(regexp_extract(line, '{{pat}}', 3), ''), '///') AS DOUBLE) AS temp,
         CAST(nullif(nullif(regexp_extract(line, '{{pat}}', 4), ''), '///') AS DOUBLE) AS id
  FROM lines
  WHERE regexp_matches(line, '{{pat}}')
)
"""


def _probe_oracle(body: str) -> str:
    pat = r"^(\d+) RH= (\S+) %RH T= (\S+) .C ID=(\d+)$"
    return _EXTRACT_SQL.replace("{pat}", pat) + body


def ingest_extract_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8+A10+A11: regex projection, sentinel->NULL, typed casts."""
    lines = _probe_lines(spark, sf_dir)
    return extract_lines(
        lines, PROBE_PROFILE, extra_cols=["event_id"]
    ).orderBy("event_id")


INGEST_EXTRACT_ORACLE = _probe_oracle(
    "SELECT event_id, time, level, rh, temp, id FROM extracted ORDER BY event_id"
)


def ingest_sentinel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 aggregate view: per-level row and sentinel-null counts."""
    ext = extract_lines(_probe_lines(spark, sf_dir), PROBE_PROFILE)
    return (
        ext.groupBy("level")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("rh").alias("n_rh_present"),
            F.sum(F.col("rh").isNull().cast("long")).alias("n_rh_missing"),
            # temp is 3-decimal printf-quantized: exact integer sum makes
            # the average order-independent across engines/runs (a float
            # partial-agg sum can land on round-half boundaries).
            pround(
                F.sum(F.round(F.col("temp") * 1000).cast("long")) / 1000.0
                / F.count("temp"),
                4,
            ).alias("avg_temp"),
        )
        .orderBy("level")
    )


INGEST_SENTINEL_ORACLE = _probe_oracle(
    """
SELECT level,
       count(*) AS n_rows,
       count(rh) AS n_rh_present,
       CAST(sum(CASE WHEN rh IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rh_missing,
       floor((sum(CAST(round(temp * 1000) AS BIGINT)) / 1000.0 / count(temp))
             * 10000.0 + 0.5) / 10000.0 AS avg_temp
FROM extracted
GROUP BY level
ORDER BY level
"""
)


def ingest_pack_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 batch: exact count-based packs per group, flush-side stats."""
    ext = extract_lines(
        _probe_lines(spark, sf_dir), PROBE_PROFILE, extra_cols=["event_id"]
    )
    packed = with_pack_id(
        ext, PROBE_PROFILE.pack_length, "level", ["time", "event_id"]
    )
    return pack_stats(packed, "level").orderBy("level", "pack_id")


INGEST_PACK_ORACLE = _probe_oracle(
    """
, packed AS (
  SELECT level, time,
         CAST(floor((row_number() OVER (PARTITION BY level
           ORDER BY time NULLS FIRST, event_id) - 1) / 50.0) AS BIGINT) AS pack_id
  FROM extracted
)
SELECT level, pack_id,
       count(*) AS n_rows,
       min(time) AS t_min,
       max(time) AS t_max
FROM packed
GROUP BY level, pack_id
ORDER BY level, pack_id
"""
)


def ingest_pack_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 at scale: ungrouped packs, which :func:`with_pack_id` numbers
    partition-parallel (no single-partition window). Same oracle shape."""
    ext = extract_lines(
        _probe_lines(spark, sf_dir), PROBE_PROFILE, extra_cols=["event_id"]
    )
    packed = with_pack_id(ext, 100, None, ["time", "event_id"])
    return pack_stats(packed).orderBy("pack_id")


INGEST_PACK_SCALABLE_ORACLE = _probe_oracle(
    """
, packed AS (
  SELECT time,
         CAST(floor((row_number() OVER (ORDER BY time NULLS FIRST, event_id) - 1)
           / 100.0) AS BIGINT) AS pack_id
  FROM extracted
)
SELECT pack_id,
       count(*) AS n_rows,
       min(time) AS t_min,
       max(time) AS t_max
FROM packed
GROUP BY pack_id
ORDER BY pack_id
"""
)


# ---------------------------------------------------------------------------
# A9: same-variable multi-format stream -> one schema via branch COALESCE.
# Even event_ids use probe layout, odd use the swapped layout (FIXTURES F5).
# ---------------------------------------------------------------------------

ALT_FMT_A = "%02d RH= %+08.3f %%RH T= %+08.3f 'C"
ALT_FMT_B = "T= %+08.3f 'C RH= %+08.3f %%RH %02d"

ALT_PROFILE = DeviceProfile(
    name="multiformat",
    regex=[
        r"^(?P<level>\d+) RH= (?P<rh>\S+) %RH T= (?P<temp>\S+) .C$",
        r"^T= (?P<temp>\S+) .C RH= (?P<rh>\S+) %RH (?P<level>\d+)$",
    ],
    group=GroupSpec("level", "int"),
    pack_length=50,
)


def _alt_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = ensure_parallelism(load_table(spark, sf_dir, "events"))
    level = (F.col("user_id") % 3 + 1).cast("int")
    line_a = F.format_string(ALT_FMT_A, level, F.col("value"), -F.col("value"))
    line_b = F.format_string(ALT_FMT_B, -F.col("value"), F.col("value"), level)
    return ev.select(
        "event_id",
        F.col("ts").cast("double").alias("ts"),
        F.when(F.col("event_id") % 2 == 0, line_a).otherwise(line_b).alias("line"),
    )


def ingest_multiformat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: two wire formats, one schema — per-column branch coalesce."""
    return extract_lines(
        _alt_lines(spark, sf_dir), ALT_PROFILE, extra_cols=["event_id"]
    ).orderBy("event_id")


INGEST_MULTIFORMAT_ORACLE = """
WITH lines AS (
  SELECT event_id,
         epoch(ts) AS ts,
         CASE WHEN event_id % 2 = 0
              THEN printf('%02d RH= %+08.3f %%RH T= %+08.3f ''C',
                          CAST(user_id % 3 + 1 AS INT), value, -value)
              ELSE printf('T= %+08.3f ''C RH= %+08.3f %%RH %02d',
                          -value, value, CAST(user_id % 3 + 1 AS INT))
         END AS line
  FROM events
)
SELECT event_id,
       ts AS time,
       CAST(coalesce(nullif(regexp_extract(line, '^(\\d+) RH= (\\S+) %RH T= (\\S+) .C$', 1), ''),
                     nullif(regexp_extract(line, '^T= (\\S+) .C RH= (\\S+) %RH (\\d+)$', 3), '')) AS INT) AS level,
       CAST(coalesce(nullif(regexp_extract(line, '^(\\d+) RH= (\\S+) %RH T= (\\S+) .C$', 2), ''),
                     nullif(regexp_extract(line, '^T= (\\S+) .C RH= (\\S+) %RH (\\d+)$', 2), '')) AS DOUBLE) AS rh,
       CAST(coalesce(nullif(regexp_extract(line, '^(\\d+) RH= (\\S+) %RH T= (\\S+) .C$', 3), ''),
                     nullif(regexp_extract(line, '^T= (\\S+) .C RH= (\\S+) %RH (\\d+)$', 1), '')) AS DOUBLE) AS temp
FROM lines
WHERE regexp_matches(line, '^(\\d+) RH= (\\S+) %RH T= (\\S+) .C$')
   OR regexp_matches(line, '^T= (\\S+) .C RH= (\\S+) %RH (\\d+)$')
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# A12: malformed-record routing. ~5% of lines are truncated (the torn
# packets of tests/test_parser.py:33); they must be counted, not crash the
# pipeline, and clean rows must flow through.
# ---------------------------------------------------------------------------


def _torn_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = _probe_lines(spark, sf_dir)
    return lines.withColumn(
        "line",
        F.when(
            F.col("event_id") % 20 == 0, F.substring(F.col("line"), 1, 7)
        ).otherwise(F.col("line")),
    )


def ingest_malformed_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: corrupt lines routed to a side flag; per-status counts."""
    ext = extract_lines(
        _torn_lines(spark, sf_dir), PROBE_PROFILE, keep_corrupt=True
    )
    return (
        ext.groupBy("_corrupt")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count("rh").alias("n_rh_values"),
        )
        .withColumnRenamed("_corrupt", "is_corrupt")
        .orderBy("is_corrupt")
    )


INGEST_MALFORMED_ORACLE = """
WITH lines AS (
  SELECT event_id,
         epoch(ts) AS ts,
         CASE WHEN event_id % 20 = 0
              THEN substr(printf('%02d RH= %s %%RH T= %+08.3f ''C ID=%07d',
                          CAST(user_id % 3 + 1 AS INT),
                          CASE WHEN event_type = 'error' THEN '///'
                               ELSE printf('%+08.3f', value) END,
                          -value, event_id), 1, 7)
              ELSE printf('%02d RH= %s %%RH T= %+08.3f ''C ID=%07d',
                          CAST(user_id % 3 + 1 AS INT),
                          CASE WHEN event_type = 'error' THEN '///'
                               ELSE printf('%+08.3f', value) END,
                          -value, event_id)
         END AS line
  FROM events
)
SELECT coalesce(NOT regexp_matches(line,
         '^(\\d+) RH= (\\S+) %RH T= (\\S+) .C ID=(\\d+)$'), TRUE) AS is_corrupt,
       count(*) AS n_lines,
       count(CASE WHEN regexp_matches(line, '^(\\d+) RH= (\\S+) %RH T= (\\S+) .C ID=(\\d+)$')
                  THEN nullif(nullif(regexp_extract(line, '^(\\d+) RH= (\\S+) %RH T= (\\S+) .C ID=(\\d+)$', 2), ''), '///')
             END) AS n_rh_values
FROM lines
GROUP BY 1
ORDER BY is_corrupt
"""


def ingest_echo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: echo — the raw line stream, untransformed (console-sink view)."""
    return _probe_lines(spark, sf_dir).select("event_id", "line").orderBy("event_id")


INGEST_ECHO_ORACLE = (
    "SELECT event_id, line FROM (" + _PROBE_LINES_SQL + ") ORDER BY event_id"
)


QUERIES = {
    "ingest_extract_probe": Query(
        ingest_extract_probe, INGEST_EXTRACT_ORACLE, "A8/A10/A11 regex projection"
    ),
    "ingest_sentinel_stats": Query(
        ingest_sentinel_stats, INGEST_SENTINEL_ORACLE, "A10 sentinel->NULL"
    ),
    "ingest_pack_assign": Query(
        ingest_pack_assign, INGEST_PACK_ORACLE, "A17 count-based packs"
    ),
    "ingest_pack_scalable": Query(
        ingest_pack_scalable, INGEST_PACK_SCALABLE_ORACLE, "A17 scale path"
    ),
    "ingest_multiformat": Query(
        ingest_multiformat, INGEST_MULTIFORMAT_ORACLE, "A9 alternation union"
    ),
    "ingest_malformed_routing": Query(
        ingest_malformed_routing, INGEST_MALFORMED_ORACLE, "A12 corrupt routing"
    ),
    "ingest_echo": Query(ingest_echo, INGEST_ECHO_ORACLE, "A4 echo"),
}
