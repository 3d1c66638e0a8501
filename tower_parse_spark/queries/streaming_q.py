"""Streaming queries in the driver contract.

The stateful streaming pack operator is not directly SQL-expressible, but
its *result* is deterministic when arrival order is controlled: lines are
spooled to files in (time, event_id) order and consumed with
maxFilesPerTrigger=1, so cross-trigger arrival order equals the oracle's
ORDER BY, and the emitted rows are exactly the first
``floor(count_g / N) * N`` rows of each group (completed packs only; the
tail stays in state). That gives the custom stateful operator a full
value-level DuckDB oracle — stronger than the rows-only check.

The synthetic generator (A5) gets an oracle through its batch twin: the
same printf template evaluated by both engines.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tower_parse_spark.functions.rounding import pround, sql_pround
from tower_parse_spark.queries import Query
from tower_parse_spark.queries.ingest import PROBE_PROFILE, _probe_lines
from tower_parse_spark.session import scoped_shuffle_partitions
from tower_parse_spark.streaming import pipeline as P
from tower_parse_spark.streaming import sources as SRC

PACK_N = 100
N_SPOOL_FILES = 4
#: state-store instances for the stateful streaming queries (= shuffle
#: partitions frozen into the fresh checkpoint at start()). These
#: queries keep state for a handful of keys (3 levels / ~30 windows);
#: 32 stores x N micro-batches of delta+commit files was pure constant
#: overhead — measured 11.2 s -> 3.3 s on streaming_late_data at sf0.1.
#: State layout never changes results (quantized-integer sums; the
#: 7-core robustness matrix checks exactly this invariance).
N_STREAM_STATE_PARTS = 4


def streaming_pack_carry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the ingest's pack writer (``pipeline.write_packs``) over a
    replayed line stream (4 micro-batches) and return per-pack stats of
    the pack files it wrote."""
    lines = _probe_lines(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="tps_stream_")
    spool = os.path.join(tmp, "in")
    spool_raw = os.path.join(tmp, "raw")
    try:
        # Spool in arrival order, executor-side: range-partition on the
        # arrival key so file i is the i-th *contiguous* (ts, event_id)
        # slice, sort within each partition, and write.text distributed —
        # no driver materialization of the line table (the old
        # toPandas+iterrows spool was the one driver-sized loop in
        # queries/). Rows carry event_id+ts in-band, no side channel:
        # "<ts> <event_id> <payload>"; %.17g round-trips the double
        # exactly through the reader's cast("double").
        (
            lines.select(
                F.format_string(
                    "%.17g %d %s",
                    F.col("ts"),
                    F.col("event_id"),
                    F.col("line"),
                ).alias("value"),
                "ts",
                "event_id",
            )
            .repartitionByRange(N_SPOOL_FILES, "ts", "event_id")
            .sortWithinPartitions("ts", "event_id")
            .select("value")
            .write.text(spool_raw)
        )
        # The file stream source replays by modification time: rename the
        # ordered part files (name order == range order) into the spool
        # dir with strictly increasing mtimes. O(files), not O(rows).
        parts = sorted(glob.glob(os.path.join(spool_raw, "part-*")))
        os.makedirs(spool)
        t0 = time.time() - len(parts) - 10
        for i, p in enumerate(parts):
            dst = os.path.join(spool, f"b{i:02d}.txt")
            shutil.move(p, dst)
            os.utime(dst, (t0 + i, t0 + i))
        src = spark.readStream.option("maxFilesPerTrigger", "1").text(spool)
        split = F.split(F.col("value"), " ", 3)
        lines_stream = src.select(
            split[0].cast("double").alias("ts"),
            split[1].cast("long").alias("event_id"),
            split[2].alias("line"),
        )
        from tower_parse_spark.functions.extraction import extract_lines

        parsed = extract_lines(lines_stream, PROBE_PROFILE, extra_cols=["event_id"])
        packed = P.PackedStream(parsed, PACK_N, "level", ("time", "event_id"))
        sink = os.path.join(tmp, "packs")
        with scoped_shuffle_partitions(spark, N_STREAM_STATE_PARTS):
            q = P.write_packs(
                packed, sink, os.path.join(tmp, "ckpt"), "level",
                query_name=f"stream_packs_{uuid.uuid4().hex[:8]}",
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        # partition discovery reads pack_id back as int
        out = (
            spark.read.parquet(sink)
            .withColumn("pack_id", F.col("pack_id").cast("long"))
            .groupBy("level", "pack_id")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.min("time").alias("t_min"),
                F.max("time").alias("t_max"),
                # rh is 3-decimal quantized (printf %+08.3f roundtrip):
                # sum exact scaled integers so the average is partial-agg
                # order independent, then pround (floor-based) — a raw
                # round(avg(),4) flipped on a half boundary between
                # partitioning layouts.
                pround(
                    F.sum(F.round(F.col("rh") * 1000).cast("long"))
                    / 1000.0
                    / F.count("rh"),
                    4,
                ).alias("avg_rh"),
            )
            .orderBy("level", "pack_id")
        )
        # materialize before the temp dir disappears
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


STREAMING_PACK_ORACLE = f"""
WITH extracted AS (
  SELECT event_id, epoch(ts) AS time,
         CAST(user_id % 3 + 1 AS INT) AS level,
         -- same printf->parse roundtrip the Spark side's line takes
         CASE WHEN event_type = 'error' THEN NULL
              ELSE CAST(printf('%+08.3f', value) AS DOUBLE) END AS rh
  FROM events
), numbered AS (
  SELECT level, time, rh,
         row_number() OVER (PARTITION BY level ORDER BY time, event_id) AS rn,
         count(*) OVER (PARTITION BY level) AS cnt
  FROM extracted
), completed AS (
  SELECT level, time, rh,
         CAST(floor((rn - 1) / {PACK_N}.0) AS BIGINT) AS pack_id
  FROM numbered
  WHERE rn <= floor(cnt / {PACK_N}) * {PACK_N}
)
SELECT level, pack_id,
       count(*) AS n_rows,
       min(time) AS t_min,
       max(time) AS t_max,
       {sql_pround("sum(CAST(round(rh * 1000) AS BIGINT)) / 1000.0 / count(rh)", 4)} AS avg_rh
FROM completed
GROUP BY level, pack_id
ORDER BY level, pack_id
"""


WM_DELAY_S = 7 * 86400  # watermark: 7 days
WM_WINDOW_S = 86400  # 1-day tumbling windows
N_WM_BATCHES = 4


def streaming_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked late-data handling with a full value-level oracle.

    Replays ``events`` as N_WM_BATCHES micro-batches keyed by
    ``event_id % N_WM_BATCHES`` — each batch spans the whole 30-day
    event-time range, so later batches carry heavy out-of-order data —
    through ``withWatermark`` + tumbling-window append aggregation. The
    semantics being checked (calibrated empirically, locked by the
    DuckDB twin):

    - the watermark DURING batch i = max event time over batches
      0..i-2 minus the delay (Structured Streaming's one-batch lag);
    - a row is DROPPED iff its window end <= that watermark;
    - a window is EMITTED iff its end <= the final watermark
      (no-data micro-batch after the last file).

    Batch assignment is a pure row function (event_id mod), so the
    oracle reproduces the exact kept/dropped/emitted partition in SQL.
    """
    ev = _probe_events_for_wm(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="tps_wm_")
    spool = os.path.join(tmp, "in")
    os.makedirs(spool)
    try:
        t0 = time.time() - N_WM_BATCHES - 10
        # ONE spool job for all batches: partition the write by the
        # residue class (batch key), then rename each class's part files
        # into mtime order — vs one filter+coalesce job per batch, which
        # re-scanned events N_WM_BATCHES times.
        raw = os.path.join(tmp, "raw")
        (
            ev.select(
                (F.col("event_id") % N_WM_BATCHES).alias("b"),
                F.format_string(
                    "%.17g %.17g", F.col("t"), F.col("value")
                ).alias("value"),
            )
            .repartition(N_WM_BATCHES, "b")
            .write.partitionBy("b")
            .text(raw)
        )
        for i in range(N_WM_BATCHES):
            parts = sorted(glob.glob(os.path.join(raw, f"b={i}", "part-*")))
            dst = os.path.join(spool, f"b{i:02d}.txt")
            if parts:
                with open(dst, "wb") as out_f:
                    for p in parts:
                        with open(p, "rb") as in_f:
                            shutil.copyfileobj(in_f, out_f)
            else:
                # Spark writes no part dir for an empty partition; an
                # empty residue class (tiny/filtered fixture) still gets
                # an empty batch file so the trigger layout — and the
                # oracle's batch numbering — stays intact.
                open(dst, "w").close()
            os.utime(dst, (t0 + i, t0 + i))
        src = spark.readStream.option("maxFilesPerTrigger", "1").text(spool)
        sp = F.split(F.col("value"), " ")
        # try_cast, defense in depth: a malformed spool line must drop a
        # row, never terminate the streaming query with an ANSI cast error
        rows = src.select(
            F.timestamp_seconds(sp[0].try_cast("double")).alias("ts"),
            sp[1].try_cast("double").alias("v"),
        )
        agg = (
            rows.withWatermark("ts", f"{WM_DELAY_S} seconds")
            .groupBy(F.window("ts", f"{WM_WINDOW_S} seconds").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                (
                    F.sum(F.round(F.col("v") * 100).cast("long")) / 100.0
                ).alias("sum_value"),
            )
        )
        sink = f"wm_windows_{uuid.uuid4().hex[:8]}"
        with scoped_shuffle_partitions(spark, N_STREAM_STATE_PARTS):
            q = (
                agg.writeStream.format("memory")
                .queryName(sink)
                .outputMode("append")
                .option("checkpointLocation", os.path.join(tmp, "ckpt"))
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        out = (
            spark.table(sink)
            .select(
                F.col("w.start").alias("window_start"),
                "n_events",
                "sum_value",
            )
            .orderBy("window_start")
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _probe_events_for_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tower_parse_spark.session import load_table

    ev = load_table(spark, sf_dir, "events")
    # only well-formed rows are spooled: a NULL event time cannot be
    # watermarked and a NULL value cannot be summed — Spark's
    # format_string would print a literal "null" into the line and kill
    # the stream at the cast (r6 NULL-events fixture); the oracle
    # filters identically
    return ev.filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    ).select("event_id", F.col("ts").cast("double").alias("t"), "value")


STREAMING_LATE_DATA_ORACLE = f"""
WITH r AS (
  SELECT event_id, epoch(ts) AS t, value,
         event_id % {N_WM_BATCHES} AS b,
         floor(epoch(ts) / {WM_WINDOW_S}) * {WM_WINDOW_S} AS wstart
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL
), batch_max AS (
  SELECT b, max(t) AS mx FROM r GROUP BY b
), wm AS (
  -- watermark during batch i: max event time through batch i-2, minus
  -- the delay (one-batch lag), floored at 0
  SELECT b,
         greatest(0, coalesce(max(mx) OVER (
             ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING
           ), 0) - {WM_DELAY_S}) AS wmv
  FROM batch_max
), kept AS (
  SELECT r.* FROM r JOIN wm ON r.b = wm.b
  WHERE r.wstart + {WM_WINDOW_S} > wm.wmv
), final_wm AS (
  SELECT max(t) - {WM_DELAY_S} AS f FROM r
)
SELECT CAST(to_timestamp(wstart) AT TIME ZONE 'UTC' AS TIMESTAMP)
         AS window_start,
       count(*) AS n_events,
       sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
FROM kept, final_wm
WHERE wstart + {WM_WINDOW_S} <= f
GROUP BY wstart
ORDER BY wstart
"""


N_ND_BATCHES = 3
ND_THRESHOLD = 0.5


def streaming_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup dedup with a full value-level oracle: replay
    an augmented document corpus as 3 micro-batches keyed by
    ``doc_id % 3`` through the foreachBatch MinHash loop
    (streaming/neardup.py) — per batch, probe the banded-signature
    index built from EARLIER batches' survivors, then index this
    batch's survivors.

    The augmentation plants every cross-batch dynamic the operator
    must handle (batch of an id = id % 3; the shift constants are
    chosen mod 3 to steer each copy's batch):

    - ``d + 3_000_000`` exact copies of ``d % 30 == 0`` docs land in
      the SAME batch as their original -> ``in_batch_dup``;
    - ``d + 1_000_000`` reworded copies (' leaked copy' appended) of
      ``d % 3 == 0`` docs land ONE batch later -> near-dup hits
      (est < 1) against the just-indexed originals;
    - ``d + 2_000_000`` exact copies of ``d % 15 == 0`` docs land TWO
      batches later -> est = 1.0 hits against an index that has
      meanwhile also rejected (and must NOT have indexed) the batch-1
      reworded copies.

    Batch assignment is a pure row function, so the DuckDB twin
    reproduces the sequential survivor/index evolution with three
    explicit CTE stages. hash_fn='portable' for signature parity.
    """
    from tower_parse_spark.session import load_table
    from tower_parse_spark.streaming import neardup as ND

    d = F.col("doc_id")
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    aug = (
        docs.unionAll(
            docs.filter(d % 3 == 0).select(
                (d + 1_000_000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" leaked copy")).alias("text"),
            )
        )
        .unionAll(
            docs.filter(d % 15 == 0).select(
                (d + 2_000_000).alias("doc_id"), "text"
            )
        )
        .unionAll(
            docs.filter(d % 30 == 0).select(
                (d + 3_000_000).alias("doc_id"), "text"
            )
        )
    )
    tmp = tempfile.mkdtemp(prefix="tps_nd_")
    spool = os.path.join(tmp, "in")
    os.makedirs(spool)
    try:
        t0 = time.time() - N_ND_BATCHES - 10
        raw = os.path.join(tmp, "raw")
        (
            aug.select(
                (F.col("doc_id") % N_ND_BATCHES).alias("b"),
                F.format_string(
                    "%d %s", F.col("doc_id"), F.col("text")
                ).alias("value"),
            )
            .repartition(N_ND_BATCHES, "b")
            .write.partitionBy("b")
            .text(raw)
        )
        for i in range(N_ND_BATCHES):
            parts = sorted(glob.glob(os.path.join(raw, f"b={i}", "part-*")))
            dst = os.path.join(spool, f"b{i:02d}.txt")
            if parts:
                with open(dst, "wb") as out_f:
                    for p in parts:
                        with open(p, "rb") as in_f:
                            shutil.copyfileobj(in_f, out_f)
            else:
                open(dst, "w").close()
            os.utime(dst, (t0 + i, t0 + i))
        src = spark.readStream.option("maxFilesPerTrigger", "1").text(spool)
        sp = F.split(F.col("value"), " ", 2)
        stream = src.select(
            sp[0].try_cast("long").alias("doc_id"), sp[1].alias("text")
        )
        with scoped_shuffle_partitions(spark, N_STREAM_STATE_PARTS):
            q = ND.stream_minhash_dedup(
                stream,
                os.path.join(tmp, "idx"),
                os.path.join(tmp, "verdicts"),
                os.path.join(tmp, "ckpt"),
                threshold=ND_THRESHOLD,
                hash_fn="portable",
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        out = (
            spark.read.option(
                "basePath", os.path.join(tmp, "verdicts")
            )
            .parquet(os.path.join(tmp, "verdicts"))
            .select(
                "doc_id",
                F.col("batch").cast("int").alias("batch"),
                "n_hist_matches",
                "max_est_jaccard",
                "is_dup",
                "in_batch_dup",
            )
            .orderBy("doc_id")
        )
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _streaming_minhash_oracle() -> str:
    from tower_parse_spark.queries.llm import (
        _EST_JACCARD_SQL,
        _sig_banded_ctes,
    )

    return f"""
WITH aug AS (
  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' leaked copy' AS text
  FROM documents WHERE doc_id % 3 = 0 AND text IS NOT NULL
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text
  FROM documents WHERE doc_id % 15 = 0 AND text IS NOT NULL
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id, text
  FROM documents WHERE doc_id % 30 = 0 AND text IS NOT NULL
), {_sig_banded_ctes("aug", "s")},
-- MATERIALIZED: every relation below is referenced 2-4 times by the
-- sequential batch stages; DuckDB inlines plain CTEs per reference,
-- which re-ran the whole tokenize+md5+minhash chain combinatorially
-- (measured 30.5 s -> ~2 s at sf0.01 with the hints)
sb AS MATERIALIZED (
  SELECT band_key, doc_id, mh FROM s_banded
), ab AS MATERIALIZED (
  SELECT doc_id, doc_id % {N_ND_BATCHES} AS b FROM aug
), cand AS (
  SELECT DISTINCT l.doc_id AS x, r.doc_id AS y, l.mh AS mh1, r.mh AS mh2
  FROM sb l JOIN sb r USING (band_key)
  WHERE l.doc_id <> r.doc_id
), hb AS MATERIALIZED (
  SELECT h.x, h.y, h.est, ax.b AS bx, ay.b AS byy
  FROM (
    SELECT x, y, est FROM (
      SELECT x, y, {_EST_JACCARD_SQL} AS est FROM cand
    ) WHERE est >= {ND_THRESHOLD}
  ) h
  JOIN ab ax ON ax.doc_id = h.x
  JOIN ab ay ON ay.doc_id = h.y
), ib AS MATERIALIZED (
  -- in-batch dup: a same-batch, lower-id near-match (the min-id rule)
  SELECT DISTINCT y AS d FROM hb WHERE bx = byy AND x < y
), s0 AS MATERIALIZED (
  SELECT doc_id FROM ab WHERE b = 0
    AND doc_id NOT IN (SELECT d FROM ib)
), d1 AS MATERIALIZED (
  SELECT y AS d, count(*) AS n, max(est) AS m FROM hb
  WHERE byy = 1 AND bx = 0 AND x IN (SELECT doc_id FROM s0)
  GROUP BY y
), s1 AS MATERIALIZED (
  SELECT doc_id FROM ab WHERE b = 1
    AND doc_id NOT IN (SELECT d FROM ib)
    AND doc_id NOT IN (SELECT d FROM d1)
), d2 AS (
  SELECT y AS d, count(*) AS n, max(est) AS m FROM hb
  WHERE byy = 2 AND (
    (bx = 0 AND x IN (SELECT doc_id FROM s0))
    OR (bx = 1 AND x IN (SELECT doc_id FROM s1)))
  GROUP BY y
), hist AS (
  SELECT d, n, m FROM d1 UNION ALL SELECT d, n, m FROM d2
)
SELECT a.doc_id,
       CAST(a.b AS INT) AS batch,
       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hist_matches,
       round(coalesce(h.m, 0.0), 4) AS max_est_jaccard,
       coalesce(h.n, 0) > 0 AS is_dup,
       a.doc_id IN (SELECT d FROM ib) AS in_batch_dup
FROM ab a LEFT JOIN hist h ON a.doc_id = h.d
ORDER BY a.doc_id
"""


def streaming_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 generator parity via its deterministic batch twin (the rate
    source applies the same template to the same sequence numbers)."""
    n = 10_000
    return SRC.generator_batch(spark, n).select("seq", "line").orderBy("seq")


STREAMING_GENERATOR_ORACLE = """
SELECT seq,
       printf('%02d RH= %+08.3f %%RH T= %+08.3f ''C ID=%07d',
              CAST(seq % 2 + 1 AS INT),
              (seq * 7919) % 19998 / 100.0 - 99.99,
              (seq * 104729) % 19998 / 100.0 - 99.99,
              seq) AS line
FROM range(10000) t(seq)
ORDER BY seq
"""


QUERIES = {
    "streaming_pack_carry": Query(
        streaming_pack_carry,
        STREAMING_PACK_ORACLE,
        "A17 streaming: stateful exact-count packs w/ remainder carry",
    ),
    "streaming_late_data": Query(
        streaming_late_data,
        STREAMING_LATE_DATA_ORACLE,
        "watermarked late-data drop/emit semantics, value-level oracle",
    ),
    "streaming_generator": Query(
        streaming_generator,
        STREAMING_GENERATOR_ORACLE,
        "A5 synthetic generator (batch twin of the rate source)",
    ),
    "streaming_minhash_dedup": Query(
        streaming_minhash_dedup,
        _streaming_minhash_oracle(),
        "streaming near-dup dedup via the incremental signature index",
    ),
}
