"""Category I — Structured Streaming (SURVEY.md §2.I).

Reference analog: the reference polled the JobTracker on a schedule —
a hand-rolled micro-batch loop [R-M]. Structured Streaming is that
loop done right: the same logical plans compiled incrementally, with
watermarks for late data and a state store for stateful ops.

Test harness pattern (driver-compatible): file source → ``_drain``
(an availableNow trigger; the one drain every key goes through, which
records the query's last progress in ``LAST_PROGRESS``) → memory sink
→ return the sink table as a DataFrame. The driver sees rows-only;
our tests assert the stronger batch-equivalence self-oracle (each
streaming result == its batch twin; SURVEY.md §5.4).

Streaming reads declare the schema explicitly (file streams require
it); because a DDL schema is fixed at plan build, ``read_events_stream``
reads the fixture's physical ts type off the parquet footer to pick the
declared ts type (BIGINT or TIMESTAMP_NTZ), then applies
``catalog.normalize_events_ts`` — the same ns→µs recipe batch loads
use. Self-staged sources re-write a normalized ts and use
EVENTS_NORM_SCHEMA.

Scale: in production these run continuously against arriving files/
Kafka; state (windows, dedup keys, sessions) is partitioned by group
key in the state store (RocksDB at scale), and watermarks bound state
size — none of this changes between local[32] and 1000 executors.
"""

from __future__ import annotations

import os
import shutil
from itertools import count

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..catalog import load_table, normalize_events_ts, table_path
from ..registry import query
from ..sources.fixtures import _ARTIFACTS

# Self-staged stream sources (late_data, stateful_counter) are written by
# US with a normalized session-TZ ts, so their read schema is stable no
# matter which fixture generation is on disk.
EVENTS_NORM_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
)

_uid = count()

# Rows per sendall() in _line_sender — bounds the executor-side buffer
# per connection at O(chunk) regardless of partition size
# (~60 B/Graphite line → ~500 KB per send at 8192 rows).
_SOCKET_CHUNK_ROWS = 8192


def _stream_dir(sf_dir: str, table: str) -> str:
    """A file-stream source DIRECTORY holding exactly one table.

    A directory-shaped table (part files — what every Spark/distributed
    writer produces) already IS a valid file-source root, so it streams
    directly; a symlink to a directory would be listed as a subdirectory
    and silently yield an EMPTY stream (0 rows in 0.17 s instead of a
    crash, first seen at the r8 inflated dirs). A single-file table gets
    a staging dir with a symlink to it, because the sf dir also holds the
    other tables, which the stream must not ingest."""
    src = table_path(sf_dir, table)
    if os.path.isdir(src):
        return src
    tag = os.path.basename(os.path.normpath(sf_dir))
    d = os.path.join(_ARTIFACTS, f"{table}_src_{tag}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{table}.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    return d


def _events_ts_is_long(sf_dir: str) -> bool:
    """True when the fixture stores ts as int64/timestamp[ns] (arrives as
    a long of epoch-ns under nanosAsLong); False for timestamp[us].
    Streaming DDL schemas are declared up front, so the ts type has to be
    known at plan-build time; a footer read costs no Spark job."""
    import glob

    import pyarrow.parquet as pq

    p = table_path(sf_dir, "events")
    if os.path.isdir(p):
        # Directory-of-part-files layout (any distributed writer): the
        # schema is uniform across parts — read it off the first one.
        parts = sorted(glob.glob(os.path.join(p, "*.parquet")))
        if not parts:
            raise FileNotFoundError(f"no parquet part files under {p}")
        p = parts[0]
    t = str(pq.read_schema(p).field("ts").type)
    return t == "int64" or t.startswith("timestamp[ns")


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table as a file-source stream, ts normalized to timestamp."""
    ts_type = "BIGINT" if _events_ts_is_long(sf_dir) else "TIMESTAMP_NTZ"
    raw = (
        spark.readStream.schema(
            f"event_id BIGINT, ts {ts_type}, user_id BIGINT, "
            "event_type STRING, value DOUBLE, props STRING"
        )
        .format("parquet")
        .load(_stream_dir(sf_dir, "events"))
    )
    return normalize_events_ts(raw)


# Last StreamingQueryProgress per key, captured at drain end — the state-
# store observability surface (numRowsTotal, stateMemory, batch counts) a
# cluster operator reads off the StreamingQueryListener; exposed here so
# callers can read state growth without holding the query object.
LAST_PROGRESS: dict[str, dict] = {}


def _drain(writer: DataStreamWriter, key: str) -> None:
    """Run a configured stream writer over the whole backlog
    (availableNow), block until it terminates, and record its last
    progress under ``key`` in LAST_PROGRESS."""
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    p = q.lastProgress
    if p:
        LAST_PROGRESS[key] = p


def run_to_memory(spark: SparkSession, streamed: DataFrame, key: str, output_mode: str) -> DataFrame:
    """Drain the backlog into a memory sink; return the table.

    The memory sink materializes results driver-side — right for the
    correctness contract (the driver hashes the rows) and for group-
    bounded aggregates at any scale, but a production deployment of an
    unbounded-output stream (per-session rows, joined streams) targets a
    distributed sink (parquet/Kafka); the r8-r9 streaming scale curves
    (BASELINE.md, verification/r9_stream_axis2*.json) record where the
    driver-sink boundary is."""
    name = f"hja_{key}_{next(_uid)}"
    _drain(streamed.writeStream.format("memory").queryName(name).outputMode(output_mode), key)
    return spark.table(name)


def _line_sender(host: str, port: int):
    """Per-partition Carbon plaintext sender (executor-side). Streams the
    open socket in bounded chunks (r11 ADVICE) so a huge partition costs
    O(chunk) executor memory, not O(partition); the connection opens
    lazily on the first row, so empty partitions make no connection."""

    def send(rows) -> None:
        import socket

        chunk: list[str] = []
        chunk_rows = 0
        sock = None
        try:
            for r in rows:
                chunk.append(r.line + "\n")
                chunk_rows += 1
                if chunk_rows >= _SOCKET_CHUNK_ROWS:
                    if sock is None:
                        sock = socket.create_connection((host, port), timeout=30)
                    sock.sendall("".join(chunk).encode("utf-8"))
                    chunk, chunk_rows = [], 0
            if chunk:
                if sock is None:
                    sock = socket.create_connection((host, port), timeout=30)
                sock.sendall("".join(chunk).encode("utf-8"))
        finally:
            if sock is not None:
                sock.close()

    return send


@query(
    "stream_file_source",
    oracle="""
SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY event_type
""",
)
def stream_file_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count by event type == batch groupBy (complete mode).

    Oracle = the batch twin's SQL: availableNow processes the entire
    backlog, so the complete-mode memory sink holds exactly the batch
    aggregation — the round-3 verdict's prescribed upgrade of the
    streaming keys from rows-only to hash-matched.
    """
    counts = read_events_stream(spark, sf_dir).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return run_to_memory(spark, counts, "stream_file_source", "complete")


@query(
    "stream_tumbling",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n_events
FROM events GROUP BY 1, 2
""",
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows with a 2-hour watermark.

    availableNow processes the whole backlog, so complete-mode counts
    equal the batch date_trunc aggregation — which is the oracle
    (Spark's epoch-aligned window start == date_trunc('hour') under the
    UTC session TZ both engines share).
    """
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("event_type"),
            F.col("n_events"),
        )
    )
    return run_to_memory(spark, agg, "stream_tumbling", "complete")


@query(
    "stream_sliding",
    oracle="""
SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000 - k * 900000000)
         AS window_start,
       COUNT(*) AS n_events
FROM events CROSS JOIN range(4) t(k)
GROUP BY 1
""",
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 minutes (each event lands in 4).

    Oracle: every event belongs to the 4 epoch-aligned 15-min slide
    starts at floor(ts/15min)-k*15min for k in 0..3 — integer µs
    arithmetic end to end (epoch_us // then make_timestamp), so no
    cast-rounding trap (the win_trailing_hour lesson).
    """
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"), F.col("n_events"))
    )
    return run_to_memory(spark, agg, "stream_sliding", "complete")


@query(
    "stream_session_window",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, sid
""",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (30-min gap) per user — the streaming twin
    of win_sessionize; session_window also runs in batch, which the
    tests exploit as the self-oracle.

    Oracle: gaps-and-islands at EXACT µs resolution — session_window
    merges while the next event starts strictly before last_ts+30min,
    i.e. a new session iff the µs gap >= 1800000000 (NOT the truncated-
    second rule of win_sessionize/stream_custom_sessionize); window end
    is last event + the 30-min gap.
    """
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("user_id"),
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            F.col("n_events"),
        )
    )
    return run_to_memory(spark, agg, "stream_session_window", "complete")


@query(
    "stream_late_data",
    oracle="""
WITH f1 AS (SELECT ts FROM events WHERE event_id % 2 = 1),
     wm AS (SELECT (epoch_us(MAX(ts)) // 1000) * 1000 - 7200000000 AS wm_us FROM f1)
SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS window_start,
       COUNT(*) AS n_events
FROM f1, wm
WHERE (epoch_us(ts) // 3600000000) * 3600000000 + 3600000000 <= wm_us
GROUP BY 1
""",
)
def stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode watermark semantics: late rows are dropped.

    Two RUNS over a shared checkpoint (the watermark is persisted in the
    offset log and restored between runs — within a single availableNow
    run the operator watermark lags one batch, so a one-run two-file
    source does NOT exercise the drop):

    - run 1: file 1 only (odd event_ids, all 30 days) → advances the
      checkpointed watermark to max(ts)−2 h; emits nothing (wm was 0).
    - run 2: file 2 added (even ids, first 3 days — entirely below the
      restored watermark) → every file-2 row dropped as late; append
      mode emits file 1's finalized hourly windows only.

    Self-check in tests: emitted counts == file-1-only batch counts and
    no emitted window contains file-2 rows.

    Oracle: exactly the hourly windows of file-1 rows finalized by the
    checkpointed watermark — window end <= max(f1.ts)-2h (Spark tracks
    event-time stats in ms, hence the //1000*1000; the <= vs <
    boundary is unreachable because the watermark inherits max(ts)'s
    sub-second µs while window ends are whole hours).
    """
    src_dir = os.path.join(_ARTIFACTS, "late_src")
    ckpt_dir = os.path.join(_ARTIFACTS, "late_ckpt")
    out_dir = os.path.join(_ARTIFACTS, "late_out")
    for d in (src_dir, ckpt_dir, out_dir):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src_dir, exist_ok=True)

    batch = load_table(spark, sf_dir, "events")  # ts already normalized
    cutoff = F.lit("2024-01-04 00:00:00").cast("timestamp")
    f1 = batch.where(F.expr("event_id % 2 = 1"))
    f2 = batch.where(F.expr("event_id % 2 = 0").cast("boolean") & (F.col("ts") < cutoff))

    def run_once() -> None:
        # parquet sink, not memory: only the file sink supports resuming
        # from a checkpoint, and the restored watermark is the whole point
        ev = spark.readStream.schema(EVENTS_NORM_SCHEMA).parquet(os.path.join(src_dir, "*"))
        agg = (
            ev.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("win"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("win.start").alias("window_start"), F.col("n_events"))
        )
        _drain(
            agg.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt_dir)
            .outputMode("append"),
            "stream_late_data",
        )

    f1.coalesce(1).write.mode("overwrite").parquet(os.path.join(src_dir, "f1"))
    run_once()
    f2.coalesce(1).write.mode("overwrite").parquet(os.path.join(src_dir, "f2"))
    run_once()
    return spark.read.parquet(out_dir)


@query(
    "stream_dedup",
    oracle="""
SELECT event_type, COUNT(DISTINCT event_id) AS n_unique_events
FROM events GROUP BY event_type
""",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup on event_id (duplicated source → distinct
    count). State holds one key per id EVER SEEN — the r8 stream-scale
    program measured this as the family's honest climb on the
    duplication-mass axis (5.4× wall at ×64 input, state = all distinct
    ids). The bounded-state shape, ``dropDuplicatesWithinWatermark``
    over a 2-hour horizon, was measured in the same program: hash-equal
    here (the duplicates are exact copies with identical event time),
    with retained state proportional to the horizon instead of the
    stream, and a horizon-independent wall premium (BASELINE.md
    "Streaming scale curves", verification/r9_stream_axis2*.json,
    verification/r10_dedup_wm_tradeoff.json).

    Oracle: per-type COUNT(DISTINCT event_id) — dedup of the doubled
    stream keeps exactly one row per event_id.
    """
    ev = read_events_stream(spark, sf_dir)
    doubled = ev.union(ev)  # guaranteed duplicates
    deduped = doubled.dropDuplicates(["event_id"])
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique_events"))
    return run_to_memory(spark, agg, "stream_dedup", "complete")


@query(
    "stream_stateful_counter",
    oracle="""
SELECT event_type, COUNT(*) AS n_events, MAX(value) AS max_value
FROM events GROUP BY event_type
""",
)
def stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState — the
    PySpark-native arbitrary-state API (SURVEY.md §2.I note).

    Per event_type, user state (count, running max value) persists in
    the state store across micro-batches; the source is staged as two
    files with maxFilesPerTrigger=1, so availableNow runs exactly two
    batches and the second PROVABLY resumes from restored state (counts
    double — asserted in tests against the batch twin). Update-mode
    memory sink keeps every emission; the final row per key is the one
    with the highest n_events (monotone per key). At scale state lives
    in the per-partition state store (RocksDB), keyed and partitioned
    by the group key — identical semantics on 1000 executors.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = os.path.join(_ARTIFACTS, f"stateful_src_{os.path.basename(os.path.normpath(sf_dir))}")
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src, exist_ok=True)
    batch = load_table(spark, sf_dir, "events")  # ts already normalized
    batch.where(F.expr("event_id % 2 = 0")).coalesce(1).write.parquet(os.path.join(src, "f0"))
    batch.where(F.expr("event_id % 2 = 1")).coalesce(1).write.parquet(os.path.join(src, "f1"))

    ev = (
        spark.readStream.schema(EVENTS_NORM_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "*"))
    )

    def track(key, pdfs, state: GroupState):
        (etype,) = key
        cnt, mx = state.get if state.exists else (0, float("-inf"))
        for pdf in pdfs:
            cnt += len(pdf)
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
        state.update((cnt, mx))
        yield pd.DataFrame(
            {"event_type": [etype], "n_events": [cnt], "max_value": [mx]}
        )

    out = ev.groupBy("event_type").applyInPandasWithState(
        track,
        "event_type string, n_events long, max_value double",
        "cnt long, mx double",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    emitted = run_to_memory(spark, out, "stream_stateful_counter", "update")
    w = Window.partitionBy("event_type").orderBy(F.col("n_events").desc())
    return (
        emitted.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("event_type", "n_events", "max_value")
    )


@query(
    "stream_foreach_batch",
    oracle="""
SELECT event_id, event_type, value FROM events
""",
)
def stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom sink via foreachBatch: each micro-batch appended as parquet
    (the Graphite-sink analog [R-M] — arbitrary per-batch emit), then
    read back for verification. The oracle is the projected source
    table itself: the hash match proves the custom sink lost nothing.
    """
    out_dir = os.path.join(_ARTIFACTS, "foreach_batch_out")
    shutil.rmtree(out_dir, ignore_errors=True)

    ev = read_events_stream(spark, sf_dir).select("event_id", "event_type", "value")

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    _drain(ev.writeStream.foreachBatch(emit), "stream_foreach_batch")
    return spark.read.parquet(out_dir)


@query(
    "stream_stream_join",
    oracle="""
SELECT c.user_id AS c_user, c.event_id AS click_id, c.ts AS click_ts,
       b.event_id AS buy_id, b.ts AS buy_ts
FROM events c JOIN events b
  ON c.user_id = b.user_id
 AND c.event_type = 'click' AND b.event_type = 'purchase'
 AND b.ts >= c.ts AND b.ts <= c.ts + INTERVAL 30 MINUTE
""",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join — click→purchase attribution within 30
    minutes per user, both sides unbounded streams.

    The canonical stateful two-stream op: each side buffers rows in
    the state store keyed by user_id; the time-range predicate plus
    BOTH watermarks let Spark evict state older than the bound (the
    thing a hand-rolled join of two polled sources — the reference's
    world — can never do safely). Equi key user_id keeps the join
    hash-partitioned; the range condition only gates within a key's
    buffered rows. Append mode (inner join emits exactly-once as
    matches form). Batch twin: the identical join over the static
    table, asserted equal in tests (the driver sees rows-only).

    The 1-hour watermark is the dial a cluster operator tunes, not the
    data size: join state rows scale with the horizon at every scale
    (10 min / 1 h / 4 h measured in verification/r9_wm_tradeoff.json,
    curves in BASELINE.md). A tighter watermark bounds STATE but also
    drops later-arriving rows — rows_out and numRowsDroppedByWatermark
    move together.
    """
    clicks = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    buys = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("b_user"),
            F.col("event_id").alias("buy_id"),
            F.col("ts").alias("buy_ts"),
        )
        .withWatermark("buy_ts", "1 hour")
    )
    joined = clicks.join(
        buys,
        (F.col("c_user") == F.col("b_user"))
        & (F.col("buy_ts") >= F.col("click_ts"))
        & (F.col("buy_ts") <= F.col("click_ts") + F.expr("interval 30 minutes")),
    ).select("c_user", "click_id", "click_ts", "buy_id", "buy_ts")
    return run_to_memory(spark, joined, "stream_stream_join", "append")


@query(
    "stream_static_join",
    oracle="""
SELECT e.event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value * w.weight AS DECIMAL(38,6))) AS DOUBLE)
         AS weighted_value
FROM events e
JOIN (SELECT * FROM (VALUES ('click', 1.0), ('view', 0.5), ('purchase', 5.0),
                            ('signup', 3.0), ('error', 0.0))
        AS t(event_type, weight)) w
  ON e.event_type = w.event_type
GROUP BY e.event_type
""",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the streaming lookup pattern:
    the unbounded event stream joins a STATIC dimension (a per-type
    weight table) with no state store involvement at all (the static
    side is just re-read per micro-batch; at scale, a broadcast that
    refreshes per batch). Complete-mode weighted rollup; batch twin
    asserted in tests. Together with stream_stream_join this covers
    both join regimes Structured Streaming distinguishes.
    """
    weights = spark.createDataFrame(
        [("click", 1.0), ("view", 0.5), ("purchase", 5.0), ("signup", 3.0), ("error", 0.0)],
        "event_type string, weight double",
    )
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.join(weights, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("value") * F.col("weight")).cast("decimal(38,6)"))
            .cast("double")
            .alias("weighted_value"),
        )
    )
    return run_to_memory(spark, agg, "stream_static_join", "complete")


def apply_custom_sessionize(ev: DataFrame) -> DataFrame:
    """The applyInPandasWithState sessionize operator over any streaming
    (user_id, ts) frame — factored out of stream_custom_sessionize so
    the checkpoint-resume drills (tests/test_streaming.py) can run the
    IDENTICAL stateful pipeline over their own staged backlogs."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    GAP_S = 1800

    def sessionize(key, pdfs, state: GroupState):
        (user,) = key
        # epoch seconds TRUNCATED — the exact gap rule of the batch twin
        # (Spark's cast(ts as long)); state carries µs for exact emits.
        ts_us = []
        for pdf in pdfs:
            if len(pdf):
                ts_us.extend(int(v.value) // 1_000 for v in pdf["ts"])
        ts_us.sort()
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us, last_us, n = None, None, 0
        out = []
        for t in ts_us:
            if start_us is None:
                start_us, last_us, n = t, t, 1
            elif (t // 1_000_000) - (last_us // 1_000_000) > GAP_S:
                out.append((user, start_us, last_us, n))  # closed
                start_us, last_us, n = t, t, 1
            else:
                last_us, n = t, n + 1
        if start_us is not None:
            out.append((user, start_us, last_us, n))  # open snapshot
            state.update((start_us, last_us, n))
        yield pd.DataFrame(
            {
                "user_id": [r[0] for r in out],
                "session_start": [pd.Timestamp(r[1], unit="us") for r in out],
                "session_end": [pd.Timestamp(r[2], unit="us") for r in out],
                "n_events": [r[3] for r in out],
            }
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        sessionize,
        "user_id long, session_start timestamp, session_end timestamp, n_events long",
        "start_us long, last_us long, n long",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def _custom_sessionize_final(allrows: DataFrame) -> DataFrame:
    """Final answer from the raw update-mode emissions of
    apply_custom_sessionize: last snapshot per session (n_events
    monotone per (user, session_start); closed sessions are emitted
    exactly once). Shared with the checkpoint-resume drills, which
    reduce their own drains' emissions the same way."""
    w = Window.partitionBy("user_id", "session_start").orderBy(
        F.col("n_events").desc(), F.col("session_end").desc()
    )
    return (
        allrows.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("user_id", "session_start", "session_end", "n_events")
    )


@query(
    "stream_custom_sessionize",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR date_diff('second', LAG(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, sid
""",
)
def stream_custom_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM stateful sessionization via applyInPandasWithState — the
    operator Structured Streaming's built-in session_window cannot
    customize (arbitrary gap rules, per-session payloads): per user, a
    30-minute-gap sessionizer whose state (open session start / last
    ts / count) PERSISTS across micro-batches.

    The source is staged as two time-split files (first half / second
    half of the month) with maxFilesPerTrigger=1, so availableNow runs
    exactly two batches and sessions spanning the split boundary are
    stitched from RESTORED state — the thing that proves cross-batch
    state works. Each batch emits every session touched (closed ones
    finally, the open one as a snapshot); update-mode memory sink keeps
    all emissions and the last snapshot per (user, session_start) — the
    max-n_events row — is the final answer, asserted equal to the batch
    gaps-and-islands twin (win_sessionize's exact gap rule: truncated
    epoch-second difference > 1800) in tests.

    At scale state lives per group key in the executor state stores
    (RocksDB), exactly like the built-in operators; the Python function
    sees one user's rows per call, Arrow-batched.
    """
    tag = os.path.basename(os.path.normpath(sf_dir))
    src = os.path.join(_ARTIFACTS, f"sess_src_{tag}")
    shutil.rmtree(src, ignore_errors=True)
    os.makedirs(src, exist_ok=True)
    batch = load_table(spark, sf_dir, "events").select("user_id", "ts")
    split = F.lit("2024-01-16 00:00:00").cast("timestamp")
    batch.where(F.col("ts") < split).coalesce(1).write.parquet(os.path.join(src, "f0"))
    batch.where(F.col("ts") >= split).coalesce(1).write.parquet(os.path.join(src, "f1"))

    ev = (
        spark.readStream.schema("user_id BIGINT, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "*"))
    )
    emitted = apply_custom_sessionize(ev)
    allrows = run_to_memory(spark, emitted, "stream_custom_sessionize", "update")
    return _custom_sessionize_final(allrows)


@query(
    "stream_windowed_apdex",
    oracle="""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN value <= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_satisfied,
       ROUND((SUM(CASE WHEN value <= 50 THEN 1 ELSE 0 END)
              + 0.5 * SUM(CASE WHEN value > 50 AND value <= 200 THEN 1 ELSE 0 END))
             / COUNT(*), 6) AS apdex
FROM events GROUP BY 1, 2
""",
)
def stream_windowed_apdex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SLA dashboard: per-hour per-type Apdex (T=50/4T=200,
    same contract as the batch agg_apdex_score) over 1-hour tumbling
    windows with a 2-hour watermark — the batch metric made continuous,
    and the proof the Apdex expression is a pure partial-aggregable
    reduction (conditional counts merge; the score derives at emit).

    availableNow drains the whole backlog, so complete-mode output
    equals the batch date_trunc aggregation the oracle states — this
    key is hash-matched, not rows-only, like the other r4 streaming
    upgrades.
    """
    ev = read_events_stream(spark, sf_dir)
    sat = F.sum(F.when(F.col("value") <= 50, 1).otherwise(0))
    tol = F.sum(F.when((F.col("value") > 50) & (F.col("value") <= 200), 1).otherwise(0))
    n = F.count(F.lit(1))
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            n.alias("n"),
            sat.alias("n_satisfied"),
            F.round((sat + F.lit(0.5) * tol) / n, 6).alias("apdex"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
            "n_satisfied",
            "apdex",
        )
    )
    return run_to_memory(spark, agg, "stream_windowed_apdex", "complete")


DOCS_SCHEMA = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"


@query(
    "stream_near_dedup_norm",
    oracle="""
SELECT lang,
       CAST(COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '[0-9]+', '0', 'g'))))
            AS BIGINT) AS n_canonical_docs
FROM documents GROUP BY lang
""",
)
def stream_near_dedup_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-duplicate dedup via canonical-form fingerprints:
    each arriving document is normalized statelessly (lowercase, digits
    collapsed to 0, trimmed — the normalization-based dedup family, the
    only near-dup discipline that is a pure per-row map and therefore
    streams without a pre-aggregation), fingerprinted with md5, and
    deduped in the state store on the fingerprint; the doubled source
    guarantees duplicate pressure. MinHash-LSH needs a per-doc
    aggregation before its dedup and therefore runs in foreachBatch at
    scale (see stream_foreach_batch for that seam) — this key is the
    within-the-stream-graph shape.

    State = one fingerprint per canonical doc, partitioned by the hash
    in the state store; with a watermarked ingest time,
    dropDuplicatesWithinWatermark bounds it at 100 TB/day.
    """
    raw = spark.readStream.schema(DOCS_SCHEMA).format("parquet").load(
        _stream_dir(sf_dir, "documents")
    )
    doubled = raw.union(raw)
    canon = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), "[0-9]+", "0")))
    # State key is (lang, fp), not fp alone: the oracle counts DISTINCT
    # fingerprints per language, so a canonical text appearing under two
    # languages must survive once per language — fp-only dedup would keep
    # an arbitrary row and undercount the other language.
    deduped = doubled.withColumn("fp", canon).dropDuplicates(["lang", "fp"])
    agg = deduped.groupBy("lang").agg(F.count(F.lit(1)).alias("n_canonical_docs"))
    return run_to_memory(spark, agg, "stream_near_dedup_norm", "complete")


@query(
    "ops_stream_session_report",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
), sess AS (
  SELECT user_id, sid,
         MIN(ts) AS session_start,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         SUM(CASE WHEN value <= 50 THEN 1 ELSE 0 END) AS n_sat,
         SUM(CASE WHEN value > 50 AND value <= 200 THEN 1 ELSE 0 END) AS n_tol
  FROM numbered GROUP BY user_id, sid
), d AS (
  SELECT CAST(date_trunc('day', session_start) AS TIMESTAMP) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_sessions,
         CAST(SUM(n_events) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
         CAST(ROUND((SUM(n_sat) + 0.5 * SUM(n_tol))
                    / CAST(SUM(n_events) AS DOUBLE), 6) AS DECIMAL(20,6)) AS apdex
  FROM sess GROUP BY 1
), m AS (
  SELECT day, 'sessions' AS metric, CAST(n_sessions AS VARCHAR) AS val_str FROM d
  UNION ALL SELECT day, 'events', CAST(n_events AS VARCHAR) FROM d
  UNION ALL SELECT day, 'bounces', CAST(n_bounces AS VARCHAR) FROM d
  UNION ALL SELECT day, 'apdex', CAST(apdex AS VARCHAR) FROM d
)
SELECT 'hja.stream.sessions.' || metric AS metric_path,
       CAST(val_str AS DOUBLE) AS metric_value,
       CAST(epoch(day) AS BIGINT) AS ts_epoch,
       'hja.stream.sessions.' || metric || ' ' || val_str || ' '
         || CAST(CAST(epoch(day) AS BIGINT) AS VARCHAR) AS line
FROM m
""",
)
def ops_stream_session_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming END-TO-END composed report (r8; the one surface
    addition VERDICT r7 #8 sanctioned): file source → native
    session_window sessionize → per-day session health rollup
    (sessions, events, bounces, event-weighted day Apdex — sat/tol
    summed over ALL the day's session events divided by the day's
    event total, not a mean of per-session scores) → Graphite
    plaintext metrics lines — the upstream forwarder's whole loop
    (ingest → group → emit, SURVEY.md §0.1) run as ONE continuous
    pipeline over the event stream, composing stream_session_window's
    stateful sessionizer, agg_session_bounce_rate's bounce definition,
    stream_windowed_apdex's T=50/4T=200 contract, and
    sink_metrics_lines' emit formatting.

    Execution: the ONLY stateful streaming op is the session_window
    aggregation (chained stateful aggs are a streaming anti-pattern;
    Spark restricts them for good reason) — availableNow drains the
    backlog into finalized per-(user, session) rows, and the day rollup
    + line formatting run as a downstream BATCH stage over that
    metadata-sized session table, exactly the foreachBatch-to-backend
    deployment shape. Determinism: counts render from BIGINTs and the
    Apdex from a DECIMAL(20,6) snap of one IEEE division over exact
    integers — no float-formatting hazard in the line strings (the
    sink_metrics_lines policy). Session-to-day assignment is by
    session_start (= the session's first event ts, exactly
    session_window's window start; gap rule at µs resolution matches
    the stream_session_window oracle).

    Emit boundary: set HJA_CARBON_TARGET="host:port" and, after the
    drain, the returned frame's ``line`` column is pushed once to that
    TCP endpoint from the executors (_line_sender, chunked) — the report
    actually ships bytes to a relay, not just a DataFrame, and the wire
    carries exactly the rows the oracle grades. The fixture backlog
    drains in one availableNow micro-batch (no maxFilesPerTrigger), so
    one push after the drain is the per-snapshot push of a periodic
    reporter (Carbon dedups by (path, ts), last write wins). Test:
    tests/test_streaming.py loopback drill.
    """
    ev = read_events_stream(spark, sf_dir)
    sess = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("value") <= 50, 1).otherwise(0)).alias("n_sat"),
            F.sum(
                F.when((F.col("value") > 50) & (F.col("value") <= 200), 1).otherwise(0)
            ).alias("n_tol"),
        )
        .select(
            F.col("win.start").alias("session_start"),
            "user_id",
            "n_events",
            "n_sat",
            "n_tol",
        )
    )
    target = os.environ.get("HJA_CARBON_TARGET", "")
    if target:
        host, sep, port_s = target.rpartition(":")
        # isdigit() alone accepts non-ASCII digits ('²') that int() then
        # rejects with a bare traceback, and bracketed IPv6 would pass
        # the parse but fail at getaddrinfo mid-drain (r12 self-review)
        # — require a plain hostname/IPv4 and an ASCII port here.
        if (
            not sep
            or not host
            or "[" in host
            or ":" in host
            or not (port_s.isascii() and port_s.isdigit())
        ):
            raise ValueError(
                f"HJA_CARBON_TARGET={target!r} — expected 'host:port' with a "
                "plain hostname/IPv4 and an ASCII-numeric port "
                "(e.g. 'relay.example.com:2003')"
            )
    s = run_to_memory(spark, sess, "ops_stream_session_report", "complete")
    d = s.groupBy(F.date_trunc("day", "session_start").alias("day")).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).alias("n_bounces"),
        F.round(
            (F.sum("n_sat") + F.lit(0.5) * F.sum("n_tol"))
            / F.sum("n_events").cast("double"),
            6,
        )
        .cast("decimal(20,6)")
        .alias("apdex"),
    )
    m = d.select(
        "day",
        F.expr(
            "stack(4, 'sessions', CAST(n_sessions AS STRING), "
            "'events', CAST(n_events AS STRING), "
            "'bounces', CAST(n_bounces AS STRING), "
            "'apdex', CAST(apdex AS STRING)) AS (metric, val_str)"
        ),
    )
    path = F.concat_ws(
        ".", F.lit("hja"), F.lit("stream"), F.lit("sessions"), F.col("metric")
    )
    ts_epoch = F.unix_timestamp("day").cast("bigint")
    lines = m.select(
        path.alias("metric_path"),
        F.col("val_str").cast("double").alias("metric_value"),
        ts_epoch.alias("ts_epoch"),
        F.concat_ws(" ", path, F.col("val_str"), ts_epoch.cast("string")).alias("line"),
    )
    if target:
        lines.select("line").foreachPartition(_line_sender(host, int(port_s)))
    return lines
