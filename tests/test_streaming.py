"""Streaming batch-equivalence self-oracles (SURVEY.md §5.4).

The driver records rows-only for §2.I keys; these tests hold each
streaming result to its batch twin — a strictly stronger check.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hadoop_job_analyzer_spark.catalog import load_table
from hadoop_job_analyzer_spark.registry import queries


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_stream_file_source_equals_batch(spark, sf_dir):
    got = queries()["stream_file_source"](spark, sf_dir)
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    assert _rows(got) == _rows(want)


def test_stream_tumbling_equals_batch(spark, sf_dir):
    got = queries()["stream_tumbling"](spark, sf_dir)
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    assert _rows(got) == _rows(want)


def test_stream_sliding_equals_batch(spark, sf_dir):
    got = queries()["stream_sliding"](spark, sf_dir)
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "n_events")
    )
    assert _rows(got) == _rows(want)


def test_stream_session_window_equals_batch_and_win_sessionize(spark, sf_dir):
    got = queries()["stream_session_window"](spark, sf_dir)
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("win.start").alias("session_start"),
                F.col("win.end").alias("session_end"), "n_events")
    )
    assert _rows(got) == _rows(want)
    # cross-check against the gaps-and-islands flagship: same session count
    # per user and same per-session event counts (session_window's end is
    # last_ts + gap, so only (user, n_events) multisets are comparable)
    w = queries()["win_sessionize"](spark, sf_dir)
    lhs = sorted((r.user_id, r.n_events) for r in got.collect())
    rhs = sorted((r.user_id, r.n_events) for r in w.collect())
    assert lhs == rhs


def test_stream_late_data_drops_late_rows(spark, sf_dir):
    got = {(r.window_start, r.n_events) for r in queries()["stream_late_data"](spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").where(F.expr("event_id % 2 = 1"))
    batch_f1 = {
        (r.window_start, r.n_events)
        for r in ev.groupBy(F.date_trunc("hour", "ts").alias("window_start"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    # every emitted window matches file-1-only counts (all file-2 rows dropped)
    assert got <= batch_f1
    # and only the trailing (watermark-withheld) windows are missing
    assert len(batch_f1) - len(got) <= 4, (len(batch_f1), len(got))
    missing = {w for w, _ in (batch_f1 - got)}
    max_emitted = max(w for w, _ in got)
    assert all(w > max_emitted for w in missing)


def test_stream_dedup_equals_batch_distinct(spark, sf_dir):
    got = queries()["stream_dedup"](spark, sf_dir)
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("event_id").alias("n_unique_events"))
    )
    assert _rows(got) == _rows(want)


def test_stream_stateful_counter_equals_batch(spark, sf_dir):
    """applyInPandasWithState: final per-key state == batch agg, and the
    two-batch split means state provably carried across micro-batches
    (each key's final count covers BOTH source files)."""
    got = queries()["stream_stateful_counter"](spark, sf_dir)
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.max("value").alias("max_value"))
    )
    assert _rows(got) == _rows(want)


def test_stream_foreach_batch_roundtrip(spark, sf_dir):
    got = queries()["stream_foreach_batch"](spark, sf_dir)
    want = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    assert _rows(got) == _rows(want)


def test_stream_stream_join_equals_batch(spark, sf_dir):
    got = queries()["stream_stream_join"](spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("buy_id"),
        F.col("ts").alias("buy_ts"),
    )
    want = clicks.join(
        buys,
        (F.col("c_user") == F.col("b_user"))
        & (F.col("buy_ts") >= F.col("click_ts"))
        & (F.col("buy_ts") <= F.col("click_ts") + F.expr("interval 30 minutes")),
    ).select("c_user", "click_id", "click_ts", "buy_id", "buy_ts")
    assert _rows(got) == _rows(want)


def test_stream_static_join_equals_batch(spark, sf_dir):
    got = queries()["stream_static_join"](spark, sf_dir)
    weights = spark.createDataFrame(
        [("click", 1.0), ("view", 0.5), ("purchase", 5.0), ("signup", 3.0), ("error", 0.0)],
        "event_type string, weight double",
    )
    want = (
        load_table(spark, sf_dir, "events")
        .join(weights, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("value") * F.col("weight")).cast("decimal(38,6)"))
            .cast("double")
            .alias("weighted_value"),
        )
    )
    assert _rows(got) == _rows(want)


def test_stream_custom_sessionize_equals_batch(spark, sf_dir):
    """The applyInPandasWithState sessionizer must equal the batch
    gaps-and-islands twin exactly — including sessions spanning the
    two-file batch boundary, which only match if cross-batch state
    restore works."""
    from pyspark.sql import Window

    got = queries()["stream_custom_sessionize"](spark, sf_dir)
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | ((F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")) > 1800),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    numbered = flagged.withColumn(
        "idx",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    want = (
        numbered.groupBy("user_id", "idx")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("idx")
    )
    assert _rows(got) == _rows(want)


def test_stream_reads_directory_shaped_events_table(spark, sf_dir, tmp_path):
    """Cluster-shaped layout (r8): every distributed writer produces the
    events table as a DIRECTORY of part files, not a single file. The
    stream source helpers must (a) resolve the ts physical type off a
    part file and (b) stream the directory directly — and the drained
    result must equal the single-file fixture's, since it is the same
    rows. Regression for the pq.read_schema-on-a-directory crash."""
    import os

    from hadoop_job_analyzer_spark.streaming.streams import _events_ts_is_long, _stream_dir

    d = str(tmp_path / "cluster_sf")
    os.makedirs(d)
    # events as a genuine multi-part directory; dims irrelevant here.
    load_table(spark, sf_dir, "events").repartition(4).write.parquet(
        f"{d}/events.parquet"
    )
    assert os.path.isdir(f"{d}/events.parquet")
    # The dtype probe must resolve off a part file without crashing; the
    # VALUE is writer-dependent (Spark 4.1 writes timestamp[ns], which the
    # nanosAsLong session conf surfaces as long — the ns branch's job).
    assert _events_ts_is_long(d) in (True, False)
    assert _stream_dir(d, "events") == f"{d}/events.parquet"
    got = queries()["stream_file_source"](spark, d)
    want = queries()["stream_file_source"](spark, sf_dir)
    assert _rows(got) == _rows(want)

    # Same contract for the documents stream: before the fix, a symlink
    # to a directory-shaped table yielded a silently EMPTY stream (the
    # worst failure mode — 0 rows, no crash; first seen at the r8
    # inflated dirs).
    load_table(spark, sf_dir, "documents").repartition(3).write.parquet(
        f"{d}/documents.parquet"
    )
    assert _stream_dir(d, "documents") == f"{d}/documents.parquet"
    got_d = queries()["stream_near_dedup_norm"](spark, d)
    assert got_d.count() > 0
    assert _rows(got_d) == _rows(queries()["stream_near_dedup_norm"](spark, sf_dir))


def test_state_operator_accounting(spark, sf_dir):
    """Pin the state-store accounting LAST_PROGRESS exposes (r9; the
    stateOperators[0] trap, recorded in verification/r9_stream_axis2*.json): lastProgress.stateOperators is a LIST with
    one entry per stateful operator, and per-operator numRowsTotal must
    equal the operator's designed key cardinality.

    - stream_session_window: ONE state operator; rows == finalized
      (user, session) count (complete mode emits exactly the state).
    - stream_dedup: TWO state operators (complete-mode agg first in
      progress order, then dropDuplicates) — the dedup operator's rows
      must equal the DISTINCT event_id count, the agg's the type count;
      summing is the only correct total.
    - stream_late_data and stream_foreach_batch drain to parquet, not
      the memory sink; every key drains through streams._drain, so they
      too leave a progress record.
    """
    from hadoop_job_analyzer_spark.streaming.streams import LAST_PROGRESS

    LAST_PROGRESS.pop("stream_session_window", None)
    sessions = queries()["stream_session_window"](spark, sf_dir)
    n_sessions = sessions.count()
    ops = LAST_PROGRESS["stream_session_window"]["stateOperators"]
    assert len(ops) == 1
    assert ops[0]["numRowsTotal"] == n_sessions

    LAST_PROGRESS.pop("stream_dedup", None)
    out = queries()["stream_dedup"](spark, sf_dir)
    n_types = out.count()
    n_ids = load_table(spark, sf_dir, "events").select("event_id").distinct().count()
    ops = LAST_PROGRESS["stream_dedup"]["stateOperators"]
    assert len(ops) == 2, f"expected agg+dedup operators, got {len(ops)}"
    rows = sorted(o["numRowsTotal"] for o in ops)
    assert rows == sorted([n_types, n_ids]), (
        f"per-operator state rows {rows} != designed cardinalities "
        f"[{n_types}, {n_ids}] — a summed state-row total would drift"
    )

    for key in ("stream_late_data", "stream_foreach_batch"):
        LAST_PROGRESS.pop(key, None)
        queries()[key](spark, sf_dir)
        assert LAST_PROGRESS.get(key), f"{key} drain recorded no progress"


def test_default_state_store_is_rocksdb(spark):
    """get_spark (and the one-call helper) must pin the PRODUCTION state
    store (VERDICT r9 task #5): the heap-map default is measured to OOM
    one decade above bench SF while RocksDB survives everywhere measured
    (BASELINE.md r9 A/B). The shared test session comes from get_spark,
    so this also proves every streaming test in this file runs under the
    production provider."""
    from hadoop_job_analyzer_spark.session import (
        ROCKSDB_STATE_STORE_PROVIDER,
        enable_rocksdb_state_store,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    got = spark.conf.get(key, None)
    assert got is not None and got.endswith("RocksDBStateStoreProvider"), (
        f"get_spark session runs {got!r}, not the production RocksDB store"
    )
    # the helper is idempotent and returns the session for chaining
    assert enable_rocksdb_state_store(spark) is spark
    assert spark.conf.get(key) == ROCKSDB_STATE_STORE_PROVIDER


def _drain_with_checkpoint(stream_df, ckpt: str, out: str, mode: str) -> None:
    """availableNow drain of whatever files the source currently sees,
    appending each micro-batch to `out` under its own _batch_id partition
    (dynamic overwrite, so a retried batch replaces its own partition
    instead of appending duplicates) and committing progress + state to
    `ckpt`. Restartable: calling again with the same ckpt resumes from
    the recorded offsets and state."""
    def emit(bdf, bid: int) -> None:
        (
            bdf.withColumn("_batch_id", F.lit(bid))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out)
        )

    q = (
        stream_df.writeStream.foreachBatch(emit)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _stage_time_split(spark, sf_dir: str, dst, n_files: int = 3) -> list:
    """events (user_id, ts) split into n contiguous TIME slices, one
    parquet dir per slice, named f0..fn — sessions straddle the slice
    boundaries, so resuming mid-backlog exercises real state carry-over.
    Returns the slice paths in time order (copied into the live source
    dir one by one by the caller)."""
    batch = load_table(spark, sf_dir, "events").select("user_id", "ts")
    lo, hi = batch.agg(
        F.min(F.col("ts").cast("long")), F.max(F.col("ts").cast("long"))
    ).first()
    cuts = [lo + (hi - lo) * i // n_files for i in range(1, n_files)]
    bounds = [lo] + cuts + [hi + 1]
    paths = []
    for i in range(n_files):
        p = str(dst / f"f{i}")
        sl = batch.where(
            (F.col("ts").cast("long") >= bounds[i])
            & (F.col("ts").cast("long") < bounds[i + 1])
        )
        sl.coalesce(1).write.parquet(p)
        paths.append(p)
    return paths


def _read_slices_stream(spark, src: str):
    return (
        spark.readStream.schema("user_id BIGINT, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "*"))
    )


def _copy_slice(slice_dir: str, src_live: str, name: str) -> None:
    import shutil as _sh

    _sh.copytree(slice_dir, os.path.join(src_live, name))


def _rows_sorted(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def test_checkpoint_resume_session_window(spark, sf_dir, tmp_path):
    """Failure-recovery drill (VERDICT r10 task #5), stateful key 1 of 2:
    the session_window aggregation over a 3-slice backlog, STOPPED after
    slice 1 (availableNow terminates when the source is drained), then
    restarted from the SAME checkpoint after the remaining slices land.
    The restarted run must reload the state store (RocksDB per session
    conf): sessions straddling the stop point only come out right if
    pre-stop state merges with post-restart events. Asserts the resumed
    run's final complete-mode snapshot row-equals the uninterrupted
    run's, and both conserve the event count."""
    slices = _stage_time_split(spark, sf_dir, tmp_path)

    def build(src: str):
        ev = (
            _read_slices_stream(spark, src)
            .withWatermark("ts", "2 hours")
            .groupBy(
                F.session_window("ts", "30 minutes").alias("win"), F.col("user_id")
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("win.start").alias("session_start"),
                F.col("win.end").alias("session_end"),
                "n_events",
            )
        )
        return ev

    # uninterrupted: all 3 slices visible from the start
    src_a = tmp_path / "src_a"
    src_a.mkdir()
    for i, p in enumerate(slices):
        _copy_slice(p, str(src_a), f"f{i}")
    out_a, ckpt_a = str(tmp_path / "out_a"), str(tmp_path / "ckpt_a")
    _drain_with_checkpoint(build(str(src_a)), ckpt_a, out_a, "complete")

    # interrupted: slice 0 only, drain-to-idle (query STOPS), then the
    # rest arrives and the query restarts from the same checkpoint
    src_b = tmp_path / "src_b"
    src_b.mkdir()
    _copy_slice(slices[0], str(src_b), "f0")
    out_b, ckpt_b = str(tmp_path / "out_b"), str(tmp_path / "ckpt_b")
    _drain_with_checkpoint(build(str(src_b)), ckpt_b, out_b, "complete")
    for i in (1, 2):
        _copy_slice(slices[i], str(src_b), f"f{i}")
    _drain_with_checkpoint(build(str(src_b)), ckpt_b, out_b, "complete")

    def final_snapshot(out: str):
        df = spark.read.parquet(out)
        last = df.agg(F.max("_batch_id")).first()[0]
        return df.where(F.col("_batch_id") == last).drop("_batch_id")

    a, b = final_snapshot(out_a), final_snapshot(out_b)
    ra, rb = _rows_sorted(a), _rows_sorted(b)
    assert ra == rb, f"resumed != uninterrupted ({len(ra)} vs {len(rb)} rows)"
    n_events_total = load_table(spark, sf_dir, "events").count()
    assert sum(r[3] for r in ra) == n_events_total
    assert len(ra) > 0


def test_checkpoint_resume_custom_sessionize(spark, sf_dir, tmp_path):
    """Failure-recovery drill, stateful key 2 of 2: the
    applyInPandasWithState custom sessionize (GroupState carries the
    open session across batches). Same 3-slice stop/restart protocol;
    update-mode emissions from BOTH runs reduce through
    _custom_sessionize_final (last snapshot per (user, session_start)),
    and the reductions must be row-equal — state recovery is the only
    way the resumed run can extend a pre-stop open session instead of
    double-opening it. Event count conserved by the session sum."""
    from hadoop_job_analyzer_spark.streaming.streams import (
        _custom_sessionize_final,
        apply_custom_sessionize,
    )

    slices = _stage_time_split(spark, sf_dir, tmp_path)

    src_a = tmp_path / "src_a"
    src_a.mkdir()
    for i, p in enumerate(slices):
        _copy_slice(p, str(src_a), f"f{i}")
    out_a, ckpt_a = str(tmp_path / "out_a"), str(tmp_path / "ckpt_a")
    _drain_with_checkpoint(
        apply_custom_sessionize(_read_slices_stream(spark, str(src_a))),
        ckpt_a,
        out_a,
        "update",
    )

    src_b = tmp_path / "src_b"
    src_b.mkdir()
    _copy_slice(slices[0], str(src_b), "f0")
    out_b, ckpt_b = str(tmp_path / "out_b"), str(tmp_path / "ckpt_b")
    _drain_with_checkpoint(
        apply_custom_sessionize(_read_slices_stream(spark, str(src_b))),
        ckpt_b,
        out_b,
        "update",
    )
    for i in (1, 2):
        _copy_slice(slices[i], str(src_b), f"f{i}")
    _drain_with_checkpoint(
        apply_custom_sessionize(_read_slices_stream(spark, str(src_b))),
        ckpt_b,
        out_b,
        "update",
    )

    fin_a = _custom_sessionize_final(spark.read.parquet(out_a).drop("_batch_id"))
    fin_b = _custom_sessionize_final(spark.read.parquet(out_b).drop("_batch_id"))
    ra, rb = _rows_sorted(fin_a), _rows_sorted(fin_b)
    assert ra == rb, f"resumed != uninterrupted ({len(ra)} vs {len(rb)} rows)"
    n_events_total = load_table(spark, sf_dir, "events").count()
    assert sum(r[3] for r in ra) == n_events_total
    assert len(ra) > 0


def test_carbon_target_flag_ships_report_lines_over_loopback(spark, sf_dir, monkeypatch):
    """VERDICT r11 task #5: the composed e2e report itself must be able
    to push bytes to a configurable host:port. With HJA_CARBON_TARGET
    set, ops_stream_session_report drains through the foreachBatch
    socket bridge — each complete-mode snapshot's rendered Graphite
    lines land on the wire from the executors — and the RETURNED frame
    must be hash-identical to the flag-off path (the oracle grades the
    same frame either way). The fixture backlog drains in one
    availableNow snapshot, so the wire carries exactly the final report
    lines."""
    import socket
    import threading

    received: list[bytes] = []
    srv = socket.create_server(("127.0.0.1", 0))
    srv.settimeout(0.5)
    port = srv.getsockname()[1]
    stop = threading.Event()

    def serve() -> None:
        # drain-then-exit (r12 self-review): only stop once accept times
        # out with the stop flag set, so a connection still sitting in
        # the listen backlog when the driver reaches `finally` (one per
        # non-empty partition — count depends on AQE) is served, not
        # dropped.
        while True:
            try:
                conn, _ = srv.accept()
            except socket.timeout:
                if stop.is_set():
                    break
                continue
            with conn:
                chunks = []
                while True:
                    b = conn.recv(65536)
                    if not b:
                        break
                    chunks.append(b)
                received.append(b"".join(chunks))

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    try:
        monkeypatch.setenv("HJA_CARBON_TARGET", f"127.0.0.1:{port}")
        flagged = queries()["ops_stream_session_report"](spark, sf_dir)
        flagged_rows = _rows(flagged)
    finally:
        stop.set()
        t.join(timeout=10)
        srv.close()
    monkeypatch.delenv("HJA_CARBON_TARGET")
    plain_rows = _rows(queries()["ops_stream_session_report"](spark, sf_dir))
    assert flagged_rows == plain_rows, "flag changed the returned report frame"

    wire = b"".join(received).decode("utf-8")
    assert wire.endswith("\n")
    got = sorted(wire.strip("\n").split("\n"))
    want = sorted(r[3] for r in flagged_rows)  # column order: ..., line
    assert len(want) > 0
    assert got == want, "wire lines != report lines"


def test_checkpoint_resume_after_midbacklog_stop(spark, sf_dir, tmp_path):
    """Failure-recovery drill 3 of 3 (VERDICT r11 task #6): unlike the
    drain-to-idle drills above, the query is KILLED mid-backlog — all 3
    slices are visible from the start, maxFilesPerTrigger=1 forces one
    slice per micro-batch, and query.stop() fires as soon as the first
    batch commits (possibly interrupting batch 2 in flight — exactly the
    crash shape; the _batch_id dynamic-overwrite emit makes the replay
    idempotent). Restarting from the same checkpoint under the default
    RocksDB store must reload offsets + session state and produce a
    final complete-mode snapshot row-equal to the uninterrupted run's."""
    import time as _time

    slices = _stage_time_split(spark, sf_dir, tmp_path)

    def build(src: str):
        return (
            _read_slices_stream(spark, src)
            .withWatermark("ts", "2 hours")
            .groupBy(
                F.session_window("ts", "30 minutes").alias("win"), F.col("user_id")
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("win.start").alias("session_start"),
                F.col("win.end").alias("session_end"),
                "n_events",
            )
        )

    # uninterrupted reference: all slices, one availableNow drain
    src_a = tmp_path / "src_a"
    src_a.mkdir()
    for i, p in enumerate(slices):
        _copy_slice(p, str(src_a), f"f{i}")
    out_a, ckpt_a = str(tmp_path / "out_a"), str(tmp_path / "ckpt_a")
    _drain_with_checkpoint(build(str(src_a)), ckpt_a, out_a, "complete")

    # killed run: same full backlog, stopped after the first commit
    src_b = tmp_path / "src_b"
    src_b.mkdir()
    for i, p in enumerate(slices):
        _copy_slice(p, str(src_b), f"f{i}")
    out_b, ckpt_b = str(tmp_path / "out_b"), str(tmp_path / "ckpt_b")
    committed: list[int] = []

    def emit(bdf, bid: int) -> None:
        (
            bdf.withColumn("_batch_id", F.lit(bid))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_b)
        )
        committed.append(bid)

    # maxFilesPerTrigger=1 comes from _read_slices_stream's source options
    q = (
        build(str(src_b))
        .writeStream.foreachBatch(emit)
        .outputMode("complete")
        .option("checkpointLocation", ckpt_b)
        .trigger(availableNow=True)
        .start()
    )
    deadline = _time.time() + 120
    while not committed and q.isActive and _time.time() < deadline:
        _time.sleep(0.05)
    assert committed, "first micro-batch never committed"
    q.stop()
    q.awaitTermination()

    # restart from the same checkpoint; availableNow drains the rest
    _drain_with_checkpoint(build(str(src_b)), ckpt_b, out_b, "complete")

    def final_snapshot(out: str):
        df = spark.read.parquet(out)
        last = df.agg(F.max("_batch_id")).first()[0]
        return df.where(F.col("_batch_id") == last).drop("_batch_id")

    ra = _rows(final_snapshot(out_a))
    rb = _rows(final_snapshot(out_b))
    assert ra == rb, f"killed-then-resumed != uninterrupted ({len(ra)} vs {len(rb)})"
    n_events_total = load_table(spark, sf_dir, "events").count()
    assert sum(r[3] for r in ra) == n_events_total
    assert len(ra) > 0


def test_midbacklog_stop_custom_sessionize(spark, sf_dir, tmp_path):
    """Kill-mid-backlog drill for the OTHER stateful shape
    (applyInPandasWithState — GroupState carries open sessions): all 3
    slices visible, maxFilesPerTrigger=1, query.stop() after the first
    commit, restart from the same RocksDB checkpoint. Update-mode
    emissions from the killed+resumed run reduce through
    _custom_sessionize_final to the same rows as the uninterrupted
    run's — only recovered GroupState can extend a pre-stop open
    session instead of double-opening it."""
    import time as _time

    from hadoop_job_analyzer_spark.streaming.streams import (
        _custom_sessionize_final,
        apply_custom_sessionize,
    )

    slices = _stage_time_split(spark, sf_dir, tmp_path)

    src_a = tmp_path / "src_a"
    src_a.mkdir()
    for i, p in enumerate(slices):
        _copy_slice(p, str(src_a), f"f{i}")
    out_a, ckpt_a = str(tmp_path / "out_a"), str(tmp_path / "ckpt_a")
    _drain_with_checkpoint(
        apply_custom_sessionize(_read_slices_stream(spark, str(src_a))),
        ckpt_a,
        out_a,
        "update",
    )

    src_b = tmp_path / "src_b"
    src_b.mkdir()
    for i, p in enumerate(slices):
        _copy_slice(p, str(src_b), f"f{i}")
    out_b, ckpt_b = str(tmp_path / "out_b"), str(tmp_path / "ckpt_b")
    committed: list[int] = []

    def emit(bdf, bid: int) -> None:
        (
            bdf.withColumn("_batch_id", F.lit(bid))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_b)
        )
        committed.append(bid)

    q = (
        apply_custom_sessionize(_read_slices_stream(spark, str(src_b)))
        .writeStream.foreachBatch(emit)
        .outputMode("update")
        .option("checkpointLocation", ckpt_b)
        .trigger(availableNow=True)
        .start()
    )
    deadline = _time.time() + 120
    while not committed and q.isActive and _time.time() < deadline:
        _time.sleep(0.05)
    assert committed, "first micro-batch never committed"
    q.stop()
    q.awaitTermination()

    _drain_with_checkpoint(
        apply_custom_sessionize(_read_slices_stream(spark, str(src_b))),
        ckpt_b,
        out_b,
        "update",
    )

    fin_a = _custom_sessionize_final(spark.read.parquet(out_a).drop("_batch_id"))
    fin_b = _custom_sessionize_final(spark.read.parquet(out_b).drop("_batch_id"))
    ra, rb = _rows(fin_a), _rows(fin_b)
    assert ra == rb, f"killed-then-resumed != uninterrupted ({len(ra)} vs {len(rb)})"
    n_events_total = load_table(spark, sf_dir, "events").count()
    assert sum(r[3] for r in ra) == n_events_total
    assert len(ra) > 0


def test_line_sender_chunks_large_partitions(monkeypatch):
    """_line_sender (r11 ADVICE fix) must stream a partition in bounded
    chunks rather than one payload string: drive it directly with
    3 × _SOCKET_CHUNK_ROWS + 7 rows against a loopback listener.
    Asserts every line arrives exactly once, newline-terminated, AND —
    via a counting wrapper around socket.create_connection — that the
    payload left in exactly ceil(n / chunk) = 4 sendall calls (reverting
    to the old one-giant-payload sendall fails this count, which is the
    bounded-executor-memory contract the test exists to pin). Empty
    partitions must not open a connection."""
    import socket
    import threading
    from types import SimpleNamespace

    from hadoop_job_analyzer_spark.streaming.streams import (
        _SOCKET_CHUNK_ROWS,
        _line_sender,
    )

    sendall_count = [0]
    real_create = socket.create_connection

    class _CountingSock:
        def __init__(self, s):
            self._s = s

        def sendall(self, b):
            sendall_count[0] += 1
            return self._s.sendall(b)

        def close(self):
            return self._s.close()

    monkeypatch.setattr(
        socket,
        "create_connection",
        lambda *a, **k: _CountingSock(real_create(*a, **k)),
    )

    n = 3 * _SOCKET_CHUNK_ROWS + 7
    received: list[bytes] = []
    conn_count = [0]
    srv = socket.create_server(("127.0.0.1", 0))
    srv.settimeout(0.5)
    port = srv.getsockname()[1]
    stop = threading.Event()

    def serve() -> None:
        # drain-then-exit (r12 self-review): only stop once accept times
        # out with the stop flag set, so a connection still sitting in
        # the listen backlog when the driver reaches `finally` (one per
        # non-empty partition — count depends on AQE) is served, not
        # dropped.
        while True:
            try:
                conn, _ = srv.accept()
            except socket.timeout:
                if stop.is_set():
                    break
                continue
            conn_count[0] += 1
            with conn:
                while True:
                    b = conn.recv(65536)
                    if not b:
                        break
                    received.append(b)

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    try:
        send = _line_sender("127.0.0.1", port)
        send(SimpleNamespace(line=f"m.path {i} 1700000000") for i in range(n))
        # empty partition: no connection
        send(iter(()))
        deadline = threading.Event()
        deadline.wait(0.3)  # let the listener drain the final recv
    finally:
        stop.set()
        t.join(timeout=10)
        srv.close()

    wire = b"".join(received).decode("utf-8")
    assert wire.endswith("\n")
    lines = wire.strip("\n").split("\n")
    assert len(lines) == n
    assert lines[0] == "m.path 0 1700000000" and lines[-1] == f"m.path {n-1} 1700000000"
    assert conn_count[0] == 1, "empty partition must not open a second connection"
    assert sendall_count[0] == 4, (
        f"expected 3 full chunks + 1 remainder, saw {sendall_count[0]} sendalls"
    )


def test_carbon_target_malformed_fails_loudly(spark, sf_dir, monkeypatch):
    """A malformed HJA_CARBON_TARGET must fail at drain setup with a
    clear message, not as an int() traceback mid-query (or, worse, a
    silent fallback that never emits)."""
    import pytest

    for bad in ("hostonly", ":2003", "relay:", "relay:20x3"):
        monkeypatch.setenv("HJA_CARBON_TARGET", bad)
        with pytest.raises(ValueError, match="HJA_CARBON_TARGET"):
            queries()["ops_stream_session_report"](spark, sf_dir)
