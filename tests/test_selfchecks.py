"""Stronger self-checks for rows-only keys (SURVEY.md §5.4).

The driver only checks row counts for keys without an oracle; these
tests hold them to a real standard.
"""

from __future__ import annotations

import os

import pytest

from hadoop_job_analyzer_spark.catalog import load_table
from hadoop_job_analyzer_spark.registry import queries
from hadoop_job_analyzer_spark.sources.fixtures import jobs_records


def test_scan_csv_schema_equals_parquet_twin(spark, sf_dir):
    got = queries()["scan_csv_schema"](spark, sf_dir)
    want = load_table(spark, sf_dir, "nation")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_scan_jsonl_matches_generator(spark, sf_dir):
    import json

    df = queries()["scan_jsonl"](spark, sf_dir)
    rows = {r.job_id: r for r in df.collect()}
    recs = jobs_records()
    assert len(rows) == len(recs)
    for rec in recs[:25]:
        r = rows[rec["job_id"]]
        assert r.user == rec["user"]
        assert r.status == rec["status"]
        assert r.duration_ms == rec["duration_ms"]
        # counters is projected to sorted-key JSON text (a MAP cell
        # would crash the driver's canonicalizer)
        assert json.loads(r.counters_json) == rec["counters"]
    # no nulls anywhere = schema matched every line
    for c in df.columns:
        assert df.where(df[c].isNull()).count() == 0, c


def test_approx_distinct_within_5pct_of_exact(spark, sf_dir):
    """r6 shape: the key itself emits the exact count + a within_5pct
    verdict on its own HLL estimate; independently recompute the exact
    counts and require every verdict to be True."""
    rows = {
        r.event_type: r for r in queries()["agg_approx_distinct"](spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import functions as F

    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    assert set(rows) == set(exact)
    for k, n in exact.items():
        assert rows[k].n_users_exact == n, (k, rows[k].n_users_exact, n)
        assert rows[k].within_5pct is True, k


def test_fn_map_ops_matches_generator(spark, sf_dir):
    rows = {r.job_id: r for r in queries()["fn_map_ops"](spark, sf_dir).collect()}
    recs = jobs_records()
    assert len(rows) == len(recs)
    for rec in recs[:25]:
        r = rows[rec["job_id"]]
        assert r.counter_names == ",".join(sorted(rec["counters"].keys()))
        assert r.hdfs_read == rec["counters"]["hdfs_bytes_read"]
        assert r.n_counters == len(rec["counters"])
        assert r.counter_total == sum(rec["counters"].values())


def test_compaction_reduces_file_count(spark, sf_dir):
    from hadoop_job_analyzer_spark.registry import queries
    from hadoop_job_analyzer_spark.sources.fixtures import _ARTIFACTS as art
    import glob
    queries()["sink_compact_small_files"](spark, sf_dir).count()
    n_frag = len(glob.glob(os.path.join(art, "compact_fragmented", "*.parquet")))
    n_tidy = len(glob.glob(os.path.join(art, "compact_tidy", "*.parquet")))
    assert n_frag == 64 and n_tidy == 4, (n_frag, n_tidy)


def test_compression_ratio_matches_python(spark, sf_dir):
    import zlib

    from hadoop_job_analyzer_spark.catalog import load_table
    from hadoop_job_analyzer_spark.registry import queries

    got = {
        r["doc_id"]: r["compression_ratio"]
        for r in queries()["text_compression_ratio"](spark, sf_dir).collect()
    }
    for r in load_table(spark, sf_dir, "documents").select("doc_id", "text").collect():
        raw = r["text"].encode("utf-8")
        want = round(len(zlib.compress(raw, 6)) / max(len(raw), 1), 6)
        assert got[r["doc_id"]] == want, r["doc_id"]


def test_hll_mergeable_estimates_near_exact(spark, sf_dir):
    """r6 shape: every row (incl. '__ALL__', whose estimate comes from
    sketch UNION, not a re-scan) must carry within_5pct=True and the
    independently recomputed exact distinct count."""
    from pyspark.sql import functions as F

    rows = {
        r.scope: r for r in queries()["sketch_hll_mergeable"](spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    exact["__ALL__"] = ev.select("user_id").distinct().count()
    assert set(rows) == set(exact)
    for k, n in exact.items():
        assert rows[k].n_users_exact == n, (k, rows[k].n_users_exact, n)
        assert rows[k].within_5pct is True, k


def test_bloom_prejoin_filter_is_selective(spark, sf_dir):
    """join_bloom_prejoin's oracle match proves losslessness but NOT
    usefulness — a saturated bloom passes everything and still
    hash-matches. Rebuild the filter the operator's way and assert it
    actually rejects most non-urgent lineitems (FPP well under 50%)."""
    from pyspark.sql import functions as F

    from hadoop_job_analyzer_spark.operators.joins import _BLJ_K, _BLJ_M, _blj_pos_sql

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    urgent_keys = {r.o_orderkey for r in o.where(F.col("o_orderpriority") == "1-URGENT").collect()}
    pos = None
    for r in range(_BLJ_K):
        p = o.where(F.col("o_orderpriority") == "1-URGENT").select(
            F.expr(_blj_pos_sql("o_orderkey", r)).alias("pos")
        )
        pos = p if pos is None else pos.unionAll(p)
    n_bits = pos.distinct().count()
    fill = n_bits / _BLJ_M
    assert fill < 0.5, f"bloom saturated: fill={fill:.3f}"
    # probe every lineitem orderkey through the same positions
    probe = None
    for r in range(_BLJ_K):
        p = li.select(
            F.col("l_orderkey").alias("k"), F.expr(_blj_pos_sql("l_orderkey", r)).alias("pos")
        )
        probe = p if probe is None else probe.unionAll(p)
    bits = pos.distinct().withColumn("hit", F.lit(1))
    passed = {
        r.k
        for r in probe.join(bits, "pos", "left")
        .groupBy("k")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("n_hit"), F.count(F.lit(1)).alias("n"))
        .where(F.col("n_hit") == F.col("n"))
        .collect()
    }
    li_keys = {r.l_orderkey for r in li.select("l_orderkey").distinct().collect()}
    # only urgent orders that actually have lineitems can appear probe-side
    assert (urgent_keys & li_keys) <= passed, "bloom produced a false negative"
    non_member_pass = len(passed - urgent_keys)
    non_member_total = len(li_keys - urgent_keys)
    if non_member_total:
        fpp = non_member_pass / non_member_total
        assert fpp < 0.2, f"bloom not selective: fpp={fpp:.3f}"


def test_psi_drift_properties(spark, sf_dir):
    """PSI is nonnegative by construction (KL-symmetrized form) and near
    zero when a type's distribution matches the global mix — the
    fixture's uniform generator should score every type < 0.25 (the
    'drifted' operating threshold)."""
    rows = queries()["agg_psi_drift"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.psi >= 0.0, (r.event_type, r.psi)
        assert r.psi < 0.25, (r.event_type, r.psi)


def test_ks_binned_drift_bounds(spark, sf_dir):
    """KS distance is a probability-CDF sup-distance: always in [0, 1],
    and small for the fixture's homogeneous generator."""
    rows = queries()["agg_ks_binned_drift"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.ks_d <= 1.0, (r.event_type, r.ks_d)


def test_survival_curve_is_monotone(spark, sf_dir):
    """Survival fractions must be non-increasing in the threshold
    (P[gap > t] is a tail function) and within [0, 1]."""
    r = queries()["win_survival_gap_curve"](spark, sf_dir).collect()[0]
    vals = [r.surv_1m, r.surv_5m, r.surv_30m, r.surv_2h, r.surv_1d]
    for v in vals:
        assert 0.0 <= v <= 1.0, vals
    assert all(a >= b for a, b in zip(vals, vals[1:])), vals
    assert r.n_gaps > 0


def test_winsorized_mean_is_bracketed(spark, sf_dir):
    """The winsorized mean must lie within [p05, p95] (it averages
    values clamped to that band) and p05 <= p95."""
    for r in queries()["agg_winsorized_mean"](spark, sf_dir).collect():
        assert r.p05 <= r.p95, (r.event_type, r.p05, r.p95)
        assert r.p05 - 1e-9 <= r.winsorized_mean <= r.p95 + 1e-9, (
            r.event_type,
            r.winsorized_mean,
        )


def test_weighted_sample_prefers_heavy_docs(spark, sf_dir):
    """sample_weighted_es: P[selected] ∝ n_chars, so the sample's mean
    weight must exceed the corpus mean (deterministic given the md5
    draws); sample is exactly k rows with no duplicate docs."""
    rows = queries()["sample_weighted_es"](spark, sf_dir).collect()
    assert len(rows) == 64
    assert len({r.doc_id for r in rows}) == 64
    from pyspark.sql import functions as F

    corpus_avg = (
        load_table(spark, sf_dir, "documents").agg(F.avg("n_chars")).collect()[0][0]
    )
    sample_avg = sum(r.weight for r in rows) / len(rows)
    assert sample_avg > corpus_avg, (sample_avg, corpus_avg)


def test_bench_probe_contamination_rule():
    """bench.py must self-label load-contaminated runs (VERDICT r10 task
    #3): the BASELINE.md read rule — probe ≥ 1.5× its clean-band ceiling
    at either position — encoded and stamped into the emitted JSON. The
    band literals are pinned here so a drift is a deliberate two-file
    change (bench.py + BASELINE.md), never an accident."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    # r13 re-anchor (verification/r13_bench_anchor_{1..14}.json): ends
    # never re-entered the r11 band across 14 draws while the basket
    # re-attained its frozen clean band — ceilings moved to the max
    # probes of the basket-in-band draws; the two-file protocol means
    # changing these literals REQUIRES the matching BASELINE.md edit.
    assert bench.PROBE_BAND == {"start": (0.126, 0.172), "end": (0.052, 0.086)}
    assert bench.PROBE_INFLATION_FACTOR == 1.5
    assert bench.BASKET_CLEAN_BAND == (10.5, 11.6)

    clean = bench._probe_contamination(0.120, 0.060)
    assert clean["load_contaminated"] is False
    assert clean["inflated_positions"] == []
    assert clean["elevated_positions"] == []
    assert clean["cold_box_suspect"] is False
    # a start like r13 anchor 1's 0.26-class inflation must be flagged
    dirty_start = bench._probe_contamination(0.27, 0.060)
    assert dirty_start["load_contaminated"] is True
    assert dirty_start["inflated_positions"] == ["start"]
    dirty_end = bench._probe_contamination(0.120, 0.15)
    assert dirty_end["load_contaminated"] is True
    assert dirty_end["inflated_positions"] == ["end"]
    # just under the 1.5× line on both → not contaminated, but labeled
    # cold-box-suspect (r12: post-reboot draws live in exactly this gap)
    edge = bench._probe_contamination(0.172 * 1.5 - 1e-6, 0.086 * 1.5 - 1e-6)
    assert edge["load_contaminated"] is False
    assert edge["cold_box_suspect"] is True
    assert sorted(edge["elevated_positions"]) == ["end", "start"]
    # the r12 post-reboot anchor-4 shape: start elevated, end elevated
    cold = bench._probe_contamination(0.1714, 0.0875)
    assert cold["load_contaminated"] is False
    assert cold["cold_box_suspect"] is True
    # ADVICE r12: a cold-box record must carry its caveat inline — the
    # label also fires on clean-band drift, and the note says so
    assert "band drift" in cold["cold_box_note"]
    assert "cold_box_note" not in clean
    # fully-contaminated runs are NOT cold-box-suspect (stronger label wins)
    assert dirty_start["cold_box_suspect"] is False
    # ADVICE r12: a probe exactly AT the band ceiling is in-band
    # ("draws graze the ceiling from below") — strictly-between window
    at_ceiling = bench._probe_contamination(0.172, 0.086)
    assert at_ceiling["load_contaminated"] is False
    assert at_ceiling["elevated_positions"] == []
    assert at_ceiling["cold_box_suspect"] is False
    # basket self-label (r13): the false-clean guard — a record whose
    # probes slip through the band but whose basket sits above the
    # frozen clean band says so itself
    assert bench._basket_verdict(11.11)["basket_vs_band"] == "in_band"
    assert bench._basket_verdict(11.6)["basket_vs_band"] == "in_band"
    assert bench._basket_verdict(12.12)["basket_vs_band"] == "above_band"
    assert bench._basket_verdict(9.8)["basket_vs_band"] == "below_band"
    assert bench._basket_verdict(11.0)["basket_clean_band"] == [10.5, 11.6]
    assert clean["probe_band"] == {"start": [0.126, 0.172], "end": [0.052, 0.086]}


def test_bench_duckdb_control_draw():
    """VERDICT r13 task #4: contaminated/above-band bench records must
    carry a DuckDB control draw — the ratio of a frozen query to its
    frozen 2026-08-13 baseline — so box-slow vs JVM-drift is
    adjudicable from the artifact alone (r13 anchors 15/16: the box
    noise was invisible to every guest counter; the DuckDB control was
    the only discriminator that worked). Pins the frozen baseline
    literal (two-file protocol with BASELINE.md) and the record shape;
    runs the actual draw at the bench sf-dir so the field is known to
    produce, not just to exist."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    # frozen literal: BASELINE.md "Measured baseline" q1 row (0.093 s)
    assert bench.DUCK_CONTROL_BASELINE_S == 0.093
    assert bench.DUCK_CONTROL_NAME == "q1_pricing_summary"

    rec = bench._duckdb_control()
    assert rec["name"] == "q1_pricing_summary"
    assert rec["frozen_baseline"] == 0.093
    assert rec["wall_median5"] > 0
    assert rec["ratio_to_baseline"] == round(
        rec["wall_median5"] / 0.093, 2
    )
    # the binding interpretation travels in the record itself
    assert "box-slow" in rec["read"] and "JVM" in rec["read"]


@pytest.mark.parametrize("writer", ["ensure_jobs_jsonl", "ensure_jobs_log"])
def test_fixture_write_interrupted_leaves_no_file(monkeypatch, tmp_path, writer):
    """A fixture writer that dies mid-file must leave nothing at the final
    path (a truncated file would be accepted by every later run); the
    next call then writes the whole file."""
    from hadoop_job_analyzer_spark.sources import fixtures

    monkeypatch.setattr(fixtures, "_FIXDIR", str(tmp_path))
    recs = fixtures.jobs_records()

    def dying_records():
        yield from recs[:10]
        raise RuntimeError("killed mid-write")

    monkeypatch.setattr(fixtures, "jobs_records", dying_records)
    with pytest.raises(RuntimeError):
        getattr(fixtures, writer)()
    assert os.listdir(tmp_path) == []

    monkeypatch.setattr(fixtures, "jobs_records", lambda: recs)
    path = getattr(fixtures, writer)()
    lines = open(path).read().splitlines()
    assert sum("WARN" not in ln for ln in lines) == len(recs) == fixtures.N_JOBS
    assert os.listdir(tmp_path) == [os.path.basename(path)]


def test_dpp_layout_follows_regenerated_events(spark, sf_dir, tmp_path):
    """join_dpp_partitioned must not serve a partitioned layout written
    from an earlier events table at the same sf path: regenerate
    events.parquet between two calls and the second result must still
    match its oracle over the new file."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from hadoop_job_analyzer_spark.catalog import TABLES, table_path
    from hadoop_job_analyzer_spark.oracle_check import compare
    from hadoop_job_analyzer_spark.registry import oracle_sql

    d = tmp_path / "dpp_sf"
    d.mkdir()
    for t in TABLES:
        if t != "events":
            os.symlink(table_path(sf_dir, t), table_path(str(d), t))
    events = table_path(sf_dir, "events")
    full = pq.read_table(events)
    pq.write_table(
        full.filter(pc.not_equal(full["event_type"], "purchase")), table_path(str(d), "events")
    )
    key = "join_dpp_partitioned"
    compare(queries()[key](spark, str(d)), oracle_sql()[key], str(d), key)

    shutil.copyfile(events, table_path(str(d), "events"))
    compare(queries()[key](spark, str(d)), oracle_sql()[key], str(d), key)
