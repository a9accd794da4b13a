"""Self-checks for the round-5 keys (SURVEY.md §5.4 discipline: every
key has BOTH an oracle entry and an independent structural property
pinned here)."""

from __future__ import annotations

import pyspark.sql.functions as F

from hadoop_job_analyzer_spark.registry import queries


def test_kmeans_assignment_is_total_and_bounded(spark, sf_dir):
    from hadoop_job_analyzer_spark.operators.neardup import _KM_K

    out = queries()["emb_kmeans_iterative"](spark, sf_dir)
    rows = out.collect()
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert len(rows) == n_vecs  # every vector assigned exactly once
    assert len({r.vec_id for r in rows}) == n_vecs
    assert all(0 <= r.cen_id < _KM_K for r in rows)
    assert all(-1.0 <= r.cosine <= 1.0 for r in rows)
    # clusters must be non-trivial: more than one cluster survives 3 rounds
    assert len({r.cen_id for r in rows}) > 1


def test_range_search_threshold_and_probe_consistency(spark, sf_dir):
    from hadoop_job_analyzer_spark.operators.neardup import _RANGE_MIN_COS

    out = queries()["sim_range_search"](spark, sf_dir).collect()
    assert all(r.cosine >= _RANGE_MIN_COS for r in out)
    assert all(r.vec_id != 0 for r in out)
    # every ANN top-10 hit above the threshold must be range-found too
    # (same probe set, same cosine pipeline)
    ann = queries()["sim_ann_ivf"](spark, sf_dir).collect()
    found = {r.vec_id for r in out}
    for r in ann:
        if r.cosine >= _RANGE_MIN_COS:
            assert r.vec_id in found


def test_epoch_plan_integer_invariants(spark, sf_dir):
    out = queries()["corpus_epoch_plan"](spark, sf_dir).collect()
    assert out
    tot_w = sum(r.sample_weight for r in out)
    assert abs(tot_w - 1.0) < 1e-3
    for r in out:
        assert 1 <= r.epochs <= 4
        assert r.planned_chars <= r.target_chars
        assert r.planned_chars <= r.epochs * r.n_chars
        # cap binds only when the target exceeds the available mass
        if r.target_chars <= r.n_chars:
            assert r.epochs == 1


def test_modality_report_partitions_the_corpus(spark, sf_dir):
    out = queries()["mm_modality_mix_report"](spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n_items for r in out) == n_docs
    assert {r.modality for r in out} <= {"image", "audio", "video"}
    for r in out:
        assert r.total_bytes == 64 * r.n_items  # fixed 64-byte payloads


def test_minhash_full_superset_and_cap_linkage(spark, sf_dir):
    """The full pair set must contain every capped pair, and every doc in
    a multi-doc bucket must appear in at least one full-variant edge."""
    q = queries()
    capped = {(r.doc_a, r.doc_b) for r in q["dedup_near_minhash"](spark, sf_dir).collect()}
    full = {(r.doc_a, r.doc_b) for r in q["dedup_near_minhash_full"](spark, sf_dir).collect()}
    assert capped <= full


def test_components_full_never_coarser_than_capped(spark, sf_dir):
    """Adding representative edges can only merge components, never split:
    the full variant's component count must be <= the capped variant's."""
    q = queries()
    capped = q["dedup_components"](spark, sf_dir)
    full = q["dedup_components_full"](spark, sf_dir)
    n_capped = capped.select("component").distinct().count()
    n_full = full.select("component").distinct().count()
    assert n_full <= n_capped


def test_job_summary_covers_all_frameworks(spark, sf_dir):
    out = queries()["ops_job_summary_report"](spark, sf_dir).collect()
    from hadoop_job_analyzer_spark.sources.fixtures import jobs_records

    recs = jobs_records()
    assert sum(r.n_jobs for r in out) == len(recs)
    assert {r.framework for r in out} == {x["framework"] for x in recs}
    for r in out:
        assert 0.0 <= r.bad_rate <= 1.0
        assert r.p50_dur_ms <= r.p99_dur_ms <= r.max_dur_ms


def test_stream_near_dedup_matches_batch_twin(spark, sf_dir):
    """Streaming/batch equivalence (the §5.4 streaming self-oracle)."""
    out = {r.lang: r.n_canonical_docs for r in queries()["stream_near_dedup_norm"](spark, sf_dir).collect()}
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    canon = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), "[0-9]+", "0")))
    batch = {
        r.lang: r.n
        for r in d.select("lang", canon.alias("fp")).groupBy("lang").agg(F.countDistinct("fp").alias("n")).collect()
    }
    assert out == batch


def test_mahalanobis_scores_are_chi2_shaped(spark, sf_dir):
    out = queries()["emb_outlier_mahalanobis"](spark, sf_dir).collect()
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert len(out) == n_vecs
    assert all(r.maha2 >= 0 for r in out)
    # mean of maha2 over each label ~ dim (exact under the diagonal model:
    # sum over dims of normalized variance contributions averages to dim)
    import collections

    by_label = collections.defaultdict(list)
    for r in out:
        by_label[r.label].append(r.maha2)
    for label, scores in by_label.items():
        m = sum(scores) / len(scores)
        assert abs(m - 64.0) < 1.0, (label, m)


def test_dup_gram_mass_bounds(spark, sf_dir):
    out = queries()["text_dup_gram_mass"](spark, sf_dir).collect()
    assert out
    for r in out:
        assert 0.0 <= r.dup_mass <= 1.0
        assert r.dup_gram_occ <= r.total_gram_occ
        assert r.n_docs_majority_dup <= r.n_docs


def test_decon_embedding_rates_bounded(spark, sf_dir):
    out = queries()["decon_embedding"](spark, sf_dir).collect()
    assert out
    for r in out:
        assert 0.0 <= r.contamination_rate <= 1.0
        assert r.n_contaminated <= r.n_train


def test_scd2_lookup_partitions_orders(spark, sf_dir):
    """Every order matches exactly one dimension version (validity
    windows partition the timeline), so version rollups sum to |orders|."""
    out = queries()["join_scd2_pointintime"](spark, sf_dir).collect()
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert sum(r.n_orders for r in out) == n_orders
    assert {r.version for r in out} <= {1, 2}


def test_percent_rank_endpoints(spark, sf_dir):
    out = sorted(
        queries()["win_percent_rank_global"](spark, sf_dir).collect(),
        key=lambda r: r.pct_rank,
    )
    assert out[0].pct_rank == 0.0
    assert out[-1].pct_rank == 1.0
    assert abs(out[-1].cume_dist - 1.0) < 1e-9
    # monotone: higher pct_rank never has more events
    for a, b in zip(out, out[1:]):
        assert a.n_events >= b.n_events


def test_binary_quantize_hamming_bounds(spark, sf_dir):
    out = queries()["emb_binary_quantize"](spark, sf_dir).collect()
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert len(out) == n_vecs - 1  # query vector excluded
    for r in out:
        assert 0 <= r.hamming_to_q <= 64
        assert 0 <= r.sig_lo < (1 << 32) and 0 <= r.sig_hi < (1 << 32)


def test_malformed_csv_quarantine_exact(spark, sf_dir):
    out = queries()["scan_csv_malformed_permissive"](spark, sf_dir).collect()
    # fixture: 100 lines, every i % 7 == 3 malformed → 14 corrupt, 86 good
    assert all(r.n_corrupt_total == 14 for r in out)
    assert sum(r.n_rows for r in out) == 86


def test_pandas_iter_matches_jvm_expression(spark, sf_dir):
    out = queries()["udf_pandas_iter"](spark, sf_dir)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    jvm = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1.0 - F.col("l_discount")) * (1.0 + F.col("l_tax"))).alias("charge"),
    )
    assert out.exceptAll(jvm).count() == 0 and jvm.exceptAll(out).count() == 0


def test_rerank_two_stage_subset_of_shortlist(spark, sf_dir):
    out = queries()["sim_rerank_two_stage"](spark, sf_dir).collect()
    assert len(out) == 10
    assert [r.rank_pos for r in sorted(out, key=lambda r: r.rank_pos)] == list(range(1, 11))
    # cosine ordering is consistent with rank
    ranked = sorted(out, key=lambda r: r.rank_pos)
    for a, b in zip(ranked, ranked[1:]):
        assert a.cosine >= b.cosine


def test_bounce_rate_consistency(spark, sf_dir):
    out = queries()["agg_session_bounce_rate"](spark, sf_dir).collect()
    sessions = queries()["win_sessionize"](spark, sf_dir)
    n_sessions = sessions.count()
    n_bounces = sessions.where(F.col("n_events") == 1).count()
    assert sum(r.n_sessions for r in out) == n_sessions
    assert sum(r.n_bounces for r in out) == n_bounces


def test_keeper_quality_beats_min_id(spark, sf_dir):
    """Quality keeper must have n_chars >= the min-id keeper's n_chars
    in every cluster (argmax property), and cluster sizes must agree
    with dedup_components."""
    q = queries()
    kq = {r.component: r for r in q["dedup_keeper_quality"](spark, sf_dir).collect()}
    comp = q["dedup_components"](spark, sf_dir).collect()
    d = dict(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "n_chars").rdd.map(tuple).collect()
    )
    import collections

    sizes = collections.Counter(r.component for r in comp)
    assert {c: r.cluster_size for c, r in kq.items()} == dict(sizes)
    for c, r in kq.items():
        assert r.keeper_chars >= d[c]  # component label IS the min doc_id


def test_salted_sessionize_hash_equals_plain(spark, sf_dir):
    """win_sessionize_salted must reproduce win_sessionize row-for-row:
    the (user, day) salt + session-level boundary repair is an execution
    strategy, not a semantics change (VERDICT r6 task #6)."""
    from hadoop_job_analyzer_spark.operators.windows import win_sessionize_salted

    plain = queries()["win_sessionize"](spark, sf_dir)
    salted = win_sessionize_salted(spark, sf_dir)
    # names + types must agree; nullability legitimately differs (count()
    # is non-nullable, the salted twin's sum-of-part-counts is nullable
    # metadata-wise — values are never null either way)
    assert [(f.name, f.dataType) for f in plain.schema] == [
        (f.name, f.dataType) for f in salted.schema
    ]
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0
    assert plain.count() == salted.count() > 0


def test_bounce_rate_lag_lead_equals_session_window_twin(spark, sf_dir):
    """The r11 lag/lead bounce plan must reproduce the r10
    session_window formulation row-for-row — entry/bounce flags are an
    execution collapse (no session assembly), not a semantics change.
    Gap-rule caveat: the twins use full-precision vs second-truncated
    gaps, which agree except for gaps inside (1800, 1801); the fixture
    has none (they also both hash-match the same DuckDB oracle)."""
    from hadoop_job_analyzer_spark.operators.quality import (
        agg_session_bounce_rate_session_window,
    )

    plain = queries()["agg_session_bounce_rate"](spark, sf_dir)
    legacy = agg_session_bounce_rate_session_window(spark, sf_dir)
    assert [(f.name, f.dataType) for f in plain.schema] == [
        (f.name, f.dataType) for f in legacy.schema
    ]
    assert legacy.exceptAll(plain).count() == 0
    assert plain.exceptAll(legacy).count() == 0
    assert plain.count() == legacy.count() > 0


def test_salted_bounce_rate_hash_equals_plain(spark, sf_dir):
    """agg_session_bounce_rate_salted must reproduce the plain key
    row-for-row — the (user, day) salt + part-level entry-event reduce is
    an execution strategy, not a semantics change (extends the r6 task-#6
    discipline to the bounce-rate KPI the skew basket showed degrading)."""
    from hadoop_job_analyzer_spark.operators.windows import (
        agg_session_bounce_rate_salted,
    )

    plain = queries()["agg_session_bounce_rate"](spark, sf_dir)
    salted = agg_session_bounce_rate_salted(spark, sf_dir)
    assert [(f.name, f.dataType) for f in plain.schema] == [
        (f.name, f.dataType) for f in salted.schema
    ]
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0
    assert plain.count() == salted.count() > 0


def test_salted_sessionize_boundary_cases(spark, tmp_path):
    """Constructed adversarial events for the salted-twin repair logic —
    cases the fixture may not contain:
      * gap EXACTLY 1800 s (chains: rule is > 1800) and 1801 s (splits),
        both WITHIN a day and ACROSS midnight (the repair path);
      * continuous activity spanning 3 calendar days (two midnight
        repairs chain into ONE session);
      * duplicate timestamps (event_id tie-break);
      * a bounce at 23:59:59 followed by a bounce at 00:30:00 next day
        (single-event sessions on both sides of the boundary).
    Equality plain == salted on every case, plus pinned expected session
    counts so BOTH implementations are checked against intent, not just
    each other."""
    import pandas as pd

    from hadoop_job_analyzer_spark.operators.windows import (
        agg_session_bounce_rate_salted,
        win_sessionize_salted,
    )

    T = pd.Timestamp
    rows = []

    def ev(user, ts, etype="view"):
        rows.append((len(rows) + 1, T(ts), user, etype, 1.0, "{}"))

    # u1: exact-1800 chain within a day, then 1801 split
    ev(1, "2025-03-10 10:00:00")
    ev(1, "2025-03-10 10:30:00")   # +1800 → same session
    ev(1, "2025-03-10 11:00:01")   # +1801 → NEW session
    # u2: exact-1800 chain ACROSS midnight (repair must merge)
    ev(2, "2025-03-10 23:45:00")
    ev(2, "2025-03-11 00:15:00")   # +1800 across midnight → same session
    # u3: 1801 across midnight (repair must NOT merge)
    ev(3, "2025-03-10 23:45:00")
    ev(3, "2025-03-11 00:15:01")   # new session
    # u4: continuous activity spanning 3 days, every gap 20 min → ONE session
    t = T("2025-03-10 23:00:00")
    for _ in range(8):             # 23:00 d1 → 01:20 d2 … cross 2 midnights
        ev(4, t)
        t += pd.Timedelta(minutes=20)
    ev(5, "2025-03-12 05:00:00")
    t = T("2025-03-12 23:50:00")
    for _ in range(10):
        ev(4, t)                   # second 3-hour run for u4 crossing midnight
        t += pd.Timedelta(minutes=20)
    # u5 continued: duplicate timestamps (tie by event_id) in one session
    ev(5, "2025-03-12 05:00:00")
    ev(5, "2025-03-12 05:10:00")
    # u6: bounces straddling midnight, 31 min apart → two 1-event sessions
    ev(6, "2025-03-10 23:59:59")
    ev(6, "2025-03-11 00:31:00")

    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    sf = str(tmp_path / "mini")
    (tmp_path / "mini").mkdir()
    pdf.to_parquet(str(tmp_path / "mini" / "events.parquet"), index=False)

    plain = queries()["win_sessionize"](spark, sf).orderBy("user_id", "session_idx")
    salted = win_sessionize_salted(spark, sf).orderBy("user_id", "session_idx")
    prow = [tuple(r) for r in plain.collect()]
    srow = [tuple(r) for r in salted.collect()]
    assert prow == srow, f"plain != salted:\n{prow}\n{srow}"
    per_user = {}
    for r in plain.collect():
        per_user[r.user_id] = max(per_user.get(r.user_id, 0), r.session_idx)
    assert per_user == {1: 2, 2: 1, 3: 2, 4: 2, 5: 1, 6: 2}, per_user

    pb = queries()["agg_session_bounce_rate"](spark, sf)
    sb = agg_session_bounce_rate_salted(spark, sf)
    assert sb.exceptAll(pb).count() == 0 and pb.exceptAll(sb).count() == 0


def test_bounce_rate_fused_tiebreak_and_guard_fallback(spark, tmp_path):
    """The r11 fused-long bounce plan (quality.py): two adversarial cases
    the sf fixtures don't contain.
      1. TIE-BREAK: two events at the IDENTICAL timestamp where the
         event_id order disagrees with the type-code order — the entry
         type must follow min event_id (oracle: FIRST ... ORDER BY ts,
         event_id), which the fused packing guarantees because event_id
         sits above the type code. A naive (ts, code) pick would answer
         'aaa' here; correct is 'zzz'.
      2. GUARD FALLBACK: event_id ≥ 2^28 violates the packing bound, so
         the key must route to the session_window twin and still produce
         the same answer the twin produces directly."""
    import pandas as pd

    from hadoop_job_analyzer_spark.operators.quality import (
        agg_session_bounce_rate_session_window,
    )

    T = pd.Timestamp
    # case 1: small ids, tie on ts; plus a bounce of each type
    rows = [
        # u1 session: entry tie at 09:00:00 → id 10 ('zzz') beats id 11 ('aaa')
        (10, T("2025-03-10 09:00:00"), 1, "zzz", 1.0, "{}"),
        (11, T("2025-03-10 09:00:00"), 1, "aaa", 1.0, "{}"),
        (12, T("2025-03-10 09:10:00"), 1, "aaa", 1.0, "{}"),
        # u2: a 1-event session (bounce) of type 'aaa'
        (13, T("2025-03-10 09:00:00"), 2, "aaa", 1.0, "{}"),
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    d1 = tmp_path / "tie"
    d1.mkdir()
    pdf.to_parquet(str(d1 / "events.parquet"), index=False)
    out = {
        r.entry_type: (r.n_sessions, r.n_bounces)
        for r in queries()["agg_session_bounce_rate"](spark, str(d1)).collect()
    }
    assert out == {"zzz": (1, 0), "aaa": (1, 1)}, out

    # case 2: same events but event_id pushed past the 2^28 packing bound
    pdf2 = pdf.assign(event_id=pdf.event_id + (1 << 28))
    d2 = tmp_path / "bigid"
    d2.mkdir()
    pdf2.to_parquet(str(d2 / "events.parquet"), index=False)
    via_key = queries()["agg_session_bounce_rate"](spark, str(d2))
    via_twin = agg_session_bounce_rate_session_window(spark, str(d2))
    assert via_key.exceptAll(via_twin).count() == 0
    assert via_twin.exceptAll(via_key).count() == 0
    out2 = {r.entry_type: (r.n_sessions, r.n_bounces) for r in via_key.collect()}
    assert out2 == {"zzz": (1, 0), "aaa": (1, 1)}, out2

    # case 3: >16 distinct types violates the 4-bit code bound — must
    # also route to the twin (and the limit(17) pre-pass collect stays
    # O(1) regardless of type cardinality). 20 users, each a 1-event
    # session of its own type ⇒ every type is a 100%-bounce entry.
    import pandas as pd  # noqa: F811 — local fixture builder

    rows3 = [
        (100 + i, T("2025-03-10 09:00:00"), 100 + i, f"type_{i:02d}", 1.0, "{}")
        for i in range(20)
    ]
    pdf3 = pd.DataFrame(
        rows3, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    d3 = tmp_path / "manytypes"
    d3.mkdir()
    pdf3.to_parquet(str(d3 / "events.parquet"), index=False)
    out3 = {
        r.entry_type: (r.n_sessions, r.n_bounces)
        for r in queries()["agg_session_bounce_rate"](spark, str(d3)).collect()
    }
    assert out3 == {f"type_{i:02d}": (1, 1) for i in range(20)}, out3


def test_double_window_legacy_hash_equals_plain(spark, sf_dir):
    """win_sessionize_double_window (the lag→running-sum chain, registered
    through r9) must reproduce the registered session_window formulation
    row-for-row: the r10 swap is an execution strategy, not a semantics
    change — same truncated-second > 1800 gap rule, same session_idx
    numbering (verification/r10_sessionize_ab.json: 2.87× → 0.97× DuckDB
    at x256)."""
    from hadoop_job_analyzer_spark.operators.windows import (
        win_sessionize_double_window,
    )

    plain = queries()["win_sessionize"](spark, sf_dir)
    legacy = win_sessionize_double_window(spark, sf_dir)
    assert [(f.name, f.dataType) for f in plain.schema] == [
        (f.name, f.dataType) for f in legacy.schema
    ]
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, legacy.collect())
    )


def test_session_window_boundary_semantics_synthetic(spark, tmp_path):
    """Pin the EXACT boundary rule the r10 session_window reformulation
    rests on, against synthetic events the fixtures can't guarantee:
    gaps of exactly 1800 s (and 1800 s with sub-second parts that
    truncate to 1800) must CONTINUE a session; 1801 s must START one.
    This is the merge-on-touch property probed empirically in r10 —
    pinned here so a Spark upgrade changing session_window's interval
    semantics fails loudly instead of silently shifting session counts.
    Runs the REGISTERED win_sessionize (not a reimplementation) over a
    hand-built events table, compared against hand-computed sessions.
    """
    import datetime as dt

    base = dt.datetime(2024, 1, 10, 12, 0, 0)
    us = lambda sec, micro=0: base + dt.timedelta(seconds=sec, microseconds=micro)
    rows = [
        # user 1: exact 1800 s gaps — ONE session of 3 events
        (1, us(0)), (1, us(1800)), (1, us(3600)),
        # user 2: 1801 s gap — TWO sessions
        (2, us(0)), (2, us(1801)),
        # user 3: µs gap 1800.2 s but trunc diff 1800 (0.7 -> 1800.9)
        # — ONE session (the truncated-second rule, not the µs rule:
        # a µs-granular >= 1800 s split rule would break here)
        (3, us(0, 700_000)), (3, us(1800, 900_000)),
        # user 4: µs gap 1800.9 s and trunc diff 1801 (0.1 -> 1801.0)
        # — TWO sessions (µs gap < 1801 yet truncated rule splits)
        (4, us(0, 100_000)), (4, us(1801, 0)),
    ]
    ev = spark.createDataFrame(
        [(i, ts, u, "click", 1.0, "{}") for i, (u, ts) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path / "synth_sf")
    ev.coalesce(1).write.parquet(f"{d}/events.parquet")
    got = {
        (r.user_id, r.session_idx): r.n_events
        for r in queries()["win_sessionize"](spark, d).collect()
    }
    assert got == {
        (1, 1): 3,
        (2, 1): 1, (2, 2): 1,
        (3, 1): 2,
        (4, 1): 1, (4, 2): 1,
    }, got
    # and the legacy double-window chain must agree on the same
    # boundary-adversarial input (it implements the truncation rule
    # directly, so this cross-checks the session_window translation)
    from hadoop_job_analyzer_spark.operators.windows import (
        win_sessionize_double_window,
    )

    legacy = {
        (r.user_id, r.session_idx): r.n_events
        for r in win_sessionize_double_window(spark, d).collect()
    }
    assert legacy == got
