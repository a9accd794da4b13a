"""Self-checks for the K2 extension keys (beyond the oracle hash-match):
semantic properties the differential test can't see — ANN recall vs the
exact baseline, metric bounds, plumbing round-trips.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_job_analyzer_spark.registry import queries


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    """IVF top-10 must substantially agree with the exact top-10 (the
    probe covers 2/16 buckets chosen for the query's neighborhood)."""
    exact = {r.vec_id for r in queries()["sim_cosine_topk"](spark, sf_dir).collect()}
    approx = {r.vec_id for r in queries()["sim_ann_ivf"](spark, sf_dir).collect()}
    assert len(approx) == 10
    assert len(exact & approx) >= 3, (exact, approx)


def test_bucketed_embedding_dedup_subset_and_recall(spark, sf_dir):
    """The bucketed exact dedup must (a) emit ONLY pairs the brute-force
    key emits, with bit-identical cosines (per-bucket kernel == global
    kernel on shared pairs), and (b) recover a substantial share of
    them (cross-bucket pairs are the documented recall tradeoff of a
    16-centroid single-probe quantizer)."""
    brute = {
        (r.vec_a, r.vec_b): r.cosine
        for r in queries()["dedup_embedding"](spark, sf_dir).collect()
    }
    bucketed = {
        (r.vec_a, r.vec_b): r.cosine
        for r in queries()["dedup_embedding_bucketed"](spark, sf_dir).collect()
    }
    assert bucketed, "bucketed dedup found no pairs at all"
    for pair, cos in bucketed.items():
        assert pair in brute, f"bucketed emitted a pair brute force did not: {pair}"
        assert cos == brute[pair], (pair, cos, brute[pair])
    recall = len(bucketed) / len(brute)
    assert recall >= 0.2, f"recall {recall:.3f} over {len(brute)} brute-force pairs"


def test_simhash_pairs_are_bounded_and_symmetric_free(spark, sf_dir):
    rows = queries()["dedup_simhash"](spark, sf_dir).collect()
    seen = set()
    for r in rows:
        assert r.doc_a < r.doc_b
        assert 0 <= r.hamming <= 4
        assert (r.doc_a, r.doc_b) not in seen
        seen.add((r.doc_a, r.doc_b))


def test_jaccard_bounds(spark, sf_dir):
    rows = queries()["dedup_ngram_jaccard"](spark, sf_dir).collect()
    for r in rows:
        assert r.doc_a < r.doc_b
        assert 0.4 <= r.jaccard <= 1.0
        assert r.n_inter >= 1


def test_embedding_dup_agrees_with_knn_kernel(spark, sf_dir):
    """Every near-dup pair's cosine must equal the kNN kernel's value
    for the same pair when it appears there (shared numpy kernel)."""
    dup = {
        (r.vec_a, r.vec_b): r.cosine
        for r in queries()["dedup_embedding"](spark, sf_dir).collect()
    }
    assert dup, "calibrated threshold should yield pairs"
    knn = queries()["sim_knn_join"](spark, sf_dir).collect()
    for r in knn:
        pair = tuple(sorted((r.anchor_id, r.neighbor_id)))
        if pair in dup:
            assert dup[pair] == r.cosine, (pair, dup[pair], r.cosine)


def test_langid_scores_consistent(spark, sf_dir):
    df = queries()["text_langid"](spark, sf_dir)
    rows = df.collect()
    assert rows
    for r in rows:
        # recompute argmax with alphabetic tie-break
        scores = {lang: getattr(r, f"score_{lang}") for lang in ("de", "en", "es", "fr")}
        m = max(scores.values())
        expect = min(lang for lang, s in scores.items() if s == m)
        assert r.lang_guess == expect, (r.doc_id, scores, r.lang_guess)


def test_quality_score_bounds(spark, sf_dir):
    for r in queries()["text_quality"](spark, sf_dir).collect():
        assert 0.0 <= r.type_token_ratio <= 1.0
        assert 0.0 <= r.quality_score <= 1.0


def test_fingerprint_is_stable_and_discriminative(spark, sf_dir):
    df = queries()["text_fingerprint"](spark, sf_dir)
    rows = df.collect()
    # fingerprint64 alone is a SIMILARITY sketch (shared-vocabulary docs
    # legitimately share a min-gram); the full (min, max, n_grams)
    # sketch must separate distinct texts
    from hadoop_job_analyzer_spark.catalog import load_table

    n_texts = load_table(spark, sf_dir, "documents").select("text").distinct().count()
    triples = {(r.fp_min, r.fp_max, r.n_distinct_grams) for r in rows}
    assert len(triples) >= int(0.99 * n_texts), (len(triples), n_texts)
    for r in rows:
        assert 0 <= r.fingerprint64 < (1 << 60)
        assert r.fp_min <= r.fp_max


def test_mm_payload_roundtrip(spark, sf_dir):
    """The Python-side byte parse must agree with a JVM-side hex parse —
    proves the binary column survives the Arrow path byte-for-byte."""
    got = {r.doc_id: r for r in queries()["mm_decode_meta"](spark, sf_dir).collect()}
    from hadoop_job_analyzer_spark.catalog import load_table

    d = load_table(spark, sf_dir, "documents")
    hx = F.concat(
        F.md5("text"),
        F.md5(F.concat(F.col("text"), F.lit("#1"))),
        F.md5(F.concat(F.col("text"), F.lit("#2"))),
        F.md5(F.concat(F.col("text"), F.lit("#3"))),
    )
    jvm = d.select(
        "doc_id",
        F.substring(hx, 1, 4).alias("magic"),
        (F.conv(F.substring(hx, 5, 4), 16, 10).cast("int") % 1920 + 1).alias("width"),
    ).collect()
    assert len(jvm) == len(got)
    for r in jvm:
        assert got[r.doc_id].magic == r.magic
        assert got[r.doc_id].width == r.width
        assert got[r.doc_id].n_bytes == 64


def test_mm_frame_sample_shape(spark, sf_dir):
    df = queries()["mm_frame_sample"](spark, sf_dir)
    n_docs = df.select("doc_id").distinct().count()
    assert df.count() == 4 * n_docs
    for r in df.where(F.col("doc_id") == 0).collect():
        assert len(r.frame_hex) == 32
        assert 0 <= r.luma <= 255


def test_emb_pca_matches_numpy(spark, sf_dir):
    """r6 shape: the key emits the FIXED 40-step power iterate (a
    deterministic, oracle-matchable function). Two checks: (a) the
    loadings equal an independent numpy replay of the same 40 steps
    from the raw embeddings; (b) convergence quality — the Rayleigh
    quotient is within 1% of numpy's true top eigenvalue (Rayleigh
    converges as (λ₂/λ₁)^2k even on this near-isotropic cloud where
    the direction itself hasn't)."""
    import numpy as np

    from hadoop_job_analyzer_spark.catalog import load_table
    from hadoop_job_analyzer_spark.operators.neardup import _PCA_ITERS

    rows = sorted(
        queries()["emb_pca_top_component"](spark, sf_dir).collect(),
        key=lambda r: r.dim_idx,
    )
    got = np.array([r.loading for r in rows])
    X = np.array(
        [r.embedding for r in load_table(spark, sf_dir, "embeddings").collect()]
    )
    n = len(X)
    C = (X.T @ X) / n - np.outer(X.mean(axis=0), X.mean(axis=0))
    tr = float(np.trace(C))
    v = np.full(X.shape[1], 0.125)
    for _ in range(_PCA_ITERS):
        v = (C @ v) / tr
    vn = v / np.linalg.norm(v)
    if vn[int(np.argmax(np.abs(vn)))] < 0:
        vn = -vn
    assert np.allclose(got, np.round(vn, 6), atol=2e-6), np.abs(got - vn).max()
    w = np.linalg.eigvalsh(C)
    assert abs(rows[0].rayleigh_q - w[-1]) < 0.01 * w[-1], (rows[0].rayleigh_q, w[-1])
    assert abs(rows[0].explained_share - rows[0].rayleigh_q / tr) < 2e-6


def test_bucketed_knn_join_recall_and_exactness(spark, sf_dir):
    """sim_knn_join_bucketed: (a) every (anchor, neighbor) edge it emits
    must carry the SAME cosine the brute-force key computes for that
    pair when present there (per-bucket kernel == global kernel), and
    (b) recall@3 vs the brute-force neighbor sets must be substantial
    (cross-bucket neighbors are the documented tradeoff)."""
    brute = {}
    for r in queries()["sim_knn_join"](spark, sf_dir).collect():
        brute.setdefault(r.anchor_id, {})[r.neighbor_id] = r.cosine
    bucketed = {}
    for r in queries()["sim_knn_join_bucketed"](spark, sf_dir).collect():
        assert 1 <= r.nn_rank <= 3
        bucketed.setdefault(r.anchor_id, {})[r.neighbor_id] = r.cosine
    assert bucketed, "bucketed kNN produced no edges"
    hits = total = 0
    for a, nbrs in bucketed.items():
        assert a in brute, f"anchor {a} unknown to the brute-force key"
        for nb, cos in nbrs.items():
            if nb in brute[a]:
                assert cos == brute[a][nb], (a, nb, cos, brute[a][nb])
                hits += 1
        total += len(brute[a])
    assert total and hits / total >= 0.2, f"recall@3 {hits}/{total}"


def test_components_deep_chain_converges_within_round_cap(spark, sf_dir):
    """A 500-node PATH graph has diameter 499: one-hop min propagation
    alone cannot converge within the 20-round cap (it moves the min
    label one hop per round), so correct labels on this graph prove the
    pointer-jump (r16: through the previous round's materialized labels)
    is live and gives the documented O(log d) convergence — the
    correctness-at-scale property, not a perf nicety."""
    from pyspark.sql import functions as F

    from hadoop_job_analyzer_spark.catalog import load_table
    from hadoop_job_analyzer_spark.operators.neardup import _min_label_components

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    ids = sorted(r.doc_id for r in docs.collect())
    assert len(ids) >= 100, "fixture unexpectedly small for a deep-chain test"
    chain = spark.createDataFrame(
        [(a, b) for a, b in zip(ids, ids[1:])], "doc_a bigint, doc_b bigint"
    )
    out = {
        r.doc_id: (r.component, r.is_keeper)
        for r in _min_label_components(spark, sf_dir, chain).collect()
    }
    # every chained doc must collapse to the global min; exactly one keeper
    mn = ids[0]
    for d in ids:
        assert out[d][0] == mn, (d, out[d])
    assert sum(k for (_, k) in out.values()) == 1


def test_edit_distance_blocking_recall(spark, sf_dir):
    """VERDICT r6 task #5: quantify the recall of text_edit_distance_join's
    length-band blocking against UNBLOCKED small-corpus truth (every
    same-lang pair within K edits, no bands, no cap), computed in DuckDB.

    The r6 same-band-only blocking measured 0.25 recall on this fixture —
    every miss an adjacent-band straddle. The r7 ±1-band probe must find
    ALL truth pairs here (recall == 1.0); if a future fixture introduces
    a pair straddling ≥2 bands — first possible at length diff 9 with
    band width 8 (e.g. len 15 → bkt 1 vs len 24 → bkt 3); guaranteed
    coverage is only length diff ≤ 8 — this assertion documents exactly
    which family was lost and why minhash is the designated catcher.
    """
    import duckdb

    from hadoop_job_analyzer_spark.operators.neardup import _ED_MAX_DIST

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    truth = {
        (a, b)
        for a, b in con.execute(
            f"""
            SELECT LEAST(a.doc_id, c.doc_id), GREATEST(a.doc_id, c.doc_id)
            FROM documents a JOIN documents c
              ON a.lang = c.lang AND a.doc_id < c.doc_id
            WHERE levenshtein(a.text, c.text) <= {_ED_MAX_DIST}
            """
        ).fetchall()
    }
    assert truth, "fixture has no within-K pairs — truth set degenerate"
    found = {
        (r.doc_a, r.doc_b)
        for r in queries()["text_edit_distance_join"](spark, sf_dir).collect()
    }
    assert found <= truth, f"false positives: {sorted(found - truth)[:5]}"
    missed = truth - found
    recall = 1.0 - len(missed) / len(truth)
    assert recall == 1.0, (
        f"blocking recall {recall:.3f}; missed pairs (len-diff straddles "
        f"beyond the ±1-band probe): {sorted(missed)[:10]}"
    )


def test_brute_force_cap_conf_escape_hatch(spark, sf_dir):
    """The brute-force recall baselines' row cap is session-configurable
    (`spark.hja.bruteForceMaxRows`, r8): a cap below the fixture's row
    count makes both keys raise an error NAMING the bucketed scale twin
    and the conf, and clearing the conf restores the 1M default so the
    keys run again. The hatch exists for recall-baseline runs on a
    deliberately-sized driver — never the production path."""
    import pytest

    from hadoop_job_analyzer_spark.operators.llm import (
        _BRUTE_FORCE_CAP_CONF,
        _BRUTE_FORCE_MAX_ROWS,
        _brute_force_cap,
    )

    reg = queries()
    try:
        spark.conf.set(_BRUTE_FORCE_CAP_CONF, "3")
        assert _brute_force_cap(spark) == 3
        with pytest.raises(ValueError, match="sim_knn_join_bucketed"):
            reg["sim_knn_join"](spark, sf_dir).collect()
        with pytest.raises(ValueError, match="dedup_embedding_bucketed"):
            reg["dedup_embedding"](spark, sf_dir).collect()
        # Unparsable values must surface, not silently fall back to the
        # default (ADVICE r8 #2): the user who set '2M' believes the cap
        # was raised.
        spark.conf.set(_BRUTE_FORCE_CAP_CONF, "2M")
        with pytest.raises(ValueError, match=_BRUTE_FORCE_CAP_CONF):
            _brute_force_cap(spark)
        # Zero/negative caps are equally nonsensical (ADVICE r9 #1): they
        # would reject EVERY brute-force path with an error blaming the
        # data size, not the conf.
        for bad in ("0", "-1"):
            spark.conf.set(_BRUTE_FORCE_CAP_CONF, bad)
            with pytest.raises(ValueError, match="positive"):
                _brute_force_cap(spark)
    finally:
        spark.conf.unset(_BRUTE_FORCE_CAP_CONF)
    assert _brute_force_cap(spark) == _BRUTE_FORCE_MAX_ROWS
    assert reg["sim_knn_join"](spark, sf_dir).limit(1).count() >= 0


def test_fingerprint_per_doc_twin_hash_equals_registered(spark, sf_dir):
    """text_fingerprint_per_doc (the r9 hash-every-occurrence plan) must
    reproduce the registered collapse-identical-texts-first plan
    row-for-row: the r10 swap exploits fingerprint being a pure function
    of text — an execution strategy, not a semantics change
    (verification/r10_fingerprint_ab.json: 1.53× → 0.16× DuckDB at x64)."""
    from hadoop_job_analyzer_spark.operators.textops import (
        text_fingerprint_per_doc,
    )

    plain = queries()["text_fingerprint"](spark, sf_dir)
    legacy = text_fingerprint_per_doc(spark, sf_dir)
    assert [(f.name, f.dataType) for f in plain.schema] == [
        (f.name, f.dataType) for f in legacy.schema
    ]
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, legacy.collect())
    )
