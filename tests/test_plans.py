"""Physical-plan audits (SURVEY.md §4): structural guards that the
plans Catalyst produces are the plans we designed for 100 TB.

These don't execute anything — they assert on the pre-execution
physical plan string, so a refactor that silently breaks predicate
pushdown, column pruning, a broadcast, or map-side partial
aggregation fails here even while values stay correct.
"""

from __future__ import annotations

import pytest

from hadoop_job_analyzer_spark.registry import queries


@pytest.fixture(scope="module")
def plan(spark, sf_dir):
    def _plan(key: str, mode: str = "simple") -> str:
        df = queries()[key](spark, sf_dir)
        return spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)

    return _plan


def test_column_pruning_reaches_scan(plan):
    p = plan("scan_column_prune", "formatted")
    assert "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double>" in p


def test_filter_pushdown_reaches_scan(plan):
    p = plan("filter_range_date")
    assert "PushedFilters: [" in p
    assert "IsNotNull" in p or "GreaterThan" in p


def test_flagship_agg_is_partial_and_codegen(plan):
    p = plan("agg_group_pricing")
    # two-level exact-sum scheme: the DATA-facing partial agg sums
    # FLOOR(x*1e6) longs (codegen primitive adds); decimal sums appear
    # only in the combine over the tiny (group, partition_id) partials.
    assert "partial_sum(FLOOR(" in p
    data_agg = p.split("partial_sum(FLOOR(")[1]
    assert "decimal(38" not in data_agg.split("Exchange")[0]
    # both shuffles move partial rows (#groups x #partitions), never data
    assert p.count("Exchange") == 2
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p


def test_star_join_broadcasts_dimensions(plan):
    p = plan("join_star_multiway")
    assert "BroadcastHashJoin" in p  # customer dim never shuffles
    # top-k computed distributed (TakeOrdered), not via a global-window sort
    assert "TakeOrderedAndProject(limit=10" in p


def test_explicit_join_strategies_materialize(plan):
    assert "BroadcastHashJoin" in plan("join_broadcast_hint")
    assert "SortMergeJoin" in plan("join_sort_merge")
    assert "ShuffledHashJoin" in plan("join_shuffle_hash")


def test_pure_map_keys_have_no_shuffle(plan):
    for key in ("text_langid", "text_quality", "text_token_stats", "mm_decode_meta",
                "mm_frame_sample", "mm_audio_features", "mm_image_resize",
                "project_compute", "fn_string_basic"):
        p = plan(key)
        assert "Exchange" not in p, f"{key} should be shuffle-free:\n{p[:800]}"


def test_single_shuffle_aggregations(plan):
    # partial-agg keys must shuffle exactly once (map-side combine first)
    for key in ("dedup_exact",):
        p = plan(key)
        assert p.count("Exchange hashpartitioning") == 1, f"{key}:\n{p[:800]}"
        assert p.count("HashAggregate") >= 2, key


def test_minhash_shuffles_docs_not_shingles(plan):
    p = plan("dedup_near_minhash")
    # one partial+final agg pair on doc_id before the band self-join;
    # no groupBy on (doc, seed) (the exploded-seed shape would show a
    # hashpartitioning on doc_id AND seed)
    assert "hashpartitioning(doc_id" in p
    assert "seed" not in p


def test_topk_is_take_ordered(plan):
    p = plan("limit_topk_global")
    assert "TakeOrderedAndProject" in p


def test_knn_kernel_stays_in_arrow(plan):
    p = plan("sim_knn_join")
    assert "MapInPandas" in p or "mapInPandas" in p
    assert "BroadcastNestedLoopJoin" not in p  # the interpreted path we removed


def test_fingerprint_has_no_expand_and_parallel_map(plan):
    from hadoop_job_analyzer_spark.operators.textops import _FP_INROW_MAX_CHARS

    # the registered key since r10: collapse identical texts first, so
    # gram explode + md5 run once per DISTINCT text (plan prints
    # root-first, so structural assertions use substring PRESENCE,
    # not index order — the prior index-based slices were vacuous)
    p = plan("text_fingerprint")
    # countDistinct folded into dedup-first => no Expand plan
    assert "Expand" not in p
    # the collapse is partial-agg'd (map-side first(text): the shuffle
    # carries ~distinct texts, not the corpus)
    assert "partial_first" in p
    # the explode stage is parallelism-pinned by a ROUND-ROBIN explicit-N
    # repartition — never pruned by EnsureRequirements, never
    # AQE-coalesced. The r10 anchor regression (0.94 -> 3.6 s) was a
    # hash(_tkey) spread being pruned against the collapse's identical
    # partitioning and the md5 mass running single-threaded.
    assert "REPARTITION_BY_NUM" in p, p[:600]
    assert "RoundRobinPartitioning" in p or "roundrobin" in p.lower(), p[:600]
    # r16: the per-text sketch is computed IN-ROW (transform/array_min/
    # array_distinct) — the gram mass never materializes as rows and
    # never crosses an exchange on the in-row path.
    assert "array_distinct" in p
    # r17 length gate (VERDICT r16 #1): the in-row path is bounded to
    # length(text) <= _FP_INROW_MAX_CHARS — the gate predicate must
    # reach BOTH branch scans (<= on the collapse input, > on the
    # exploded branch) and the two branches union.
    assert p.count(str(_FP_INROW_MAX_CHARS)) >= 2, p
    assert "Union" in p
    # the collapse pair is the ONLY SortAggregate pair over corpus-sized
    # rows; the second pair (min/max strings) belongs to the beyond-gate
    # exploded branch, which is EMPTY below the gate. A shared-`texts`
    # union (collapse consumed by both branches) re-executes the
    # collapse once per branch — guarded by exactly one partial_first.
    assert p.count("SortAggregate") == 4, p
    assert p.count("partial_first") == 1, p
    # the fan-out join is declared plainly; with stats AQE broadcasts it
    assert "Join" in p


def test_fingerprint_legacy_per_doc_plan_shape(spark, sf_dir):
    # the unregistered dup-agnostic twin keeps the r9 invariants:
    # one compact doc-row exchange BELOW (printed after) the explode
    from hadoop_job_analyzer_spark.operators.textops import (
        text_fingerprint_per_doc,
    )

    df = text_fingerprint_per_doc(spark, sf_dir)
    p = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    assert "Expand" not in p
    assert p.count("Exchange") == 1
    assert p.index("Generate") < p.index("Exchange")


def test_simhash_spreads_before_tokenize(plan):
    p = plan("dedup_simhash")
    gen = p.index("Generate explode(split(text")
    rep = p.index("REPARTITION_BY_NUM")
    assert rep > gen  # tree prints top-down: repartition below/before explode


def test_jaccard_persists_inverted_index(plan):
    p = plan("dedup_ngram_jaccard")
    assert "InMemoryTableScan" in p or "InMemoryRelation" in p


def test_hash_sampling_is_pure_map(plan):
    # md5-bucket sampling/splitting/scrubbing must pipeline into the
    # scan: no shuffle anywhere (sampling), or exactly the one partial-
    # agg exchange (split stats).
    p = plan("sample_hash_stratified")
    assert "Exchange" not in p, p[:800]
    assert "Exchange" not in plan("text_remove_stopwords")
    p = plan("split_train_test")
    assert p.count("Exchange hashpartitioning") == 1
    assert p.count("HashAggregate") >= 2  # map-side partials


def test_decon_pushes_source_filter_and_broadcasts_bench(plan):
    p = plan("decon_ngram_overlap", "formatted")
    # each leg's source predicate reaches its parquet scan
    assert "PushedFilters: [IsNotNull(source), Not(EqualTo(source,src0))]" in p
    assert "PushedFilters: [IsNotNull(source), EqualTo(source,src0)]" in p
    # the benchmark gram set joins broadcast, never shuffling the train side
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_pack_sequences_single_stratum_window(plan):
    # one exchange for the per-lang window; the (lang, bin) agg rides
    # the same partitioning with map-side partials
    p = plan("pack_sequences")
    assert p.count("Exchange hashpartitioning") <= 2
    assert "Window" in p


def test_fixed_sample_topk_filters_before_full_sort(plan):
    # per-stratum rank ≤ 20: the window filter must appear (no
    # unbounded materialization of the full ranked corpus downstream)
    p = plan("sample_fixed_per_stratum")
    assert "samp_rank" in p
    assert p.count("Exchange hashpartitioning") == 1  # the lang partition


def test_sketch_probes_are_broadcast(plan):
    # CMS cell probe and bloom bit probe must broadcast the (tiny,
    # constant-size) sketch side — a shuffled join here would mean the
    # sketch is being treated as data, defeating its purpose
    for key in ("sketch_countmin", "sketch_bloom_membership"):
        p = plan(key)
        assert "BroadcastHashJoin" in p, f"{key}:\n{p[:800]}"
        assert "SortMergeJoin" not in p, key


def test_kmv_topk_is_take_ordered(plan):
    # the k smallest hash fractions must flow through TakeOrdered
    # (k rows per partition), never a global sort
    p = plan("sketch_kmv_distinct")
    assert "TakeOrderedAndProject" in p
    assert "Sort [frac" not in p


def test_bucketed_join_is_exchange_free(plan):
    # the layout key: both scans read bucketed (co-located) files, the
    # SMJ needs no exchange on either leg — the ONLY exchange in the
    # plan is the final tiny agg partial. Sorts are bucket-local (see
    # the key's docstring on the legacy outputOrdering conf).
    p = plan("join_bucketed")
    assert "SortMergeJoin" in p
    assert "Bucketed: true" in plan("join_bucketed", "formatted")
    assert p.count("Exchange") == 1, p[:1200]
    assert "Exchange hashpartitioning(o_orderpriority" in p


def test_dpp_injects_runtime_partition_filter(plan):
    # the partitioned fact scan must carry a dynamicpruningexpression —
    # partitions to read are decided at RUN time from the dim's values
    p = plan("join_dpp_partitioned", "formatted")
    assert "dynamicpruning" in p.lower(), p[:1200]


def test_skew_salted_join_is_shuffled_hash_on_salt(plan):
    p = plan("join_skew_salted")
    assert "ShuffledHashJoin" in p
    assert "salt" in p  # join keys include the salt
    assert "BroadcastHashJoin" not in p


def test_distributed_rank_has_no_global_window(plan):
    """The r3 distributed_rank rewrite: the user/vocab-cardinality rank
    must run as per-partition windows (partitioned by _pid after a
    range repartition), never as an unpartitioned global-order window
    over the data. The only permissible unpartitioned window is the
    #partitions-row offsets cumsum."""
    for key in (
        "agg_gini_user_activity",
        "text_zipf_fit",
        "sort_multi_null",
        "win_ntile_pct",
    ):
        p = plan(key, "formatted")
        assert "rangepartitioning" in p, key
        # local rank: a Window whose partition spec is the pid column
        assert "_pid" in p, key


def test_wordcount_ranks_after_takeordered(plan):
    """text_wordcount must compute top-k distributed (TakeOrdered) and
    only then rank the surviving k rows — never window-rank the whole
    vocabulary."""
    p = plan("text_wordcount")
    assert "TakeOrderedAndProject(limit=20" in p
    # the window must sit ABOVE the TakeOrdered in the plan tree (i.e.
    # appear before it in the printed top-down plan string)
    assert p.index("Window") < p.index("TakeOrderedAndProject")


def test_bloom_prejoin_probes_are_broadcast_and_codegen(plan):
    """The bloom pre-filter must be k broadcast hash probes over the
    fact scan (no shuffle before the filter, no Python, no cartesian),
    followed by the exact join."""
    p = plan("join_bloom_prejoin")
    assert p.count("BroadcastHashJoin") >= 3  # k bit-set probes (+ final join may also broadcast)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "xxhash64" in p  # native hash, not md5, in the probe path
    # the fact side reaches the probes straight from the scan: the only
    # exchanges allowed are broadcast builds + the final aggregation
    body = p.split("== Physical Plan ==")[-1]
    import re

    # allowed hash exchanges: the bit-set distinct + the final agg —
    # the fact side itself must never hash-exchange before the filter.
    # The persisted bit-set plan renders under each InMemoryRelation
    # scan, so count UNIQUE exchange nodes (by plan_id), not mentions.
    ids = set(re.findall(r"Exchange hashpartitioning\([^)]*\)[^[]*\[plan_id=(\d+)", body))
    assert len(ids) <= 2, body


def test_bucketed_embedding_dedup_has_no_global_pair_scan(plan):
    """dedup_embedding_bucketed's whole point: no cartesian/nested-loop
    pair join and no broadcast of the full embedding matrix — the pair
    work happens inside the per-bucket Arrow kernel."""
    p = plan("dedup_embedding_bucketed")
    assert "CartesianProduct" not in p
    # the only nested-loop allowed is the BOUNDED 16-row centroid
    # broadcast inside _ivf_assign — never a vector x vector pair join
    assert p.count("BroadcastNestedLoopJoin") <= 1
    assert "FlatMapGroupsInPandas" in p  # the per-bucket kernel


def test_triangle_join_reuses_pairs(plan):
    """The three edge roles must come from the persisted pair table
    (InMemoryTableScan), not three replays of the LSH pipeline."""
    p = plan("graph_triangle_count")
    assert p.count("InMemoryTableScan") >= 3


def test_attribution_is_window_not_pair_join(plan):
    """join_attribution_asof must stay a per-user window pass — never a
    purchase x click range join (quadratic per user) — with the type
    filter pushed to the scan."""
    p = plan("join_attribution_asof")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert "In(event_type" in p  # pushed IN-filter


def test_benford_digit_agg_is_partial(plan):
    p = plan("agg_first_digit_benford")
    assert "partial_count" in p


def test_decon_minhash_reuses_persisted_bands(plan):
    """Both the bench and train side must read the persisted band table
    (InMemoryTableScan), not replay the shingle+minhash pipeline."""
    p = plan("decon_near_minhash")
    assert p.count("InMemoryTableScan") >= 2


def test_cooccurrence_dims_are_broadcast(plan):
    p = plan("graph_type_cooccurrence")
    assert p.count("BroadcastHashJoin") >= 2


def test_filter_funnel_is_single_scan(plan):
    """All four funnel stages are conditional aggs over ONE documents
    scan — a second FileScan would mean a stage re-reads the table."""
    p = plan("corpus_filter_funnel")
    assert p.count("FileScan") == 1


def test_emb_norms_stay_jvm_side(plan):
    p = plan("emb_norm_percentiles")
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p


def test_activity_rank_uses_distributed_rank(plan):
    """win_activity_rank_global's whole point: the population-wide rank
    is range-partitioned + per-partition windows, never one global
    window over all users."""
    p = plan("win_activity_rank_global", "formatted")
    assert "rangepartitioning" in p
    assert "_pid" in p


def test_snowflake_q5_broadcasts_only_the_small_dims(plan):
    p = plan("join_snowflake_q5")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # nation + region broadcast; fact-side legs stay shuffled
    assert p.count("BroadcastHashJoin") >= 2


def test_vector_dedup_stays_jvm_side(plan):
    p = plan("dedup_vector_exact")
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p


def test_novelty_reuses_persisted_grams(plan):
    """text_ngram_novelty computes the gram stream ONCE: both the
    first-seen agg and the join-back read the persisted grams."""
    p = plan("text_ngram_novelty")
    assert p.count("InMemoryTableScan") >= 2


def test_vocab_growth_checkpoints_are_broadcast(plan):
    """The <=10-row checkpoint table joins via broadcast (the non-equi
    first_doc<=cutoff condition makes it nested-loop, which is fine at
    10 rows — the cp derivation repeats per branch, each instance a
    1-row or 10-row build side); never a cartesian over data-sized
    inputs, and the data-sized joins on decile stay hash joins."""
    p = plan("text_vocab_growth")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 6
    assert p.count("BroadcastHashJoin") >= 2


def test_partition_pruned_read_has_partition_filter(plan):
    """scan_partition_pruned_read's point: the event_type predicate is a
    PARTITION filter on the re-laid-out table (directory pruning), not a
    row filter after a full scan."""
    p = plan("scan_partition_pruned_read")
    assert "PartitionFilters: [" in p
    assert "event_type" in p.split("PartitionFilters:")[1][:200]


def test_dau_wau_offsets_are_broadcast(plan):
    p = plan("ts_dau_wau")
    assert "CartesianProduct" not in p
    # the 7-row offset table joins via broadcast nested loop (bounded)
    assert p.count("BroadcastNestedLoopJoin") <= 1


def test_multi_distinct_uses_expand(plan):
    """agg_multi_distinct's point: three distincts over different
    columns compile to ONE Expand-based aggregation, not three scans."""
    p = plan("agg_multi_distinct")
    assert "Expand" in p
    assert p.count("FileScan") == 1


def test_pagination_is_take_ordered_with_offset(plan):
    """sort_pagination_page2 must compile to TakeOrderedAndProject with
    the offset folded in (per-partition top-(o+l) + driver merge), not a
    global single-partition sort."""
    p = plan("sort_pagination_page2")
    assert "TakeOrderedAndProject" in p
    assert "offset=10" in p


def test_pareto_prefix_sum_is_distributed(plan):
    """win_pareto_8020's global rank+cumsum must run as range-partition
    + per-partition local windows (distributed_rank pattern extended to
    prefix sums), never one global-order window over all users."""
    p = plan("win_pareto_8020", "formatted")
    assert "rangepartitioning" in p
    assert "_pid" in p


def test_jaccard_sizes_joins_are_not_force_broadcast(plan):
    """The per-document `sizes` frame in dedup_ngram_jaccard /
    dedup_containment is unbounded at corpus scale (one row per surviving
    doc). A forced F.broadcast() there would OOM at 100 TB, so the hint
    must be absent from the logical plan — AQE may still *choose* a
    broadcast at small SF (that's fine and not asserted either way)."""
    for key in ("dedup_ngram_jaccard", "dedup_containment"):
        p = plan(key, "extended")
        logical = p.split("== Physical Plan ==")[0]
        assert "ResolvedHint" not in logical, f"{key}: forced hint on sizes leg"
        assert "UnresolvedHint" not in logical, f"{key}: forced hint on sizes leg"


DAY_GRID_GLOBAL_WINDOW_KEYS = {
    # Keys whose plans intentionally contain an Exchange SinglePartition
    # feeding a window over the DAILY rollup: partition size is the
    # calendar span (≤ ~37k rows even at a century), not data volume.
    # Each site documents the bound in its docstring (the win_moving_avg
    # boundedness note). Adding a key here requires the same note.
    "win_moving_avg",
    "ts_ewma_daily",
    "win_rolling_median",
    "ts_changepoint_cusum",
}


def test_day_grid_global_windows_are_whitelisted_and_documented(plan):
    """Day-grid hygiene (r3/r4 verdict): the only single-partition
    day-grid windows allowed are the whitelisted calendar-bounded ones,
    and each must carry the boundedness note in its docstring."""
    from hadoop_job_analyzer_spark.registry import queries as _qs

    reg = _qs()
    for key in sorted(DAY_GRID_GLOBAL_WINDOW_KEYS):
        p = plan(key)
        assert "Exchange SinglePartition" in p, (
            f"{key}: no longer uses a global day-grid window — remove it "
            f"from the whitelist"
        )
        doc = (reg[key].__doc__ or "").lower()
        assert "bounded" in doc or "calendar" in doc or "century" in doc, (
            f"{key}: global day-grid window lacks a documented calendar bound"
        )
    # The day-grid keys that PARTITION their windows must stay partitioned.
    for key in ("ts_cumulative_daily", "win_rank_delta_daily"):
        doc = (reg[key].__doc__ or "").lower()
        assert "calendar" in doc or "bounded" in doc


def test_metrics_sink_is_single_shuffle(plan):
    """sink_metrics_lines: one hash exchange for the hourly rollup; the
    stack-to-lines projection is per-row and must add no exchange."""
    p = plan("sink_metrics_lines")
    assert p.count("Exchange") == 1
    assert "partial_count" in p or "partial_sum" in p


def test_mahalanobis_moments_are_broadcast(plan):
    """emb_outlier_mahalanobis: the (label, dim) moment frame is
    metadata-sized and must broadcast back to the scoring stage."""
    p = plan("emb_outlier_mahalanobis")
    assert "BroadcastHashJoin" in p
    assert "Window" not in p  # no windows anywhere in this plan


def test_kmeans_assignment_is_map_only(plan, spark, sf_dir):
    """emb_kmeans_iterative: the per-round assignment must be a PURE MAP
    — the 1-row codebook attaches via a broadcast nested-loop join and
    the vector side never shuffles (r16 reshape; the dots + argmax run
    in-row). Asserted on the extracted per-round assignment subtree
    (`_km_assign`, the exact code the loop runs): since r7 the operator
    checkpoints the final assignment (so the write doesn't re-run the
    last round), which reduces ITS final plan to a checkpoint scan with
    no joins to inspect. The operator's plan is still pinned shallow
    below."""
    from hadoop_job_analyzer_spark.operators.neardup import _km_assign, _km_inputs

    vecs, cb0 = _km_inputs(spark, sf_dir)
    try:
        asg = _km_assign(vecs, cb0.localCheckpoint(eager=True))
        p = spark._jvm.PythonSQLUtils.explainString(asg._jdf.queryExecution(), "simple")
        assert "BroadcastNestedLoopJoin" in p  # the 1-row codebook attach
        # the assignment itself must not shuffle: the only exchange
        # anywhere is the ONE-TIME explicit-N vecs spread (input prep,
        # printed as the persisted frame's lineage) — no operator in the
        # assignment requires a distribution (ENSURE_REQUIREMENTS) and
        # nothing sorts or merges
        assert "ENSURE_REQUIREMENTS" not in p
        # every exchange in the printout is that one spread (the cached
        # relation prints it once per AQE plan section)
        assert p.count("Exchange hashpartitioning") == p.count(
            "Exchange hashpartitioning(vec_id"
        )
        assert "REPARTITION_BY_NUM" in p
        assert "Exchange rangepartitioning" not in p
        assert "SortMergeJoin" not in p
    finally:
        # _km_inputs persists the vector frame for the loop; release it so
        # the shared session fixture doesn't accumulate cached relations
        # (ADVICE r7 — same cache-release discipline as the operators).
        vecs.unpersist()
    # the registered key's own plan: nothing but the materialized result
    # (no recompute of the assignment subtree at action time)
    pk = plan("emb_kmeans_iterative")
    assert "ExistingRDD" in pk and "SortMergeJoin" not in pk


def test_q19_disjunction_pushes_to_both_scans(plan):
    """join_q19_disjunctive: Catalyst must extract each OR-branch's
    single-table conjuncts and push the disjunction to BOTH scans —
    part receives the brand/size band union, lineitem the quantity band
    union — so neither side is scanned unfiltered."""
    p = plan("join_q19_disjunctive")
    # Guard before indexing so a total pushdown regression (no
    # PushedFilters section at all) fails with a readable assert, not an
    # IndexError (ADVICE r6).
    assert "PushedFilters" in p, "plan has no PushedFilters section — pushdown regressed"
    assert "PushedFilters: [IsNotNull(p_partkey), Or(" in p or (
        "p_brand" in p.split("PushedFilters")[1][:400]
    )
    # lineitem side: the quantity-band union reaches its scan too
    li_pushed = [s for s in p.split("PushedFilters: ")[1:] if "l_quantity" in s[:400]]
    assert li_pushed, "quantity disjunction not pushed to the lineitem scan"


def test_q7_filters_dimensions_before_join(plan):
    """join_q7_volume_shipping: the nation-pair filter must reach the
    nation scans (dims shrink before joining) and the shipdate range
    must be pushed to the lineitem scan."""
    p = plan("join_q7_volume_shipping")
    assert any(
        "n_name" in s[:300] for s in p.split("PushedFilters: ")[1:]
    ), "nation-name filter not pushed to the nation scan"
    assert any(
        "l_shipdate" in s[:300] for s in p.split("PushedFilters: ")[1:]
    ), "shipdate range not pushed to the lineitem scan"


def test_q21_decorrelates_to_semi_and_anti(plan):
    """join_q21_sole_failing_supplier: the EXISTS/NOT EXISTS pair must
    materialize as one left-semi and one left-anti hash/sort join over
    the deduped pair sets (never a per-row correlated re-scan), with the
    global top-20 as TakeOrdered."""
    p = plan("join_q21_sole_failing_supplier")
    assert "LeftSemi" in p, "EXISTS did not become a semi join"
    assert "LeftAnti" in p, "NOT EXISTS did not become an anti join"
    assert "TakeOrderedAndProject(limit=20" in p


def test_weighted_sample_is_take_ordered(plan):
    """sample_weighted_es must materialize the top-k as TakeOrdered
    (per-partition heaps), never a global sort."""
    p = plan("sample_weighted_es")
    assert "TakeOrderedAndProject(limit=64" in p


def test_percent_rank_construction_launches_no_job(spark, sf_dir):
    """win_percent_rank_global (VERDICT r6 task #4): constructing the
    DataFrame must launch ZERO Spark jobs — N is a broadcast 1-row
    aggregate inside the plan, not an eager driver-side .count(). At
    100 TB an eager count is a full extra aggregation pass before the
    query even starts."""
    store = spark._jsc.sc().statusStore()

    def action_jobs() -> list[str]:
        jl = store.jobsList(None)
        names = [jl.apply(i).name() for i in range(jl.size())]
        # 'parquet at ...' jobs are read-setup (schema/footer listing),
        # fired by every spark.read.parquet — those are allowed. An eager
        # .count()/.collect() in the builder shows up as 'count at ...' /
        # 'collect at ...'.
        return [n for n in names if not n.startswith("parquet at")]

    before = action_jobs()
    df = queries()["win_percent_rank_global"](spark, sf_dir)
    after = action_jobs()
    assert after == before, (
        f"constructing win_percent_rank_global launched an action job: "
        f"{[n for n in after if n not in before] or after[len(before):]}"
    )
    assert set(df.columns) == {"user_id", "n_events", "pct_rank", "cume_dist"}


def test_unpersist_discipline_no_lingering_blocks(spark, sf_dir):
    """VERDICT r7 #5: the three keys that persist multi-consumer builder
    frames (agg_psi_drift, agg_ks_binned_drift, win_session_funnel) now
    run their metadata-sized fold eagerly via eager_release and drop the
    cache before returning — a full run must leave ZERO new entries in
    the context's persistent-RDD registry (the session-lifetime-persist
    caveat is closed with code, not documentation)."""
    from hadoop_job_analyzer_spark import registry

    q = registry.queries()

    def _rdd_ids():
        # compare ID SETS, not counts: the async ContextCleaner may drop
        # OLD cached RDDs from earlier tests mid-run; only NEW survivors
        # created by these keys are a discipline violation.
        m = spark.sparkContext._jsc.getPersistentRDDs()
        # py4j hands back Java Integers OR auto-converted Python ints
        # depending on collection contents; str() normalizes both.
        return {int(str(k)) for k in m.keySet().toArray()}

    before = _rdd_ids()
    for key in ("agg_psi_drift", "agg_ks_binned_drift", "win_session_funnel"):
        df = q[key](spark, sf_dir)
        assert df.count() > 0  # already materialized; count is a local-relation scan
    leaked = _rdd_ids() - before
    assert not leaked, f"lingering cached blocks: new persistent RDD ids {sorted(leaked)}"


# The 38 keys the r8 plan census (verification/r8_plan_census.md) lists
# with at least one `Exchange SinglePartition` in their pre-execution
# plan. The census TEXT claims each such exchange funnels only a
# metadata-sized input (final rollups of per-partition partials, k-row
# codebooks, day/hour grids); the test below converts that claim into an
# executed row-count guard so a future edit cannot silently grow one of
# these into a data-sized global funnel (VERDICT r8 task #6). If the
# census is regenerated and this list drifts, update BOTH together.
SINGLE_PART_CENSUS_KEYS = [
    "graph_triangle_count",
    "corpus_health_report",
    "decon_embedding",
    "graph_type_cooccurrence",
    "win_pareto_8020",
    "win_activity_rank_global",
    "win_ntile_pct",
    "win_percent_rank_global",
    "agg_gini_user_activity",
    "funnel_stages",
    "text_zipf_fit",
    "sketch_hll_mergeable",
    "text_lm_unigram_score",
    "text_vocab_growth",
    "sort_multi_null",
    "sketch_histogram_quantile",
    "ts_changepoint_cusum",
    "ts_ewma_daily",
    "win_new_vs_returning",
    "corpus_mix_rebalance",
    "emb_mrl_truncate_recall",
    "sketch_heavy_hitters",
    "sketch_kmv_distinct",
    "ts_gapfill_hourly",
    "ts_resample_interp",
    "win_session_length_histogram",
    "agg_first_digit_benford",
    "agg_global",
    "corpus_epoch_plan",
    "corpus_shard_balance",
    "corpus_temperature_weights",
    "distinct_values",
    "profile_column_stats",
    "sketch_ams_selfjoin_size",
    "win_moving_avg",
    "win_rolling_median",
    "win_survival_gap_curve",
    "scan_parquet_metadata",
]

# Measured ceiling (verification/r9_single_part_rows.json): the largest
# single-partition input across all 38 keys at both SFs is 64 rows
# (corpus_shard_balance's shard grid) — everything is partial-count-
# sized (#partitions = 32) or dimension-grid-sized. The guard allows 8x
# headroom while staying BELOW the smallest fact table at sf0.001
# (events = 1000 rows), so even the smallest data-sized funnel cannot
# pass at either SF.
SINGLE_PART_ROW_BOUND = 512

# Census-listed keys whose single-partition exchange exists in the
# pre-execution plan text but is elided by AQE in the executed plan
# (measured r9: zero ShuffleExchangeExec/SinglePartition nodes at both
# SFs) — the bound check is vacuous for them, which is fine: AQE
# removed the funnel entirely.
SINGLE_PART_AQE_ELIDED = {"decon_embedding", "emb_mrl_truncate_recall"}


@pytest.mark.parametrize("key", SINGLE_PART_CENSUS_KEYS)
def test_single_partition_exchange_inputs_are_metadata_sized(spark, key):
    """Row-count guard at two SFs for every census-listed single-partition
    exchange: execute the key and read each such exchange's own
    shuffle-write metric from the final adaptive plan."""
    from hadoop_job_analyzer_spark.plans import single_partition_exchange_rows

    seen_any = False
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        rows = single_partition_exchange_rows(queries()[key](spark, sf))
        seen_any = seen_any or bool(rows)
        too_big = [r for r in rows if r > SINGLE_PART_ROW_BOUND]
        assert not too_big, (
            f"{key} at {sf}: single-partition exchange input(s) {too_big} "
            f"exceed the metadata-size bound {SINGLE_PART_ROW_BOUND} — a "
            f"data-sized global funnel has crept into a censused plan"
        )
    # The guard must not go vacuous: the census says these keys HAVE
    # single-partition exchanges. (AQE may elide them at one SF, so the
    # presence check is across both; keys where AQE elides them at BOTH
    # SFs are pinned in SINGLE_PART_AQE_ELIDED.)
    if key not in SINGLE_PART_AQE_ELIDED:
        assert seen_any, (
            f"{key}: no single-partition exchange found at either SF — the "
            f"plan changed shape; regenerate the census and update "
            f"SINGLE_PART_CENSUS_KEYS"
        )


# Keys that FORCE a broadcast via an explicit broadcast() hint (measured
# r9: the full-surface audit with size-based auto-broadcast disabled,
# verification/r9_broadcast_audit_forced.json — 50 keys force one; these
# are the 15 largest). A forced broadcast fires at ANY scale, so it must
# be dimension-/metadata-/geometry-bounded — broadcasting a fact table
# is the classic driver-OOM. Auto (size-based) broadcasts are excluded
# by construction: AQE re-decides those per scale, which is the point.
FORCED_BROADCAST_KEYS = [
    "join_bloom_prejoin",       # bloom set-bit positions, <= members*k, ceiling m=2^20 by geometry
    "win_topk_per_group",
    "decon_ngram_overlap",
    "corpus_pipeline_e2e",
    "emb_outlier_mahalanobis",
    "emb_label_separation",
    "join_star_multiway",
    "merge_scd2",
    "join_scd2_pointintime",
    "sketch_countmin",
    "sketch_bloom_membership",
    "emb_quantize_int8",
    "emb_pq_quantize",
    "join_range_bucketed",
    "win_percent_rank_global",
]

# Measured max at sf0.01 is 8909 rows (join_bloom_prejoin's position
# set); the bound allows headroom while staying well under the sf0.01
# fact tables (lineitem 60k) so a forced fact-broadcast cannot pass.
FORCED_BROADCAST_ROW_BOUND = 16384


@pytest.mark.parametrize("key", FORCED_BROADCAST_KEYS)
def test_forced_broadcasts_are_bounded(spark, key):
    """With size-based auto-broadcast disabled, any broadcast exchange
    left in the executed plan is one OUR code forces with broadcast();
    its built row count must be bounded."""
    from hadoop_job_analyzer_spark.plans import broadcast_exchange_rows

    _keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    # Restore the session's PRIOR values, not the Spark defaults — unset()
    # would silently clobber anything the shared session fixture (or a
    # prior test) set on these keys (ADVICE r9).
    prior = {k: spark.conf.get(k, None) for k in _keys}
    for k in _keys:
        spark.conf.set(k, "-1")
    try:
        rows = broadcast_exchange_rows(
            queries()[key](spark, "/root/testdata/sf0.01")
        )
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert rows, (
        f"{key}: no forced broadcast found — the hint moved; re-run "
        f"scripts/broadcast_audit.py and update FORCED_BROADCAST_KEYS"
    )
    too_big = [r for r in rows if r > FORCED_BROADCAST_ROW_BOUND]
    assert not too_big, (
        f"{key}: forced broadcast built {too_big} rows — above the "
        f"{FORCED_BROADCAST_ROW_BOUND} bound; a data-sized relation is "
        f"being replicated to every executor"
    )


def test_wordcount_collapses_texts_before_explode(plan):
    """r12 reshape: text_wordcount must collapse duplicate documents to
    (text, copies) with a map-side partial count BEFORE the token
    explode, and derive token counts from sum(copies) — the explode
    then costs one pass per DISTINCT text. Unlike text_fingerprint
    there is deliberately NO explicit repartition between the collapse
    and the explode: downstream work here is proportional to the
    post-shuffle byte mass (distinct texts), so AQE's size-based
    coalesce picks the right parallelism in both the dup-heavy and
    dup-free regimes (measured x4096: 9.2 s -> 2.4 s; sf0.1 unchanged
    within stage floor)."""
    p = plan("text_wordcount")
    # the collapse shuffle is keyed on the text itself and partial-agg'd
    assert "hashpartitioning(text" in p, p[:600]
    assert "partial_count" in p or "partial count" in p.lower(), p[:600]
    # token counts come from summing copies, not re-counting rows
    assert "sum(copies" in p, p[:600]
    # top-k stays distributed (the original pin, still binding)
    assert "TakeOrderedAndProject(limit=20" in p
