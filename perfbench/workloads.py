"""The benchmark's workloads: which registry keys run, over which cached tables."""

from __future__ import annotations

from dataclasses import dataclass

# Keys whose input is the generated jobs log rather than a base table.
JOBS_KEYS = ("ops_job_summary_report",)


@dataclass(frozen=True)
class Workload:
    keys: tuple[str, ...]
    cache: tuple[str, ...]  # base tables cached and materialised during set-up
    warmup: str  # key run once, untimed, at the end of set-up
    jobs_log: bool  # generate a seeded jobs log before the session starts
    why: str


WORKLOADS = {
    "log_report": Workload(
        keys=(
            "agg_group_pricing",
            "join_range_bucketed",
            "win_sessionize",
            "agg_apdex_score",
            "sketch_hll_mergeable",
            "sink_metrics_lines",
            "ops_job_summary_report",
        ),
        cache=("lineitem", "events"),
        warmup="agg_apdex_score",
        jobs_log=True,
        why=(
            "short relational log reports and the jobs-log report over cached tables: per-query "
            "fixed cost (plan build, conf, scheduling) dominates; no LLM operator, no stream"
        ),
    ),
    "corpus_dedup": Workload(
        keys=(
            "dedup_exact",
            "dedup_near_minhash_full",
            "dedup_ngram_jaccard",
            "text_fingerprint",
            "corpus_pipeline_e2e",
            "stream_near_dedup_norm",
        ),
        cache=("documents",),
        warmup="dedup_exact",
        jobs_log=False,
        why=(
            "LLM-data operators and a streaming near-dedup drain over cached documents: "
            "shuffle/explode plans, Arrow kernels and stream set-up dominate; no jobs log"
        ),
    ),
}
