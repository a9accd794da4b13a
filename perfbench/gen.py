"""Seeded jobs-log generator for the benchmark.

Writes ``n_jobs`` JSON lines in the record shape of
``hadoop_job_analyzer_spark.sources.fixtures.jobs_records`` (same
vocabularies, status weights, value ranges and January-2024 submit
window), drawn from ``seed``. The same seed gives a byte-identical file. No Spark
is involved, so the benchmark runs this before the session starts and
its time stays out of ``setup_s``.
"""

from __future__ import annotations

import os

import numpy as np

from hadoop_job_analyzer_spark.sources.fixtures import (
    COUNTER_KEYS,
    FRAMEWORKS,
    STATUSES,
    USERS,
)

N_JOBS = 50_000
_STATUS_WEIGHTS = np.array([8, 1, 1]) / 10  # fixtures.jobs_records: weights=[8, 1, 1]
_MONTH_S = 30 * 86400


def write_jobs_log(path: str, seed: int, n_jobs: int = N_JOBS) -> int:
    """Write the jobs log to ``path``; returns its size in bytes."""
    rng = np.random.default_rng(seed)
    user = rng.integers(0, len(USERS), n_jobs)
    framework = rng.integers(0, len(FRAMEWORKS), n_jobs)
    status = rng.choice(len(STATUSES), n_jobs, p=_STATUS_WEIGHTS)
    submit = rng.integers(0, _MONTH_S, n_jobs)
    # Durations are whole multiples of 10 ms (the fixture draws whole ms).
    # At 1-ms grain about one seed in ten puts an interpolated p99 of
    # ops_job_summary_report on a .x5 tie at its one-decimal ROUND, where
    # Spark's percentile and DuckDB's quantile_cont differ in the last bit
    # and round apart (7138406.449999999 vs 7138406.45).
    duration = rng.integers(100, 720_000, n_jobs) * 10
    maps = rng.integers(1, 500, n_jobs)
    reduces = rng.integers(0, 64, n_jobs)
    counters = rng.integers(0, 10**9, (n_jobs, len(COUNTER_KEYS)))
    # json.dumps(record, sort_keys=True) layout, written directly: every
    # value is an int or a plain identifier, so no escaping is needed.
    ckeys = sorted(COUNTER_KEYS)
    counters = counters[:, [COUNTER_KEYS.index(k) for k in ckeys]].tolist()
    user, framework, status = user.tolist(), framework.tolist(), status.tolist()
    submit, duration = submit.tolist(), duration.tolist()
    maps, reduces = maps.tolist(), reduces.tolist()
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as f:
        for i in range(n_jobs):
            s = submit[i]
            c = ", ".join(f'"{k}": {v}' for k, v in zip(ckeys, counters[i]))
            f.write(
                f'{{"counters": {{{c}}}, "duration_ms": {duration[i]}, '
                f'"framework": "{FRAMEWORKS[framework[i]]}", "job_id": "job_2024{i:06d}", '
                f'"map_tasks": {maps[i]}, "reduce_tasks": {reduces[i]}, '
                f'"status": "{STATUSES[status[i]]}", '
                f'"submit_ts": "2024-01-{1 + s // 86400:02d}T{s % 86400 // 3600:02d}:'
                f'{s % 3600 // 60:02d}:{s % 60:02d}Z", "user": "{USERS[user[i]]}"}}\n'
            )
    return os.path.getsize(path)
