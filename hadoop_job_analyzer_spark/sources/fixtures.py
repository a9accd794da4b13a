"""Deterministic self-written fixtures (CSV / JSONL twins).

The driver's tables are parquet-only; the CSV/JSONL ingest keys need
text-format inputs. These are generated ONCE, deterministically
(seeded, sorted), into the repo-local ``fixtures/`` dir so the scan
keys are reproducible across sessions and engines.

The ``jobs`` JSONL fixture is the reference-domain record shape
(FIXTURES.md table 11): one Hadoop-job-like record per line with conf
counters as a nested map — the closest stand-in for the reference's
JobTracker harvest [R-M] that exists in this environment.

Every writer goes through ``_write_once``: the file is filled under a
temporary name in ``_FIXDIR`` and renamed into place, so a run killed
mid-write never leaves a truncated fixture that later runs would accept.
``_ARTIFACTS`` is the repo-local scratch root of the writer keys (sinks,
staged stream sources, layouts).
"""

from __future__ import annotations

import json
import os
import random
from collections.abc import Callable

import pyarrow.parquet as pq

_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
_FIXDIR = os.path.join(_ROOT, "fixtures")
_ARTIFACTS = os.path.join(_ROOT, "_artifacts")

FRAMEWORKS = ["hive", "pig", "cascading", "streaming", "native"]
STATUSES = ["SUCCEEDED", "FAILED", "KILLED"]
USERS = [f"user{i}" for i in range(8)]
COUNTER_KEYS = ["hdfs_bytes_read", "hdfs_bytes_written", "map_input_records", "spilled_records"]

N_JOBS = 240


def _write_once(name: str, write: Callable[[str], None]) -> str:
    """Path of fixture ``name`` in _FIXDIR, created on first use by
    ``write(tmp)`` into a temporary file in the same directory that then
    replaces the final path atomically (a failed write removes it)."""
    path = os.path.join(_FIXDIR, name)
    if not os.path.exists(path):
        os.makedirs(_FIXDIR, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        try:
            write(tmp)
            os.replace(tmp, path)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
    return path


def ensure_csv_nation(spark, sf_dir: str) -> str:
    """nation.parquet → nation.csv (25 rows, same at every sf)."""

    def write(tmp: str) -> None:
        tbl = pq.read_table(f"{sf_dir.rstrip('/')}/nation.parquet")
        rows = sorted(zip(*[tbl.column(c).to_pylist() for c in ["n_nationkey", "n_name", "n_regionkey"]]))
        with open(tmp, "w") as f:
            f.write("n_nationkey,n_name,n_regionkey\n")
            for k, name, rk in rows:
                f.write(f"{k},{name},{rk}\n")

    return _write_once("nation.csv", write)


def jobs_records() -> list[dict]:
    """Deterministic jobs-log records (seed fixed; no wall-clock)."""
    rng = random.Random(20260813)
    recs = []
    for i in range(N_JOBS):
        submit = 1704067200 + rng.randrange(0, 30 * 86400)  # Jan 2024, like events
        recs.append(
            {
                "job_id": f"job_2024{i:06d}",
                "user": rng.choice(USERS),
                "framework": rng.choice(FRAMEWORKS),
                "status": rng.choices(STATUSES, weights=[8, 1, 1])[0],
                "submit_ts": f"2024-01-{1 + (submit - 1704067200) // 86400:02d}T{(submit % 86400) // 3600:02d}:{(submit % 3600) // 60:02d}:{submit % 60:02d}Z",
                "duration_ms": rng.randrange(1_000, 7_200_000),
                "map_tasks": rng.randrange(1, 500),
                "reduce_tasks": rng.randrange(0, 64),
                "counters": {k: rng.randrange(0, 10**9) for k in COUNTER_KEYS},
            }
        )
    return recs


def ensure_jobs_jsonl() -> str:
    def write(tmp: str) -> None:
        with open(tmp, "w") as f:
            for r in jobs_records():
                f.write(json.dumps(r, sort_keys=True) + "\n")

    return _write_once("jobs.jsonl", write)


def ensure_jobs_log() -> str:
    """jobs records as RAW LOG LINES (the reference's native input shape):
    one JobComplete line per record plus a deterministic WARN noise line
    every 10th record — so the parse key has to FILTER as well as extract."""

    def write(tmp: str) -> None:
        with open(tmp, "w") as f:
            for i, r in enumerate(jobs_records()):
                f.write(
                    f"{r['submit_ts']} INFO JobComplete job={r['job_id']} "
                    f"user={r['user']} fw={r['framework']} status={r['status']} "
                    f"maps={r['map_tasks']} reduces={r['reduce_tasks']} "
                    f"dur_ms={r['duration_ms']}\n"
                )
                if i % 10 == 0:
                    f.write(f"{r['submit_ts']} WARN SlowHeartbeat node=node{i % 40}\n")

    return _write_once("jobs.log", write)


def ensure_zlib_ratio() -> str:
    """Per-text zlib(level 6) compression ratios as a parquet fixture.

    DuckDB has no zlib, so `text_compression_ratio` cannot recompute the
    ratio in SQL; instead the ratio of every DISTINCT document text in
    the shipped sf dirs is precomputed here (plain Python — pyarrow +
    hashlib + zlib, no Spark involved) keyed by md5(text), and the
    oracle joins documents on md5(text) against this file. Ratio is a
    pure function of the text bytes, so the md5 key is sf-independent;
    round-3 verdict task #3.
    """
    import hashlib
    import zlib

    def write(tmp: str) -> None:
        import pyarrow as pa

        seen: dict[str, float] = {}
        for sf in ("sf0.001", "sf0.01", "sf0.1"):
            p = f"/root/testdata/{sf}/documents.parquet"
            if not os.path.exists(p):
                continue
            for text in pq.read_table(p, columns=["text"]).column("text").to_pylist():
                raw = text.encode("utf-8")
                key = hashlib.md5(raw).hexdigest()
                if key not in seen:
                    seen[key] = round(len(zlib.compress(raw, 6)) / max(len(raw), 1), 6)
        keys = sorted(seen)
        pq.write_table(
            pa.table(
                {
                    "text_md5": pa.array(keys, pa.string()),
                    "compression_ratio": pa.array([seen[k] for k in keys], pa.float64()),
                }
            ),
            tmp,
        )

    return _write_once("zlib_ratio.parquet", write)


def ensure_malformed_csv() -> str:
    """Nation-shaped CSV with deterministic malformed lines (every 7th:
    a non-numeric key and a missing column) — the dirty-ingest fixture
    for scan_csv_malformed_permissive. Both engines must classify the
    same lines as bad: the corruption is unambiguous (type violation in
    column 1 + wrong arity)."""

    def write(tmp: str) -> None:
        with open(tmp, "w") as f:
            for i in range(100):
                if i % 7 == 3:
                    f.write(f"BADKEY{i},corrupted\n")
                else:
                    f.write(f"{i},NATION {i},{i % 5},steady comment {i}\n")

    return _write_once("nations_dirty.csv", write)


def ensure_rowgroup_parquet() -> str:
    """A parquet file with MANY row groups and sorted, non-overlapping
    per-group id ranges — the fixture for scan_parquet_metadata (the
    footer/statistics audit key). 4096 rows, row_group_size=512 ⇒ 8 row
    groups whose id min/max tile [0, 4096) — the layout a range query
    can prune against. Deterministic (ids sorted, grp = id % 4)."""
    import pyarrow as pa

    def write(tmp: str) -> None:
        n = 4096
        tbl = pa.table(
            {
                "id": pa.array(range(n), type=pa.int64()),
                "grp": pa.array([f"g{i % 4}" for i in range(n)], type=pa.string()),
            }
        )
        pq.write_table(tbl, tmp, row_group_size=512)

    return _write_once("rowgroups.parquet", write)
