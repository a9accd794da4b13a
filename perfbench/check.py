"""Output check against the registry's DuckDB oracles.

Both sides are reduced to one digest of ``oracle_check``'s canonical
form: sorted column names, their pandas dtype kinds and the sorted,
type-tagged rows. Two digests are equal exactly when
``oracle_check.compare`` would pass.

Oracles over the fixed base tables are slow at sf0.1 (one takes half a
minute in DuckDB) and never change, so their digests are computed once
by ``make_digests.py`` and stored in ``digests.json`` per table
directory. Oracles over the generated jobs log are run live, with the
generated path substituted for the fixture path.
"""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd

from hadoop_job_analyzer_spark import oracle_check
from hadoop_job_analyzer_spark.operators import scans
from hadoop_job_analyzer_spark.registry import oracle_sql

from workloads import JOBS_KEYS

DIGESTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def frame_digest(pdf: pd.DataFrame, key: str, side: str) -> str:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    kinds = oracle_check._dtype_kinds(pdf)
    rows = oracle_check._canon_rows(pdf, key, side)
    canon = (cols, [kinds[c] for c in cols], rows)
    return hashlib.sha256(repr(canon).encode()).hexdigest()


def table_tag(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir))


def oracle_digest(key: str, sf_dir: str, jobs_path: str | None = None) -> str:
    """Run ``key``'s oracle in DuckDB and digest its result."""
    sql = oracle_sql()[key]
    if key in JOBS_KEYS:
        if scans._JOBS_JSONL not in sql:
            raise RuntimeError(f"{key}: oracle no longer reads the jobs fixture path")
        sql = sql.replace(scans._JOBS_JSONL, jobs_path)
    con = oracle_check.duck_connect(sf_dir)
    try:
        return frame_digest(con.execute(sql).df(), key, "duck")
    finally:
        con.close()


def load_stored(sf_dir: str) -> dict[str, str]:
    if not os.path.exists(DIGESTS_PATH):
        return {}
    with open(DIGESTS_PATH) as f:
        return json.load(f).get(table_tag(sf_dir), {})


def expected_digest(key: str, sf_dir: str, stored: dict[str, str], jobs_path: str | None) -> str:
    if key not in JOBS_KEYS and key in stored:
        return stored[key]
    return oracle_digest(key, sf_dir, jobs_path)
