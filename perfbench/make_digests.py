"""Compute and store the oracle digests of the fixed-table keys.

    python3 perfbench/make_digests.py [table_dir]

Runs every non-jobs key's DuckDB oracle over ``table_dir`` (default:
bench.py's) and records its digest in ``digests.json`` under the
directory's name, so a benchmark run checks its outputs without
re-running slow oracles. Rerun it when an oracle or a workload changes.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

import check  # noqa: E402
from workloads import JOBS_KEYS, WORKLOADS  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else bench.SF_DIR
    keys = sorted({k for w in WORKLOADS.values() for k in w.keys} - set(JOBS_KEYS))
    digests = {}
    for key in keys:
        t = time.perf_counter()
        digests[key] = check.oracle_digest(key, sf_dir)
        print(f"{key}: {time.perf_counter() - t:.1f}s", file=sys.stderr)
    stored = {}
    if os.path.exists(check.DIGESTS_PATH):
        with open(check.DIGESTS_PATH) as f:
            stored = json.load(f)
    stored[check.table_tag(sf_dir)] = digests
    with open(check.DIGESTS_PATH, "w") as f:
        json.dump(stored, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
