"""The repository benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload log_report --seed 1 --seconds 15 --trace 0

A single driver process issues one query at a time and waits for its
result. Each query is timed from the call into the registered query
function until its result is in the caller's hands (``toPandas()``), so
plan build and execution both count. The query order is shuffled per
pass from ``--seed``, which also drives the generated jobs log. Passes
repeat while another one fits in ``--seconds`` (at least one runs).

After the timed passes every distinct query's last output is checked,
untimed, against its DuckDB oracle (see check.py). The last line of
stdout is one JSON object: with ``--trace 0`` the end-to-end metrics,
with ``--trace 1`` the per-layer metrics of a traced run, whose spans
are also written under ``_artifacts/perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
from collections import defaultdict
from contextlib import ExitStack
from unittest import mock

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import bench  # noqa: E402  (the repository's table directory: bench.SF_DIR)
from hadoop_job_analyzer_spark.catalog import load_table  # noqa: E402
from hadoop_job_analyzer_spark.operators import scans  # noqa: E402
from hadoop_job_analyzer_spark.registry import queries  # noqa: E402
from hadoop_job_analyzer_spark.session import (  # noqa: E402
    apply_session_conf,
    get_spark,
    release_transient_caches,
)

import check  # noqa: E402
import gen  # noqa: E402
import probes  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

OPERATOR_MODULES = ("aggs", "windows", "joins", "quality", "sketches", "scans", "neardup", "llm", "textops", "corpus")
STREAMING_MODULE = "streams"

END_TO_END_UNITS = {
    "setup_s": "s",
    "queries_per_s": "1/s",
}


def per_layer_units() -> dict[str, str]:
    # query_p50_s, query_p90_s and peak_rss_mb are what a user sees, but a
    # run holds one pass of 6-8 queries and one JVM heap history, so their
    # run-to-run spread is too wide to bound (see NOTES.md); they are
    # reported here, without a bound.
    units = {
        "query_p50_s": "s",
        "query_p90_s": "s",
        "peak_rss_mb": "MB",
        "failed_frac": "ratio",
        "session.start_s": "s",
        "session.apply_conf_s": "s",
        "registry.load_s": "s",
        "registry.warmup_s": "s",
        "registry.build_s": "s",
        "registry.build_share": "ratio",
        "catalog.cache_s": "s",
        "catalog.cached_mb": "MB",
        "catalog.load_table_s": "s",
    }
    units.update({f"operators.{m}.exec_s": "s" for m in OPERATOR_MODULES})
    units.update({
        "operators.stages": "count",
        "operators.tasks": "count",
        "operators.shuffle_write_mb": "MB",
        "operators.input_mb": "MB",
        "operators.spill_mb": "MB",
        "operators.transient_caches_released": "count",
        "sources.jobs_report_rows_per_s": "1/s",
        "streaming.drain_s": "s",
        "streaming.batches": "count",
        "streaming.input_rows": "count",
        "streaming.state_rows": "count",
        "trace.overhead_frac": "ratio",
    })
    return units


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _isolate_scratch(work: str) -> None:
    """Keep Spark's and Python's temporary files inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    java_opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{java_opts} -Djava.io.tmpdir={tmp}".strip()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def _cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def run(workload: str, seed: int, seconds: float, trace: bool, sf_dir: str) -> dict:
    w = WORKLOADS[workload]
    work = os.path.join(ROOT, "_artifacts", "perfbench", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate_scratch(work)
    tracer = probes.Tracer(trace, f"{workload}-{seed}")
    layer: dict[str, float] = {}

    # Input generation: before the session starts, outside setup_s.
    jobs_path = None
    n_jobs = 0
    if w.jobs_log:
        jobs_path = os.path.join(work, "jobs.jsonl")
        n_jobs = gen.N_JOBS
        size = gen.write_jobs_log(jobs_path, seed, n_jobs)
        log(f"jobs log: {n_jobs} records, {size / 1e6:.1f} MB")

    spark = None
    try:
        with ExitStack() as patches:
            # ---- set-up: session, registry, base-table cache warm
            t0 = time.perf_counter()
            with tracer.span("session.get_spark"):
                spark = get_spark("perfbench")
            t1 = time.perf_counter()
            with tracer.span("registry.queries"):
                reg = queries()
            t2 = time.perf_counter()
            load_s = 0.0
            with tracer.span("catalog.warm"):
                for table in w.cache:
                    a = time.perf_counter()
                    with tracer.span("catalog.load_table", table=table):
                        df = load_table(spark, sf_dir, table)
                    load_s += time.perf_counter() - a
                    with tracer.span("catalog.cache", table=table):
                        df.cache().count()
            t3 = time.perf_counter()
            # The first query of a fresh JVM pays a few seconds of one-off
            # class loading and JIT whichever key it is; one untimed cheap
            # query absorbs it here, so the shuffled order does not decide
            # which timed key carries it.
            with tracer.span("registry.warmup", key=w.warmup):
                reg[w.warmup](spark, sf_dir).toPandas()
            t4 = time.perf_counter()
            setup_s = t4 - t0
            log(
                f"setup {setup_s:.2f}s (session {t1 - t0:.2f}, registry {t2 - t1:.2f}, "
                f"cache {t3 - t2:.2f}, warm-up {t4 - t3:.2f})"
            )
            layer.update({
                "session.start_s": t1 - t0,
                "registry.load_s": t2 - t1,
                "registry.warmup_s": t4 - t3,
                "catalog.cache_s": t3 - t2,
                "catalog.load_table_s": load_s,
            })

            if jobs_path is not None:
                # The jobs report reads the fixture log; point it at the generated one.
                patches.enter_context(mock.patch.object(scans, "ensure_jobs_jsonl", lambda: jobs_path))

            streams = None
            if trace:
                streams = probes.StreamCounter()
                spark.streams.addListener(streams)
                layer["catalog.cached_mb"] = _cached_mb(spark)
                conf_s = []
                for _ in range(5):
                    a = time.perf_counter()
                    apply_session_conf(spark)
                    conf_s.append(time.perf_counter() - a)
                layer["session.apply_conf_s"] = statistics.median(conf_s)
                stage_mark = probes.stage_totals(spark, -1)["max_stage"]

            # ---- timed passes
            rng = random.Random(seed)
            latencies: list[float] = []
            builds: list[float] = []
            lat_by_key: dict[str, list[float]] = defaultdict(list)
            exec_by_module: dict[str, float] = defaultdict(float)
            pass_qps: list[float] = []
            pass_walls: list[float] = []
            released: list[int] = []
            stage_sum: dict[str, float] = defaultdict(float)
            outputs = {}
            errors: dict[str, str] = {}
            attempted = 0
            failed = 0
            window = time.perf_counter()
            while True:
                order = list(w.keys)
                rng.shuffle(order)
                p0 = time.perf_counter()
                done = 0
                for key in order:
                    fn = reg[key]
                    module = fn.__wrapped__.__module__.rsplit(".", 1)[-1]
                    attempted += 1
                    with tracer.span("query", key=key):
                        try:
                            a = time.perf_counter()
                            with tracer.span("registry.build", key=key):
                                df = fn(spark, sf_dir)
                            b = time.perf_counter()
                            with tracer.span(f"operators.{module}.execute", key=key):
                                pdf = df.toPandas()
                            c = time.perf_counter()
                        except Exception as e:  # a failed query is counted, not fatal
                            failed += 1
                            errors[key] = f"{type(e).__name__}: {str(e)[:300]}"
                            log(f"FAILED {key}: {errors[key]}")
                            continue
                    log(f"{key}: build {b - a:.3f}s, execute {c - b:.3f}s")
                    done += 1
                    latencies.append(c - a)
                    builds.append(b - a)
                    lat_by_key[key].append(c - a)
                    exec_by_module[module] += c - b
                    outputs[key] = pdf
                pass_s = time.perf_counter() - p0
                pass_qps.append(done / pass_s)
                pass_walls.append(pass_s)
                with tracer.span("session.release_transient_caches"):
                    released.append(release_transient_caches())
                log(f"pass {len(pass_qps)}: {done}/{len(order)} queries in {pass_s:.2f}s")
                if trace:
                    tot = probes.stage_totals(spark, stage_mark)
                    stage_mark = tot.pop("max_stage")
                    for k, v in tot.items():
                        stage_sum[k] += v
                if time.perf_counter() - window + pass_s > seconds:
                    break
            n_passes = len(pass_qps)

            # ---- untimed output check: each distinct query's last output
            stored = check.load_stored(sf_dir)
            with tracer.span("check"):
                for key in w.keys:
                    if key not in outputs:
                        continue
                    try:
                        want = check.expected_digest(key, sf_dir, stored, jobs_path)
                        got = check.frame_digest(outputs[key], key, "spark")
                    except Exception as e:  # an uncheckable output counts as wrong
                        got, want = None, f"{type(e).__name__}: {e}"
                    if got != want:
                        failed += 1
                        log(f"MISMATCH {key}: output digest {got} != oracle {want}")
            log(f"check: {len(outputs)} outputs checked, {failed} failed of {attempted} attempted")

            peak_mb = probes.peak_rss_mb(getattr(getattr(spark.sparkContext._gateway, "proc", None), "pid", None))
            if streams is not None:
                streams.settle()
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    if not latencies:
        raise RuntimeError(f"no query of {workload} completed: {errors}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
    }
    if not trace:
        values = {"setup_s": setup_s, "queries_per_s": statistics.median(pass_qps)}
        units = END_TO_END_UNITS
    else:
        layer["query_p50_s"] = statistics.median(latencies)
        layer["query_p90_s"] = (
            statistics.quantiles(latencies, n=10, method="inclusive")[-1] if len(latencies) > 1 else latencies[0]
        )
        layer["peak_rss_mb"] = peak_mb
        layer["failed_frac"] = failed / attempted
        for m in OPERATOR_MODULES:
            layer[f"operators.{m}.exec_s"] = exec_by_module.get(m, 0.0) / n_passes
        for k in ("stages", "tasks", "shuffle_write_mb", "input_mb", "spill_mb"):
            layer[f"operators.{k}"] = stage_sum[k] / n_passes
        layer["operators.transient_caches_released"] = statistics.median(released)
        layer["registry.build_s"] = statistics.median(builds)
        layer["registry.build_share"] = sum(builds) / sum(latencies)

        def rows_per_s(key: str) -> float:
            return n_jobs / statistics.median(lat_by_key[key]) if lat_by_key.get(key) else 0.0

        layer["sources.jobs_report_rows_per_s"] = rows_per_s("ops_job_summary_report")
        stream_keys = [k for k in w.keys if reg[k].__wrapped__.__module__.endswith(STREAMING_MODULE)]
        layer["streaming.drain_s"] = sum(sum(lat_by_key[k]) for k in stream_keys) / n_passes
        layer["streaming.batches"] = streams.batches / n_passes
        layer["streaming.input_rows"] = streams.input_rows / n_passes
        layer["streaming.state_rows"] = streams.state_rows / n_passes
        layer["trace.overhead_frac"] = (tracer.overhead_s + streams.overhead_s) / sum(pass_walls)
        tracer.write(
            os.path.join(ROOT, "_artifacts", "perfbench", f"trace-{workload}-{seed}.json"),
            {"workload": workload, "seed": seed, "per_layer": layer},
        )
        values = layer
        units = per_layer_units()
    result["metrics"] = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", default=bench.SF_DIR, help="base-table directory (default: bench.py's)")
    args = ap.parse_args(argv)
    if not os.path.isdir(args.sf_dir):
        raise SystemExit(f"table directory not found: {args.sf_dir}")
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.sf_dir)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
