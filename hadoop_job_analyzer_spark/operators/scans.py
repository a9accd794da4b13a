"""Category A — scans, sources, sinks (SURVEY.md §2.A).

Reference analog: ingest of job metadata/history (JobTracker HTTP,
conf XML, counters [R-M]). Spark-native inversion: columnar parquet
scans through the vectorized reader, with Catalyst supplying column
pruning and predicate pushdown (verified via .explain in tests);
CSV/JSONL with explicit DDL schemas (never inferred — inference is a
full extra pass and nondeterministic typing); partitioned parquet
sink with read-back (partition pruning on re-read = the 100 TB layout
story: partition by low-cardinality dims you filter on).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import COLUMNS, load_table
from ..registry import query
from ..sources.fixtures import _ARTIFACTS, _FIXDIR, ensure_csv_nation, ensure_jobs_jsonl
from ._common import dsum, o_dsum, tpersist


@query("scan_parquet", oracle="SELECT * FROM lineitem")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full lineitem scan, stable column order."""
    return load_table(spark, sf_dir, "lineitem")


@query("scan_parquet_nanos", oracle="SELECT * FROM events")
def scan_parquet_nanos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events scan incl. the ns→µs timestamp recipe (SURVEY.md §0.2).

    DuckDB reads the same parquet column as µs-truncated TIMESTAMP, so
    after the recipe both engines see identical values.
    """
    return load_table(spark, sf_dir, "events")


@query(
    "scan_column_prune",
    oracle="SELECT l_orderkey, l_extendedprice FROM lineitem",
)
def scan_column_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-of-11-column projection — Catalyst prunes the parquet ReadSchema
    to exactly these columns (asserted in tests via the physical plan)."""
    return load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")


_NATION_CSV = os.path.join(_FIXDIR, "nation.csv")


@query(
    "scan_csv_schema",
    oracle=f"""
SELECT n_nationkey, n_name, n_regionkey
FROM read_csv('{_NATION_CSV}', header=true,
  columns={{'n_nationkey':'INTEGER','n_name':'VARCHAR','n_regionkey':'INTEGER'}})
""",
)
def scan_csv_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV read with explicit DDL schema (no inference pass).

    Fixture: nation written as CSV once (deterministic). At scale the
    same pattern reads TB of gzipped logs — schema-pinned, single pass.
    """
    path = ensure_csv_nation(spark, sf_dir)
    return (
        spark.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("header", "true")
        .csv(path)
    )


_JOBS_JSONL = os.path.join(_FIXDIR, "jobs.jsonl")

# DuckDB column spec mirroring the Spark DDL schema for the jobs JSONL
# fixture (counters as a fixed STRUCT — the generator always emits the
# same 4 keys, FIXTURES.md table 11).
_JOBS_DUCK_COLS = """{
  'job_id':'VARCHAR','user':'VARCHAR','framework':'VARCHAR','status':'VARCHAR',
  'submit_ts':'TIMESTAMP','duration_ms':'BIGINT','map_tasks':'INTEGER','reduce_tasks':'INTEGER',
  'counters':'STRUCT(hdfs_bytes_read BIGINT, hdfs_bytes_written BIGINT, map_input_records BIGINT, spilled_records BIGINT)'
}"""


@query(
    "scan_jsonl",
    oracle=f"""
SELECT job_id, "user", framework, status, submit_ts, duration_ms,
       map_tasks, reduce_tasks, to_json(counters) AS counters_json
FROM read_json('{_JOBS_JSONL}', format='newline_delimited', columns={_JOBS_DUCK_COLS})
""",
)
def scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines read with explicit schema — the jobs-log-shaped ingest
    (FIXTURES.md table 11): the reference's job records as JSONL.
    Oracle: DuckDB read_json over the same fixture file; the counters
    map is projected to sorted-key JSON text on both sides (a MAP cell
    would crash the driver's canonicalizer)."""
    path = ensure_jobs_jsonl()
    schema = (
        "job_id STRING, user STRING, framework STRING, status STRING, "
        "submit_ts TIMESTAMP, duration_ms BIGINT, map_tasks INT, reduce_tasks INT, "
        "counters MAP<STRING, BIGINT>"
    )
    raw = spark.read.schema(schema).json(path)
    # The driver canonicalizes output via pandas and cannot hash a MAP
    # cell (dict) — project it to deterministic JSON text instead. The
    # map parse itself is still exercised; map_keys sorts for stability.
    return raw.select(
        "job_id", "user", "framework", "status", "submit_ts",
        "duration_ms", "map_tasks", "reduce_tasks",
        F.to_json(
            F.map_from_arrays(
                F.sort_array(F.map_keys("counters")),
                F.transform(
                    F.sort_array(F.map_keys("counters")),
                    lambda k: F.element_at(F.col("counters"), k),
                ),
            )
        ).alias("counters_json"),
    )


@query(
    "sink_parquet_partitioned",
    oracle=f"""
SELECT event_type, COUNT(*) AS n_events, {o_dsum('value')} AS total_value
FROM events
GROUP BY event_type
""",
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate → write partitioned parquet → read back (sink + DPP demo).

    Reference analog: the Graphite/stdout metrics sink [R-M]. Partition
    layout by the filtered dimension is what enables partition pruning
    at 100 TB. Values round-trip parquet exactly, so the read-back still
    hash-matches the aggregation oracle.
    """
    out = os.path.join(_ARTIFACTS, "sink_parquet_partitioned")
    agg = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
    )
    agg.write.mode("overwrite").partitionBy("event_type").parquet(out)
    return spark.read.parquet(out).select("event_type", "n_events", "total_value")


@query(
    "scan_orc_roundtrip",
    oracle="""
SELECT lang, source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
FROM documents
GROUP BY lang, source
""",
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC as a source AND sink: write documents to ORC (Spark-native
    columnar writer), read it back, aggregate. The oracle computes the
    same aggregate from the original parquet table — so the hash match proves
    the parquet→ORC→scan roundtrip is LOSSLESS, a stronger check than
    a rows-only sink key (DuckDB never needs to read ORC).

    Scale notes: ORC gets the same vectorized reader, predicate
    pushdown, and column pruning treatment as parquet in Spark; the
    sink partitions by nothing here (500-row fixture) but inherits the
    partitioned-sink layout story of sink_parquet_partitioned.
    """
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(_ARTIFACTS, f"orc_documents_{sf_tag}")
    d = load_table(spark, sf_dir, "documents")
    d.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@query(
    "scan_custom_datasource",
    oracle=f"""
SELECT framework, status,
       COUNT(*) AS n_jobs,
       CAST(SUM(duration_ms) AS BIGINT) AS sum_duration_ms,
       CAST(SUM(map_tasks) AS BIGINT) AS sum_map_tasks,
       MAX(counters.hdfs_bytes_read) AS max_hdfs_read
FROM read_json('{_JOBS_JSONL}', format='newline_delimited', columns={{
  'framework': 'VARCHAR', 'status': 'VARCHAR', 'duration_ms': 'BIGINT',
  'map_tasks': 'BIGINT',
  'counters': 'STRUCT(hdfs_bytes_read BIGINT, hdfs_bytes_written BIGINT, map_input_records BIGINT, spilled_records BIGINT)'
}})
GROUP BY 1, 2
""",
)
def scan_custom_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jobs-log ingest through a CUSTOM Python DataSource (PySpark 4
    DataSource API, sources/jobs_datasource.py) — the reference's
    JobTracker scraping re-expressed as a first-class pluggable source:
    declared schema, partitioned reads in executors, counters map
    flattened to typed columns at ingest, then ordinary relational agg
    on top. The DuckDB oracle reads the same JSONL independently, so
    the match covers the whole custom-parse path.

    Scale: each InputPartition is an independent fetch (here a
    line-stripe of the file; against a live JobTracker, a pagination
    range) — source parallelism is declared, not hand-scheduled, and
    everything above the scan is ordinary Catalyst territory.
    """
    from ..sources.fixtures import ensure_jobs_jsonl
    from ..sources.jobs_datasource import JobsLogDataSource

    path = ensure_jobs_jsonl()
    spark.dataSource.register(JobsLogDataSource)
    df = (
        spark.read.format("hja_jobslog")
        .option("path", path)
        .option("numpartitions", "4")
        .load()
    )
    return df.groupBy("framework", "status").agg(
        F.count(F.lit(1)).alias("n_jobs"),
        F.sum("duration_ms").alias("sum_duration_ms"),
        F.sum("map_tasks").alias("sum_map_tasks"),
        F.max("hdfs_bytes_read").alias("max_hdfs_read"),
    )


@query(
    "sink_compact_small_files",
    oracle=f"""
SELECT event_type, COUNT(*) AS n_events, {o_dsum('value')} AS total_value,
       MIN(event_id) AS min_id, MAX(event_id) AS max_id
FROM events
GROUP BY event_type
""",
)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance job every large
    lake runs: a fragmented landing zone (events deliberately written
    as 64 splinter files, the streaming-ingest pathology) is rewritten
    to 4 right-sized files, and the aggregate over the COMPACTED copy
    must hash-match the original table — proving compaction moved
    bytes, not values. A test additionally pins the before/after file
    counts.

    repartition(4) (round-robin, balanced outputs) not coalesce(4):
    coalesce merges in-place without a shuffle but inherits upstream
    skew and, scheduled upstream, can throttle the read's parallelism
    to 4 tasks; at 100 TB you compact with a shuffle sized to the
    target file size (maxRecordsPerFile bounds the tail). Listing +
    scan of 64 vs 4 files is the real cost difference at scale: file
    metadata ops dominate fragmented reads.
    """
    frag = os.path.join(_ARTIFACTS, "compact_fragmented")
    tidy = os.path.join(_ARTIFACTS, "compact_tidy")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(64).write.mode("overwrite").parquet(frag)
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(tidy)
    back = spark.read.parquet(tidy)
    # n.b. ts survives both hops as µs-timestamps; aggregate on the
    # compacted copy must equal the source-of-truth oracle
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@query(
    "scan_schema_evolution",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_extra,
       CAST(SUM(CASE WHEN event_id % 2 = 0 THEN event_id ELSE 0 END) AS BIGINT) AS sum_extra
FROM events
GROUP BY event_type
""",
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: the landing zone holds an OLD batch
    (event_id, event_type) and a NEW batch that added a column
    (extra_id) — `mergeSchema=true` unifies them, old rows surfacing
    NULL for the added column. The lake reality every long-lived
    pipeline hits: producers add fields; readers must take the union
    of schemas without rewriting history. The aggregate proves the
    merged read is lossless (counts per type; presence and sum of the
    new column on exactly the new-batch rows) against the oracle's
    view of the source table.

    At 100 TB: mergeSchema is a planning-time footer merge (cheap);
    the real discipline is keeping added columns NULLABLE and never
    repurposing names — both demonstrated by the unified schema here.
    """
    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    base = os.path.join(_ARTIFACTS, f"schema_evo_{sf_tag}")
    ev = load_table(spark, sf_dir, "events")
    old_batch = ev.where(F.expr("event_id % 2 = 1")).select("event_id", "event_type")
    new_batch = ev.where(F.expr("event_id % 2 = 0")).select(
        "event_id", "event_type", F.col("event_id").alias("extra_id")
    )
    # Always rewrite: skipping on a _SUCCESS marker would silently
    # aggregate stale artifacts if the testdata at this sf path is ever
    # regenerated (the batches are cheap derivations of current events).
    old_batch.write.mode("overwrite").parquet(os.path.join(base, "old"))
    new_batch.write.mode("overwrite").parquet(os.path.join(base, "new"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "old"), os.path.join(base, "new")
    )
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("extra_id").alias("n_with_extra"),
        F.coalesce(F.sum("extra_id"), F.lit(0)).alias("sum_extra"),
    )


_JOBS_LOG = os.path.join(_FIXDIR, "jobs.log")


@query(
    "scan_text_log_regex",
    oracle=f"""
SELECT regexp_extract(line, 'job=(\\S+)', 1) AS job_id,
       regexp_extract(line, 'user=(\\S+)', 1) AS job_user,
       regexp_extract(line, 'fw=(\\S+)', 1) AS framework,
       regexp_extract(line, 'status=(\\S+)', 1) AS status,
       CAST(regexp_extract(line, 'maps=(\\d+)', 1) AS INT) AS map_tasks,
       CAST(regexp_extract(line, 'reduces=(\\d+)', 1) AS INT) AS reduce_tasks,
       CAST(regexp_extract(line, 'dur_ms=(\\d+)', 1) AS BIGINT) AS duration_ms
FROM read_csv('{_JOBS_LOG}', columns={{'line': 'VARCHAR'}}, header=false,
              delim='\\t', quote='')
WHERE line LIKE '%JobComplete%'
""",
)
def scan_text_log_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw log-line ingest: unstructured text → typed columns by regex —
    the reference's NATIVE input shape (it scraped and parsed job lines,
    not parquet). spark.read.text streams lines; a LIKE filter drops the
    noise (WARN heartbeats) BEFORE the regex extracts fire, and every
    field is one regexp_extract inside whole-stage codegen — no Python,
    no shuffle, a pure map over TB of text at scale. The DuckDB oracle
    parses the same file independently, so the hash match certifies the
    full filter+parse path (patterns kept to the Java∩RE2 dialect).
    """
    from ..sources.fixtures import ensure_jobs_log

    path = ensure_jobs_log()
    lines = spark.read.text(path)
    ex = lambda pat, typ=None: (  # noqa: E731
        F.regexp_extract(F.col("value"), pat, 1).cast(typ)
        if typ
        else F.regexp_extract(F.col("value"), pat, 1)
    )
    return lines.where(F.col("value").like("%JobComplete%")).select(
        ex(r"job=(\S+)").alias("job_id"),
        ex(r"user=(\S+)").alias("job_user"),
        ex(r"fw=(\S+)").alias("framework"),
        ex(r"status=(\S+)").alias("status"),
        ex(r"maps=(\d+)", "int").alias("map_tasks"),
        ex(r"reduces=(\d+)", "int").alias("reduce_tasks"),
        ex(r"dur_ms=(\d+)", "bigint").alias("duration_ms"),
    )


@query(
    "sink_jsonl_roundtrip",
    oracle="""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
       MIN(doc_id) AS min_id,
       MAX(doc_id) AS max_id
FROM documents
GROUP BY lang
""",
)
def sink_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + re-scan: documents written as JSONL (the
    interchange format every crawl/annotation pipeline emits), read
    back with an EXPLICIT schema, and aggregated — the result must
    hash-match the oracle over the ORIGINAL parquet table, proving the
    text column survives JSON escaping/unescaping byte-exactly
    (n_distinct_texts counts md5 of the round-tripped text).

    Explicit read schema, not inference: schema inference is an extra
    full pass over the data and can widen types under drift — at
    100 TB the DDL contract is the only sane option (same rule as
    scan_jsonl). Write is repartition(4)-sized; the aggregate reads
    back map-side partial-agg'd.
    """
    out = os.path.join(_ARTIFACTS, "jsonl_roundtrip")
    d = load_table(spark, sf_dir, "documents")
    d.repartition(4).write.mode("overwrite").json(out)
    back = spark.read.schema("doc_id bigint, text string, lang string, source string, n_chars bigint").json(out)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.countDistinct(F.md5("text")).alias("n_distinct_texts"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


@query(
    "scan_partition_pruned_read",
    oracle="""
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ts_hour,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
WHERE event_type = 'purchase'
GROUP BY 1
""",
)
def scan_partition_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition pruning: events re-laid-out partitioned by
    event_type, then read back with an event_type predicate — the scan
    must touch ONLY the matching partition directory (a plan guard
    asserts the PartitionFilters entry), and the hourly rollup over
    the pruned read hash-matches the oracle over the original
    unpartitioned table.

    This is the single biggest lever on a 100 TB fact table: a
    partition-aligned predicate turns a full-table scan into a
    directory listing + 1/N of the bytes, before any row filter runs.
    The write side demonstrates the layout job (partitionBy on the
    dominant filter column); at scale you bound files-per-partition
    with repartition(partition_cols) ahead of the write.
    """
    out = os.path.join(_ARTIFACTS, "events_by_type")
    ev = load_table(spark, sf_dir, "events")
    ev.repartition("event_type").write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out).where(F.col("event_type") == "purchase")
    return back.groupBy(F.date_trunc("hour", "ts").alias("ts_hour")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "sink_metrics_lines",
    oracle="""
WITH agg AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ts_hour, event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         SUM(CAST(value AS DECIMAL(38,6))) AS sum_value
  FROM events GROUP BY 1, 2
), m AS (
  SELECT ts_hour, event_type, 'count' AS metric,
         CAST(n_events AS VARCHAR) AS val_str FROM agg
  UNION ALL
  SELECT ts_hour, event_type, 'value_sum',
         CAST(sum_value AS VARCHAR) FROM agg
)
SELECT 'hja.events.' || event_type || '.' || metric AS metric_path,
       CAST(val_str AS DOUBLE) AS metric_value,
       CAST(epoch(ts_hour) AS BIGINT) AS ts_epoch,
       'hja.events.' || event_type || '.' || metric || ' ' || val_str
         || ' ' || CAST(CAST(epoch(ts_hour) AS BIGINT) AS VARCHAR) AS line
FROM m
""",
)
def sink_metrics_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metrics-backend sink: any aggregation rendered as Graphite
    plaintext-protocol lines ``path value unix_ts`` — the upstream's
    "emit to metrics backend" behavior (SURVEY.md §0.1) re-expressed as
    a formatting stage (string assembly only; no network in-sandbox —
    at scale the lines stream out via foreachBatch/socket sink).

    Determinism across engines: the count renders from a BIGINT; the
    value sum follows the DECIMAL(38,6) policy (_common.py) and renders
    from the decimal — both engines print full-scale fixed-point
    ("123.456000"), so the line strings hash-match without any
    float-formatting hazard. ts is epoch seconds of the UTC hour.
    Plan shape: one map-side-partial groupBy, then a pure projection —
    the explode-to-two-metrics stack is per-row, shuffle-free.
    """
    ev = load_table(spark, sf_dir, "events")
    agg = metrics_hourly_agg(ev)
    return metrics_lines_projection(agg)


def metrics_hourly_agg(events: DataFrame) -> DataFrame:
    """The hourly metrics aggregation behind sink_metrics_lines, shared
    with the streaming emitter (streaming/streams.py
    stream_metrics_lines): one map-side-partial groupBy to
    (hour, type) cells — works identically over a batch or a streaming
    events frame (complete mode, no watermark needed)."""
    return events.groupBy(
        F.date_trunc("hour", "ts").alias("ts_hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(38,6)")).alias("sum_value"),
    )


def metrics_lines_projection(agg: DataFrame) -> DataFrame:
    """Graphite plaintext rendering over a (ts_hour, event_type,
    n_events, sum_value) frame — pure per-row projection (stack to two
    metrics, string assembly), shuffle-free; shared between the batch
    key and the streaming socket emitter so the wire format is defined
    exactly once."""
    m = agg.select(
        "ts_hour",
        "event_type",
        F.expr(
            "stack(2, 'count', CAST(n_events AS STRING), "
            "'value_sum', CAST(sum_value AS STRING)) AS (metric, val_str)"
        ),
    )
    path = F.concat_ws(".", F.lit("hja"), F.lit("events"), F.col("event_type"), F.col("metric"))
    ts_epoch = F.unix_timestamp("ts_hour").cast("bigint")
    return m.select(
        path.alias("metric_path"),
        F.col("val_str").cast("double").alias("metric_value"),
        ts_epoch.alias("ts_epoch"),
        F.concat_ws(" ", path, F.col("val_str"), ts_epoch.cast("string")).alias("line"),
    )


@query(
    "ops_job_summary_report",
    oracle=f"""
WITH jobs AS (
  SELECT * FROM read_json('{_JOBS_JSONL}', format='newline_delimited',
                          columns={_JOBS_DUCK_COLS})
)
SELECT framework,
       CAST(COUNT(*) AS BIGINT) AS n_jobs,
       CAST(SUM(CASE WHEN status = 'FAILED' THEN 1 ELSE 0 END) AS BIGINT) AS n_failed,
       CAST(SUM(CASE WHEN status = 'KILLED' THEN 1 ELSE 0 END) AS BIGINT) AS n_killed,
       ROUND(SUM(CASE WHEN status <> 'SUCCEEDED' THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS bad_rate,
       ROUND(QUANTILE_CONT(duration_ms, 0.5), 1) AS p50_dur_ms,
       ROUND(QUANTILE_CONT(duration_ms, 0.99), 1) AS p99_dur_ms,
       CAST(SUM(map_tasks) AS BIGINT) AS total_maps,
       CAST(SUM(reduce_tasks) AS BIGINT) AS total_reduces,
       CAST(MAX(duration_ms) AS BIGINT) AS max_dur_ms
FROM jobs GROUP BY framework
""",
)
def ops_job_summary_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE upstream report: per-framework job health over the jobs log —
    counts, failure/kill rates, exact p50/p99 duration, task totals —
    the "analyze Hadoop jobs and emit per-framework metrics" capability
    reconstructed in SURVEY.md §0.1, end-to-end from the JSONL ingest
    (the JobTracker-history stand-in) to the report a metrics backend
    would receive (see sink_metrics_lines for the emit formatting).

    One explicit-schema JSONL scan → one partial-agg'd groupBy to
    #frameworks cells; exact percentiles sort per group (bounded group
    count — the agg_percentile_exact note: at 100 TB of job history
    switch to approx_percentile's mergeable KLL sketch).
    """
    return job_summary_report_at(spark, ensure_jobs_jsonl())


def job_summary_report_at(spark: SparkSession, path: str) -> DataFrame:
    """ops_job_summary_report's plan over an arbitrary jobs-JSONL path
    (its r5 scale curve over inflated copies is recorded in BASELINE.md)."""
    schema = (
        "job_id STRING, user STRING, framework STRING, status STRING, "
        "submit_ts TIMESTAMP, duration_ms BIGINT, map_tasks INT, reduce_tasks INT, "
        "counters MAP<STRING, BIGINT>"
    )
    jobs = spark.read.schema(schema).json(path)
    bad = F.sum(F.when(F.col("status") != "SUCCEEDED", 1).otherwise(0))
    return jobs.groupBy("framework").agg(
        F.count(F.lit(1)).alias("n_jobs"),
        F.sum(F.when(F.col("status") == "FAILED", 1).otherwise(0)).alias("n_failed"),
        F.sum(F.when(F.col("status") == "KILLED", 1).otherwise(0)).alias("n_killed"),
        F.round(bad / F.count(F.lit(1)).cast("double"), 6).alias("bad_rate"),
        F.round(F.percentile("duration_ms", F.lit(0.5)), 1).alias("p50_dur_ms"),
        F.round(F.percentile("duration_ms", F.lit(0.99)), 1).alias("p99_dur_ms"),
        F.sum("map_tasks").alias("total_maps"),
        F.sum("reduce_tasks").alias("total_reduces"),
        F.max("duration_ms").alias("max_dur_ms"),
    )


_DIRTY_CSV = os.path.join(_FIXDIR, "nations_dirty.csv")


@query(
    "scan_csv_malformed_permissive",
    oracle=f"""
WITH good AS (
  SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(MAX(n_nationkey) AS BIGINT) AS max_key
  FROM read_csv('{_DIRTY_CSV}', header=false,
    columns={{'n_nationkey':'INT','n_name':'VARCHAR','n_regionkey':'INT','n_comment':'VARCHAR'}},
    ignore_errors=true)
  GROUP BY n_regionkey
), totals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_lines
  FROM read_csv('{_DIRTY_CSV}', header=false, columns={{'line':'VARCHAR'}},
                delim=chr(1), quote='')
)
SELECT g.n_regionkey, g.n_rows, g.max_key,
       CAST(t.n_lines - (SELECT SUM(n_rows) FROM good) AS BIGINT) AS n_corrupt_total
FROM good g CROSS JOIN totals t
""",
)
def scan_csv_malformed_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty-CSV ingest under PERMISSIVE mode: a nation-shaped file where
    every 7th line is malformed (non-numeric key, wrong arity). The scan
    must (a) parse every clean line, (b) quarantine — not crash on, not
    silently drop — the bad ones into the corrupt-record column, and
    (c) report both: the per-region rollup of good rows plus the total
    corrupt count. The real-ingest contract at 100 TB: a crawl delivery
    with 0.1% bad lines must not kill the job NOR skew the stats
    silently (DROPMALFORMED's failure mode).

    Oracle: DuckDB ignore_errors=true supplies the good rows; the
    corrupt total is total-raw-lines minus good (raw lines read with a
    never-occurring delimiter) — an independent derivation of the same
    quarantine count.
    """
    from ..sources.fixtures import ensure_malformed_csv

    path = ensure_malformed_csv()
    raw = (
        spark.read.schema(
            "n_nationkey INT, n_name STRING, n_regionkey INT, n_comment STRING, _corrupt STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    ).transform(tpersist)
    good = raw.where(F.col("_corrupt").isNull())
    n_corrupt = raw.where(F.col("_corrupt").isNotNull()).count()
    return (
        good.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max("n_nationkey").cast("long").alias("max_key"),
        )
        .withColumn("n_corrupt_total", F.lit(n_corrupt).cast("long"))
    )


_ROWGROUPS_PARQUET = os.path.join(_FIXDIR, "rowgroups.parquet")


@query(
    "scan_parquet_metadata",
    oracle=f"""
SELECT CAST(row_group_id AS INT) AS row_group_id,
       path_in_schema AS column_name,
       CAST(num_values AS BIGINT) AS num_values,
       CAST(stats_null_count AS BIGINT) AS n_nulls,
       stats_min_value AS min_value,
       stats_max_value AS max_value
FROM parquet_metadata('{_ROWGROUPS_PARQUET}')
""",
)
def scan_parquet_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet FOOTER audit: per-(row group, column) value counts, null
    counts and min/max statistics read straight from the file metadata —
    no data pages touched. This is the layout-observability tool behind
    every 100 TB pruning decision: whether a range predicate can skip
    row groups is exactly whether these min/max tiles are disjoint (the
    fixture's sorted ids tile [0,4096) across 8 groups — the layout a
    clustered write produces and a zone-map scan exploits).

    Plan shape: a DataFrame of file paths fans out via mapInPandas and
    each task opens ONLY the footer of its files (pyarrow ParquetFile
    .metadata — ~KB reads regardless of file size). At corpus scale the
    path list is millions of files and this is an embarrassingly
    parallel metadata sweep — the audit that finds unsorted/bloated
    layouts BEFORE they burn a full-scan query. Oracle: DuckDB's
    parquet_metadata() over the same fixture — two independent footer
    parsers must agree byte-for-byte on the stats.
    """
    import pandas as pd

    from ..sources.fixtures import ensure_rowgroup_parquet

    path = ensure_rowgroup_parquet()
    paths = spark.createDataFrame([(path,)], "path string")

    def read_footers(batches):
        import pyarrow.parquet as pq_

        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                md = pq_.ParquetFile(p).metadata
                for i in range(md.num_row_groups):
                    rg = md.row_group(i)
                    for j in range(rg.num_columns):
                        c = rg.column(j)
                        st = c.statistics
                        rows.append(
                            (
                                i,
                                c.path_in_schema,
                                c.num_values,
                                st.null_count if st is not None else None,
                                str(st.min) if st is not None and st.has_min_max else None,
                                str(st.max) if st is not None and st.has_min_max else None,
                            )
                        )
            yield pd.DataFrame(
                rows,
                columns=[
                    "row_group_id",
                    "column_name",
                    "num_values",
                    "n_nulls",
                    "min_value",
                    "max_value",
                ],
            )

    return paths.repartition(1).mapInPandas(
        read_footers,
        schema=(
            "row_group_id int, column_name string, num_values bigint, "
            "n_nulls bigint, min_value string, max_value string"
        ),
    )
