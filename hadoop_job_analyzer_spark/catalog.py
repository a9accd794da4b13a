"""Table catalog: pinned loading of the driver-generated parquet tables.

Reference analog: the ingest layer of the reference tool (it harvested
job metadata from the JobTracker HTTP API; SURVEY.md §0.1 [R-M]). Here
ingest is columnar parquet scans — Spark's vectorized reader with
predicate pushdown and column pruning supplied by Catalyst.

The one genuine ingest gap Spark does not handle natively: events.ts
has shipped as parquet timestamp[ns] in some fixture generations (with
``spark.sql.legacy.parquet.nanosAsLong=true`` it arrives as a long of
epoch-nanoseconds, converted by INTEGER division to microseconds —
float division corrupts the low bits, SURVEY.md §0.2) and as
timestamp[us] in others (arrives TIMESTAMP_NTZ, cast to session-TZ
timestamp). ``normalize_events_ts`` branches on the observed dtype so a
fixture regeneration can never crash every events consumer again
(round-2 post-mortem, VERDICT r2 #1); ``load_table`` applies it to
batch frames and ``streams.read_events_stream`` to stream frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Stable column order per table (SURVEY.md §1.2, verified schemas).
COLUMNS: dict[str, list[str]] = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "orders": [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ],
    "lineitem": [
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        "l_shipdate",
    ],
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings": ["vec_id", "embedding", "label"],
}


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table with stable column order; events gets the ns→µs recipe."""
    if name not in COLUMNS:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        df = normalize_events_ts(df)
    return df.select(*COLUMNS[name])


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """events.ts as session-TZ TIMESTAMP, batch or streaming frame alike.

    The fixture has shipped ts as either timestamp[ns] (arrives as a long
    of epoch-ns under nanosAsLong) or timestamp[us] (arrives as
    TIMESTAMP_NTZ); branch on the frame's declared dtype so a fixture
    regeneration can't crash every consumer."""
    ts_type = dict(df.dtypes).get("ts", "")
    if ts_type in ("bigint", "long"):
        # Integer-divide ns→µs: float division corrupts the low bits
        # (epoch-ns exceeds double's 53-bit exact range).
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type.startswith("timestamp_ntz"):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
