"""Category C — joins (SURVEY.md §2.C).

The reference had exactly one "table" (the flattened job list), so all
joins are the mandated Spark-native generalization. Physical strategy
notes (the 100 TB story):

- dim tables (region/nation/customer at low SF) auto-broadcast under
  the 10 MB threshold; ``join_broadcast_hint`` forces it explicitly —
  a broadcast join is shuffle-free on the fact side.
- fact⋈fact (orders⋈lineitem) defaults to sort-merge after AQE; the
  forced-SMJ / forced-shuffle-hash keys pin each strategy via hints.
- AQE converts to broadcast at runtime when a side turns out small,
  and splits skewed partitions on the shuffle keys.
- as-of / range joins have no native DataFrame operator: expressed as
  equi-join + window pick (as-of) and equi-join + range predicate
  (interval) so the equi part still hash-partitions — never a pure
  cross product.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from ..sources.fixtures import _ARTIFACTS
from ._common import dsum, lsum, o_dsum, tpersist

_JOIN3_ORACLE = """
SELECT c.c_custkey, c.c_name, n.n_name, r.r_name
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
"""


def _join3(spark: SparkSession, sf_dir: str, force_broadcast: bool) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    if force_broadcast:
        n, r = F.broadcast(n), F.broadcast(r)
    return (
        c.join(n, c.c_nationkey == n.n_nationkey, "inner")
        .join(r, n.n_regionkey == r.r_regionkey, "inner")
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


@query("join_inner_equi", oracle=_JOIN3_ORACLE)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ nation ⋈ region; Catalyst auto-broadcasts the dims."""
    return _join3(spark, sf_dir, force_broadcast=False)


@query("join_broadcast_hint", oracle=_JOIN3_ORACLE)
def join_broadcast_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same star lookup with explicit broadcast() — the hint you reach for
    when stats are missing/stale on a real cluster."""
    return _join3(spark, sf_dir, force_broadcast=True)


_ORDER_LINE_ORACLE = """
SELECT o.o_orderkey, l.l_linenumber, o.o_totalprice, l.l_extendedprice, l.l_quantity
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderstatus = 'F'
"""


def _order_line(spark: SparkSession, sf_dir: str, hint: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    l = load_table(spark, sf_dir, "lineitem")
    return (
        o.hint(hint)
        .join(l.hint(hint), o.o_orderkey == l.l_orderkey, "inner")
        .select("o_orderkey", "l_linenumber", "o_totalprice", "l_extendedprice", "l_quantity")
    )


@query("join_sort_merge", oracle=_ORDER_LINE_ORACLE)
def join_sort_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact forced sort-merge — the robust strategy for two large
    sides (both shuffle-sorted on the key; spills gracefully)."""
    return _order_line(spark, sf_dir, "merge")


@query("join_shuffle_hash", oracle=_ORDER_LINE_ORACLE)
def join_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same pair forced shuffle-hash — cheaper than SMJ when one side's
    per-partition hash table fits memory (no sort)."""
    return _order_line(spark, sf_dir, "shuffle_hash")


@query(
    "join_left_outer",
    oracle="""
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
FROM customer c
LEFT JOIN orders o ON c.c_custkey = o.o_custkey AND o.o_orderstatus = 'O'
""",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep order-less customers (NULL right side)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cond = (c.c_custkey == o.o_custkey) & (o.o_orderstatus == "O")
    return c.join(o, cond, "left").select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


@query(
    "join_right_outer",
    oracle="""
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
FROM orders o
RIGHT JOIN customer c ON c.c_custkey = o.o_custkey AND o.o_orderstatus = 'O'
""",
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror of left outer (same result set from the flipped sides)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cond = (c.c_custkey == o.o_custkey) & (o.o_orderstatus == "O")
    return o.join(c, cond, "right").select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


@query(
    "join_full_outer",
    oracle=f"""
SELECT COALESCE(f.o_custkey, o.o_custkey) AS custkey,
       f.n_f, o.n_o
FROM (SELECT o_custkey, COUNT(*) AS n_f FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey) f
FULL JOIN (SELECT o_custkey, COUNT(*) AS n_o FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey) o
  ON f.o_custkey = o.o_custkey
""",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer over partially-overlapping key sets (F-only vs O-only
    customers survive with NULLs on the missing side)."""
    orders = load_table(spark, sf_dir, "orders")
    f_side = (
        orders.where(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("f_custkey"))
        .agg(F.count(F.lit(1)).alias("n_f"))
    )
    o_side = (
        orders.where(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("o_custkey"))
        .agg(F.count(F.lit(1)).alias("n_o"))
    )
    joined = f_side.join(o_side, f_side.f_custkey == o_side.o_custkey, "full")
    return joined.select(
        F.coalesce(F.col("f_custkey"), F.col("o_custkey")).alias("custkey"), "n_f", "n_o"
    )


@query(
    "join_left_semi",
    oracle="""
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
""",
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with ≥1 urgent order — semi join never duplicates the left."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_left_anti",
    oracle="""
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with zero orders (the churn/no-activity report)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "join_cross",
    oracle="""
SELECT a.r_name AS from_region, b.r_name AS to_region
FROM region a CROSS JOIN region b
""",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Cartesian product (5×5) — only ever for tiny inputs."""
    a = load_table(spark, sf_dir, "region").select(F.col("r_name").alias("from_region"))
    b = load_table(spark, sf_dir, "region").select(F.col("r_name").alias("to_region"))
    return a.crossJoin(b)


@query(
    "join_theta_range",
    oracle="""
SELECT a.event_id AS anchor_id, b.event_id AS nearby_id, a.user_id
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND b.ts BETWEEN a.ts - INTERVAL 5 MINUTE AND a.ts
 AND a.event_id <> b.event_id
""",
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-user event pairs within a trailing 5-minute window.

    The equi part (user_id) hash-partitions; the range predicate is
    evaluated inside each partition — no cross product at any scale.
    """
    ev = load_table(spark, sf_dir, "events")
    a = ev.alias("a")
    b = ev.alias("b")
    cond = (
        (F.col("a.user_id") == F.col("b.user_id"))
        & F.col("b.ts").between(F.col("a.ts") - F.expr("INTERVAL 5 MINUTES"), F.col("a.ts"))
        & (F.col("a.event_id") != F.col("b.event_id"))
    )
    return a.join(b, cond, "inner").select(
        F.col("a.event_id").alias("anchor_id"),
        F.col("b.event_id").alias("nearby_id"),
        F.col("a.user_id").alias("user_id"),
    )


@query(
    "join_asof",
    oracle="""
SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts, c.ts AS last_click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
""",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase → most recent click at-or-before it.

    Spark has no native as-of for DataFrames; expressed as equi-join on
    user + window pick of the latest qualifying click. DuckDB's native
    ASOF JOIN is the oracle. At 100 TB the equi-join on user_id still
    hash-partitions; the per-purchase window is bounded by that user's
    clicks. (Spark's ASOF exists only in pandas-on-Spark via merge_asof.)
    """
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"), F.col("ts").alias("click_ts")
    )
    joined = p.join(
        c, (p.user_id == c.c_user_id) & (p.purchase_ts >= c.click_ts), "left"
    )
    w = Window.partitionBy("purchase_id").orderBy(F.col("click_ts").desc_nulls_last())
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("purchase_id", "user_id", "purchase_ts", F.col("click_ts").alias("last_click_ts"))
    )


@query(
    "join_interval",
    oracle="""
SELECT l.l_orderkey, l.l_linenumber, o.o_orderdate, l.l_shipdate
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 90 DAY
""",
)
def join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitems shipped within 90 days of their order's date
    (equi key + interval predicate — time-window join)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cond = (l.l_orderkey == o.o_orderkey) & l.l_shipdate.between(
        o.o_orderdate, o.o_orderdate + F.expr("INTERVAL 90 DAYS")
    )
    return l.join(o, cond, "inner").select("l_orderkey", "l_linenumber", "o_orderdate", "l_shipdate")


@query(
    "join_star_multiway",
    oracle=f"""
SELECT o.o_orderkey,
       o.o_orderdate,
       {o_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
       ROW_NUMBER() OVER (ORDER BY {o_dsum('l.l_extendedprice * (1 - l.l_discount)')} DESC, o.o_orderkey ASC) AS rank_pos
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o.o_orderkey ASC
LIMIT 10
""",
)
def join_star_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped: 3-way star join + filters + agg + top-10.

    The dimensional-rollup pipeline of the reference generalized to a
    multi-table star. customer broadcast-joins into orders; the
    orders⋈lineitem leg shuffles on the order key; revenue follows the
    decimal-sum policy so the top-10 cut is deterministic. Groups are
    per-order (a handful of lineitems), so the exact sum runs on the
    single-level long path (lsum) — no decimal accumulation, values
    identical and order-independent (integer adds).

    r11 reshape (the paired same-scale protocol exposed the old plan as
    a consistent 2.3× DuckDB at x256 — previously adjudicated as
    denominator variance; verification/r11_q3_ab.json has the variant
    ladder):
      * SHUFFLED HASH JOIN for orders⋈lineitem (hint on the filtered
        orders side, the build): the old SMJ sorted the 131M-row
        filtered lineitem leg — the single largest cost in the plan.
        SHJ ships the same bytes but never sorts; the build side is the
        segment+date-filtered orders at |co|/shuffle.partitions rows
        per task (size partitions so that fits — the same contract
        join_skew_salted documents; at a scale where it can't, drop
        the hint and take the sort back).
      * Aggregate on o_orderkey ALONE (o_orderdate attached as min() —
        constant within an order): grouping on (orderkey, orderdate)
        made EnsureRequirements insert a SECOND full exchange of the
        joined rows, because the agg keys didn't match the join's
        hash(orderkey) partitioning. Single-key grouping reuses it —
        zero post-join exchanges. Measured ladder at x256: registered
        r10 plan 9.19 s, single-key agg 8.05 s, lineitem pre-agg
        before the join 7.90 s (the 37M-group hash agg gives back what
        the smaller shuffle saves), SHJ+single-key agg **4.67 s vs
        DuckDB 2.67 = 1.75×** (r10 protocol read 2.2–2.3×).
    Top-10 FIRST (TakeOrderedAndProject = distributed per-partition
    top-k + driver merge), THEN rank the 10 survivors — same rows and
    ranks as rank-then-limit (identical total order), but the global
    row_number never sees more than 10 rows in its single partition.
    """
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    revenue = lsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    co = (
        F.broadcast(c)
        .join(o, c.c_custkey == o.o_custkey)
        .select("o_orderkey", "o_orderdate")
    )
    agg = (
        l.join(co.hint("shuffle_hash"), l.l_orderkey == co.o_orderkey)
        .groupBy("o_orderkey")
        .agg(F.min("o_orderdate").alias("o_orderdate"), revenue.alias("revenue"))
        .select("o_orderkey", "o_orderdate", "revenue")
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
    return (
        agg.orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .withColumn("rank_pos", F.row_number().over(w))
    )


@query(
    "join_skew_salted",
    oracle="""
SELECT o.o_orderpriority,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6)))
            AS DOUBLE) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
""",
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted fact⋈dim join: identical result to the plain equi-join
    (the oracle IS the plain join), executed with an R=4 salt.

    The 100 TB skew recipe made first-class: the probe side gets a
    deterministic salt pmod(l_linenumber, 4); the build side is
    exploded ×4 (sequence 0..3) so every (key, salt) combination
    exists; the join runs on (key, salt), splitting any hot key's rows
    across 4 reducers instead of one straggler. Salting is the portable
    fallback for what AQE's skew-join split handles adaptively — you
    reach for it when the skew survives AQE (e.g. a skewed key feeding
    a downstream groupBy on the same key) or when the salt can be
    baked into the table layout at write time. The salt is derived
    from a DATA column (l_linenumber), not rand(): deterministic under
    retries — a task re-run after executor loss must salt identically
    or rows migrate between reducers mid-query. The join is hinted
    shuffle_hash: a broadcast would make salting moot (no shuffle to
    skew) and at real scale the build side doesn't broadcast.
    """
    _R = 4
    l = load_table(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.col("l_linenumber"), F.lit(_R)).cast("int")
    )
    o = load_table(spark, sf_dir, "orders").withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(_R - 1)))
    )
    joined = l.join(
        o.hint("shuffle_hash"),
        (l["l_orderkey"] == o["o_orderkey"]) & (l["salt"] == o["salt"]),
        "inner",
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


@query(
    "join_bucketed",
    oracle=f"""
SELECT o.o_orderpriority,
       COUNT(*) AS n_items,
       {o_dsum('l.l_quantity')} AS sum_qty
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
""",
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join — the pre-shuffled table LAYOUT that
    removes the join exchange entirely: both sides are written
    bucketed (bucket count sized to the session's shuffle parallelism,
    one file per bucket) and sorted on the join key, so the sort-merge
    join reads bucket i of each side together with NO Exchange on
    either leg (asserted by the plan audit: the plan's only Exchange
    is the final 5-group agg partial). Bucket count == parallelism
    matters at scale: a layout bucketed coarser than the cluster's
    cores caps the join's task count at #buckets (measured 5.5× at
    16× inflation with a fixed 8-bucket layout; at 100 TB the layout
    buckets by thousands).

    This is the canonical 100 TB answer for a fact⋈fact join that
    recurs (e.g. lineitem⋈orders on every report): pay the shuffle
    ONCE at layout time, then every subsequent join is exchange-free.
    Written as external tables (explicit path under _artifacts) so no
    Hive metastore is required — the in-memory catalog carries the
    bucketing metadata Spark's scan planner consumes.

    Honest residual: the plan keeps a bucket-LOCAL sort per leg even
    though sortBy pre-sorted each bucket file — since Spark 3.0 the
    scan only advertises sort order under the legacy
    ``bucketedTableScan.outputOrdering`` conf (using it requires
    planning-time file listing). The sorts are partition-local over
    presorted runs, cost O(n) merge-detection, and move no data; the
    eliminated TB-scale exchange is the point.
    """
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    specs = {
        "lineitem": ("l_orderkey", ["l_orderkey", "l_quantity"]),
        "orders": ("o_orderkey", ["o_orderkey", "o_orderpriority"]),
    }
    sf_id = sf_tag.replace(".", "_")
    for t, (key, cols) in specs.items():
        tbl = f"hja_bucketed_{t}_{sf_id}_b{n_buckets}"
        if not spark.catalog.tableExists(tbl):
            (
                load_table(spark, sf_dir, t)
                .select(*cols)
                # one file per bucket (repartition hash == bucket hash):
                # Spark only trusts sortBy order when a bucket is a
                # single file, so this is what makes the join SORT-free
                # as well as exchange-free
                .repartition(n_buckets, F.col(key))
                .write.format("parquet")
                .mode("overwrite")
                .option("path", os.path.join(_ARTIFACTS, tbl))
                .bucketBy(n_buckets, key)
                .sortBy(key)
                .saveAsTable(tbl)
            )
    li = spark.table(f"hja_bucketed_lineitem_{sf_id}_b{n_buckets}")
    od = spark.table(f"hja_bucketed_orders_{sf_id}_b{n_buckets}")
    # merge hint: at test SF the orders side fits the broadcast
    # threshold and Catalyst would (correctly) broadcast — which hides
    # the layout property this key exists to demonstrate. At 100 TB
    # fact⋈fact, SMJ is what you'd get anyway; the hint pins the
    # at-scale shape so the plan audit can PROVE bucket co-location:
    # SortMergeJoin with no Exchange and no Sort on either leg.
    return (
        li.join(od.hint("merge"), li["l_orderkey"] == od["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_items"), dsum("l_quantity").alias("sum_qty"))
    )


@query(
    "join_lateral_topk",
    oracle="""
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey ASC
  LIMIT 2
) o
""",
)
def join_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL (correlated table subquery) join: each customer's top-2
    orders by price — the SQL-surface twin of win_topk_per_group,
    included because users of the reference wrote per-entity drill-ins
    exactly this way and Spark SQL's LATERAL support is the direct
    translation target.

    Catalyst decorrelates the subquery into a window-over-join plan —
    same shuffle shape as the window formulation (one exchange on the
    correlation key), NOT a per-customer re-scan of orders: the
    lateral is syntax, the plan is relational. Both engines run the
    identical SQL text.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer c, LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey ASC
          LIMIT 2
        ) o
        """
    )


@query(
    "join_dpp_partitioned",
    oracle="""
WITH dim AS (
  SELECT * FROM (VALUES ('click', 1.0), ('purchase', 5.0)) AS t(event_type, weight)
)
SELECT e.event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value * d.weight AS DECIMAL(38,6))) AS DOUBLE) AS weighted_value
FROM events e JOIN dim d ON e.event_type = d.event_type
GROUP BY e.event_type
""",
)
def join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is a parquet layout
    PARTITIONED BY event_type (rewritten per call under _artifacts);
    joining it to a 2-row dimension makes Catalyst inject a runtime
    `dynamicpruning` subquery into the fact scan — only the 2 matching
    partitions (of 5) are read, decided at RUN time from the dim's
    values, not at plan time. The plan audit asserts the pruning
    expression; at 100 TB this is the difference between scanning the
    whole fact table and scanning the partitions the query touches.

    The weighted sum follows the decimal policy (value × small exact
    weight per row, decimal-summed).
    """
    sf_tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    path = os.path.join(_ARTIFACTS, f"events_by_type_{sf_tag}")
    # Always rewrite (as scan_schema_evolution does): a layout kept on a
    # _SUCCESS marker would outlive a regenerated events table at this
    # sf path and serve its stale rows.
    load_table(spark, sf_dir, "events").write.mode("overwrite").partitionBy(
        "event_type"
    ).parquet(path)
    ev = spark.read.parquet(path)
    # the filter on the dim side is what convinces the DPP heuristic
    # (pruningHasBenefit) that a runtime subquery will actually skip
    # partitions — an unfiltered dim is assumed to cover all of them
    dim = spark.createDataFrame(
        [("click", 1.0), ("purchase", 5.0), ("error", -1.0)],
        "event_type string, weight double",
    ).where(F.col("weight") > 0)
    return (
        ev.join(dim, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("value") * F.col("weight")).cast("decimal(38,6)"))
            .cast("double")
            .alias("weighted_value"),
        )
    )


@query(
    "join_product_line_profit",
    oracle=f"""
SELECT n.n_name AS nation, p.p_brand,
       COUNT(*) AS n_lines,
       {o_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
       SUM(l.l_quantity) AS sum_qty
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_retailprice > 1200
GROUP BY n.n_name, p.p_brand
""",
)
def join_product_line_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9-shaped product-line analysis: revenue by supplier
    nation × part brand for premium parts — the 4-way star that
    exercises every dimension in the catalog (part and supplier join
    the fact by l_partkey/l_suppkey; nation stacks on supplier).
    Catalyst broadcast-joins all three dims — the fact table shuffles
    ONLY for the final 125-group partial agg; the part filter prunes
    before its join. Revenue follows the decimal policy.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_retailprice") > 1200)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.sum("l_quantity").alias("sum_qty"),
        )
    )


@query(
    "join_null_safe_eq",
    oracle="""
WITH li AS (
  SELECT NULLIF(l_returnflag, 'N') AS flag_key, l_quantity FROM lineitem
), dim AS (
  SELECT * FROM (VALUES ('A', 'returned-A'), ('R', 'returned-R'),
                        (NULL, 'not-returned')) AS t(flag_key, label)
)
SELECT d.label,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(li.l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
FROM li JOIN dim d ON li.flag_key IS NOT DISTINCT FROM d.flag_key
GROUP BY d.label
""",
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM) — the
    join mode where NULL is a MATCHABLE key value instead of
    never-equal: here the 'N' returnflag is nulled out (the common
    "absent attribute" encoding) and a tiny label dim carries an
    explicit NULL row, so not-returned items join THROUGH the null.
    A plain equi-join silently drops that whole population — the
    classic silent-data-loss bug this operator exists to prevent.

    Scale: Catalyst plans `<=>` as an ordinary hash join with a
    null-safe key comparison (broadcast here — the dim is 3 rows), so
    the null population hashes to ONE key; if it were huge, that is
    the documented salting case (join_skew_salted).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.nullif(F.col("l_returnflag"), F.lit("N")).alias("flag_key"), "l_quantity"
    )
    dim = spark.createDataFrame(
        [("A", "returned-A"), ("R", "returned-R"), (None, "not-returned")],
        "flag_key string, label string",
    )
    return (
        li.join(F.broadcast(dim), li["flag_key"].eqNullSafe(dim["flag_key"]))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_items"), dsum("l_quantity").alias("sum_qty"))
    )


# Sized so the filter stays selective at sf0.1 (~30k urgent keys x 3
# hashes = 90k set bits): m = 2^20 -> fill ~8%, FPP ~6e-4. A saturated
# small bloom would silently degrade to an all-pass no-op (the oracle
# would still match — transparency cuts both ways — so the fill factor
# is asserted in tests/test_selfchecks.py).
_BLJ_M = 1 << 20  # bloom bits
_BLJ_K = 3  # hash functions


def _blj_pos_sql(key_sql: str, r: int) -> str:
    """Bloom bit position r for a key (Kirsch-Mitzenmacher double
    hashing: pos_r = (h1 + r*h2) mod m — k positions from two hash
    evaluations). Positions are ENGINE-INTERNAL (the oracle never
    computes them — the bloom is transparent to the exact result), so
    this uses Spark-native xxhash64, not the cross-engine md5 path:
    ~10× cheaper per row, which matters at #fact-rows. The wrap-around
    of h1 + r*h2 is deterministic long overflow, harmless for hashing.
    """
    return (
        f"pmod(pmod(xxhash64('b1', {key_sql}), {_BLJ_M})"
        f" + {r} * pmod(xxhash64('b2', {key_sql}), {_BLJ_M}), {_BLJ_M})"
    )


@query(
    "join_bloom_prejoin",
    oracle=f"""
SELECT date_trunc('month', o.o_orderdate) AS order_month,
       COUNT(*) AS n_items,
       {o_dsum("l.l_quantity")} AS sum_qty
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY 1
""",
)
def join_bloom_prejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction built from first principles:
    the urgent-orders key set becomes an m=2^20-bit k=3 bloom filter
    whose SET bit positions (≤ members×k rows) broadcast to every scan
    task, and each lineitem row is admitted only if all k of its hash
    positions hit — three broadcast hash-join probes, O(1) each in
    whole-stage codegen, BEFORE the exact join.

    This is the runtime-filter pattern (Spark's
    spark.sql.optimizer.runtime.bloomFilter does the same injection)
    made explicit as an operator: at 100 TB the probe side never
    shuffles non-joining rows — the filter costs k md5s + k broadcast
    lookups per row in the scan stage and removes ~(1-sel) of the fact
    table from the exchange. The oracle is the PLAIN join: bloom
    filters admit false positives (removed by the exact join behind)
    but never false negatives, so the hash match against the
    unfiltered join PROVES the reduction is lossless — the bloom is
    correctness-transparent.

    (A packed-words single-map-cell variant was measured first: Spark
    map lookup is a linear scan over ArrayBasedMapData, so a 16k-entry
    map cost O(m/64) per probe — 19 s at sf0.1 vs ~1 s for the
    position-set broadcast joins. Bit sets as broadcast hash relations
    ARE the O(1) formulation in Spark's execution model.)
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT")

    def hashed(df: DataFrame, key: str) -> DataFrame:
        # two cheap native hashes per row; k positions derived
        # arithmetically (double hashing)
        # mod-reduce each hash BEFORE combining: ANSI mode (Spark 4
        # default) errors on the raw-long overflow of h1 + r*h2, and
        # (h1%m + r*(h2%m)) % m is the same position without overflow
        return df.withColumn(
            "_h1", F.pmod(F.xxhash64(F.lit("b1"), F.col(key)), F.lit(_BLJ_M))
        ).withColumn("_h2", F.pmod(F.xxhash64(F.lit("b2"), F.col(key)), F.lit(_BLJ_M)))

    pos_union = None
    hu = hashed(urgent, "o_orderkey")
    for r in range(_BLJ_K):
        p = hu.select(F.expr(f"pmod(_h1 + {r} * _h2, {_BLJ_M})").alias("pos"))
        pos_union = p if pos_union is None else pos_union.unionAll(p)
    # tiny (≤ members×k rows); persisted so the three broadcast builds
    # don't re-run the distinct pipeline (plan showed 3× otherwise)
    bits = pos_union.distinct().transform(tpersist)

    pre = hashed(li, "l_orderkey")
    for r in range(_BLJ_K):
        br = bits.select(F.col("pos").alias(f"_p{r}")).withColumn(f"_hit{r}", F.lit(1))
        pre = pre.join(
            F.broadcast(br),
            F.expr(f"pmod(_h1 + {r} * _h2, {_BLJ_M})") == F.col(f"_p{r}"),
            "left",
        )
    pre = pre.where(
        F.expr(" AND ".join(f"_hit{r} = 1" for r in range(_BLJ_K)))
    ).select(li.columns)
    # the semi-join-reduced dim side broadcasts for the exact join —
    # static stats under-estimate it behind the filter, so hint it
    joined = pre.join(
        F.broadcast(urgent.select("o_orderkey", "o_orderdate")),
        pre.l_orderkey == F.col("o_orderkey"),
    )
    return joined.groupBy(F.date_trunc("month", "o_orderdate").alias("order_month")).agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum("l_quantity").alias("sum_qty"),
    )


_RB_N_WINDOWS = 20
_RB_EPOCH0 = 1704067200  # 2024-01-01 00:00:00 UTC, the fixture's origin
_RB_STRIDE_S = 118800  # 33 h between window starts
_RB_LEN_S = 7200  # 2 h window length


@query(
    "join_range_bucketed",
    oracle=f"""
WITH wins AS (
  SELECT k AS window_id,
         make_timestamp(({_RB_EPOCH0} + k * {_RB_STRIDE_S}) * 1000000) AS w_start,
         make_timestamp(({_RB_EPOCH0} + k * {_RB_STRIDE_S} + {_RB_LEN_S}) * 1000000) AS w_end
  FROM (SELECT UNNEST(generate_series(0, {_RB_N_WINDOWS - 1})) AS k)
)
SELECT w.window_id, COUNT(*) AS n_events, COUNT(DISTINCT e.user_id) AS n_users
FROM wins w JOIN events e ON e.ts >= w.w_start AND e.ts < w.w_end
GROUP BY w.window_id
""",
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURE range join (NO equi key): events against a grid of 2-hour
    incident windows, executed as a BUCKET EQUI-JOIN — each interval
    explodes into the hour buckets it covers, events map to their hour
    bucket, the join runs on the bucket key, and the exact range
    predicate filters the bucket-mates.

    This is THE distributed strategy for interval joins Catalyst would
    otherwise run as BroadcastNestedLoopJoin (fine for 20 windows,
    fatal when both sides are large): bucketing turns an O(|L|·|R|)
    nested loop into a hash-partitioned equi-join whose per-bucket
    fan-out is bounded by interval length / bucket width (≤ 3 here).
    join_theta_range covers the equi+range hybrid; this key covers the
    no-shared-key case. All-integer bucket arithmetic; counts only —
    no float policy needed.
    """
    wins = (
        spark.range(_RB_N_WINDOWS)
        .select(
            F.col("id").cast("int").alias("window_id"),
            (F.lit(_RB_EPOCH0) + F.col("id") * _RB_STRIDE_S).alias("s_epoch"),
            (F.lit(_RB_EPOCH0) + F.col("id") * _RB_STRIDE_S + _RB_LEN_S).alias("e_epoch"),
        )
    )
    w_buckets = wins.select(
        "window_id",
        "s_epoch",
        "e_epoch",
        F.explode(
            F.sequence(F.expr("s_epoch div 3600"), F.expr("(e_epoch - 1) div 3600"))
        ).alias("bucket"),
    )
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("long").alias("ev_epoch")
    ).withColumn("bucket", F.expr("ev_epoch div 3600"))
    joined = ev.join(F.broadcast(w_buckets), "bucket").where(
        (F.col("ev_epoch") >= F.col("s_epoch")) & (F.col("ev_epoch") < F.col("e_epoch"))
    )
    return joined.groupBy("window_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "join_q4_priority_semi",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_discount >= 0.08
)
GROUP BY o_orderpriority
""",
)
def join_q4_priority_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped order-priority check: count orders, per priority
    class, having at least one qualifying line (here: deep-discount,
    l_discount ≥ 0.08 — this fixture has no commit/receipt dates, so
    the lateness predicate is adapted; the PLAN is Q4's: EXISTS →
    left-semi join → tiny rollup).

    Scale shape: the semi-join probes lineitem's filtered keys
    (projection = the 8-byte orderkey only, predicate pushed to the
    scan), never materializes the match multiplicity, and the rollup is
    #priorities cells — Q4 is THE benchmark for exists-decorrelation
    and this is the same Catalyst rewrite join_left_semi pins.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    keys = li.where(F.col("l_discount") >= 0.08).select(F.col("l_orderkey").alias("o_orderkey"))
    return (
        o.join(keys, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "join_q18_large_orders",
    oracle="""
SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice,
       CAST(t.sum_qty AS DOUBLE) AS sum_qty
FROM orders o
JOIN (
  SELECT l_orderkey, SUM(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
) t ON t.l_orderkey = o.o_orderkey
ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
LIMIT 20
""",
)
def join_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume orders): aggregate lineitem per order,
    HAVING filters the heavy ones, join back to orders, global top-20
    by price — the agg→having→join-back→top-k composition that stresses
    whether the HAVING filter lands BEFORE the join (it must: the
    filtered aggregate is tiny, so AQE broadcasts it into orders).

    Quantities are integral doubles, so their sums are exact in ANY
    accumulation order — no decimal policy needed (the one float-sum
    case that's naturally deterministic). Top-20 is TakeOrdered
    (distributed partial top-k), never a global sort.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    heavy = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 150)
        .withColumnRenamed("l_orderkey", "o_orderkey")
    )
    return (
        o.join(heavy, "o_orderkey")
        .select("o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


@query(
    "join_q7_volume_shipping",
    oracle=f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
       CAST(COUNT(*) AS BIGINT) AS n_lineitems,
       {o_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
FROM lineitem l
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
""",
)
def join_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bilateral trade revenue between two
    nations by ship year — the 5-way snowflake whose selectivity lives
    in the DIMENSIONS, not the fact table. Plan shape that matters at
    100 TB: the two single-nation filters shrink supplier and customer
    to ~1/25 each BEFORE their joins; nation (25 rows) is explicitly
    broadcast, while the filtered supplier/customer sides are left to
    AQE — it broadcasts them while they fit and falls back to a keyed
    shuffle when a 100 TB customer/25 no longer does (the r4 policy:
    no forced broadcasts whose safety depends on data volume). The
    shipdate range predicate is pushed to the lineitem scan.

    Revenue follows the decimal(38,6) exact-sum policy (_common.py);
    the year-pair group count is ~4 rows, so the final agg is
    metadata-sized regardless of input scale.
    """
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pair = F.col("n_name").isin("NATION_1", "NATION_2")
    s = (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(F.broadcast(n.where(pair)), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(n.where(pair)), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    joined = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .where(F.col("supp_nation") != F.col("cust_nation"))
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
    ).agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


@query(
    "join_q19_disjunctive",
    oracle=f"""
SELECT p.p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       {o_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size <= 10 AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#2' AND p.p_size <= 20 AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#3' AND p.p_size <= 30 AND l.l_quantity BETWEEN 20 AND 40)
GROUP BY p.p_brand
""",
)
def join_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): a join whose predicate is an
    OR-of-ANDs SPANNING both tables — the shape naive planners execute
    as join-everything-then-filter. What Catalyst does instead (and why
    this key exists): each disjunct's single-table conjuncts are
    extracted and pushed through the OR, so the part scan receives
    (brand1 ∧ size≤10) ∨ (brand2 ∧ size≤20) ∨ (brand3 ∧ size≤30) and
    lineitem receives the quantity-band union — both BEFORE the join,
    shrinking the build side ~25× at the scan. The residual cross-table
    disjunction evaluates post-join on survivors only. At 100 TB the
    pushed brand/size filter is also a row-group pruning predicate in
    parquet (min/max stats), so most part row groups never decompress.

    Revenue follows the decimal(38,6) exact-sum policy; the output is
    a ≤3-row per-brand rollup.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    band = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10)
         & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20)
           & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 30)
           & F.col("l_quantity").between(20, 40))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .where(band)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )


@query(
    "join_q21_sole_failing_supplier",
    oracle="""
WITH pairs AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
), r_pairs AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R'
), multi AS (
  SELECT r.l_orderkey, r.l_suppkey FROM r_pairs r
  WHERE EXISTS (SELECT 1 FROM pairs o
                WHERE o.l_orderkey = r.l_orderkey AND o.l_suppkey <> r.l_suppkey)
), only_failed AS (
  SELECT m.l_orderkey, m.l_suppkey FROM multi m
  WHERE NOT EXISTS (SELECT 1 FROM r_pairs r2
                    WHERE r2.l_orderkey = m.l_orderkey AND r2.l_suppkey <> m.l_suppkey)
)
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM only_failed o JOIN supplier s ON s.s_suppkey = o.l_suppkey
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name ASC
LIMIT 20
""",
)
def join_q21_sole_failing_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
    this fixture's columns (return flag stands in for the missing
    receipt/commit dates): suppliers whose lines were RETURNED on
    multi-supplier orders where NO OTHER supplier's lines were returned
    — the double-correlated-subquery shape (EXISTS + NOT EXISTS against
    the same fact table) that separates planners which decorrelate from
    planners which re-scan per row.

    Spark-first decorrelation, explicit: both subqueries become keyed
    joins on the DISTINCT (orderkey, suppkey) pair sets — EXISTS → a
    left-semi join (other-supplier pairs on the order), NOT EXISTS → a
    left-anti join (other RETURNED pairs) — so the fact table is scanned
    ONCE for each pair set and everything after is hash-partitioned on
    l_orderkey (two shuffles of 16-byte pairs, never lineitem rows).
    The final top-20 is TakeOrdered, not a global sort. At 100 TB both
    pair sets are ~|orders|·avg-suppliers rows — the dedup happens
    BEFORE the self-joins, which is the whole trick.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select("l_orderkey", "l_suppkey").distinct()
    r_pairs = (
        li.where(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey").distinct()
    )
    other = pairs.select(
        F.col("l_orderkey").alias("o_ok"), F.col("l_suppkey").alias("o_sk")
    )
    multi = r_pairs.join(
        other,
        (F.col("l_orderkey") == F.col("o_ok")) & (F.col("l_suppkey") != F.col("o_sk")),
        "left_semi",
    )
    other_r = r_pairs.select(
        F.col("l_orderkey").alias("r_ok"), F.col("l_suppkey").alias("r_sk")
    )
    only_failed = multi.join(
        other_r,
        (F.col("l_orderkey") == F.col("r_ok")) & (F.col("l_suppkey") != F.col("r_sk")),
        "left_anti",
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        only_failed.join(s, only_failed.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )
