"""Category E — window functions (SURVEY.md §2.E).

The log-analytics showcase: per-entity rankings, inter-event gaps,
running counters, sliding windows, and gaps-and-islands sessionization
(the flagship — the reference's notion of job runs over time [R-M],
done properly). Each window is one shuffle on the partition keys plus
a per-partition sort; numeric RANGE frames and rows frames never
materialize the partition in Python.

Determinism rules applied throughout (§5.3): every ORDER BY carries a
full tiebreak; money sums inside frames go through the decimal cast;
ratios are exact integer-derived doubles.

Scale: partitionBy(user_id) distributes; the one global-window key
(win_ntile_pct over 15 k customers) is a deliberate single-partition
sort — at 100 TB you'd pre-aggregate or bucket first (noted on the key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from ._common import dec, distributed_rank


@query(
    "win_topk_per_group",
    oracle="""
SELECT c_mktsegment, o_orderkey, o_totalprice, rk
FROM (
  SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                            ORDER BY o.o_totalprice DESC, o.o_orderkey ASC) AS rk
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
WHERE rk <= 3
""",
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per market segment (top-N per crossection)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
    )


@query(
    "win_rank_dense",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity,
       RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS qty_rank,
       DENSE_RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS qty_dense_rank
FROM lineitem
""",
)
def win_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank with real ties (integer-valued quantities repeat;
    tied rows get identical ranks in both engines — no tiebreak needed
    because the rank itself is the tested value)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(F.col("l_quantity").desc())
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.rank().over(w).alias("qty_rank"),
        F.dense_rank().over(w).alias("qty_dense_rank"),
    )


@query(
    "win_lag_lead",
    oracle="""
SELECT event_id, user_id, ts,
       date_diff('second',
                 LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                 ts) AS gap_sec,
       LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
FROM events
""",
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap seconds (the inter-job gap of the reference).

    Second-granularity diff: Spark's timestamp→long cast truncates to
    whole seconds, matching DuckDB's boundary-counting date_diff.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (F.col("ts").cast("long") - F.lag(F.col("ts")).over(w).cast("long")).alias("gap_sec"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@query(
    "win_running_sum",
    oracle="""
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS cum_spend
FROM orders
""",
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative revenue per customer over time (running counters [R-M]);
    decimal accumulation keeps the running sum exact at every prefix."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("cum_spend"),
    )


@query(
    "win_moving_avg",
    oracle="""
SELECT day, n_events,
       CAST(SUM(CAST(day_value AS DECIMAL(38,6))) OVER w AS DOUBLE)
         / SUM(n_events) OVER w AS avg_value_7d
FROM (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS day_value
  FROM events
  GROUP BY 1
)
WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
""",
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of per-event value (smoothing): daily rollup
    first (tiny), then a rows-frame window over days — never a window
    over raw events.

    Boundedness: the partition-less window runs over the DAILY rollup,
    whose row count is the calendar span, not the data volume — 36.5k
    rows per century, driver-safe at any corpus size. If a deployment
    ever carried multi-millennium spans, partition by year with a
    6-day carry-in union; at every realistic span the single-partition
    day grid is the cheaper plan (same argument for win_rolling_median
    and ts_ewma_daily)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec("value")).cast("double").alias("day_value"),
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    return daily.select(
        "day",
        "n_events",
        (F.sum(dec("day_value")).over(w).cast("double") / F.sum("n_events").over(w)).alias(
            "avg_value_7d"
        ),
    )


@query(
    "win_range_frame",
    oracle="""
SELECT event_id, user_id, epoch_sec,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER (
         PARTITION BY user_id ORDER BY epoch_sec
         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS trailing_hour_value
FROM (SELECT event_id, user_id, value,
             date_diff('second', TIMESTAMP '1970-01-01 00:00:00', ts) AS epoch_sec
      FROM events)
""",
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric RANGE frame: per-user trailing-3600 s value sum (sliding
    counters). RANGE (unlike ROWS) includes all peers of the current
    epoch second, so same-second events agree across engines."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "epoch_sec", F.col("ts").cast("long")
    )
    w = Window.partitionBy("user_id").orderBy("epoch_sec").rangeBetween(-3600, 0)
    return ev.select(
        "event_id",
        "user_id",
        "epoch_sec",
        F.sum(dec("value")).over(w).cast("double").alias("trailing_hour_value"),
    )


@query(
    "win_ntile_pct",
    oracle="""
SELECT c_custkey, c_acctbal,
       NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS bal_quartile,
       PERCENT_RANK() OVER (ORDER BY c_acctbal, c_custkey) AS bal_pct_rank,
       CUME_DIST() OVER (ORDER BY c_acctbal, c_custkey) AS bal_cume_dist
FROM customer
""",
)
def win_ntile_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile / percent_rank / cume_dist of account balance — computed
    DISTRIBUTED: a global NTILE/PERCENT_RANK window single-partitions
    the whole table, so the rank comes from _common.distributed_rank
    (range partition + local windows + broadcast offsets) and the three
    window functions become exact closed forms of (rank, n) — valid
    because the sort key (c_acctbal, c_custkey) is unique, so ties are
    impossible:

      percent_rank = (rank-1)/(n-1);  cume_dist = rank/n;
      ntile(4)     = the SQL-standard uneven split: the first n%4
                     tiles get ceil(n/4) rows, the rest floor(n/4).

    The oracle keeps the BUILT-IN global-window forms — the hash match
    proves the distributed formulation is value-identical to them.
    Ratios are exact integer divisions → exact double equality.

    Degenerate inputs are guarded to match the built-ins: n = 1 gives
    percent_rank 0.0 (not 0/0 → NULL), and n < 4 takes the all-large-
    tiles branch (small = floor(n/4) = 0 must never divide).
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ranked = distributed_rank(
        c, F.col("c_acctbal").asc(), F.col("c_custkey").asc(), out_col="rnk"
    )
    n = ranked.agg(F.count(F.lit(1)).alias("n"))
    r = F.col("rnk")
    big, small = F.ceil(F.col("n") / 4), F.floor(F.col("n") / 4)
    n_big = F.col("n") % 4  # number of tiles that get the larger size
    cut = n_big * big  # rows covered by the large tiles
    # With n < 4 every row is inside the large tiles (cut = n), so the
    # small-tile branch is unreachable — but guard it anyway so the
    # division can never see small = 0 on a tiny/filtered input.
    quartile = F.when((r <= cut) | (small == 0), F.ceil(r / big)).otherwise(
        n_big + F.ceil((r - cut) / small)
    )
    pct_rank = F.when(F.col("n") > 1, (r - 1) / (F.col("n") - 1)).otherwise(F.lit(0.0))
    return ranked.crossJoin(F.broadcast(n)).select(
        "c_custkey",
        "c_acctbal",
        quartile.cast("int").alias("bal_quartile"),
        pct_rank.alias("bal_pct_rank"),
        (r / F.col("n")).alias("bal_cume_dist"),
    )


@query(
    "win_first_last",
    oracle="""
SELECT DISTINCT user_id,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       FIRST_VALUE(event_type) OVER w AS first_type,
       LAST_VALUE(event_type) OVER w AS last_type
FROM events
WINDOW w AS (PARTITION BY user_id, CAST(date_trunc('day', ts) AS TIMESTAMP)
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last event type per user-day — with the explicit full frame
    (default frame stops at CURRENT ROW, a classic silent-wrong-answer)."""
    ev = load_table(spark, sf_dir, "events").withColumn("day", F.date_trunc("day", "ts"))
    w = (
        Window.partitionBy("user_id", "day")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        ev.select(
            "user_id",
            "day",
            F.first("event_type").over(w).alias("first_type"),
            F.last("event_type").over(w).alias("last_type"),
        )
        .distinct()
    )


@query(
    "win_share_of_total",
    oracle="""
SELECT event_id, event_type, value,
       value / CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER (PARTITION BY event_type) AS DOUBLE)
         AS share_of_type
FROM events
""",
)
def win_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row share of its dimension's total (% of total per crossection
    [R-M]); the partition total is decimal-exact so every share divides
    identical doubles."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    return ev.select(
        "event_id",
        "event_type",
        "value",
        (F.col("value") / F.sum(dec("value")).over(w).cast("double")).alias("share_of_type"),
    )


# Named so quality.win_session_length_histogram can wrap it as a CTE —
# one definition of the 30-min session grouping across both keys.
SESSIONIZE_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR date_diff('second', LAG(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts, event_id,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
  FROM flagged
)
SELECT user_id, session_idx,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       date_diff('second', MIN(ts), MAX(ts)) AS duration_sec
FROM numbered
GROUP BY user_id, session_idx
"""


# Shared with quality.agg_session_bounce_rate and the salted twin below —
# one definition of the bounce-rate semantics across plain and salted keys.
BOUNCE_RATE_ORACLE = """
WITH flagged AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, event_type, ts, event_id,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM flagged
), sessions AS (
  SELECT user_id, session_idx,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         FIRST(event_type ORDER BY ts, event_id) AS entry_type
  FROM numbered GROUP BY user_id, session_idx
)
SELECT entry_type,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
       ROUND(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS bounce_rate
FROM sessions GROUP BY entry_type
"""


def win_sessionize_double_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy execution twin of win_sessionize: the textbook
    gaps-and-islands chain (lag → gap flag → running sum → per-session
    aggregation) that was the registered implementation through r9. All
    event rows pass through one exchange + sort + TWO Window operators
    before the aggregate — no partial aggregation is possible, so at
    x256 it measured 2.87× DuckDB (verification/r10_sessionize_ab.json) while
    the session_window formulation now registered measured 0.97×. Kept
    unregistered as the reference that tests/test_wave19.py pins
    hash-equal to the registered key.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | ((F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")) > 1800),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    numbered = flagged.withColumn(
        "session_idx",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return numbered.groupBy("user_id", "session_idx").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max("ts").cast("long") - F.min("ts").cast("long")).alias("duration_sec"),
    )


@query("win_sessionize", oracle=SESSIONIZE_ORACLE)
def win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP log-analytics op — gaps-and-islands sessionization:
    30-minute-gap sessions per user, as ONE partially-aggregating
    session_window merge + a row_number over per-SESSION rows (r10;
    previously the lag→running-sum double-window chain, kept as
    win_sessionize_double_window).

    Exactness vs the oracle's truncated-SECOND diff > 1800 rule (DuckDB
    date_diff('second')/Spark cast-to-long are both truncations):
    session_window merges TOUCHING intervals — an event joins iff
    ts ≤ last + gapDuration (verified empirically r10: with a 1801 s gap
    a trunc-diff-1801 pair at sf0.01 merged; with 1800 s both SFs
    hash-match) — so feeding it ts truncated to whole seconds with a
    1800 s gap reproduces the rule exactly: merge ⇔ trunc diff ≤ 1800.
    Session assignment depends only on the sorted per-user multiset of
    truncated seconds (the oracle's event_id tiebreak never affects
    which events share a session, nor min/max/count), and min/max/count
    run over the ORIGINAL µs timestamps. session_idx is re-derived as a
    row_number per user ordered by session_start — a user's sessions are
    > 1800 s apart, so the order is total and deterministic.

    Why this formulation at 100×: the event-row work is a PARTIAL
    aggregation — map-side session-fragment merging compresses before
    the shuffle (the double-window chain must shuffle and sort every
    event row, then run two full window passes; no partial agg is
    possible under a window). The only window pass left runs over
    per-session rows, orders of magnitude fewer. Measured same-scale
    (verification/r10_sessionize_ab.json, symmetric protocol, x256 = 25.6 M
    events): 1.18 s vs DuckDB 1.217 s = **0.97×** (was 2.87×), and the
    ratio FALLS with scale (3.22× at x64, fixed-cost-dominated there).
    Skew: a hot user's reduce-side work is session-fragment-bounded
    (≤ #map-partitions × its sessions), not event-bounded — MEASURED at
    skew_x256 (hot user = 20% of 25.6 M events,
    verification/r10_skew_sessionize.json): this plan 3.34 s vs the
    legacy chain's 8.62 s (hot-partition serialization) and the salted
    twin's 3.66 s — the registered key now beats even the salt under
    heavy skew. `win_sessionize_salted` (hash-equal by
    tests/test_wave19.py::test_salted_sessionize_hash_equals_plain)
    remains as the strictly-bounded variant for the pathological case
    the fragment bound doesn't cover: a single user-SESSION too large
    for one task's merge buffer.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    sess = (
        ev.groupBy(
            "user_id",
            F.session_window(
                F.col("ts").cast("long").cast("timestamp"), "1800 seconds"
            ).alias("_win"),
        )
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            (F.max("ts").cast("long") - F.min("ts").cast("long")).alias(
                "duration_sec"
            ),
        )
        .drop("_win")
    )
    wu = Window.partitionBy("user_id").orderBy("session_start")
    return sess.select(
        "user_id",
        F.row_number().over(wu).cast("bigint").alias("session_idx"),
        "session_start",
        "session_end",
        "n_events",
        "duration_sec",
    )


def _salted_session_chain(ev: DataFrame, extra_part_aggs: tuple = ()) -> DataFrame:
    """Shared machinery of the salted-sessionize twins: the (user, day)
    HEAVY pass producing session PARTS (with optional extra per-part
    aggregates, e.g. the part's first event for entry-type analytics),
    then the LIGHT per-user chain assigning session_idx. See
    `win_sessionize_salted` for the exactness argument."""
    salted = ev.withColumn("_day", F.to_date("ts"))
    w = Window.partitionBy("user_id", "_day").orderBy("ts", "event_id")
    flagged = salted.withColumn(
        "new_part",
        F.when(
            F.lag("ts").over(w).isNull()
            | ((F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")) > 1800),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    numbered = flagged.withColumn(
        "part_idx",
        F.sum("new_part").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    parts = numbered.groupBy("user_id", "_day", "part_idx").agg(
        F.min("ts").alias("p_start"),
        F.max("ts").alias("p_end"),
        F.count(F.lit(1)).alias("p_n"),
        *extra_part_aggs,
    )
    # Per-user parts have pairwise-distinct start times (distinct parts of
    # one day are ≥30 min apart; parts of different days live in disjoint
    # days), so p_start is a total order — the running sum is deterministic.
    wu = Window.partitionBy("user_id").orderBy("p_start")
    return parts.withColumn(
        "new_session",
        F.when(
            F.lag("p_end").over(wu).isNull()
            | (
                (F.col("p_start").cast("long") - F.lag("p_end").over(wu).cast("long"))
                > 1800
            ),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "session_idx",
        F.sum("new_session").over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


@query("win_sessionize_salted", oracle=SESSIONIZE_ORACLE)
def win_sessionize_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe twin of `win_sessionize` (VERDICT r6 task #6) — same
    output, salted execution. Registered in round 8 (VERDICT r7 task #3:
    the twins are oracle-ready and hash-equal to the plain keys at two
    SFs — tests/test_wave19.py — so registering them puts the skew-safe
    paths under the external hash gate). Oracle is the plain key's:
    identical result is the whole point. Its skew win is recorded in
    BASELINE.md ("salted twins at skew_x256": 1.9-2.5x).

    Two-level plan, the hierarchical gaps-and-islands repair:
      1. HEAVY pass, salted: sessionize per (user_id, calendar day) —
         the event-level lag/flag/running-sum windows partition on
         (user, day), so a hot user's events spread across as many
         tasks as they span days instead of serializing onto one.
         Within-day session parts are exact (internal gaps ≤ 30 min);
         only sessions crossing midnight are split.
      2. LIGHT pass, per-user: collapse each part to a 1-row summary
         (start, end, n) and redo gaps-and-islands AT THE SESSION
         LEVEL — a part chains onto the previous part iff
         start − prev_end ≤ 30 min. Same-day parts never re-merge
         (their gaps are > 30 min by construction), boundary parts
         merge exactly when the event-level rule would have (the gap
         between a part's end and the next part's start IS the
         consecutive-event gap across the boundary) — so the fixed
         point equals the unsalted result row-for-row, and session_idx
         renumbers 1..k in the same time order.
    The per-user window now touches #session-parts rows, not #events —
    the hot user costs O(sessions · days) instead of O(events), and the
    event-heavy work is embarrassingly parallel across (user, day).
    """
    chained = _salted_session_chain(load_table(spark, sf_dir, "events"))
    return chained.groupBy("user_id", "session_idx").agg(
        F.min("p_start").alias("session_start"),
        F.max("p_end").alias("session_end"),
        F.sum("p_n").alias("n_events"),
        (F.max("p_end").cast("long") - F.min("p_start").cast("long")).alias(
            "duration_sec"
        ),
    )


@query("agg_session_bounce_rate_salted", oracle=BOUNCE_RATE_ORACLE)
def agg_session_bounce_rate_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe twin of `agg_session_bounce_rate` (the r6 skew basket
    measured the plain key degrading 1.6× when one user owns 20% of
    events — the same hot-partition serialization win_sessionize_salted
    fixes). Same output, salted execution; registered in round 8
    (VERDICT r7 task #3) under the plain key's oracle — identical result
    is the contract, pinned by test_wave19.py at two SFs. Also exercised
    by the skew curve program.

    Rides `_salted_session_chain` with one extra per-part aggregate: the
    part's first event as a (ts, event_id, event_type) min-struct. A
    session's entry event is the min over its parts' firsts (struct
    ordering starts on ts, and part time-ranges are disjoint), so the
    per-session reduce stays O(#parts). Bounces: n_events == 1 means ONE
    part with p_n == 1 (a single event can't span parts)."""
    chained = _salted_session_chain(
        load_table(spark, sf_dir, "events"),
        (F.min(F.struct(F.col("ts"), F.col("event_id"), F.col("event_type"))).alias("_pfirst"),),
    )
    sessions = chained.groupBy("user_id", "session_idx").agg(
        F.sum("p_n").alias("n_events"),
        F.min("_pfirst").alias("_first"),
    )
    return (
        sessions.select(
            F.col("_first.event_type").alias("entry_type"), "n_events"
        )
        .groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).alias("n_bounces"),
        )
        .select(
            "entry_type",
            "n_sessions",
            "n_bounces",
            F.round(F.col("n_bounces") / F.col("n_sessions").cast("double"), 6).alias(
                "bounce_rate"
            ),
        )
    )


@query(
    "win_fill_forward",
    oracle="""
WITH masked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN value < 10 THEN NULL ELSE value END AS val_masked
  FROM events
)
SELECT user_id, event_id, ts, val_masked,
       LAST_VALUE(val_masked IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS val_filled
FROM masked
""",
)
def win_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (LOCF) per user: gaps (masked low readings) carry
    the last observed value forward — the time-series imputation verb
    (`last_value IGNORE NULLS` == Spark `last(ignorenulls=True)` over a
    running frame). One shuffle on user_id + per-partition sort; the
    fill itself is a streaming frame, never materializing the
    partition. Values pass through unmasked (no arithmetic), so the
    match is exact, not float-policy."""
    ev = load_table(spark, sf_dir, "events")
    masked = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("value") < 10, None).otherwise(F.col("value")).alias("val_masked"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return masked.withColumn(
        "val_filled", F.last("val_masked", ignorenulls=True).over(w)
    )


@query(
    "ts_gapfill_hourly",
    oracle="""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
  FROM events GROUP BY 1, 2
), b AS (
  SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1 FROM events
), grid AS (
  SELECT t.event_type, u.hr
  FROM (SELECT DISTINCT event_type FROM events) t, b,
       UNNEST(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS u(hr)
)
SELECT g.event_type, g.hr,
       COALESCE(h.n_events, 0) AS n_events,
       COALESCE(h.sum_value, CAST(0.0 AS DOUBLE)) AS sum_value,
       CASE WHEN h.n_events IS NULL THEN 1 ELSE 0 END AS is_gap
FROM grid g LEFT JOIN hourly h USING (event_type, hr)
""",
)
def ts_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly rollup with gap filling — the hypertable/timeseries
    rollup shape: aggregate to hour × type, then LEFT-join a generated
    dense hour grid so silent hours appear as explicit zero rows
    (`is_gap` marks them).

    The grid is `sequence(min_hour, max_hour, 1 hour)` exploded from a
    1-row bound aggregate crossed with the distinct types — hours ×
    types rows total (tiny at any corpus scale: 1 year × 1000 types =
    8.8 M), so Catalyst broadcast-joins it against the shuffled hourly
    partials; the fact table is touched exactly once, by the partial
    agg. Money sums follow the decimal policy."""
    ev = load_table(spark, sf_dir, "events")
    hr = F.date_trunc("hour", F.col("ts"))
    hourly = ev.groupBy(F.col("event_type"), hr.alias("hr")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec("value")).cast("double").alias("sum_value"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("hr")
    ).crossJoin(ev.select("event_type").distinct())
    return grid.join(hourly, ["event_type", "hr"], "left").select(
        "event_type",
        "hr",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        F.when(F.col("n_events").isNull(), 1).otherwise(0).alias("is_gap"),
    )


@query(
    "funnel_stages",
    oracle="""
WITH c AS (
  SELECT user_id, MIN(ts) AS t_click FROM events WHERE event_type = 'click' GROUP BY user_id
), v AS (
  SELECT e.user_id, MIN(e.ts) AS t_view
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'view' AND e.ts > c.t_click
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'purchase' AND e.ts > v.t_view
  GROUP BY e.user_id
)
SELECT
  (SELECT COUNT(*) FROM c) AS n_click,
  (SELECT COUNT(*) FROM v) AS n_click_view,
  (SELECT COUNT(*) FROM p) AS n_click_view_purchase
""",
)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis — users progressing click → view → purchase IN
    ORDER: stage 2 counts only views after the user's first click,
    stage 3 only purchases after that first qualifying view. The
    conversion report every event pipeline ships (and the ordered-
    sequence semantics a naive 3-way distinct-join gets wrong).

    Three chained min-aggregations, each joining the previous stage's
    (user, ts) frontier — every stage is one partial-agg shuffle on
    user_id and the frontier tables only shrink. At 100 TB: identical
    plan, with the event scan pruned to the 3 funnel types by the
    pushed-down IN filter.
    """
    ev = load_table(spark, sf_dir, "events")
    c = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        c.agg(F.count(F.lit(1)).alias("n_click"))
        .crossJoin(v.agg(F.count(F.lit(1)).alias("n_click_view")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_click_view_purchase")))
    )


@query(
    "cohort_retention",
    oracle="""
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT e.user_id, f.cohort_day,
         date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT cohort_day, day_offset, COUNT(*) AS n_users
FROM activity
GROUP BY cohort_day, day_offset
""",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — users bucketed by first-seen day, then
    counted by how many days later they came back (the DAU-retention
    triangle). Two shuffles total: the per-user first-day aggregate,
    then a distinct+count on (cohort, offset) after an equi-join that
    broadcasts-or-colocates on user_id; the date arithmetic is exact
    integer day math in both engines (UTC session pins the CAST).

    cohort_day is returned as TIMESTAMP, not DATE: Spark DATE reaches
    the driver's pandas canonicalizer as datetime.date objects while
    DuckDB DATE becomes datetime64 — representation mismatch on equal
    values. Midnight timestamps compare identically on both sides.
    """
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("cohort_day"))
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_day")).alias("day_offset"),
        )
        .distinct()
    )
    return (
        activity.groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .withColumn("cohort_day", F.col("cohort_day").cast("timestamp"))
    )


@query(
    "win_trailing_hour",
    oracle="""
SELECT user_id, event_id, ts,
       COUNT(*) OVER (
         PARTITION BY user_id ORDER BY CAST(FLOOR(date_part('epoch', ts)) AS BIGINT)
         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
       ) AS n_last_hour
FROM events
""",
)
def win_trailing_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: per user, how many of their events fall
    in the trailing hour (value-based frame over epoch seconds — peers
    at the same second share a frame, unlike the ROWS frames
    elsewhere). The rate-limiting/burst-detection window.

    Both engines frame over the SAME integer key (epoch seconds) —
    Spark's rangeBetween needs a numeric ORDER BY, and mirroring that
    cast in the oracle dodges the subtle µs-vs-seconds boundary
    semantics a native INTERVAL frame would introduce. One shuffle on
    user_id; the running frame is streaming state, never a partition
    materialization.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "user_id", "event_id", "ts", F.count(F.lit(1)).over(w).alias("n_last_hour")
    )


@query(
    "win_nth_value",
    oracle="""
SELECT user_id, event_id, ts,
       NTH_VALUE(event_id, 3) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS third_event_id
FROM events
""",
)
def win_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value window: each row sees its user's 3rd event so far
    (NULL until it exists) — the "milestone event" accessor
    completing the first/last/lag/lead value-function family. Running
    frame, streaming state, one user_id shuffle."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id", "event_id", "ts",
        F.nth_value("event_id", 3).over(w).alias("third_event_id"),
    )


@query(
    "win_transition_matrix",
    oracle="""
SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n_transitions
FROM (
  SELECT event_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
)
WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
""",
)
def win_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey transition matrix: counts of consecutive
    (event → next event) pairs per user — the Markov-chain view of
    behavior logs (what follows a click?) that funnels and session
    stats are both built on. One lead() pass over the user partition,
    then a 25-cell aggregate: the matrix is |types|² regardless of
    corpus size."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


@query(
    "ts_ohlc_hourly",
    oracle="""
SELECT DISTINCT event_type, hr,
       FIRST_VALUE(value) OVER w AS open,
       MAX(value) OVER w AS high,
       MIN(value) OVER w AS low,
       LAST_VALUE(value) OVER w AS close,
       COUNT(*) OVER w AS n_events
FROM (SELECT event_type, date_trunc('hour', ts) AS hr, ts, event_id, value FROM events)
WINDOW w AS (
  PARTITION BY event_type, hr ORDER BY ts, event_id
  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
)
""",
)
def ts_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candle rollup: per type × hour, the opening (first-by-
    time), high, low, and closing (last-by-time) values — the
    canonical timeseries downsample. Expressed as an unbounded window
    + DISTINCT (rather than min_by/max_by aggregates) so open/close
    carry an explicit, fully-tiebroken time order in BOTH engines; the
    values pass through unchanged, so the match is exact. One shuffle
    on (type, hour); at scale this is the continuous-aggregate shape
    a stream would maintain incrementally (stream_tumbling's batch
    twin with positional accessors).
    """
    ev = load_table(spark, sf_dir, "events")
    hr = F.date_trunc("hour", "ts")
    w = (
        Window.partitionBy("event_type", "hr")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        ev.select("event_type", hr.alias("hr"), "ts", "event_id", "value")
        .select(
            "event_type",
            "hr",
            F.first("value").over(w).alias("open"),
            F.max("value").over(w).alias("high"),
            F.min("value").over(w).alias("low"),
            F.last("value").over(w).alias("close"),
            F.count(F.lit(1)).over(w).alias("n_events"),
        )
        .distinct()
    )


@query(
    "ts_resample_interp",
    oracle="""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS v
  FROM events GROUP BY 1, 2
), b AS (
  SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1 FROM events
), grid AS (
  SELECT t.event_type, u.hr
  FROM (SELECT DISTINCT event_type FROM events) t, b,
       UNNEST(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS u(hr)
), joined AS (
  SELECT g.event_type, g.hr, h.v FROM grid g LEFT JOIN hourly h USING (event_type, hr)
), bounded AS (
  SELECT event_type, hr, v,
         LAST_VALUE(v IGNORE NULLS) OVER wp AS pv,
         LAST_VALUE(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS) OVER wp AS ph,
         FIRST_VALUE(v IGNORE NULLS) OVER wf AS nv,
         FIRST_VALUE(CASE WHEN v IS NOT NULL THEN hr END IGNORE NULLS) OVER wf AS nh
  FROM joined
  WINDOW wp AS (PARTITION BY event_type ORDER BY hr
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY event_type ORDER BY hr
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, hr,
       CASE WHEN v IS NOT NULL THEN v
            WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
              pv + (nv - pv)
                 * (CAST(date_part('epoch', hr) AS DOUBLE) - date_part('epoch', ph))
                 / (CAST(date_part('epoch', nh) AS DOUBLE) - date_part('epoch', ph))
            ELSE NULL END AS v_interp,
       CASE WHEN v IS NULL THEN 1 ELSE 0 END AS was_gap
FROM bounded
""",
)
def ts_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation resampling: the hourly mean series per
    type, with gap hours filled by interpolating between the nearest
    real observations on either side (edges stay NULL) — the
    imputation step between LOCF (win_fill_forward) and zero-fill
    (ts_gapfill_hourly), completing the timeseries verb family.

    Two running windows per type (LOCF forward for the previous
    anchor, its mirror backward for the next) plus one lerp
    expression: all streaming frames over the dense grid (hours ×
    types rows — tiny at any corpus scale), no joins beyond the grid
    construction. The lerp divides exact integer epoch gaps and
    identically-derived doubles, so the match needs no rounding.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hr")).agg(
        (F.sum(dec("value")).cast("double") / F.count(F.lit(1))).alias("v")
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("hr")
    ).crossJoin(ev.select("event_type").distinct())
    joined = grid.join(hourly, ["event_type", "hr"], "left")
    wp = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    marked = F.when(F.col("v").isNotNull(), F.col("hr"))
    bounded = joined.select(
        "event_type",
        "hr",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(marked, ignorenulls=True).over(wp).alias("ph"),
        F.first("v", ignorenulls=True).over(wf).alias("nv"),
        F.first(marked, ignorenulls=True).over(wf).alias("nh"),
    )
    # association mirrors the SQL's precedence EXACTLY:
    # pv + ((nv - pv) * (hr - ph)) / (nh - ph) — computing the
    # fraction first drifts a last-ulp on interpolated rows
    dt = F.col("hr").cast("long").cast("double") - F.col("ph").cast("long")
    den = F.col("nh").cast("long").cast("double") - F.col("ph").cast("long")
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv") + (F.col("nv") - F.col("pv")) * dt / den,
        )
        .otherwise(F.lit(None).cast("double"))
    )
    return bounded.select(
        "event_type",
        "hr",
        interp.alias("v_interp"),
        F.when(F.col("v").isNull(), 1).otherwise(0).alias("was_gap"),
    )


@query(
    "ts_anomaly_zscore",
    oracle="""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS n
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type,
         COUNT(*) AS m,
         SUM(n) AS s1,
         SUM(n * n) AS s2
  FROM hourly GROUP BY event_type
), scored AS (
  SELECT h.event_type, h.hr, h.n,
         (CAST(h.n AS DOUBLE) - CAST(s.s1 AS DOUBLE) / s.m)
           / SQRT((CAST(s.s2 AS DOUBLE) - CAST(s.s1 AS DOUBLE) * s.s1 / s.m) / (s.m - 1))
           AS z
  FROM hourly h JOIN stats s USING (event_type)
)
SELECT event_type, hr, n, ROUND(z, 6) AS zscore
FROM scored WHERE ABS(z) >= 2
""",
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic-anomaly detection: hours whose event count sits ≥2
    sample standard deviations from that type's hourly mean — the
    alerting query every ops rollup feeds. The moments are EXACT
    integer sums (counts and squared counts), so mean/std/z reduce to
    one identical closed-form double expression per row — only the
    final z is float-rounded. Two tiny aggregations (hourly counts →
    per-type moments) plus a broadcast joinback; nothing touches raw
    events twice.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("m")
    var = (F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("m")) / (
        F.col("m") - 1
    )
    z = (F.col("n").cast("double") - mean) / F.sqrt(var)
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .select("event_type", "hr", "n", z.alias("z"))
        .where(F.abs(F.col("z")) >= 2)
        .select("event_type", "hr", "n", F.round("z", 6).alias("zscore"))
    )


@query(
    "win_rolling_median",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         COUNT(*) AS n_events
  FROM events GROUP BY 1
)
SELECT day, n_events,
       ROUND(QUANTILE_CONT(n_events, 0.5) OVER (
         ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
       ), 6) AS median_7d
FROM daily
""",
)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day MEDIAN of daily event counts — the robust
    smoother (win_moving_avg's outlier-resistant sibling: one spike
    day moves the mean but not the median). Partition-less window but
    BOUNDED: it runs over the daily rollup, calendar-span-sized, not
    data-sized — see win_moving_avg's boundedness note. Spark's `percentile`
    aggregate runs as a window over the rows frame; both engines
    linear-interpolate even-count frames, rounded per the float
    policy. Daily rollup first, so the window state is days, not
    events."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    return daily.select(
        "day",
        "n_events",
        F.round(F.percentile("n_events", F.lit(0.5)).over(w), 6).alias("median_7d"),
    )


_EWMA_ALPHA = 0.3  # weight on the most recent day


@query(
    "ts_ewma_daily",
    oracle=f"""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v
  FROM events GROUP BY 1
), idx AS (
  SELECT day, v, ROW_NUMBER() OVER (ORDER BY day) AS t FROM daily
), weighted AS (
  SELECT a.day, a.t,
         CAST(SUM(CAST(b.v * POWER(1 - {_EWMA_ALPHA}, a.t - b.t) AS DECIMAL(38,12))) AS DOUBLE)
           AS wsum,
         CAST(SUM(CAST(POWER(1 - {_EWMA_ALPHA}, a.t - b.t) AS DECIMAL(38,12))) AS DOUBLE)
           AS wnorm
  FROM idx a JOIN idx b ON b.t <= a.t
  GROUP BY a.day, a.t
)
SELECT day, ROUND(wsum / wnorm, 6) AS ewma
FROM weighted
""",
)
def ts_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily value (α=0.3) —
    the recency-weighted smoother. The textbook recursive form
    (s_t = αx_t + (1−α)s_{t−1}) is order-dependent state no engine
    pair reproduces bit-for-bit; rewritten as its CLOSED form — a
    normalized sum of v·(1−α)^lag over the history — every term is an
    identical IEEE product, snapped to the decimal grid and summed
    exactly. The history join is days × days (≤ 30², trivial; at
    longer horizons the (1−α)^lag terms underflow past any threshold
    and the join truncates to a bounded lag window — same plan).
    The day grid itself is calendar-span-bounded — see win_moving_avg's
    boundedness note.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(dec("value")).cast("double").alias("v")
    )
    idx = daily.withColumn("t", F.row_number().over(Window.orderBy("day")))
    a = idx.select(F.col("day"), F.col("t"))
    b = idx.select(F.col("t").alias("s"), F.col("v").alias("bv"))
    g = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")
    decay = F.pow(F.lit(1 - _EWMA_ALPHA), F.col("t") - F.col("s"))
    return (
        a.join(b, F.col("s") <= F.col("t"))
        .groupBy("day", "t")
        .agg(g(F.col("bv") * decay).alias("wsum"), g(decay).alias("wnorm"))
        .select("day", F.round(F.col("wsum") / F.col("wnorm"), 6).alias("ewma"))
    )


@query(
    "win_activity_streaks",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), grouped AS (
  SELECT user_id, d,
         date_diff('day', DATE '1970-01-01', d)
           - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS grp
  FROM days
), streaks AS (
  SELECT user_id, COUNT(*) AS streak_len FROM grouped GROUP BY user_id, grp
)
SELECT user_id,
       MAX(streak_len) AS longest_streak,
       COUNT(*) AS n_streaks
FROM streaks GROUP BY user_id
""",
)
def win_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    engagement metric, via the classic islands trick: for consecutive
    dates, (day-number − row-number) is constant, so each run of
    consecutive days collapses to one group key without any iterative
    scan. Distinct days first (events-per-day don't matter), then two
    cheap per-user aggregations; everything partitions by user."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grouped = days.withColumn(
        "grp", F.datediff(F.col("d"), F.lit("1970-01-01").cast("date")) - F.row_number().over(w)
    )
    streaks = grouped.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("streak_len"))
    return streaks.groupBy("user_id").agg(
        F.max("streak_len").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


@query(
    "ts_changepoint_cusum",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         SUM(CAST(value AS DECIMAL(38,6))) AS sv,
         COUNT(*) AS n
  FROM events GROUP BY 1
), tot AS (
  SELECT SUM(sv) AS t, COUNT(*) AS nd FROM daily
), cs AS (
  SELECT day, sv, n,
         tot.nd * SUM(sv) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW)
           - ROW_NUMBER() OVER (ORDER BY day) * tot.t AS num
  FROM daily, tot
)
SELECT day,
       CAST(sv AS DOUBLE) AS daily_total,
       n AS n_events,
       CAST(num AS DOUBLE) AS cusum_scaled,
       CASE WHEN ROW_NUMBER() OVER (ORDER BY ABS(num) DESC, day ASC) = 1
            THEN 1 ELSE 0 END AS is_changepoint
FROM cs
""",
)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift changepoint localization over the daily value
    series; the day with max |S_d| is the classic CUSUM estimate of
    where the level shifted — the companion to ts_anomaly_zscore
    (which flags outlier cells but cannot place a regime change).

    Determinism (learned the hard way — the naive form FAILED the
    oracle): S_d = Σ(m_i − μ) needs two divisions whose results are
    arbitrary doubles, and double→decimal(38,6) casts of arbitrary
    doubles round differently across engines (Spark exact-BigDecimal
    HALF_UP vs DuckDB's float-multiply path), so accumulated addends
    drift in the 6th decimal. Multiplying through by N removes every
    division: N·S_d = N·Σ_{i≤d} sv_i − d·T with sv (daily totals), T
    (grand total) EXACT decimals and d, N integers — all-integer
    decimal arithmetic, bit-identical in both engines, cast to double
    only at the very end. The argmax compares the exact decimals.
    The partition-less windows run over the DAILY grid —
    calendar-span-bounded, see win_moving_avg's boundedness note.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(dec("value")).alias("sv"), F.count(F.lit(1)).alias("n")
    )
    tot = daily.agg(F.sum("sv").alias("t"), F.count(F.lit(1)).alias("nd"))
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_seq = Window.orderBy("day")
    cs = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "sv",
        "n",
        (
            F.col("nd") * F.sum("sv").over(w_cum)
            - F.row_number().over(w_seq) * F.col("t")
        ).alias("num"),
    )
    w_top = Window.orderBy(F.abs("num").desc(), F.col("day").asc())
    return cs.select(
        "day",
        F.col("sv").cast("double").alias("daily_total"),
        F.col("n").alias("n_events"),
        F.col("num").cast("double").alias("cusum_scaled"),
        F.when(F.row_number().over(w_top) == 1, 1).otherwise(0).alias("is_changepoint"),
    )


@query(
    "win_gap_distribution",
    oracle="""
WITH gaps AS (
  SELECT event_type,
         date_diff('second',
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) AS gap_sec
  FROM events
)
SELECT event_type,
       CASE WHEN gap_sec < 60 THEN '0_lt_1m'
            WHEN gap_sec < 3600 THEN '1_lt_1h'
            WHEN gap_sec < 86400 THEN '2_lt_1d'
            ELSE '3_ge_1d' END AS gap_bucket,
       COUNT(*) AS n_gaps,
       MIN(gap_sec) AS min_gap_sec,
       MAX(gap_sec) AS max_gap_sec
FROM gaps
WHERE gap_sec IS NOT NULL
GROUP BY 1, 2
""",
)
def win_gap_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap histogram per event type (log-bucketed: <1m,
    <1h, <1d, ≥1d) — the arrival-process profile behind session-gap
    and watermark tuning: the 30-min session threshold and the 2-hour
    streaming watermark are both read straight off this table.

    One per-user lag window (hash-partitioned by user — the same
    single-shuffle shape as win_lag_lead) then a partial-agg'd rollup
    into ≤ 4×#types cells. Gap seconds use the truncating cast both
    engines agree on (§5.3).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")).alias("gap_sec")
    gaps = ev.select("event_type", gap).where(F.col("gap_sec").isNotNull())
    bucket = (
        F.when(F.col("gap_sec") < 60, "0_lt_1m")
        .when(F.col("gap_sec") < 3600, "1_lt_1h")
        .when(F.col("gap_sec") < 86400, "2_lt_1d")
        .otherwise("3_ge_1d")
    )
    return gaps.groupBy("event_type", bucket.alias("gap_bucket")).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap_sec").alias("min_gap_sec"),
        F.max("gap_sec").alias("max_gap_sec"),
    )


@query(
    "ts_autocorr_lag",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         SUM(CAST(value AS DECIMAL(18,6))) AS sv
  FROM events GROUP BY 1
), lags AS (
  SELECT UNNEST([1, 7]) AS lag
), pairs AS (
  SELECT l.lag, a.sv AS x, b.sv AS y
  FROM daily a
  CROSS JOIN lags l
  JOIN daily b ON b.day = a.day + l.lag * INTERVAL 1 DAY
)
SELECT lag, COUNT(*) AS n_pairs,
       ROUND(
         (COUNT(*) * CAST(SUM(x * y) AS DOUBLE)
            - CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))
         / SQRT((COUNT(*) * CAST(SUM(x * x) AS DOUBLE)
                   - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE))
              * (COUNT(*) * CAST(SUM(y * y) AS DOUBLE)
                   - CAST(SUM(y) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))), 6)
         AS autocorr
FROM pairs GROUP BY lag
""",
)
def ts_autocorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily value series at lags 1 and 7 days —
    the periodicity detector (daily persistence vs weekly seasonality)
    that tells a capacity planner which seasonal baseline
    (agg_dow_hour_heatmap's grid vs a flat EWMA) fits the traffic.

    Float policy (the ts_changepoint_cusum lesson applied): every SUM
    is an EXACT decimal — sv is decimal(18,6) so products are
    decimal(37,12), within Spark's 38-digit exactness — and each total
    converts to double ONCE (IEEE round-to-nearest of the same exact
    rational on both engines), after which the Pearson closed form is
    an identical double expression. No double→decimal cast of an
    arbitrary division result anywhere. The lagged pairing is an
    equi-join on the shifted day key — hash-partitioned, never a
    window over the raw series.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sv")
    )
    lags = spark.range(2).select(
        F.when(F.col("id") == 0, 1).otherwise(7).cast("int").alias("lag")
    )
    a = daily.select(F.col("day").alias("a_day"), F.col("sv").alias("x"))
    b = daily.select(F.col("day").alias("b_day"), F.col("sv").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("b_day") == F.expr("a_day + make_dt_interval(lag, 0, 0, 0)"))
    )
    n = F.count(F.lit(1))
    sx = F.sum("x").cast("double")
    sy = F.sum("y").cast("double")
    sxy = F.sum(F.col("x") * F.col("y")).cast("double")
    sxx = F.sum(F.col("x") * F.col("x")).cast("double")
    syy = F.sum(F.col("y") * F.col("y")).cast("double")
    r = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return pairs.groupBy("lag").agg(
        n.alias("n_pairs"), F.round(r, 6).alias("autocorr")
    )


_SURV_THRESHOLDS = ((60, "1m"), (300, "5m"), (1800, "30m"), (7200, "2h"), (86400, "1d"))


def _surv_oracle() -> str:
    cols = ",\n       ".join(
        f"ROUND(SUM(CASE WHEN gap_sec > {t} THEN 1 ELSE 0 END)"
        f" / CAST(COUNT(*) AS DOUBLE), 6) AS surv_{lbl}"
        for t, lbl in _SURV_THRESHOLDS
    )
    return f"""
WITH g AS (
  SELECT date_diff('second',
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) AS gap_sec
  FROM events
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
       {cols}
FROM g WHERE gap_sec IS NOT NULL
"""


@query("win_survival_gap_curve", oracle=_surv_oracle())
def win_survival_gap_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival function of inter-event gaps at the operating thresholds
    (1m/5m/30m/2h/1d): the fraction of per-user gaps EXCEEDING each —
    the tuning curve behind every sessionization and watermark choice
    in this repo (win_sessionize's 30-minute gap and the streaming
    keys' 2-hour watermark are points ON this curve: surv_30m is
    exactly the share of would-be session breaks, surv_2h the share of
    events a 2 h watermark would call late). win_gap_distribution bins
    the same gaps; this key reads off the cumulative tail at the five
    thresholds operators actually choose between.

    One per-user lag window (the single-shuffle win_lag_lead shape),
    then ONE ungrouped partial aggregation — 6 integers of state total.
    Survival ratios are exact-integer divisions rounded once.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")).alias("gap_sec")
    gaps = ev.select(gap).where(F.col("gap_sec").isNotNull())
    n = F.count(F.lit(1))
    aggs = [n.alias("n_gaps")] + [
        F.round(
            F.sum(F.when(F.col("gap_sec") > t, 1).otherwise(0)) / n.cast("double"), 6
        ).alias(f"surv_{lbl}")
        for t, lbl in _SURV_THRESHOLDS
    ]
    return gaps.agg(*aggs)
