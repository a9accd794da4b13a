"""Round-4 wave-3 operators: corpus/traffic profiling (SURVEY.md §2,
rows spread across categories C/D/E/K2/K3 and marked "(r4w3)").

Ten keys a 100 TB log-analytics + training-data pipeline reaches for
once the core relational surface exists: data-quality audits (Benford
first-digit, Apdex), behavioral profiles (per-user type entropy, type
co-occurrence, session-length histogram, as-of attribution), seasonal
structure (dow seasonal strength), embedding geometry (norm
percentiles), and the two missing decon/funnel corpus stages.

Float policy (the ts_autocorr_lag discipline): any SUM whose operand
order Spark and DuckDB could disagree on is accumulated in EXACT
decimal (double terms cast to decimal first — double→decimal conversion
is deterministic, decimal addition is order-invariant), converted to
double ONCE, and only then divided/rounded. Ratios of large double sums
are safe; bare large double sums are not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from .llm import _BUCKET_CAP, _band_rows, _dot, _minhash_sigs, _shingles
from .windows import BOUNCE_RATE_ORACLE, SESSIONIZE_ORACLE, win_sessionize

# ------------------------------------------------------- data-quality D


@query(
    "agg_first_digit_benford",
    oracle="""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
              AS INTEGER) AS digit
  FROM lineitem
), counts AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY digit
)
SELECT digit, n,
       ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (), 6) AS pct,
       ROUND(LOG10(1.0 + 1.0 / digit), 6) AS benford_pct,
       ROUND(CAST(n AS DOUBLE) / SUM(n) OVER () - LOG10(1.0 + 1.0 / digit), 6) AS delta
FROM counts
""",
)
def agg_first_digit_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit of lineitem prices — the
    classic synthetic-data / fraud detector: observed first-digit share
    vs the Benford expectation log10(1+1/d), per digit.

    Cross-engine digit extraction avoids float rendering entirely:
    price → exact integer cents (ROUND then BIGINT — both engines
    round-to-nearest a value that is integral up to float error) →
    decimal string → first char. One partial-agg'd shuffle to 9 cells;
    the share window runs over those 9 rows only.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit")
    counts = li.select(digit).groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = F.sum("n").over(Window.partitionBy())  # 9 rows — bounded
    pct = F.col("n").cast("double") / tot
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return counts.select(
        "digit",
        "n",
        F.round(pct, 6).alias("pct"),
        F.round(benford, 6).alias("benford_pct"),
        F.round(pct - benford, 6).alias("delta"),
    )


@query(
    "agg_user_type_entropy",
    oracle="""
WITH c AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), per_user AS (
  SELECT user_id, CAST(SUM(n) AS BIGINT) AS tot,
         SUM(CAST(n * LN(n) AS DECIMAL(28,10))) AS terms
  FROM c GROUP BY user_id
), ent AS (
  SELECT tot, LN(tot) - CAST(terms AS DOUBLE) / tot AS entropy FROM per_user
)
SELECT CASE WHEN tot < 10 THEN '0_lt10'
            WHEN tot < 30 THEN '1_lt30'
            ELSE '2_ge30' END AS activity_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       ROUND(CAST(SUM(CAST(entropy AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS avg_entropy,
       ROUND(MIN(entropy), 6) AS min_entropy,
       ROUND(MAX(entropy), 6) AS max_entropy
FROM ent GROUP BY 1
""",
)
def agg_user_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix, rolled up by
    activity tier — the behavioral-diversity profile (bots: high
    volume + near-zero entropy; humans: mid volume + high entropy).

    Entropy uses the shift form H = ln(N) − Σ n·ln(n) / N so the only
    order-sensitive sum (Σ n·ln n over a user's ≤5 types) is
    accumulated in exact decimal; the per-tier average likewise sums
    per-user entropies as decimal before the single double division.
    Two partial-agg'd shuffles (user×type, then user), then ≤3 cells.
    """
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    per_user = c.groupBy("user_id").agg(
        F.sum("n").alias("tot"),
        F.sum((F.col("n") * F.log(F.col("n"))).cast("decimal(28,10)")).alias("terms"),
    )
    ent = per_user.select(
        "tot",
        (F.log(F.col("tot")) - F.col("terms").cast("double") / F.col("tot")).alias("entropy"),
    )
    bucket = (
        F.when(F.col("tot") < 10, "0_lt10")
        .when(F.col("tot") < 30, "1_lt30")
        .otherwise("2_ge30")
    )
    n_users = F.count(F.lit(1))
    return ent.groupBy(bucket.alias("activity_bucket")).agg(
        n_users.alias("n_users"),
        F.round(
            F.sum(F.col("entropy").cast("decimal(18,9)")).cast("double") / n_users, 6
        ).alias("avg_entropy"),
        F.round(F.min("entropy"), 6).alias("min_entropy"),
        F.round(F.max("entropy"), 6).alias("max_entropy"),
    )


@query(
    "agg_apdex_score",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN value <= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_satisfied,
       CAST(SUM(CASE WHEN value > 50 AND value <= 200 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tolerating,
       ROUND((SUM(CASE WHEN value <= 50 THEN 1 ELSE 0 END)
              + 0.5 * SUM(CASE WHEN value > 50 AND value <= 200 THEN 1 ELSE 0 END))
             / COUNT(*), 6) AS apdex
FROM events
GROUP BY event_type
""",
)
def agg_apdex_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apdex satisfaction score per event type (T=50, 4T=200 on the
    value column as latency): (satisfied + tolerating/2) / total — the
    single-number SLA rollup a job-latency dashboard leads with.

    Pure conditional counting: map-side partials collapse to ≤#types
    rows before the one shuffle; the score is one double expression
    over exact integer counts (no order-sensitive float sum).
    """
    ev = load_table(spark, sf_dir, "events")
    sat = F.sum(F.when(F.col("value") <= 50, 1).otherwise(0))
    tol = F.sum(F.when((F.col("value") > 50) & (F.col("value") <= 200), 1).otherwise(0))
    n = F.count(F.lit(1))
    return ev.groupBy("event_type").agg(
        n.alias("n"),
        sat.alias("n_satisfied"),
        tol.alias("n_tolerating"),
        F.round((sat + F.lit(0.5) * tol) / n, 6).alias("apdex"),
    )


# ------------------------------------------------------ time series / E


@query(
    "ts_seasonal_strength_dow",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS sv
  FROM events GROUP BY 1, 2
), keyed AS (
  SELECT event_type, sv,
         (date_diff('day', DATE '1970-01-01', day) + 4) % 7 AS dow
  FROM daily
), per_dow AS (
  SELECT event_type, dow,
         CAST(SUM(sv) AS DECIMAL(28,6)) AS s_d,
         CAST(COUNT(*) AS BIGINT) AS n_d
  FROM keyed GROUP BY 1, 2
), per_type AS (
  SELECT event_type,
         CAST(SUM(n_d) AS BIGINT) AS n_days,
         CAST(SUM(s_d) AS DOUBLE) AS s_all,
         CAST(SUM(CAST(CAST(s_d AS DOUBLE) * CAST(s_d AS DOUBLE) / n_d
                       AS DECIMAL(28,6))) AS DOUBLE) AS ssb_part
  FROM per_dow GROUP BY 1
), ssq AS (
  -- widen before squaring: DuckDB multiplies DECIMAL(18,6) in int64 and
  -- overflows; DECIMAL(28,6)² runs in int128 (still exact, matching
  -- Spark's exact decimal(37,12) product)
  SELECT event_type,
         CAST(SUM(CAST(sv AS DECIMAL(28,6)) * CAST(sv AS DECIMAL(28,6))) AS DOUBLE) AS sxx
  FROM keyed GROUP BY 1
), peak AS (
  SELECT event_type, CAST(dow AS INTEGER) AS dow_peak FROM per_dow
  QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type
                             ORDER BY CAST(s_d AS DOUBLE) / n_d DESC, dow ASC) = 1
)
SELECT t.event_type, t.n_days, p.dow_peak,
       ROUND(1.0 - (q.sxx - t.ssb_part)
                   / (q.sxx - t.s_all * t.s_all / t.n_days), 6) AS seasonal_strength
FROM per_type t
JOIN ssq q USING (event_type)
JOIN peak p USING (event_type)
""",
)
def ts_seasonal_strength_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal strength per event type: the one-way-ANOVA
    variance ratio SSB/SST = 1 − SSR/SST of daily totals grouped by
    dow, plus the peak weekday — quantifies how much of the traffic
    variance the weekly cycle explains (the decision input between
    agg_dow_hour_heatmap's seasonal baseline and a flat EWMA).

    Exactness: daily totals are decimal; Σx² is exact decimal(38,12);
    the between-group part Σ S_d²/n_d has 7 irrational terms per type,
    each quantized to decimal(28,6) so the cross-dow sum is
    order-invariant. The final expression is a ratio of like-magnitude
    doubles — round(…,6)-stable. dow uses the heatmap's epoch-day
    formulation ((epoch_day+4)%7, 0=Sunday), never locale-dependent
    dayofweek. Shuffles: type×day partial agg, then ≤7×#types cells.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("decimal(18,6)").alias("sv"))
    keyed = daily.select(
        "event_type",
        "sv",
        ((F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")) + 4) % 7).alias("dow"),
    )
    per_dow = keyed.groupBy("event_type", "dow").agg(
        F.sum("sv").cast("decimal(28,6)").alias("s_d"),
        F.count(F.lit(1)).alias("n_d"),
    )
    per_type = per_dow.groupBy("event_type").agg(
        F.sum("n_d").alias("n_days"),
        F.sum("s_d").cast("double").alias("s_all"),
        F.sum(
            (F.col("s_d").cast("double") * F.col("s_d").cast("double") / F.col("n_d"))
            .cast("decimal(28,6)")
        )
        .cast("double")
        .alias("ssb_part"),
    )
    ssq = keyed.groupBy("event_type").agg(
        F.sum(F.col("sv") * F.col("sv")).cast("double").alias("sxx")
    )
    peak_w = Window.partitionBy("event_type").orderBy(
        (F.col("s_d").cast("double") / F.col("n_d")).desc(), F.col("dow").asc()
    )
    peak = (
        per_dow.withColumn("_rk", F.row_number().over(peak_w))
        .where(F.col("_rk") == 1)
        .select("event_type", F.col("dow").cast("int").alias("dow_peak"))
    )
    strength = F.lit(1.0) - (F.col("sxx") - F.col("ssb_part")) / (
        F.col("sxx") - F.col("s_all") * F.col("s_all") / F.col("n_days")
    )
    return (
        per_type.join(ssq, "event_type")
        .join(peak, "event_type")
        .select(
            "event_type",
            "n_days",
            "dow_peak",
            F.round(strength, 6).alias("seasonal_strength"),
        )
    )


@query(
    "win_session_length_histogram",
    oracle=f"""
SELECT CASE WHEN n_events = 1 THEN '1'
            WHEN n_events <= 4 THEN '2_4'
            WHEN n_events <= 9 THEN '5_9'
            ELSE '10_plus' END AS len_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (), 6) AS pct_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events_total,
       ROUND(CAST(SUM(duration_sec) AS DOUBLE) / COUNT(*), 6) AS avg_duration_sec,
       CAST(MAX(duration_sec) AS BIGINT) AS max_duration_sec
FROM ({SESSIONIZE_ORACLE}) AS sessions
GROUP BY 1
""",
)
def win_session_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-length histogram (1 / 2-4 / 5-9 / 10+ events): count,
    share, event mass, and duration stats per bucket — the
    bounce-vs-engaged summary read off win_sessionize's output (same
    session definition by construction: this key CALLS it and the
    oracle wraps its oracle as a subquery).

    Adds one partial-agg'd rollup to ≤4 cells on top of sessionize's
    plan (since r10: one partially-aggregating session_window merge +
    a per-user row_number over session rows); the share window runs
    over those 4 rows only.
    Sums of counts/seconds are exact integers — no float-sum hazard.
    """
    sessions = win_sessionize(spark, sf_dir)
    bucket = (
        F.when(F.col("n_events") == 1, "1")
        .when(F.col("n_events") <= 4, "2_4")
        .when(F.col("n_events") <= 9, "5_9")
        .otherwise("10_plus")
    )
    grouped = sessions.groupBy(bucket.alias("len_bucket")).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events_total"),
        F.sum("duration_sec").alias("_dur_sum"),
        F.max("duration_sec").alias("max_duration_sec"),
    )
    tot = F.sum("n_sessions").over(Window.partitionBy())  # ≤4 rows
    return grouped.select(
        "len_bucket",
        "n_sessions",
        F.round(F.col("n_sessions").cast("double") / tot, 6).alias("pct_sessions"),
        "n_events_total",
        F.round(F.col("_dur_sum").cast("double") / F.col("n_sessions"), 6).alias(
            "avg_duration_sec"
        ),
        "max_duration_sec",
    )


# ------------------------------------------------------------- joins C


@query(
    "join_attribution_asof",
    oracle="""
WITH ce AS (
  SELECT event_id, user_id, ts, event_type
  FROM events WHERE event_type IN ('click', 'purchase')
), attributed AS (
  SELECT event_id, user_id, ts, event_type,
         LAST_VALUE(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_id,
         LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_ts
  FROM ce
)
SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
       CAST(COALESCE(CASE WHEN date_diff('second', click_ts, ts) <= 3600
                          THEN click_id END, -1) AS BIGINT) AS attributed_click_id,
       CAST(COALESCE(CASE WHEN date_diff('second', click_ts, ts) <= 3600
                          THEN date_diff('second', click_ts, ts) END, -1) AS BIGINT)
         AS gap_sec
FROM attributed WHERE event_type = 'purchase'
""",
)
def join_attribution_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase joined as-of to the most
    recent click by the same user within a 1-hour window — the
    marketing-attribution / cause-assignment primitive, expressed as a
    per-user IGNORE NULLS last() window instead of a pair join (the
    naive purchase×click range join fans out quadratically per user;
    the window is one pass over user-partitioned, time-sorted rows).

    The frame ends at 1 PRECEDING so a same-timestamp click (ordered
    after by event_id) never attributes to itself-adjacent rows on one
    engine but not the other. Unattributed purchases keep -1 sentinels
    (nullable BIGINT columns flip to float64 in pandas on both engines
    only when a null actually appears — the sentinel removes that
    SF-dependent dtype hazard). Single shuffle on user_id.
    """
    ev = load_table(spark, sf_dir, "events")
    ce = ev.where(F.col("event_type").isin("click", "purchase")).select(
        "event_id", "user_id", "ts", "event_type"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attributed = ce.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(F.when(F.col("event_type") == "click", F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("click_id"),
        F.last(F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("click_ts"),
    )
    gap = F.col("ts").cast("long") - F.col("click_ts").cast("long")
    in_window = F.col("click_ts").isNotNull() & (gap <= 3600)
    return attributed.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.coalesce(F.when(in_window, F.col("click_id")), F.lit(-1))
        .cast("long")
        .alias("attributed_click_id"),
        F.coalesce(F.when(in_window, gap), F.lit(-1)).cast("long").alias("gap_sec"),
    )


# ----------------------------------------------------- embeddings / K2


@query(
    "emb_norm_percentiles",
    oracle="""
WITH norms AS (
  SELECT label,
         SQRT(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       ROUND(CAST(SUM(CAST(nrm AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*), 6) AS avg_norm,
       ROUND(QUANTILE_CONT(nrm, 0.5), 6) AS p50_norm,
       ROUND(QUANTILE_CONT(nrm, 0.9), 6) AS p90_norm,
       ROUND(MIN(nrm), 6) AS min_norm,
       ROUND(MAX(nrm), 6) AS max_norm
FROM norms GROUP BY label
""",
)
def emb_norm_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm distribution of the embedding column per label (count,
    mean, exact p50/p90, min/max) — the first sanity check on any
    embedding table: un-normalized vectors, dead labels, and scale
    drift between shards all show up here before any ANN index is
    built.

    Norms are JVM-side double-accumulated dot products (same `_dot`
    lambda as the cosine keys — no Python in the hot path); the mean
    sums per-row norms in exact decimal. Exact percentiles sort within
    ≤#labels groups — at 100 TB swap in approx_percentile's mergeable
    KLL sketch (same caveat as agg_percentile_exact).
    """
    e = load_table(spark, sf_dir, "embeddings")
    norms = e.select(
        "label", F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("nrm")
    )
    n = F.count(F.lit(1))
    return norms.groupBy("label").agg(
        n.alias("n_vecs"),
        F.round(F.sum(F.col("nrm").cast("decimal(18,9)")).cast("double") / n, 6).alias(
            "avg_norm"
        ),
        F.round(F.percentile("nrm", F.lit(0.5)), 6).alias("p50_norm"),
        F.round(F.percentile("nrm", F.lit(0.9)), 6).alias("p90_norm"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
    )


@query(
    "graph_type_cooccurrence",
    oracle="""
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events
), tc AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t FROM ut GROUP BY 1
), u AS (
  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM events
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_both,
       ROUND(CAST(p.n_both AS DOUBLE) * u.n_users / (ta.n_t * tb.n_t), 6) AS lift,
       ROUND(CAST(p.n_both AS DOUBLE) / (ta.n_t + tb.n_t - p.n_both), 6) AS jaccard
FROM pairs p
JOIN tc ta ON ta.event_type = p.type_a
JOIN tc tb ON tb.event_type = p.type_b
CROSS JOIN u
""",
)
def graph_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence graph: for every unordered type pair,
    how many users exhibit both, with lift (observed / independence)
    and Jaccard — the bipartite user×type projection behind
    feature-affinity and next-action analyses.

    The per-user self-join fans out ≤ C(#types,2) = 10 pairs per user
    (distinct-typed rows first, so volume per user is ≤5 rows
    regardless of raw event count); type totals and the user count are
    tiny dimension aggregates broadcast onto the ≤10-row pair table.
    The lift/jaccard expressions follow the oracle's exact operation
    order so the doubles agree bit-for-bit.
    """
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct().transform(tpersist)
    tc = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    # population size as a broadcast 1-row aggregate — keeps the whole
    # key one lazy plan (no driver-side count() action)
    u = ut.select("user_id").distinct().agg(F.count(F.lit(1)).alias("n_users"))
    a = ut.select(F.col("user_id"), F.col("event_type").alias("type_a"))
    b = ut.select(F.col("user_id").alias("_uid"), F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, (a.user_id == b._uid) & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ta = tc.select(F.col("event_type").alias("type_a"), F.col("n_t").alias("n_ta"))
    tb = tc.select(F.col("event_type").alias("type_b"), F.col("n_t").alias("n_tb"))
    out = (
        pairs.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .crossJoin(F.broadcast(u))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double")
                * F.col("n_users")
                / (F.col("n_ta") * F.col("n_tb")),
                6,
            ).alias("lift"),
            F.round(
                F.col("n_both").cast("double")
                / (F.col("n_ta") + F.col("n_tb") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
    )
    return out


# -------------------------------------------------- corpus stages / K3


@query(
    "corpus_filter_funnel",
    oracle="""
WITH keyed AS (
  SELECT source, n_chars, lang,
         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_raw,
       CAST(SUM(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_len,
       CAST(SUM(CASE WHEN n_chars >= 200 AND lang IN ('en','zh','de')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
       CAST(SUM(CASE WHEN n_chars >= 200 AND lang IN ('en','zh','de') AND rn = 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_final,
       ROUND(CAST(SUM(CASE WHEN n_chars >= 200 AND lang IN ('en','zh','de') AND rn = 1
                           THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS survival_rate
FROM keyed
GROUP BY source
""",
)
def corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source attrition funnel through the standard corpus filters
    — raw → length ≥ 200 chars → target language → exact-dup keeper —
    with cumulative survivor counts and the final survival rate. The
    per-stage loss report that tells a pipeline owner WHICH filter is
    eating a source before corpus_pipeline_e2e commits the cut.

    The keeper flag is a window over the 32-byte content hash (never
    the text); all four stage counts are conditional aggregates in ONE
    pass (map-side partials → ≤#sources cells) — the funnel costs one
    shuffle, not four scans.
    """
    d = load_table(spark, sf_dir, "documents")
    rn_w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    keyed = d.select(
        "source", "n_chars", "lang", F.row_number().over(rn_w).alias("rn")
    )
    len_ok = F.col("n_chars") >= 200
    lang_ok = len_ok & F.col("lang").isin("en", "zh", "de")
    final_ok = lang_ok & (F.col("rn") == 1)
    cnt = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731
    n_raw = F.count(F.lit(1))
    return keyed.groupBy("source").agg(
        n_raw.alias("n_raw"),
        cnt(len_ok).alias("n_len"),
        cnt(lang_ok).alias("n_lang"),
        cnt(final_ok).alias("n_final"),
        F.round(cnt(final_ok).cast("double") / n_raw, 6).alias("survival_rate"),
    )


_DECON_MINHASH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), shingles AS (
  SELECT DISTINCT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS shingle
  FROM toks, UNNEST(CASE WHEN len(t) >= 3 THEN generate_series(1, len(t)-2) ELSE [] END) AS u(i)
), seeds AS (
  SELECT UNNEST(generate_series(0, 15)) AS seed
), minhash AS (
  SELECT doc_id, seed, MIN(md5(shingle || '#' || seed)) AS mh
  FROM shingles CROSS JOIN seeds
  GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, seed // 2 AS band,
         md5(string_agg(mh, '|' ORDER BY seed)) AS band_sig
  FROM minhash
  GROUP BY doc_id, seed // 2
), bench_b AS (
  SELECT b.doc_id, b.band, b.band_sig
  FROM bands b JOIN documents d ON d.doc_id = b.doc_id
  WHERE d.source = 'src0'
  QUALIFY ROW_NUMBER() OVER (PARTITION BY b.band, b.band_sig ORDER BY b.doc_id)
          <= {_BUCKET_CAP}
), train_b AS (
  SELECT b.doc_id, b.band, b.band_sig
  FROM bands b JOIN documents d ON d.doc_id = b.doc_id
  WHERE d.source <> 'src0'
  QUALIFY ROW_NUMBER() OVER (PARTITION BY b.band, b.band_sig ORDER BY b.doc_id)
          <= {_BUCKET_CAP}
), flagged AS (
  SELECT DISTINCT t.doc_id
  FROM train_b t JOIN bench_b b ON t.band = b.band AND t.band_sig = b.band_sig
), train AS (
  SELECT doc_id, lang FROM documents WHERE source <> 'src0'
)
SELECT tr.lang,
       CAST(COUNT(*) AS BIGINT) AS n_train,
       CAST(COUNT(f.doc_id) AS BIGINT) AS n_flagged,
       ROUND(CAST(COUNT(f.doc_id) AS DOUBLE) / COUNT(*), 6) AS flagged_rate
FROM train tr LEFT JOIN flagged f ON f.doc_id = tr.doc_id
GROUP BY tr.lang
"""


@query("decon_near_minhash", oracle=_DECON_MINHASH_ORACLE)
def decon_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate decontamination: per language, how many train
    docs (source ≠ src0) share any MinHash-LSH band signature with a
    benchmark doc (src0) — completing the decon trilogy: decon_exact_doc
    (verbatim, hash join) → THIS (near-dup, banded LSH) →
    decon_ngram_overlap (paraphrase/subset, gram containment).

    Reuses the exact shingle → 16-minhash → 8-band pipeline of
    dedup_near_minhash (shared helpers — the definitions cannot
    drift), computed ONCE over all docs and persisted, then split by
    source: the flag join is train-bands ⋈ bench-bands on
    (band, sig) with the 64-doc per-bucket cap applied per SIDE, so
    the cross fan-out is ≤64×64 per bucket at any corpus size. Only
    32-byte signatures cross the wire after the signature shuffle.
    """
    d = load_table(spark, sf_dir, "documents")
    ids = d.select("doc_id", "source", "lang")
    bands = (
        _band_rows(_minhash_sigs(_shingles(d)))
        .join(ids.select("doc_id", "source"), "doc_id")
        .transform(tpersist)
    )
    cap_w = Window.partitionBy("band", "band_sig").orderBy("doc_id")

    def _capped(side: DataFrame) -> DataFrame:
        return (
            side.withColumn("_rn", F.row_number().over(cap_w))
            .where(F.col("_rn") <= _BUCKET_CAP)
            .select("doc_id", "band", "band_sig")
        )

    bench_b = _capped(bands.where(F.col("source") == "src0"))
    train_b = _capped(bands.where(F.col("source") != "src0"))
    flagged = (
        train_b.alias("t")
        .join(
            bench_b.alias("b"),
            (F.col("t.band") == F.col("b.band"))
            & (F.col("t.band_sig") == F.col("b.band_sig")),
        )
        .select(F.col("t.doc_id").alias("doc_id"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    train = ids.where(F.col("source") != "src0").select("doc_id", "lang")
    joined = train.join(flagged, "doc_id", "left")
    n_flagged = F.sum(F.coalesce("_hit", F.lit(0)))
    return joined.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_train"),
        n_flagged.alias("n_flagged"),
        F.round(n_flagged.cast("double") / F.count(F.lit(1)), 6).alias("flagged_rate"),
    )


# ------------------------------------------------ wave 4 (r4w4) keys

# Wave-4 imports kept local to the section for reviewability.
from ._common import distributed_rank, eager_release, o_dsum, spread, tpersist, ulong, unscale  # noqa: E402


@query(
    "win_activity_rank_global",
    oracle="""
WITH ua AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events FROM events GROUP BY 1
), r AS (
  SELECT user_id, n_events,
         ROW_NUMBER() OVER (ORDER BY n_events DESC, user_id ASC) AS rank_pos,
         COUNT(*) OVER () AS n
  FROM ua
)
SELECT user_id, n_events, CAST(rank_pos AS BIGINT) AS rank_pos,
       CASE WHEN n > 1 THEN ROUND(CAST(rank_pos - 1 AS DOUBLE) / (n - 1), 6)
            ELSE 0.0 END AS pct_rank
FROM r
""",
)
def win_activity_rank_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL activity leaderboard: every user's total event count,
    dense global rank, and percentile position — the whole-population
    ranking (not top-k, not per-group) that naive SQL writes as one
    partition-less ROW_NUMBER window over all users.

    This key exists to exercise `distributed_rank` on a user-sized
    (not vocab-sized) input: range-partition by (n_events DESC,
    user_id), parallel local windows, broadcast prefix offsets — the
    only single-partition step touches #partitions count rows. The
    oracle IS the naive global window; hash equality proves the
    distributed plan computes it exactly. Percentile = (rank−1)/(N−1)
    with N joined in as a broadcast 1-row aggregate (no driver
    collect in the plan).
    """
    ev = load_table(spark, sf_dir, "events")
    ua = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    ranked = distributed_rank(
        ua, F.col("n_events").desc(), F.col("user_id").asc(), out_col="rank_pos"
    )
    n = ua.agg(F.count(F.lit(1)).alias("_n"))
    return ranked.crossJoin(F.broadcast(n)).select(
        "user_id",
        "n_events",
        "rank_pos",
        # degenerate-input guard (the win_ntile_pct ADVICE lesson): a
        # 1-user population makes (rank-1)/(N-1) a 0/0 NaN on both
        # engines — define it as 0.0 instead
        F.when(
            F.col("_n") > 1,
            F.round((F.col("rank_pos") - 1).cast("double") / (F.col("_n") - 1), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("pct_rank"),
    )


@query(
    "ts_seasonal_naive_error",
    oracle="""
WITH hourly AS (
  SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS sv
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type, a.sv AS actual, b.sv AS pred
  FROM hourly a
  JOIN hourly b ON b.event_type = a.event_type
               AND b.hr = a.hr - INTERVAL 168 HOUR
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(CAST(SUM(ABS(actual - pred)) AS DOUBLE) / COUNT(*), 6) AS mae,
       ROUND(CAST(SUM(actual - pred) AS DOUBLE) / COUNT(*), 6) AS mean_bias
FROM pairs GROUP BY event_type
""",
)
def ts_seasonal_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast error: predict each hour's traffic value
    by the same hour one week earlier, report MAE and mean bias per
    event type — the baseline every real forecaster must beat, and the
    quantitative companion to ts_seasonal_strength_dow (strong weekly
    seasonality ⇔ low seasonal-naive MAE).

    The lag-168h pairing is an equi-join on the shifted hour key
    (hash-partitioned on (type, hour)) — never a 168-row window over
    the raw series. Errors are decimal-exact end to end: actual/pred
    are decimal(18,6) hourly sums, differences and |differences| stay
    decimal (order-invariant sums), ONE double conversion per total.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).cast("decimal(18,6)").alias("sv"))
    a = hourly.select("event_type", "hr", F.col("sv").alias("actual"))
    b = hourly.select(
        F.col("event_type").alias("_et"), F.col("hr").alias("_hr"), F.col("sv").alias("pred")
    )
    pairs = a.join(
        b,
        (F.col("_et") == F.col("event_type"))
        & (F.col("_hr") == F.col("hr") - F.expr("INTERVAL 168 HOURS")),
    )
    n = F.count(F.lit(1))
    return pairs.groupBy("event_type").agg(
        n.alias("n_pairs"),
        F.round(F.sum(F.abs(F.col("actual") - F.col("pred"))).cast("double") / n, 6).alias(
            "mae"
        ),
        F.round(F.sum(F.col("actual") - F.col("pred")).cast("double") / n, 6).alias(
            "mean_bias"
        ),
    )


@query(
    "dedup_vector_exact",
    oracle="""
WITH sigs AS (
  SELECT vec_id,
         md5(array_to_string(
           list_transform(CAST(embedding AS DOUBLE[]),
                          x -> CAST(FLOOR(x * 1000 + 0.5) AS BIGINT)),
           ',')) AS vec_sig
  FROM embeddings
)
SELECT vec_sig,
       CAST(MIN(vec_id) AS BIGINT) AS keeper_vec_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM sigs
GROUP BY vec_sig
""",
)
def dedup_vector_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding dedup: vectors quantized to milli-units
    (floor(x·1000 + 0.5) — the deterministic round-half-up both
    engines share, no tie-rule dependence) → md5 of the integer CSV →
    group by signature, keep the smallest vec_id. The re-embedded-
    twice detector: byte-identical (post-quantization) vectors
    collapse at hash-join cost, complementing dedup_embedding_bucketed
    which catches NEAR-identical ones.

    The shuffle carries 32-byte signatures + ids, never the float
    arrays; quantize+hash is one JVM codegen pass (transform +
    concat_ws + md5). Same shape as dedup_exact, applied to vectors.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)).cast("long"),
    )
    sig = F.md5(F.concat_ws(",", F.transform(q, lambda v: v.cast("string"))))
    return (
        e.select(F.col("vec_id"), sig.alias("vec_sig"))
        .groupBy("vec_sig")
        .agg(F.min("vec_id").alias("keeper_vec_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@query(
    "join_snowflake_q5",
    oracle=f"""
SELECT n.n_name,
       {o_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n.n_name
""",
)
def join_snowflake_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped 6-table snowflake: local-supplier revenue per
    nation for one region-year — the deepest join chain in the
    inventory (fact ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region),
    including Q5's signature non-hierarchical predicate
    s_nationkey = c_nationkey.

    Join strategy for 100 TB: the two fact-sized legs (lineitem⋈orders
    on orderkey, +customer on custkey) shuffle on their keys;
    supplier joins on suppkey (shuffle — supplier is 10 M rows at
    SF1k, not broadcastable) with the nationkey equality as a
    post-condition; nation and region are broadcast. Revenue uses the
    two-level unscaled-long scheme: per-(nation, partition) codegen
    long partials, decimal combine over the tiny partial set.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n_ = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(s, (s.s_suppkey == l.l_suppkey) & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n_), n_.n_nationkey == c.c_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n_.n_regionkey)
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    partial = joined.groupBy("n_name", F.spark_partition_id().alias("_pid")).agg(
        F.sum(ulong(disc_price)).alias("_rev")
    )
    return partial.groupBy("n_name").agg(
        unscale(F.sum(F.col("_rev").cast("decimal(38,0)"))).alias("revenue")
    )


# ------------------------------------------------ wave 5 (r4w5) keys

from .corpus import _DECON_N, _grams  # noqa: E402


@query(
    "text_ngram_novelty",
    oracle=f"""
WITH grams AS (
  SELECT DISTINCT doc_id,
         concat_ws(' ', {', '.join(f't[i+{j}]' for j in range(5))}) AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       UNNEST(CASE WHEN len(t) >= 5
                   THEN generate_series(1, len(t)-4) ELSE [] END) AS u(i)
), first_seen AS (
  SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY gram
), per_doc AS (
  SELECT g.doc_id,
         COUNT(*) AS n_grams,
         SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS n_novel
  FROM grams g JOIN first_seen f ON f.gram = g.gram
  GROUP BY g.doc_id
)
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(p.n_grams) AS BIGINT) AS n_grams,
       CAST(SUM(p.n_novel) AS BIGINT) AS n_novel,
       ROUND(CAST(SUM(p.n_novel) AS DOUBLE) / SUM(p.n_grams), 6) AS novelty_rate,
       CAST(SUM(CASE WHEN p.n_novel = p.n_grams THEN 1 ELSE 0 END) AS BIGINT)
         AS n_fully_novel_docs
FROM per_doc p JOIN documents d ON d.doc_id = p.doc_id
GROUP BY d.lang
""",
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty per language: for each doc, the fraction of its
    distinct 5-grams whose FIRST corpus occurrence (min doc_id) is this
    doc — the repetition/memorization profile of a crawl (low novelty
    ⇒ boilerplate-heavy source; the doc-order curve of this quantity
    is the dedup-payoff estimate).

    First-occurrence attribution is one groupBy(gram).min(doc_id) over
    the distinct gram stream (reuses corpus._grams — spread before the
    explode, distinct per doc), joined back on the gram key: two
    hash-partitioned shuffles on grams, no windows, no pair joins. The
    novelty ratio is exact-integer until one final double division.
    At 100 TB the join key would be md5(gram) (32-byte bound), same
    note as decon_ngram_overlap.
    """
    d = load_table(spark, sf_dir, "documents")
    grams = _grams(d.select("doc_id", "text"), _DECON_N).transform(tpersist)
    first_seen = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(first_seen, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)).alias(
                "n_novel"
            ),
        )
    )
    return (
        per_doc.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_grams").alias("n_grams"),
            F.sum("n_novel").alias("n_novel"),
            F.round(F.sum("n_novel").cast("double") / F.sum("n_grams"), 6).alias(
                "novelty_rate"
            ),
            F.sum(F.when(F.col("n_novel") == F.col("n_grams"), 1).otherwise(0)).alias(
                "n_fully_novel_docs"
            ),
        )
    )


@query(
    "text_vocab_growth",
    oracle="""
WITH mx AS (
  SELECT MAX(doc_id) AS m FROM documents
), cp AS (
  SELECT p, CAST((SELECT m FROM mx) * p // 10 AS BIGINT) AS cutoff
  FROM (SELECT UNNEST(generate_series(1, 10)) AS p)
), words AS (
  SELECT word, MIN(doc_id) AS first_doc
  FROM (SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS word
        FROM documents)
  GROUP BY word
), vocab_curve AS (
  SELECT c.p, CAST(COUNT(*) AS BIGINT) AS vocab_size
  FROM words w JOIN cp c ON w.first_doc <= c.cutoff
  GROUP BY c.p
), doc_curve AS (
  SELECT c.p,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS n_tokens
  FROM documents d JOIN cp c ON d.doc_id <= c.cutoff
  GROUP BY c.p
)
SELECT CAST(c.p AS INTEGER) AS decile, c.cutoff,
       dc.n_docs, dc.n_tokens, vc.vocab_size
FROM cp c
JOIN doc_curve dc ON dc.p = c.p
JOIN vocab_curve vc ON vc.p = c.p
""",
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve: distinct-word count vs corpus
    size at ten doc-id checkpoints — the V(n) ≈ K·n^β curve that sizes
    tokenizer vocabularies and predicts how much NEW vocabulary the
    next crawl increment brings (flattening curve ⇒ diminishing data).

    Cumulative-distinct made distributed: a word's first occurrence is
    one groupBy(word).min(doc_id); "vocab at checkpoint c" is then a
    count of first_doc ≤ c — no running distinct-state anywhere. The
    10-row checkpoint table derives from MAX(doc_id) as a broadcast
    1-row aggregate (integer-exact thresholds, no driver collect);
    both curve branches are conditional-join + partial agg. Fan-out is
    vocab×10 / docs×10 rows — linear, shuffle-friendly.
    """
    d = load_table(spark, sf_dir, "documents")
    mx = d.agg(F.max("doc_id").alias("m"))
    cp = (
        spark.range(1, 11)
        .select(F.col("id").cast("int").alias("p"))
        .crossJoin(F.broadcast(mx))
        .select("p", F.expr("m * p div 10").cast("long").alias("cutoff"))
    )
    words = (
        d.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("word"))
        .distinct()
        .groupBy("word")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    vocab_curve = (
        words.join(F.broadcast(cp), F.col("first_doc") <= F.col("cutoff"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("vocab_size"))
    )
    doc_curve = (
        d.select("doc_id", F.size(F.split("text", " ")).alias("n_toks"))
        .join(F.broadcast(cp), F.col("doc_id") <= F.col("cutoff"))
        .groupBy("p")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
        )
    )
    return (
        cp.select(F.col("p").alias("decile"), "cutoff")
        .join(doc_curve.withColumnRenamed("p", "decile"), "decile")
        .join(vocab_curve.withColumnRenamed("p", "decile"), "decile")
    )


@query(
    "agg_hourly_latency_bands",
    oracle="""
SELECT event_type,
       CAST(date_part('hour', ts) AS INTEGER) AS hour_of_day,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(QUANTILE_CONT(value, 0.5), 6) AS p50_value,
       ROUND(QUANTILE_CONT(value, 0.95), 6) AS p95_value
FROM events
GROUP BY 1, 2
""",
)
def agg_hourly_latency_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p95 latency bands per event type × hour-of-day — the
    percentile version of agg_dow_hour_heatmap (count heatmaps hide
    tail shifts; this is where an SLA regression actually shows).

    ≤ 24×#types bounded groups, so exact per-group percentile sort is
    safe at any scale factor; a 100 TB deployment with finer cells
    swaps in approx_percentile (mergeable sketch) — same caveat as
    agg_percentile_exact. Hour-of-day comes from the session-pinned
    UTC clock on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.hour("ts").alias("hour_of_day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50_value"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95_value"),
    )


@query(
    "fn_datetime_format",
    oracle="""
SELECT o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS iso_date,
       strftime(o_orderdate, '%Y%m%d') AS compact_date,
       strftime(o_orderdate, '%H:%M:%S') AS time_of_day,
       strftime(o_orderdate, '%j') AS day_of_year,
       CAST(FLOOR(date_part('epoch', o_orderdate)) AS BIGINT) AS epoch_sec,
       CAST(date_part('quarter', o_orderdate) AS INTEGER) AS quarter
FROM orders
""",
)
def fn_datetime_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime rendering family: ISO / compact / time-of-day /
    day-of-year strftime patterns plus epoch seconds and quarter — the
    partition-path and report-label formatting layer (e.g.
    dt=yyyyMMdd sink layouts).

    Pattern discipline: NUMERIC-only format codes (locale-dependent
    month/day NAMES differ across engines and deployments and are
    banned); day-of-year is zero-padded 3-wide on both sides (Spark
    'DDD' == strftime '%j'). Epoch floors before the cast (§5.3). Pure
    per-row projection — codegen, no shuffle.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso_date"),
        F.date_format("o_orderdate", "yyyyMMdd").alias("compact_date"),
        F.date_format("o_orderdate", "HH:mm:ss").alias("time_of_day"),
        F.date_format("o_orderdate", "DDD").alias("day_of_year"),
        # o_orderdate loads as TIMESTAMP_NTZ — hop through the session-UTC
        # timestamp so the epoch cast is legal and wall-clock == UTC epoch
        F.col("o_orderdate").cast("timestamp").cast("long").alias("epoch_sec"),
        F.quarter("o_orderdate").alias("quarter"),
    )


# ------------------------------------------------ wave 7 (r4w7) keys


@query(
    "ts_dau_wau",
    oracle="""
WITH user_day AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
  FROM events
), days AS (
  SELECT DISTINCT day FROM user_day
), dau AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM user_day GROUP BY day
), reach AS (
  SELECT DISTINCT ud.user_id, ud.day + k * INTERVAL 1 DAY AS day
  FROM user_day ud CROSS JOIN range(7) t(k)
), wau AS (
  SELECT r.day, CAST(COUNT(*) AS BIGINT) AS wau
  FROM reach r JOIN days d ON d.day = r.day
  GROUP BY r.day
)
SELECT d.day, dau.dau, wau.wau,
       ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
FROM days d JOIN dau ON dau.day = d.day JOIN wau ON wau.day = d.day
""",
)
def ts_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness (DAU÷WAU) per day — the
    engagement trio on every product dashboard, and the canonical
    rolling-DISTINCT problem: WAU is a windowed COUNT DISTINCT, which
    no partial aggregate can maintain directly.

    The scale-out trick: a user active on day d contributes to WAU of
    days d..d+6, so project each (user, day) forward ×7, re-distinct,
    and count — rolling distinct becomes plain distinct + count with a
    bounded (×window-width) fan-out, all hash-partitioned. At 100 TB
    with wider windows (MAU ×30) you'd swap the re-distinct for
    per-day HLL/bitmap sketches (sketch_hll_mergeable's shape); the
    exact formulation here is the oracle-checkable baseline of that.
    Projected days beyond the observed range are dropped by the
    semi-join against the real day set.
    """
    ev = load_table(spark, sf_dir, "events")
    user_day = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct().transform(tpersist)
    days = user_day.select("day").distinct()
    dau = user_day.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    k = spark.range(7).select(F.col("id").cast("int").alias("k"))
    reach = (
        user_day.crossJoin(F.broadcast(k))
        .select("user_id", F.expr("day + make_dt_interval(k, 0, 0, 0)").alias("day"))
        .distinct()
    )
    wau = (
        reach.join(days, "day")
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    return (
        days.join(dau, "day")
        .join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias("stickiness"),
        )
    )


_N_SHARDS = 64


@query(
    "corpus_shard_balance",
    oracle=f"""
WITH sharded AS (
  SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % {_N_SHARDS}
           AS shard,
         n_chars
  FROM documents
), per_shard AS (
  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars
  FROM sharded GROUP BY shard
)
SELECT CAST(shard AS INTEGER) AS shard, n_docs, n_chars,
       ROUND(CAST(n_docs AS DOUBLE)
             / (SUM(n_docs) OVER () / CAST({_N_SHARDS} AS DOUBLE)), 6) AS load_factor
FROM per_shard
""",
)
def corpus_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shard assignment (md5(doc_id) mod 64) with per-
    shard doc/char mass and load factor vs the uniform ideal — the
    output-layout planning step before any 100 TB corpus write:
    hash-sharding is how the final dataset lands in object storage,
    and this report is the skew check that sizes the writers.

    Hash is the cross-engine md5-prefix→int64 path (the
    dedup_ngram_jaccard idiom) — NEVER Spark's hash()/DuckDB's hash(),
    which are engine-specific. One partial-agg'd shuffle to 64 cells;
    the load-factor window runs over those 64 rows only.
    """
    d = load_table(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % _N_SHARDS
    )
    per_shard = d.select(shard.cast("int").alias("shard"), "n_chars").groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("n_chars")
    )
    ideal = F.sum("n_docs").over(Window.partitionBy()) / F.lit(float(_N_SHARDS))
    return per_shard.select(
        "shard",
        "n_docs",
        "n_chars",
        F.round(F.col("n_docs").cast("double") / ideal, 6).alias("load_factor"),
    )


@query(
    "ops_session_report_e2e",
    oracle=f"""
WITH sessions AS (
  SELECT * FROM ({SESSIONIZE_ORACLE}) AS s
), per_user AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_sessions,
         CAST(SUM(n_events) AS BIGINT) AS n_events,
         CAST(SUM(duration_sec) AS BIGINT) AS total_duration_sec
  FROM sessions GROUP BY user_id
)
SELECT CASE WHEN n_events < 10 THEN '0_lt10'
            WHEN n_events < 30 THEN '1_lt30'
            ELSE '2_ge30' END AS activity_tier,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(n_sessions) AS BIGINT) AS n_sessions,
       ROUND(CAST(SUM(n_sessions) AS DOUBLE) / COUNT(*), 6) AS sessions_per_user,
       ROUND(CAST(SUM(n_events) AS DOUBLE) / SUM(n_sessions), 6) AS events_per_session,
       ROUND(CAST(SUM(total_duration_sec) AS DOUBLE) / SUM(n_sessions), 6)
         AS avg_session_duration_sec
FROM per_user
GROUP BY 1
""",
)
def ops_session_report_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP ops composition — the log-analytics twin of
    corpus_pipeline_e2e: sessionize (gaps-and-islands) → per-user
    engagement rollup → activity-tier report (sessions/user,
    events/session, mean session duration per tier), as ONE fused
    declarative plan.

    Every stage's primitive is independently verified by its
    standalone key (win_sessionize, win_session_length_histogram,
    agg_user_type_entropy's tiering); this key proves they COMPOSE
    without materialization barriers: Catalyst pipelines the session
    merge (since r10 a partially-aggregating session_window, not a
    window chain), both rollups, and the tier bucketing into a single
    plan whose only exchanges are the user_id shuffle (shared by the
    session merge, the session-index window, and the per-user agg —
    same key, reused partitioning) and the final ≤3-cell tier agg. All
    ratios derive from exact integer
    sums — one double division each, no float-sum hazard.
    """
    sessions = win_sessionize(spark, sf_dir)
    per_user = sessions.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.sum("duration_sec").alias("total_duration_sec"),
    )
    tier = (
        F.when(F.col("n_events") < 10, "0_lt10")
        .when(F.col("n_events") < 30, "1_lt30")
        .otherwise("2_ge30")
    )
    n_users = F.count(F.lit(1))
    return per_user.groupBy(tier.alias("activity_tier")).agg(
        n_users.alias("n_users"),
        F.sum("n_sessions").alias("n_sessions"),
        F.round(F.sum("n_sessions").cast("double") / n_users, 6).alias("sessions_per_user"),
        F.round(
            F.sum("n_events").cast("double") / F.sum("n_sessions"), 6
        ).alias("events_per_session"),
        F.round(
            F.sum("total_duration_sec").cast("double") / F.sum("n_sessions"), 6
        ).alias("avg_session_duration_sec"),
    )


@query(
    "win_time_weighted_avg",
    oracle="""
WITH gapped AS (
  SELECT event_type,
         CAST(value AS DECIMAL(18,6)) AS v,
         date_diff('second', ts,
                   LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           AS gap_sec
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(gap_sec) AS BIGINT) AS total_sec,
       ROUND(CAST(SUM(v * gap_sec) AS DOUBLE) / SUM(gap_sec), 6) AS twa_value,
       ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS plain_avg
FROM gapped
WHERE gap_sec IS NOT NULL AND gap_sec > 0
GROUP BY event_type
""",
)
def win_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-WEIGHTED average of the value column per event type — each
    reading weighted by how long it was "current" (gap to the user's
    next event), beside the plain average it corrects. The standard
    fix for irregular sampling: a gauge read once during a quiet hour
    must not count the same as sixty reads during a burst (plain AVG
    over-weights bursts; TWA weights by wall-clock coverage).

    One per-user lead window (the win_lag_lead shuffle shape), then a
    partial-agg'd rollup: value·gap products are DECIMAL(28,6)-exact
    (decimal × bigint), sums order-invariant, one double division at
    the end. Zero/absent gaps (last event per user, same-timestamp
    pairs) are excluded on both sides — they carry no wall-clock mass.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gapped = ev.select(
        "event_type",
        F.col("value").cast("decimal(18,6)").alias("v"),
        (F.lead("ts").over(w).cast("long") - F.col("ts").cast("long")).alias("gap_sec"),
    ).where(F.col("gap_sec").isNotNull() & (F.col("gap_sec") > 0))
    n = F.count(F.lit(1))
    return gapped.groupBy("event_type").agg(
        n.alias("n_intervals"),
        F.sum("gap_sec").alias("total_sec"),
        F.round(
            F.sum(F.col("v") * F.col("gap_sec")).cast("double") / F.sum("gap_sec"), 6
        ).alias("twa_value"),
        F.round(F.sum("v").cast("double") / n, 6).alias("plain_avg"),
    )


@query(
    "ts_anomaly_robust_mad",
    oracle="""
WITH med AS (
  SELECT event_type, QUANTILE_CONT(value, 0.5) AS med FROM events GROUP BY 1
), dev AS (
  SELECT e.event_type, e.value, m.med, ABS(e.value - m.med) AS adev
  FROM events e JOIN med m ON m.event_type = e.event_type
), mad AS (
  SELECT event_type, QUANTILE_CONT(adev, 0.5) AS mad FROM dev GROUP BY 1
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MAX(m.mad), 6) AS mad,
       CAST(SUM(CASE WHEN 0.6745 * (d.value - d.med) / m.mad > 3.5
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_high_outliers,
       CAST(SUM(CASE WHEN 0.6745 * (d.value - d.med) / m.mad < -3.5
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_low_outliers,
       ROUND(MAX(0.6745 * (d.value - d.med) / m.mad), 6) AS max_robust_z
FROM dev d JOIN mad m ON m.event_type = d.event_type
GROUP BY d.event_type
""",
)
def ts_anomaly_robust_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST outlier detection per event type via the modified z-score
    0.6745·(x − median)/MAD with the standard 3.5 cutoff — the
    companion ts_anomaly_zscore needs when the anomalies themselves
    poison the mean/stddev baseline (median and MAD have a 50%
    breakdown point; mean/std have 0%).

    Two bounded-group exact medians (per-type value median, then
    per-type median of absolute deviations) joined back broadcast —
    #types rows each, so the joins are free and the scan count stays
    at two passes (the second pass is inherent: MAD needs the
    median first). Both engines linear-interpolate QUANTILE_CONT /
    percentile; the z expression mirrors operation order exactly.
    """
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "value", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    z = F.lit(0.6745) * (F.col("value") - F.col("med")) / F.col("mad")
    cnt = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max("mad"), 6).alias("mad"),
            cnt(z > 3.5).alias("n_high_outliers"),
            cnt(z < -3.5).alias("n_low_outliers"),
            F.round(F.max(z), 6).alias("max_robust_z"),
        )
    )


@query(
    "ts_merge_intervals",
    oracle="""
WITH iv AS (
  SELECT user_id, ts AS s, ts + INTERVAL 300 SECOND AS e FROM events
), flagged AS (
  SELECT user_id, s, e,
         CASE WHEN s <= MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 0 ELSE 1 END AS new_island
  FROM iv
), numbered AS (
  SELECT user_id, s, e,
         CAST(SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS island
  FROM flagged
), merged AS (
  SELECT user_id, island, MIN(s) AS start_ts, MAX(e) AS end_ts
  FROM numbered GROUP BY user_id, island
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_merged_intervals,
       CAST(SUM(date_diff('second', start_ts, end_ts)) AS BIGINT) AS covered_sec
FROM merged GROUP BY user_id
""",
)
def ts_merge_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-interval merge: each event opens a 5-minute activity
    interval; per user, coalesce every overlapping/touching chain into
    one merged interval and report interval count + covered seconds —
    the downtime/uptime coalescing verb (alert windows, maintenance
    overlap, ad-exposure coverage) that naive DISTINCT can't express.

    The classic islands formulation, distributed: a running MAX(end)
    window per user flags chain starts (an interval starting after
    every prior end opens a new island), a running SUM numbers the
    islands, one aggregate merges them. Same single-shuffle shape as
    win_sessionize — sessionization IS interval merging with
    gap-width intervals. Timestamp arithmetic stays in the truncating
    long cast both engines share (§5.3).
    """
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("s"),
        F.expr("ts + INTERVAL 300 SECONDS").alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "e")
    prior_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "new_island",
        F.when(F.col("s") <= prior_max_e, 0).otherwise(1),
    )
    numbered = flagged.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    merged = numbered.groupBy("user_id", "island").agg(
        F.min("s").alias("start_ts"), F.max("e").alias("end_ts")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_merged_intervals"),
        F.sum(
            F.col("end_ts").cast("long") - F.col("start_ts").cast("long")
        ).alias("covered_sec"),
    )


@query(
    "corpus_temperature_weights",
    oracle="""
WITH counts AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
), powered AS (
  SELECT lang, n_docs, CAST(POW(n_docs, 0.5) AS DECIMAL(28,10)) AS w
  FROM counts
)
SELECT lang, n_docs,
       ROUND(CAST(w AS DOUBLE) / CAST(SUM(w) OVER () AS DOUBLE), 6) AS sample_weight,
       CAST(FLOOR(10000 * CAST(w AS DOUBLE) / CAST(SUM(w) OVER () AS DOUBLE)) AS BIGINT)
         AS expected_docs_at_10k,
       ROUND(CAST(w AS DOUBLE) / CAST(SUM(w) OVER () AS DOUBLE)
             - CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (), 6) AS uplift_vs_natural
FROM powered
""",
)
def corpus_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based multilingual sampling weights (α=0.5,
    p_l ∝ n_l^α): per language, the up/down-sampling weight, the
    expected doc count at a 10k budget, and the uplift vs natural
    proportions — the XLM-R-style mixing step that keeps low-resource
    languages from vanishing at natural rates (corpus_mix_rebalance
    APPLIES a fixed mix; this key COMPUTES the mix from the data).

    One partial-agg'd count shuffle to #langs cells; the n^α powers
    are quantized to decimal so the normalizing SUM over languages is
    order-invariant, then every ratio is one double division (the
    ts_autocorr_lag float discipline). The share window runs over
    ≤#langs rows.
    """
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    powered = counts.select(
        "lang", "n_docs", F.pow("n_docs", F.lit(0.5)).cast("decimal(28,10)").alias("w")
    )
    tot_w = F.sum("w").over(Window.partitionBy()).cast("double")
    tot_n = F.sum("n_docs").over(Window.partitionBy())
    weight = F.col("w").cast("double") / tot_w
    return powered.select(
        "lang",
        "n_docs",
        F.round(weight, 6).alias("sample_weight"),
        F.floor(10000 * weight).cast("long").alias("expected_docs_at_10k"),
        F.round(weight - F.col("n_docs").cast("double") / tot_n, 6).alias(
            "uplift_vs_natural"
        ),
    )


@query(
    "text_sentence_stats",
    oracle="""
WITH sent AS (
  SELECT doc_id, lang, s
  FROM (SELECT doc_id, lang,
               UNNEST(string_split_regex(text, '[.!?]+')) AS s
        FROM documents)
  WHERE length(trim(s)) > 0
), per_doc AS (
  SELECT doc_id, lang,
         CAST(COUNT(*) AS BIGINT) AS n_sentences,
         CAST(SUM(len(string_split_regex(trim(s), ' +'))) AS BIGINT) AS n_words
  FROM sent GROUP BY doc_id, lang
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_sentences) AS BIGINT) AS n_sentences,
       ROUND(CAST(SUM(n_sentences) AS DOUBLE) / COUNT(*), 6) AS sentences_per_doc,
       ROUND(CAST(SUM(n_words) AS DOUBLE) / SUM(n_sentences), 6) AS words_per_sentence,
       CAST(MAX(n_sentences) AS BIGINT) AS max_sentences
FROM per_doc GROUP BY lang
""",
)
def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-segmentation profile per language: sentences/doc and
    words/sentence (plus the max) from a regex sentence split — the
    readability/structure layer between character stats (text_stats)
    and token stats (text_token_stats); wildly long "sentences" are
    the no-punctuation boilerplate signal quality filters key on.

    The split pattern `[.!?]+` and the word split ` +` sit in the
    Java∩RE2 common subset; EMPTY fragments are filtered after trim on
    BOTH sides, which neutralizes the engines' differing
    trailing-empty-string split semantics (the cross-engine split trap
    — asserting on raw fragment counts would hash-mismatch). Explode →
    two partial-agg'd rollups, spread first so single-split files
    parallelize.
    """
    d = load_table(spark, sf_dir, "documents")
    sent = (
        spread(d.select("doc_id", "lang", "text"), "doc_id")
        .select("doc_id", "lang", F.explode(F.split("text", "[.!?]+")).alias("s"))
        .where(F.length(F.trim("s")) > 0)
    )
    per_doc = sent.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_sentences"),
        F.sum(F.size(F.split(F.trim("s"), " +"))).cast("long").alias("n_words"),
    )
    n = F.count(F.lit(1))
    return per_doc.groupBy("lang").agg(
        n.alias("n_docs"),
        F.sum("n_sentences").alias("n_sentences"),
        F.round(F.sum("n_sentences").cast("double") / n, 6).alias("sentences_per_doc"),
        F.round(
            F.sum("n_words").cast("double") / F.sum("n_sentences"), 6
        ).alias("words_per_sentence"),
        F.max("n_sentences").alias("max_sentences"),
    )


@query(
    "corpus_doc_length_histogram",
    oracle="""
SELECT lang,
       CAST(FLOOR(LOG2(n_chars)) AS INTEGER) AS len_bucket_log2,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents
WHERE n_chars > 0
GROUP BY 1, 2
""",
)
def corpus_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed document-length histogram per language — the
    length-distribution shape (heavy short-doc head? truncation wall
    at a power of two?) that picks the min-length filter threshold
    corpus_filter_funnel then audits.

    Bucket = floor(log2(n_chars)): both engines evaluate IEEE log2 on
    the same integers, and floor is only tie-sensitive at exact powers
    of two where log2 is exactly integral in IEEE — deterministic on
    both. ≤ ~20 buckets × #langs cells of group state at any corpus
    size; one partial-agg'd shuffle.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.where(F.col("n_chars") > 0)
        .groupBy(
            "lang", F.floor(F.log2("n_chars")).cast("int").alias("len_bucket_log2")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@query(
    "win_pareto_8020",
    oracle="""
WITH ua AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1
), c AS (
  SELECT user_id, n,
         ROW_NUMBER() OVER (ORDER BY n DESC, user_id ASC) AS rn,
         SUM(n) OVER (ORDER BY n DESC, user_id ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM ua
), t AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS n_users FROM ua
)
SELECT CAST(MIN(c.rn) AS BIGINT) AS n_users_for_80pct,
       t.n_users,
       ROUND(CAST(MIN(c.rn) AS DOUBLE) / t.n_users, 6) AS user_share,
       t.total AS n_events_total
FROM c CROSS JOIN t
WHERE c.cum * 5 >= t.total * 4
GROUP BY t.n_users, t.total
""",
)
def win_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: the smallest top-user set generating ≥80%
    of all events, as a count and population share — the
    "how concentrated is my traffic" number behind capacity isolation
    and abuse triage (agg_gini_user_activity is the same question as
    an index; this names the actual cohort size).

    The naive formulation (the oracle) needs a GLOBAL ORDER BY window
    for both rank and running sum. Distributed shape: range-partition
    users by (events DESC, user), per-partition LOCAL rank and cumsum
    windows in parallel, then broadcast per-partition (row, sum)
    offsets — the distributed_rank pattern extended to PREFIX SUMS;
    the only single-partition work is the #partitions-row offsets
    cumsum. The 80% crossing test is integer-exact (cum·5 ≥ total·4 —
    no float threshold), so the cohort boundary is deterministic.
    """
    ev = load_table(spark, sf_dir, "events")
    ua = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = (
        ua.repartitionByRange(n_parts, F.col("n").desc(), F.col("user_id").asc())
        .withColumn("_pid", F.spark_partition_id())
        .transform(tpersist)
    )
    w_local = Window.partitionBy("_pid").orderBy(F.col("n").desc(), F.col("user_id").asc())
    w_cum = w_local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    part_stats = ranged.groupBy("_pid").agg(
        F.count(F.lit(1)).alias("_rows"), F.sum("n").alias("_sum")
    )
    off_w = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = part_stats.select(
        "_pid",
        F.coalesce(F.sum("_rows").over(off_w), F.lit(0)).alias("_rn_off"),
        F.coalesce(F.sum("_sum").over(off_w), F.lit(0)).alias("_cum_off"),
    )
    c = (
        ranged.withColumn("_lrn", F.row_number().over(w_local))
        .withColumn("_lcum", F.sum("n").over(w_cum))
        .join(F.broadcast(offsets), "_pid")
        .select(
            (F.col("_rn_off") + F.col("_lrn")).cast("long").alias("rn"),
            (F.col("_cum_off") + F.col("_lcum")).cast("long").alias("cum"),
        )
    )
    t = ua.agg(
        F.sum("n").cast("long").alias("total"), F.count(F.lit(1)).alias("n_users")
    )
    return (
        c.crossJoin(F.broadcast(t))
        .where(F.col("cum") * 5 >= F.col("total") * 4)
        .groupBy("n_users", "total")
        .agg(F.min("rn").alias("n_users_for_80pct"))
        .select(
            "n_users_for_80pct",
            "n_users",
            F.round(F.col("n_users_for_80pct").cast("double") / F.col("n_users"), 6).alias(
                "user_share"
            ),
            F.col("total").alias("n_events_total"),
        )
    )


@query(
    "ts_cumulative_daily",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         SUM(CAST(value AS DECIMAL(18,6))) AS sv
  FROM events GROUP BY 1, 2
)
SELECT event_type, day, n_events,
       CAST(SUM(n_events) OVER w AS BIGINT) AS cum_events,
       ROUND(CAST(SUM(sv) OVER w AS DOUBLE), 6) AS cum_value
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def ts_cumulative_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative daily series per event type: day-grid counts and
    running value totals — the to-date growth curve (volume-to-date,
    revenue-to-date) every reporting layer draws.

    The running window is per-type over the DAILY ROLLUP, so its
    partition size is the calendar span (365 rows/year), not the data
    volume — the win_moving_avg boundedness argument; the data-sized
    work is one partial-agg'd (type, day) shuffle. Daily sums are
    exact decimal and the RUNNING sum stays decimal (order fixed by
    the window frame, value exact), converting to double once per
    output row.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sv"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "event_type",
        "day",
        "n_events",
        F.sum("n_events").over(w).cast("long").alias("cum_events"),
        F.round(F.sum("sv").over(w).cast("double"), 6).alias("cum_value"),
    )


@query(
    "emb_dim_variance_top",
    oracle="""
WITH dims AS (
  SELECT label, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
), stats AS (
  SELECT label, pos,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(v AS DECIMAL(18,7))) AS DOUBLE) AS s,
         CAST(SUM(CAST(v AS DECIMAL(18,7)) * CAST(v AS DECIMAL(18,7))) AS DOUBLE) AS sxx
  FROM dims GROUP BY label, pos
), ranked AS (
  SELECT label, CAST(pos AS INTEGER) AS pos,
         ROUND((sxx - s * s / n) / n, 6) AS variance,
         ROW_NUMBER() OVER (PARTITION BY label
                            ORDER BY ROUND((sxx - s * s / n) / n, 6) DESC, pos ASC) AS rk
  FROM stats
)
SELECT label, pos, variance, CAST(rk AS INTEGER) AS var_rank
FROM ranked WHERE rk <= 5
""",
)
def emb_dim_variance_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 highest-variance embedding dimensions per label — the
    subspace-energy profile: near-zero-variance dims are dead capacity
    (candidates for emb_mrl_truncate_recall's truncation), and a
    single dim dominating variance flags a rogue feature before any
    index build.

    Variance via the exact-moment form (Σx² − S²/n)/n: elements are
    QUANTIZED to decimal(18,7) first (deterministic double→decimal on
    both engines), so squares are decimal(37,14) — inside Spark's
    38-digit exactness AND DuckDB's int64 multiply (the widened
    (28,9)² first cut overflowed Spark's 38 digits and silently
    ROUNDED, a 1-ulp-at-6dp mismatch; the seasonal-strength overflow
    lesson has this dual). Sums exact, one double conversion per
    moment. Group state is #labels × 64 cells; the top-5 window runs
    over 64 rows per label.
    """
    e = load_table(spark, sf_dir, "embeddings")
    v7 = F.col("v").cast("decimal(18,7)")
    stats = (
        spread(e, "vec_id")
        .select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(v7).cast("double").alias("s"),
            F.sum(v7 * v7).cast("double").alias("sxx"),
        )
    )
    variance = F.round(
        (F.col("sxx") - F.col("s") * F.col("s") / F.col("n")) / F.col("n"), 6
    )
    return (
        stats.select(
            "label", F.col("pos").cast("int").alias("pos"), variance.alias("variance")
        )
        .withColumn("var_rank", F.row_number().over(
            Window.partitionBy("label").orderBy(F.col("variance").desc(), F.col("pos").asc())
        ))
        .where(F.col("var_rank") <= 5)
    )


@query(
    "profile_column_stats",
    oracle="""
WITH base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user_id,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS d_user_id,
         CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_type,
         CAST(COUNT(DISTINCT event_type) AS BIGINT) AS d_event_type,
         CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
         CAST(COUNT(DISTINCT value) AS BIGINT) AS d_value,
         CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props,
         CAST(COUNT(DISTINCT props) AS BIGINT) AS d_props
  FROM events
)
SELECT 'user_id' AS col_name, n_rows, null_user_id AS n_nulls,
       ROUND(CAST(null_user_id AS DOUBLE) / n_rows, 6) AS null_rate,
       d_user_id AS n_distinct FROM base
UNION ALL
SELECT 'event_type', n_rows, null_event_type,
       ROUND(CAST(null_event_type AS DOUBLE) / n_rows, 6), d_event_type FROM base
UNION ALL
SELECT 'value', n_rows, null_value,
       ROUND(CAST(null_value AS DOUBLE) / n_rows, 6), d_value FROM base
UNION ALL
SELECT 'props', n_rows, null_props,
       ROUND(CAST(null_props AS DOUBLE) / n_rows, 6), d_props FROM base
""",
)
def profile_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling audit of the events table: per column, null
    count/rate and exact distinct cardinality, as ROWS (one per
    column) — the schema-drift tripwire a landing-zone pipeline runs
    on every new batch (a column suddenly 90% null or 1-distinct is
    the classic upstream breakage signature).

    ONE aggregation computes all per-column moments (the multi-distinct
    Expand shape of agg_multi_distinct, ×4 columns), then a bounded
    4-row unpivot (stack) presents them column-per-row — one scan
    total; profiling N columns adds conditional aggs, never passes.
    """
    ev = load_table(spark, sf_dir, "events")
    nul = lambda c: F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))  # noqa: E731
    base = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[nul(c).alias(f"null_{c}") for c in ("user_id", "event_type", "value", "props")],
        *[
            F.countDistinct(c).alias(f"d_{c}")
            for c in ("user_id", "event_type", "value", "props")
        ],
    )
    stacked = base.select(
        "n_rows",
        F.expr(
            "stack(4, "
            "'user_id', null_user_id, d_user_id, "
            "'event_type', null_event_type, d_event_type, "
            "'value', null_value, d_value, "
            "'props', null_props, d_props"
            ") AS (col_name, n_nulls, n_distinct)"
        ),
    )
    return stacked.select(
        "col_name",
        "n_rows",
        "n_nulls",
        F.round(F.col("n_nulls").cast("double") / F.col("n_rows"), 6).alias("null_rate"),
        "n_distinct",
    )


@query(
    "text_casing_profile",
    oracle="""
WITH toks AS (
  SELECT lang, t FROM (
    SELECT lang, UNNEST(string_split(text, ' ')) AS t FROM documents
  ) WHERE length(t) > 0
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN regexp_matches(t, '^[a-z]+$') THEN 1 ELSE 0 END) AS BIGINT)
         AS n_lower,
       CAST(SUM(CASE WHEN regexp_matches(t, '^[A-Z]+$') AND length(t) > 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_shout,
       CAST(SUM(CASE WHEN regexp_matches(t, '^[A-Z][a-z]+$') THEN 1 ELSE 0 END) AS BIGINT)
         AS n_title,
       ROUND(CAST(SUM(CASE WHEN regexp_matches(t, '^[A-Z]+$') AND length(t) > 1
                           THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS shout_ratio
FROM toks
GROUP BY lang
""",
)
def text_casing_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-casing profile per language: lowercase / ALL-CAPS (len>1)
    / Titlecase counts and the shouting ratio — the casing layer of
    text quality scoring (ALL-CAPS mass flags ads and forum shouting;
    a Titlecase surge flags listings/headlines) and the empirical
    input to any lowercasing-normalization decision.

    Anchored ASCII character-class patterns sit in the Java∩RE2∩DuckDB
    common subset; empty fragments are length-filtered on both sides
    (the split-semantics rule from text_sentence_stats).

    Partitioning (fixed r10, found by the parallelism audit after the
    fingerprint incident): the original spread-by-LANG capped the
    regex-heavy explode at ≤#langs (5) of n tasks to make the final
    groupBy(lang) exchange-free — exactly backwards, since that agg is
    map-side partial and its exchange carries only #langs × #partitions
    PARTIAL rows. Round-robin explicit-N repartition runs the explode
    n-way and pays the metadata-sized shuffle: 2.47 → 0.75 s at x64
    docs, hash-equal.
    """
    d = load_table(spark, sf_dir, "documents")
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    toks = (
        d.select("lang", "text")
        .repartition(n)
        .select("lang", F.explode(F.split("text", " ")).alias("t"))
        .where(F.length("t") > 0)
    )
    cnt = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731
    shout = F.col("t").rlike("^[A-Z]+$") & (F.length("t") > 1)
    n = F.count(F.lit(1))
    return toks.groupBy("lang").agg(
        n.alias("n_tokens"),
        cnt(F.col("t").rlike("^[a-z]+$")).alias("n_lower"),
        cnt(shout).alias("n_shout"),
        cnt(F.col("t").rlike("^[A-Z][a-z]+$")).alias("n_title"),
        F.round(cnt(shout).cast("double") / n, 6).alias("shout_ratio"),
    )


@query(
    "win_rank_delta_daily",
    oracle="""
WITH ud AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT user_id, day, n,
         CAST(ROW_NUMBER() OVER (PARTITION BY day ORDER BY n DESC, user_id ASC)
              AS BIGINT) AS day_rank
  FROM ud
), delta AS (
  SELECT user_id, day, n, day_rank,
         LAG(day_rank) OVER (PARTITION BY user_id ORDER BY day) AS prev_rank
  FROM ranked
)
SELECT user_id, day, n, day_rank,
       CAST(COALESCE(prev_rank - day_rank, 0) AS BIGINT) AS rank_gain
FROM delta
""",
)
def win_rank_delta_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day leaderboard movement: each user's within-day
    activity rank and the gain vs their previous ACTIVE day — the
    rising/falling report behind trending panels, built from two
    windows over DIFFERENT partitionings (rank within day; lag within
    user).

    Both windows are legitimately partitioned — per-day ranking
    partitions on the day (a day's actives, not all history), the
    movement lag partitions on the user — so the plan is two bounded
    shuffles on (user,day)-grain rows, never a global window. First
    active day reports gain 0 (COALESCE, same both sides; no
    nullable-int dtype hazard).
    """
    ev = load_table(spark, sf_dir, "events")
    ud = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    w_day = Window.partitionBy("day").orderBy(F.col("n").desc(), F.col("user_id").asc())
    ranked = ud.withColumn("day_rank", F.row_number().over(w_day).cast("long"))
    w_user = Window.partitionBy("user_id").orderBy("day")
    delta = ranked.withColumn("prev_rank", F.lag("day_rank").over(w_user))
    return delta.select(
        "user_id",
        "day",
        "n",
        "day_rank",
        F.coalesce(F.col("prev_rank") - F.col("day_rank"), F.lit(0))
        .cast("long")
        .alias("rank_gain"),
    )


_DUPMASS_N = 5  # gram width (the Gopher/RefinedWeb repetition-rule width)


@query(
    "text_dup_gram_mass",
    oracle=f"""
WITH occ AS (
  SELECT doc_id, lang,
         concat_ws(' ', {', '.join(f't[i+{j}]' for j in range(5))}) AS gram
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
       UNNEST(CASE WHEN len(t) >= {5}
                   THEN generate_series(1, len(t)-{4}) ELSE [] END) AS u(i)
), df AS (
  SELECT gram, COUNT(DISTINCT doc_id) AS n_docs FROM occ GROUP BY gram
), per_doc AS (
  SELECT o.doc_id, o.lang,
         CAST(COUNT(*) AS BIGINT) AS n_occ,
         CAST(SUM(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_occ
  FROM occ o JOIN df f ON f.gram = o.gram
  GROUP BY o.doc_id, o.lang
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_occ) AS BIGINT) AS total_gram_occ,
       CAST(SUM(n_dup_occ) AS BIGINT) AS dup_gram_occ,
       ROUND(SUM(n_dup_occ) / CAST(SUM(n_occ) AS DOUBLE), 6) AS dup_mass,
       CAST(SUM(CASE WHEN n_dup_occ * 2 > n_occ THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_majority_dup
FROM per_doc GROUP BY lang
""",
)
def text_dup_gram_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-5-gram MASS per language — the Gopher/RefinedWeb
    repetition rule at corpus granularity: what fraction of all 5-gram
    occurrences (not distinct grams — novelty covers that) belong to a
    gram seen in more than one document, plus how many docs are
    majority-duplicate. THE before/after metric a dedup run is sized by:
    dup_mass is (approximately) the token mass dedup can reclaim.

    Plan (r16 reshape, guide §2.3 "shuffle fewer bytes" / "aggregate
    before you shuffle"): the occurrence stream is collapsed to DISTINCT
    (doc, gram) pairs with an in-stage occurrence count FIRST — the
    spread already clusters by doc_id, so that groupBy adds NO exchange
    — and everything downstream runs on pairs, not occurrences: df is a
    plain COUNT over the unique pairs (the r15 shape's
    countDistinct(doc_id) paid an Expand + two-phase aggregate whose
    shuffle carried every occurrence), the gram-keyed join back ships
    each (doc, gram) once with its count, and the per-doc rollup sums
    counts. Three hash shuffles as before, every one of them now
    carrying pair-granularity rows. At 100 TB the join key becomes
    md5(gram) (32-byte bound, the decon_ngram_overlap note) and df fits
    a count-min sketch if the exact join ever dominates.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = spread(d.select("doc_id", "lang", "text"), "doc_id").select(
        "doc_id", "lang", F.split(F.col("text"), " ").alias("t")
    )
    n = _DUPMASS_N
    idx = F.when(F.size("t") >= n, F.sequence(F.lit(1), F.size("t") - (n - 1))).otherwise(
        F.array().cast("array<int>")
    )
    gram = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(F.col("t"), i + j) for j in range(n)])
    )
    # Exchange-free collapse: HashPartitioning(doc_id) from the spread
    # satisfies the (doc_id, lang, gram) clustering, so this groupBy runs
    # inside the scan stage; rows out = distinct pairs, with multiplicity.
    occ = (
        toks.select("doc_id", "lang", F.explode(gram).alias("gram"))
        .groupBy("doc_id", "lang", "gram")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .transform(tpersist)
    )
    # occ is unique on (doc_id, gram) ⇒ COUNT(*) == COUNT(DISTINCT doc_id).
    df_counts = occ.groupBy("gram").agg(F.count(F.lit(1)).alias("n_docs_gram"))
    per_doc = (
        occ.join(df_counts, "gram")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("_cnt").alias("n_occ"),
            F.sum(F.when(F.col("n_docs_gram") > 1, F.col("_cnt")).otherwise(0)).alias(
                "n_dup_occ"
            ),
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_occ").alias("total_gram_occ"),
        F.sum("n_dup_occ").alias("dup_gram_occ"),
        F.round(F.sum("n_dup_occ") / F.sum("n_occ").cast("double"), 6).alias("dup_mass"),
        F.sum(F.when(F.col("n_dup_occ") * 2 > F.col("n_occ"), 1).otherwise(0)).alias(
            "n_docs_majority_dup"
        ),
    )


@query(
    "win_percent_rank_global",
    oracle="""
WITH activity AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY user_id
)
SELECT user_id, n_events,
       ROUND(PERCENT_RANK() OVER (ORDER BY n_events DESC, user_id ASC), 6)
         AS pct_rank,
       ROUND(CUME_DIST() OVER (ORDER BY n_events DESC, user_id ASC), 6)
         AS cume_dist
FROM activity
""",
)
def win_percent_rank_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global PERCENT_RANK + CUME_DIST over every user's activity —
    WITHOUT a single-partition window: the ordering key (n_events DESC,
    user_id) is unique per row, so rank == row_number and both
    quantities are closed forms of the distributed_rank output
    (pct = (rn−1)/(N−1), cume = rn/N — the definitions SQL uses when
    no ties exist, which the unique tie-break guarantees in BOTH
    engines).

    Plan: per-user count (partial-agg'd), distributed_rank (range
    partition + per-partition row_number + broadcast offsets — the
    win_activity_rank_global machinery), and N joined in as a broadcast
    1-row aggregate (NOT an eager driver-side .count(): constructing
    this DataFrame launches zero jobs, and at 100 TB there's no extra
    full-aggregation pass just to learn N). Each division is a single
    IEEE op on exact integers, rounded once — hash-deterministic.
    """
    ev = load_table(spark, sf_dir, "events")
    activity = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    ranked = distributed_rank(activity, F.col("n_events").desc(), F.col("user_id").asc())
    n = activity.agg(F.count(F.lit(1)).alias("_n"))
    return ranked.crossJoin(F.broadcast(n)).select(
        "user_id",
        "n_events",
        # greatest(n-1, 1): SQL PERCENT_RANK defines the single-row case as
        # 0.0; a bare n-1 denominator would divide by zero (NULL) with one
        # user.
        F.round(
            (F.col("rn") - 1).cast("double") / F.greatest(F.col("_n") - 1, F.lit(1)), 6
        ).alias("pct_rank"),
        F.round(F.col("rn").cast("double") / F.col("_n"), 6).alias("cume_dist"),
    )


@query("agg_session_bounce_rate", oracle=BOUNCE_RATE_ORACLE)
def agg_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate by session entry type — the product-analytics KPI on
    top of the win_sessionize machinery: single-event sessions / all
    sessions, split by the first event's type (which page/action the
    session landed on).

    r11: BUCKET-CHAIN sessionization — session assembly without any
    event-level sort, window, or session-merge machinery. The key fact:
    with a fixed bucket width EQUAL to the session gap (1800 s), two
    consecutive events inside the same bucket are < 1800 s apart
    (bounded by the bucket width), so the `> 1800` rule can NEVER split
    a bucket internally — every (user, bucket) group is wholly inside
    one session. Therefore:
      1. TINY pre-pass (one codegen scan, O(1) driver result): the
         event_type dictionary plus the bounds that license the fused
         encoding below — 0 ≤ event_id < 2^28, ≤ 16 types, no NULL
         ts/type/id, non-negative epochs. If any bound fails the key
         falls back to the bound-free session_window twin (exact,
         slower) — an adaptive plan choice made in Python from O(1)
         stats, not a semantics change.
      2. HEAVY pass = one codegen'd HASH aggregate per (user_id,
         floor(epoch/1800)): count, min/max epoch-double, and
         min(fused) where fused = offset_within_bucket_micros·2^32 +
         event_id·16 + type_code packs the entry pick into ONE long
         (offset < 1800 s = 1.8e9 µs < 2^31, so the triple fits 63
         bits and its numeric order IS the lexicographic
         (ts, event_id) order the oracle's FIRST(... ORDER BY ts,
         event_id) uses; the code in the low bits never influences
         the winner because (ts, event_id) is unique per event).
         ALL-PRIMITIVE buffers on purpose: Spark demotes any aggregate
         whose buffer is not UnsafeRow-mutable (min(string),
         min(struct), min_by — all measured this round, see
         verification/r11_bounce_ab.json) from HashAggregate to
         SortAggregate, a silent map-side full sort of the event
         stream; (long, double, double, long) buffers keep the whole
         pass in whole-stage codegen. Partially aggregated map-side,
         the shuffle ships ~#nonempty-buckets rows (25.6M events →
         98k buckets at the x256 fixture), and it is inherently
         skew-proof: a hot user spreads across as many hash cells as
         buckets, with map-side combine doing the heavy reduction in
         parallel.
      3. LIGHT pass = ONE bucket-level WindowExec (lag of max_ts +
         lead of min_ts, same spec) over the ~98k summaries: a bucket
         is a session ENTRY iff the previous bucket doesn't chain
         (min_ts − prev_max_ts > 1800 — exactly the event-level rule,
         because that difference IS the gap between the consecutive
         events straddling the boundary), and an entry bucket is a
         BOUNCE iff it holds one event AND the next bucket doesn't
         chain either. No session index, no running sum, no island
         groupBy — entry rows project (decoded type, bounce flag)
         straight into the #entry-types-row rollup.

    Gap precision: the oracle's `epoch(ts)` is FRACTIONAL seconds
    (double) in DuckDB, so the chain rule compares per-event ts cast to
    double — micros/1e6 in both engines, and the gap is a subtraction
    of those per-event doubles (same IEEE ops as the oracle's
    epoch(ts) − epoch(lag(ts))) — rather than the second-truncated
    approximation the r10 plan inherited from session_window (which
    matched only because no observed gap lands in the (1800, 1801)
    disagreement band). Bucket ASSIGNMENT may truncate freely (it only
    has to partition time into ≤ 1800 s-wide ordered slices), so it
    uses exact integer seconds; the in-fuse offset uses exact
    unix_micros relative to the bucket's integer-second start.
    """
    ev = load_table(spark, sf_dir, "events")
    # Dictionary + guard stats as a codegen'd 5-ish-group HashAggregate
    # (collect_set would be an ObjectHashAggregate — measured ~2× slower
    # on this scan); a NULL event_type surfaces as its own group.
    stats = ev.groupBy("event_type").agg(
        F.min("event_id").alias("id_min"),
        F.max("event_id").alias("id_max"),
        F.sum(F.col("ts").isNull().cast("int")).alias("null_ts"),
        F.sum(F.col("event_id").isNull().cast("int")).alias("null_ids"),
        F.min(F.col("ts").cast("long")).alias("sec_min"),
    ).limit(17).collect()  # 17 rows ⇒ >16 types ⇒ fallback; keeps the
    # driver collect O(1) even on a corpus with unbounded type cardinality
    types = sorted(r.event_type for r in stats if r.event_type is not None)
    fits = (
        0 < len(types) == len(stats) <= 16
        and all(
            r.id_min is not None
            and r.id_min >= 0
            and r.id_max < (1 << 28)
            and not r.null_ts
            and not r.null_ids
            and r.sec_min is not None
            and r.sec_min >= 0
            for r in stats
        )
    )
    if not fits:
        return agg_session_bounce_rate_session_window(spark, sf_dir)
    code = None
    for i, t in enumerate(types):
        cond = F.col("event_type") == F.lit(t)
        code = F.when(cond, i) if code is None else code.when(cond, i)
    bkt = F.floor(F.col("ts").cast("long") / F.lit(1800))
    offset = F.unix_micros("ts") - bkt * F.lit(1_800_000_000)
    fused = offset * F.lit(1 << 32) + F.col("event_id") * F.lit(16) + code
    buckets = (
        ev.select(
            "user_id",
            bkt.alias("_bkt"),
            F.col("ts").cast("double").alias("_ts_d"),
            fused.cast("long").alias("_fused"),
        )
        .groupBy("user_id", "_bkt")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min("_ts_d").alias("_min_ts"),
            F.max("_ts_d").alias("_max_ts"),
            F.min("_fused").alias("_efused"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("_bkt")
    flagged = buckets.select(
        "_n",
        "_efused",
        # NULL lag (first bucket of the user) ⇒ entry; NULL lead (last
        # bucket) ⇒ the session ends here.
        F.coalesce(
            F.col("_min_ts") - F.lag("_max_ts").over(w) > 1800.0, F.lit(True)
        ).alias("_is_entry"),
        F.coalesce(
            F.lead("_min_ts").over(w) - F.col("_max_ts") > 1800.0, F.lit(True)
        ).alias("_next_far"),
    )
    decode = F.element_at(
        F.array(*[F.lit(t) for t in types]),
        (F.col("_efused") % 16).cast("int") + 1,
    )
    entries = flagged.where("_is_entry").select(
        decode.alias("entry_type"),
        ((F.col("_n") == 1) & F.col("_next_far")).cast("int").alias("_is_bounce"),
    )
    return entries.groupBy("entry_type").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("_is_bounce").alias("n_bounces"),
        F.round(
            F.sum("_is_bounce").cast("double") / F.count(F.lit(1)), 6
        ).alias("bounce_rate"),
    )


def agg_session_bounce_rate_session_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Legacy execution twin of agg_session_bounce_rate: the r10
    session_window formulation (one merging session aggregate carrying
    a (ts, event_id, event_type) min-struct for the entry pick). Kept
    unregistered as the A/B baseline — it measured 2.33× DuckDB at x256
    (verification/r10_bounce_ab.json) because every session row pays
    the UpdatingSessions + SortAggregate merge machinery; the
    registered lag/lead plan needs neither. Pinned hash-equal to the
    registered key in tests/test_wave19.py."""
    ev = load_table(spark, sf_dir, "events")
    sessions = ev.groupBy(
        "user_id",
        F.session_window(
            F.col("ts").cast("long").cast("timestamp"), "1800 seconds"
        ).alias("_win"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(
            F.struct(F.col("ts"), F.col("event_id"), F.col("event_type"))
        ).alias("_first"),
    )
    sessions = sessions.select(
        "n_events", F.col("_first.event_type").alias("entry_type")
    )
    bounces = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return sessions.groupBy("entry_type").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        bounces.alias("n_bounces"),
        F.round(bounces.cast("double") / F.count(F.lit(1)), 6).alias("bounce_rate"),
    )


@query(
    "win_new_vs_returning",
    oracle="""
WITH fe AS (
  SELECT user_id, MIN(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS first_day
  FROM events GROUP BY user_id
), act AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day FROM events
), daily AS (
  SELECT a.day,
         CAST(COUNT(*) AS BIGINT) AS n_active,
         CAST(SUM(CASE WHEN f.first_day = a.day THEN 1 ELSE 0 END) AS BIGINT) AS n_new
  FROM act a JOIN fe f USING (user_id)
  GROUP BY a.day
)
SELECT day, n_active, n_new,
       CAST(n_active - n_new AS BIGINT) AS n_returning,
       CAST(SUM(n_new) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_users,
       ROUND(CAST(n_new AS DOUBLE) / n_active, 6) AS new_share
FROM daily
""",
)
def win_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting: active users split into NEW (first-ever
    day) vs RETURNING, plus the cumulative registered-user curve — the
    first chart on every growth dashboard and the denominator feed for
    retention math (cohort_retention's day-0 row is exactly n_new).

    Plan: per-user first day (one partial-agg'd groupBy), distinct
    (user, day) activity (one dedup shuffle), an equi-join on user_id
    (both sides user-hash-partitioned), then a ≤#days rollup. The
    cumulative sum is a running frame over the DAY GRID — a
    calendar-bounded partition-less window (≤ a few thousand rows at
    any corpus size; the whitelisted day-grid pattern, see
    ts_cumulative_daily). n_returning is derived as active − new
    (identical integers both engines) rather than a second conditional
    sum.
    """
    ev = load_table(spark, sf_dir, "events")
    fe = ev.groupBy("user_id").agg(F.min(F.date_trunc("day", "ts")).alias("first_day"))
    act = ev.select("user_id", F.date_trunc("day", "ts").alias("day")).distinct()
    daily = (
        act.join(fe, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum(F.when(F.col("first_day") == F.col("day"), 1).otherwise(0)).alias(
                "n_new"
            ),
        )
    )
    w_day = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day",
        "n_active",
        "n_new",
        (F.col("n_active") - F.col("n_new")).alias("n_returning"),
        F.sum("n_new").over(w_day).alias("cum_users"),
        F.round(F.col("n_new").cast("double") / F.col("n_active"), 6).alias("new_share"),
    )


@query(
    "ts_burstiness_fano",
    oracle="""
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(SUM(n) AS BIGINT) AS n_events,
       ROUND((CAST(SUM(n * n) AS DOUBLE) / COUNT(*)
              - POW(CAST(SUM(n) AS DOUBLE) / COUNT(*), 2))
             / (CAST(SUM(n) AS DOUBLE) / COUNT(*)), 6) AS fano
FROM h GROUP BY event_type
""",
)
def ts_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness per event type: the Fano factor (dispersion index)
    variance/mean of the hourly arrival counts over OBSERVED hour
    buckets — ≈1 for Poisson-like traffic, ≫1 for bursty/incident-drive
    n arrivals, ≪1 for rate-limited/heartbeat streams. Complements the
    seasonal keys (ts_seasonal_strength_dow asks "is there a weekly
    pattern"; this asks "how clumpy is it at all").

    Exactness: hourly counts n are integers, so Σn and Σn² are exact
    BIGINTs in any accumulation order — the variance-over-mean is then
    a fixed chain of IEEE divisions on exact integers, rounded once
    (no decimal machinery needed; the agg_moments_skew discipline with
    integer inputs). Two partial-agg'd groupBys: hour buckets
    (#types × #hours cells), then #types cells.
    """
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count(F.lit(1)).alias("n")
    )
    cnt = F.count(F.lit(1))
    mean = F.sum("n").cast("double") / cnt
    return h.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("n").alias("n_events"),
        F.round(
            (F.sum(F.col("n") * F.col("n")).cast("double") / cnt - F.pow(mean, F.lit(2)))
            / mean,
            6,
        ).alias("fano"),
    )


@query(
    "win_session_funnel",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR date_diff('second', LAG(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts, event_type,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
  FROM flagged
), c AS (
  SELECT user_id, session_idx, MIN(ts) AS t_click
  FROM numbered WHERE event_type = 'click' GROUP BY 1, 2
), v AS (
  SELECT n.user_id, n.session_idx, MIN(n.ts) AS t_view
  FROM numbered n JOIN c USING (user_id, session_idx)
  WHERE n.event_type = 'view' AND n.ts > c.t_click
  GROUP BY 1, 2
), p AS (
  SELECT n.user_id, n.session_idx, MIN(n.ts) AS t_purchase
  FROM numbered n JOIN v USING (user_id, session_idx)
  WHERE n.event_type = 'purchase' AND n.ts > v.t_view
  GROUP BY 1, 2
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions
  FROM (SELECT DISTINCT user_id, session_idx FROM numbered)
)
SELECT tot.n_sessions,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_click_sessions,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_click_view_sessions,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_full_funnel_sessions,
       ROUND((SELECT COUNT(*) FROM p) / CAST(tot.n_sessions AS DOUBLE), 6)
         AS session_conversion
FROM tot
""",
)
def win_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel WITHIN sessions: sessions (30-min-gap, the win_sessionize
    grouping) that progress click → view → purchase IN ORDER before the
    session ends — the strict form of funnel_stages, whose global
    per-user frontier credits conversions that straddle days. Product
    analytics wants both: the global funnel measures eventual intent,
    the session funnel measures whether the flow converts in one visit
    (its denominator is ALL sessions, so the output is directly the
    per-visit conversion rate).

    Plan: the sessionize lag/running-sum windows (single shuffle on
    user_id), then funnel_stages' chained min-frontier joins keyed on
    (user_id, session_idx) — each stage one partial-agg'd shuffle whose
    frontier only shrinks. The three stage counts + the session total
    are metadata-sized scalars crossed at the end.
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
    ).select("user_id", "session_idx", "ts", "event_type")
    numbered = numbered.persist()  # four consumers: total + three stages
    keys = ["user_id", "session_idx"]
    c = (
        numbered.where(F.col("event_type") == "click")
        .groupBy(*keys)
        .agg(F.min("ts").alias("t_click"))
    )
    v = (
        numbered.where(F.col("event_type") == "view")
        .join(c, keys)
        .where(F.col("ts") > F.col("t_click"))
        .groupBy(*keys)
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        numbered.where(F.col("event_type") == "purchase")
        .join(v, keys)
        .where(F.col("ts") > F.col("t_view"))
        .groupBy(*keys)
        .agg(F.min("ts").alias("t_purchase"))
    )
    tot = numbered.select(*keys).distinct().agg(F.count(F.lit(1)).alias("n_sessions"))
    out = (
        tot.crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_sessions")))
        .crossJoin(v.agg(F.count(F.lit(1)).alias("n_click_view_sessions")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_full_funnel_sessions")))
    )
    res = out.select(
        "n_sessions",
        "n_click_sessions",
        "n_click_view_sessions",
        "n_full_funnel_sessions",
        F.round(
            F.col("n_full_funnel_sessions").cast("double") / F.col("n_sessions"), 6
        ).alias("session_conversion"),
    )
    # r8: the 1-row funnel runs eagerly so the event-sized sessionize
    # cache is released here, not at session teardown (VERDICT r7 #5).
    return eager_release(res, numbered)
