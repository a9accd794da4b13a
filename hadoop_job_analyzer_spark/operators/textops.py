"""Category K2 — text analysis for training-data pipelines (SURVEY.md §2.K2).

Language-ID, quality scoring, token counting, and document
fingerprinting over ``documents`` — the per-document featurizers that
run in front of dedup/filtering in an LLM data pipeline. All four are
pure built-in-expression pipelines (no Python in the hot path) and
hash-match a DuckDB oracle.

Cross-engine determinism rules reused from llm.py: counting substring
occurrences uses the replace-length trick (both engines implement
replace as greedy left-to-right non-overlapping); hex→int goes through
15 md5 hex chars (60 bits, fits int64: Spark ``conv(h,16,10)`` ==
DuckDB ``('0x'||h)::BIGINT``, verified); float ratios are computed with
identical double expressions and rounded per the §5.3 policy.

The synthetic corpus's ``lang`` column is uncorrelated with its token
stream (all docs draw the same vocabulary), so language-ID is graded as
a deterministic scoring function against its SQL mirror, not against
the label — exactly how the driver's oracle sees it.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from ..sources.fixtures import _FIXDIR, ensure_zlib_ratio
from ._common import distributed_rank, spread, tpersist

# Marker-word profiles (space-padded, counted in ' '||text||' ').
_LANG_MARKERS: dict[str, list[str]] = {
    "de": [" der ", " und "],
    "en": [" the ", " a "],
    "es": [" el ", " y "],
    "fr": [" le ", " et "],
}

# BPE-ish pre-tokenizer: letter runs | digit runs | single punctuation.
_BPE_PAT = "[a-z]+|[0-9]+|[^a-z0-9 ]"

_STOPWORDS = [" the ", " a ", " of "]


def _occ_spark(padded, marker: str):
    """Non-overlapping occurrence count of marker via replace-length."""
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(marker), F.lit(""))))
        / len(marker)
    ).cast("int")


def _occ_sql(padded: str, marker: str) -> str:
    return (
        f"CAST((length({padded}) - length(replace({padded}, '{marker}', '')))"
        f" / {len(marker)} AS INT)"
    )


def _langid_oracle() -> str:
    score = {
        lang: " + ".join(_occ_sql("' ' || text || ' '", m) for m in ms)
        for lang, ms in _LANG_MARKERS.items()
    }
    score_cols = ",\n       ".join(f"{s} AS score_{lang}" for lang, s in score.items())
    # argmax with alphabetic tie-break, unrolled to a CASE chain (== the
    # Spark side's (-score, lang) struct sort).
    langs = sorted(_LANG_MARKERS)
    cases = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(f"score_{lang} >= score_{o}" for o in langs[i + 1 :])
        cases.append(f"WHEN {conds} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + f" ELSE '{langs[-1]}' END"
    return f"""
WITH scored AS (
  SELECT doc_id, lang,
       {score_cols}
  FROM documents
)
SELECT doc_id, lang,
       score_de, score_en, score_es, score_fr,
       {case_sql} AS lang_guess
FROM scored
"""


@query("text_langid", oracle=_langid_oracle())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID via marker-word n-gram scoring (arg-max over profiles).

    Per doc: count each language's marker words (replace-length trick,
    one codegen'd pass per marker — no tokenize/explode/shuffle at all;
    at 100 TB this is a pure map stage). Guess = highest score, ties to
    the alphabetically first language, picked by sorting (-score, lang)
    structs — the identical tuple-sort both engines define.
    """
    d = load_table(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    scored = d.select(
        "doc_id",
        "lang",
        *[
            sum(_occ_spark(padded, m) for m in ms).alias(f"score_{lang}")
            for lang, ms in _LANG_MARKERS.items()
        ],
    )
    guess = F.sort_array(
        F.array(
            *[
                F.struct(
                    (-F.col(f"score_{lang}")).alias("neg"), F.lit(lang).alias("lang")
                )
                for lang in _LANG_MARKERS
            ]
        )
    )[0]["lang"]
    return scored.select(
        "doc_id", "lang", "score_de", "score_en", "score_es", "score_fr",
        guess.alias("lang_guess"),
    )


_QUALITY_SQL_STOPS = " + ".join(_occ_sql("' ' || text || ' '", m) for m in _STOPWORDS)


@query(
    "text_quality",
    oracle=f"""
SELECT doc_id,
       n_tokens,
       n_distinct_tokens,
       ROUND(CAST(n_distinct_tokens AS DOUBLE) / n_tokens, 6) AS type_token_ratio,
       ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
       ROUND(
         0.4 * (CAST(n_distinct_tokens AS DOUBLE) / n_tokens)
         + 0.3 * LEAST(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
         + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / n_tokens), 6) AS quality_score
FROM (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
         {_QUALITY_SQL_STOPS} AS n_stop
  FROM documents
)
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: type-token ratio, length credit,
    stopword penalty → composite score.

    The standard pre-training quality gate shape (Gopher/C4-style rule
    scoring): one projection, no shuffle — a pure map stage at any
    scale. All ratios are double expressions written identically in
    both engines, rounded per the float policy.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    base = d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        sum(_occ_spark(padded, m) for m in _STOPWORDS).alias("n_stop"),
    )
    ttr = F.col("n_distinct_tokens").cast("double") / F.col("n_tokens")
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    length_credit = F.least(F.lit(1.0), F.col("n_tokens").cast("double") / 100.0)
    return base.select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        F.round(ttr, 6).alias("type_token_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(0.4 * ttr + 0.3 * length_credit + 0.3 * (1.0 - stop_ratio), 6).alias(
            "quality_score"
        ),
    )


@query(
    "text_token_stats",
    oracle=f"""
SELECT doc_id,
       n_chars,
       len(string_split(text, ' ')) AS n_ws_tokens,
       len(regexp_extract_all(text, '{_BPE_PAT}')) AS n_bpe_tokens,
       ROUND(CAST(n_chars AS DOUBLE)
             / len(regexp_extract_all(text, '{_BPE_PAT}')), 6) AS chars_per_bpe_token
FROM documents
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex pre-tokens.

    The regex is the GPT-2-style pre-tokenizer shape (letter runs /
    digit runs / punctuation singletons) restricted to a class-only
    pattern that Java regex and RE2 interpret identically. Pure map
    stage; chars-per-token is the usual compression-ratio proxy for
    tokenizer cost estimation.
    """
    d = load_table(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all(F.col("text"), F.lit(_BPE_PAT), 0)
    return d.select(
        "doc_id",
        "n_chars",
        F.size(F.split(F.col("text"), " ")).alias("n_ws_tokens"),
        F.size(bpe).alias("n_bpe_tokens"),
        F.round(F.col("n_chars").cast("double") / F.size(bpe), 6).alias(
            "chars_per_bpe_token"
        ),
    )


def text_fingerprint_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy execution twin of text_fingerprint (registered through r9):
    fingerprint every doc row independently — explode positions, md5
    every gram, dedup per doc, aggregate. The per-doc layout trick
    (measured 9× over the naive groupBy at sf0.1): repartition the SMALL
    doc rows by doc_id first — one shuffle of #docs rows — so gram
    explode + md5 run fully parallel AND hash(doc_id) satisfies every
    downstream aggregation distribution: dedup groupBy(doc_id, gram),
    then doc-level agg where distinct-count is plain COUNT(*), compile
    with ZERO further exchanges. Two traps this dodges, both found via
    explain+measure: (1) countDistinct mixed with min/max in one groupBy
    forces Catalyst's Expand plan (input duplicated per aggregate class,
    two wide shuffles of gram rows); (2) without the explicit
    repartition, the one-file scan (and, post-shuffle, AQE's 64 MB
    coalescing) ran 1.45 M md5s + a SortAggregate sort single-threaded.
    min(string) always plans as SortAggregate (string agg buffers aren't
    hash-mutable), so the sort must be parallel. Explicit-N repartition
    (_common.spread) is AQE-coalesce-proof. Explode FIRST, hash after:
    md5-in-a-transform-lambda evaluates interpreted (higher-order fns
    sit outside whole-stage codegen; measured 4×), while md5 over an
    exploded row stream is codegen'd.

    Kept unregistered as the dup-agnostic baseline (its md5 mass is
    #grams regardless of corpus shape; the r10 A/B baseline recorded in
    verification/r10_fingerprint_ab.json); pinned hash-equal to the
    registered key in tests/test_llm_ext.py.
    """
    d = spread(
        load_table(spark, sf_dir, "documents").where(F.length("text") >= 8), "doc_id"
    )
    grams = d.select(
        "doc_id", "text", F.explode(F.expr("sequence(1, length(text) - 7)")).alias("i")
    ).select("doc_id", F.expr("md5(substr(text, i, 8))").alias("gram_md5"))
    distinct_grams = grams.groupBy("doc_id", "gram_md5").agg(F.lit(1))
    return distinct_grams.groupBy("doc_id").agg(
        F.min("gram_md5").alias("fp_min"),
        F.max("gram_md5").alias("fp_max"),
        F.count(F.lit(1)).alias("n_distinct_grams"),
        F.conv(F.substring(F.min("gram_md5"), 1, 15), 16, 10)
        .cast("bigint")
        .alias("fingerprint64"),
    )


# In-row fingerprint gate (VERDICT r16 #1): the in-row gram sketch holds
# (len−7) 32-char md5 strings in ONE row — ~32 B of row state per text
# character — so it is capped at 64 Ki chars (~2 MB/row); longer texts
# route to the exploded r15 shape, which streams the same gram mass
# through partial aggregates with per-TASK (not per-row) state. Fixture
# texts are ≲2 KB, so at bench SF every text takes the in-row path and
# the gate is visible in the plan without changing the executed work.
_FP_INROW_MAX_CHARS = 65536


@query(
    "text_fingerprint",
    oracle="""
SELECT doc_id,
       MIN(gram_md5) AS fp_min,
       MAX(gram_md5) AS fp_max,
       COUNT(DISTINCT gram_md5) AS n_distinct_grams,
       ('0x' || substring(MIN(gram_md5), 1, 15))::BIGINT AS fingerprint64
FROM (
  SELECT doc_id, md5(substring(text, i, 8)) AS gram_md5
  FROM documents, UNNEST(generate_series(1, length(text) - 7)) AS u(i)
  WHERE length(text) >= 8
)
GROUP BY doc_id
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via rolling char-8-gram hashing — the
    Karp-Rabin/winnowing shape: slide an 8-char window, hash every gram
    (md5 for cross-engine determinism), keep the min/max sketch + a
    60-bit integer fingerprint of the min gram.

    r10 plan: the fingerprint is a PURE function of text, so identical
    texts are collapsed FIRST — groupBy(md5(text)) with first(text)
    (map-side partial agg keeps one text per key per partition, so the
    shuffle carries ~distinct texts, not the corpus) — each distinct
    text is fingerprinted once (r16: fully IN-ROW via higher-order
    functions — see the inline comment), and the per-text results fan
    back out with a join on md5(text) that AQE broadcast-converts when
    the distinct side is small. This is the
    dedup-before-featurize move every training-data pipeline makes, in
    one declarative plan.

    Regime honesty: on a dup-HEAVY corpus the md5 mass divides by the
    duplication factor — measured same-scale
    (verification/r10_fingerprint_ab.json, x64 = 320 k docs): 15.7 s →
    **1.70 s** = 0.16× DuckDB's 10.3 s (the r9 per-doc plan sat at
    1.53× and RISING with scale; this was the one wrong-direction
    data-path trend). On a dup-FREE corpus the
    collapse is a no-op and the added cost is one text-keyed shuffle of
    the corpus (AQE falls back from broadcast to a shuffle join) on top
    of the per-doc twin's mass — degradation, not failure; use
    text_fingerprint_per_doc when dup-free is known a priori. md5(text)
    as the identity key is the same collision-tolerance policy as
    dedup_exact's oracle.
    """
    d = load_table(spark, sf_dir, "documents").where(F.length("text") >= 8)
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # Parallelism trap, measured live in the r10 bench anchors (0.94 →
    # 3.6 s at sf0.1): the collapse's groupBy exchange is already
    # hash(_tkey)-partitioned, so a spread(_tkey) after it is PRUNED by
    # EnsureRequirements, AQE coalesces the metadata-sized shuffle to
    # ~1 partition, and the gram hashing would run single-threaded.
    # Round-robin repartition(n) is never pruned (different
    # partitioning) nor AQE-coalesced (explicit N) → the md5 map stage
    # runs n-way.
    # r17 LENGTH GATE (VERDICT r16 #1): the in-row gram array is
    # per-ROW state — ~32 bytes per character of text held in ONE
    # UnsafeRow — so a multi-MB outlier document would materialize
    # hundreds of MB in a single row, where the r15 explode streamed
    # the same mass through a partial aggregate. Texts at or under
    # _FP_INROW_MAX_CHARS (per-row state ≤ ~2 MB) take the r16 in-row
    # path; longer texts take an exploded branch that reads the base
    # table DIRECTLY (the (_tkey, gram_md5) dedup absorbs duplicate
    # copies, so skipping the collapse changes nothing per _tkey — same
    # min/max/distinct-count over the same gram set, the union is a
    # disjoint routing, not a semantic branch). Two designs were
    # measured and rejected (verification/r17_fp_gate_designs.txt):
    # both branches filtering one shared `texts` frame re-EXECUTES the
    # whole collapse per branch at scale (0.74× at ×64 — exchange reuse
    # does not fire across the differently-filtered consumers), and a
    # per-branch collapse duplicates it outright (gate_split, 1.8 s vs
    # 0.6 s at ×64). Here the collapse has exactly ONE consumer again —
    # and the gate filter runs BELOW it, so oversized texts never
    # shuffle through the collapse at all.
    texts = d.where(F.length("text") <= _FP_INROW_MAX_CHARS).groupBy(
        F.md5("text").alias("_tkey")
    ).agg(F.first("text").alias("text")).repartition(n)
    # r16 reshape (guide §2.4 "remove shuffles outright" + §4.1
    # higher-order functions): the whole per-text sketch is computed
    # IN-ROW — grams as a transform over the slide positions, dedup via
    # array_distinct, min/max/count as array ops — so the gram mass
    # (~290 md5s per text, 1.45 M rows at sf0.1) never materializes as
    # rows and never crosses an exchange. The r15 shape exploded the
    # grams and paid one full (_tkey, gram_md5) shuffle plus FOUR
    # SortAggregates (min/max over string buffers demote HashAggregate —
    # the bounce-rewrite lesson); all of it collapses into one
    # codegen'd projection over the ~#distinct-text rows. min/max are
    # dedup-invariant so they read the raw gram array; only the distinct
    # count pays the per-row hash-set.
    grams = F.transform(
        F.sequence(F.lit(1), F.length("text") - 7),
        lambda i: F.md5(F.col("text").substr(i, F.lit(8))),
    )
    fp_inrow = texts.select(
        "_tkey",
        grams.alias("_g"),
    ).select(
        "_tkey",
        F.array_min("_g").alias("fp_min"),
        F.array_max("_g").alias("fp_max"),
        F.size(F.array_distinct("_g")).cast("bigint").alias("n_distinct_grams"),
        F.conv(F.substring(F.array_min("_g"), 1, 15), 16, 10)
        .cast("bigint")
        .alias("fingerprint64"),
    )
    # Beyond-gate branch: straight off the (cached) base table, spread by
    # doc_id so the explode+md5 over rare huge documents runs parallel
    # regardless of file splits (the r15 lesson); per-task state in the
    # dedup aggregate is bounded by partition size, never by document
    # size. Empty at bench SF — costs only its empty-stream plan nodes.
    raw = spread(d.where(F.length("text") > _FP_INROW_MAX_CHARS), "doc_id").select(
        F.md5("text").alias("_tkey"),
        "text",
        F.explode(F.expr("sequence(1, length(text) - 7)")).alias("i"),
    ).select("_tkey", F.expr("md5(substr(text, i, 8))").alias("gram_md5"))
    gpairs = raw.groupBy("_tkey", "gram_md5").agg(F.lit(1).alias("_one"))
    fp_exploded = gpairs.groupBy("_tkey").agg(
        F.min("gram_md5").alias("fp_min"),
        F.max("gram_md5").alias("fp_max"),
        F.count(F.lit(1)).alias("n_distinct_grams"),
        F.conv(F.substring(F.min("gram_md5"), 1, 15), 16, 10)
        .cast("bigint")
        .alias("fingerprint64"),
    )
    fp = fp_inrow.unionByName(fp_exploded)
    return (
        d.select("doc_id", F.md5("text").alias("_tkey"))
        .join(fp, "_tkey")
        .select("doc_id", "fp_min", "fp_max", "n_distinct_grams", "fingerprint64")
    )


@query(
    "text_lm_unigram_score",
    oracle="""
WITH tf AS (
  SELECT doc_id, token, COUNT(*) AS tf
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents)
  GROUP BY doc_id, token
), vocab AS (
  SELECT token, SUM(tf) AS n FROM tf GROUP BY token
), tot AS (SELECT SUM(n) AS total FROM vocab)
SELECT tf.doc_id,
       CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
       CAST(SUM(CAST(tf.tf * LN(CAST(v.n AS DOUBLE) / t.total) AS DECIMAL(38,12))) AS DOUBLE)
         AS lm_score
FROM tf JOIN vocab v USING (token) CROSS JOIN tot t
GROUP BY tf.doc_id
""",
)
def text_lm_unigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring — the CCNet-style quality signal:
    each document's log-likelihood under the corpus's own unigram
    distribution (Σ tf·ln p(token)), the statistic perplexity filters
    threshold on.

    Float-sum determinism via the DECIMAL-GRID trick (an extension of
    the money policy to irrational addends): each per-token term
    tf·ln(p) is computed identically in both engines (same doubles in,
    same ln out), snapped to the 1e-12 decimal grid, then summed
    EXACTLY — decimal addition is associative, so partial-agg order
    can't perturb the total, and ties can't occur because ln() values
    are irrational (never half-way on the grid). One tf shuffle + a
    broadcast vocab join; the vocab table is the LM (at 100 TB: train
    on a sample, broadcast the model — same plan).
    """
    d = load_table(spark, sf_dir, "documents")
    tf = (
        spread(d, "doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(tpersist)
    )
    vocab = tf.groupBy("token").agg(F.sum("tf").alias("n"))
    total = vocab.agg(F.sum("n").alias("total"))
    term = (
        F.col("tf") * F.log(F.col("n").cast("double") / F.col("total"))
    ).cast("decimal(38,12)")
    return (
        tf.join(F.broadcast(vocab), "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(term).cast("double").alias("lm_score"),
        )
    )


@query(
    "text_token_entropy",
    oracle="""
WITH tf AS (
  SELECT lang, token, COUNT(*) AS n
  FROM (SELECT lang, UNNEST(string_split(text, ' ')) AS token FROM documents)
  GROUP BY lang, token
), tot AS (
  SELECT lang, SUM(n) AS total FROM tf GROUP BY lang
)
SELECT tf.lang,
       COUNT(*) AS n_types,
       CAST(SUM(CAST(
         -(CAST(tf.n AS DOUBLE) / t.total) * LN(CAST(tf.n AS DOUBLE) / t.total)
       AS DECIMAL(38,12))) AS DOUBLE) AS entropy_nats
FROM tf JOIN tot t USING (lang)
GROUP BY tf.lang
""",
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token entropy (−Σ p·ln p, nats) — the corpus-
    diversity statistic mixture tuning watches (a collapsing or
    over-duplicated slice shows up as falling entropy before it shows
    up in loss). Same decimal-grid exact-sum trick as the LM score:
    each −p·ln p term is identical IEEE math in both engines, snapped
    to 1e-12, then summed associatively — vocab-sized state per
    language at any corpus scale.
    """
    d = load_table(spark, sf_dir, "documents")
    tf = (
        spread(d, "doc_id")
        .select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = tf.groupBy("lang").agg(F.sum("n").alias("total"))
    p = F.col("n").cast("double") / F.col("total")
    term = (-p * F.log(p)).cast("decimal(38,12)")
    return (
        tf.join(F.broadcast(tot), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum(term).cast("double").alias("entropy_nats"),
        )
    )


@query(
    "text_zipf_fit",
    oracle="""
WITH tf AS (
  SELECT token, COUNT(*) AS n
  FROM (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents)
  GROUP BY token
), ranked AS (
  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS rnk FROM tf
), xy AS (
  SELECT LN(CAST(rnk AS DOUBLE)) AS x, LN(CAST(n AS DOUBLE)) AS y FROM ranked
), sums AS (
  SELECT COUNT(*) AS m,
         CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx
  FROM xy
)
SELECT m AS n_types,
       ROUND((m * sxy - sx * sy) / (m * sxx - sx * sx), 6) AS zipf_slope
FROM sums
""",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit: least-squares slope of ln(freq) on ln(rank) over
    the vocabulary — natural corpora sit near −1, and a corpus whose
    slope drifts (boilerplate floods, template spam) fails this
    distributional health check before any model sees it.

    The regression reduces to five sums over vocab-sized data; each
    sum is decimal-grid snapped (exact, order-free) and the closed-
    form slope is then one identical double expression, rounded 1e-6
    (the two engines' division is IEEE-identical; the rounding guards
    the decimal→double cast boundary only).
    """
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ranked = distributed_rank(
        tf, F.col("n").desc(), F.col("token").asc(), out_col="rnk"
    )
    xy = ranked.select(
        F.log(F.col("rnk").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    g = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")
    sums = xy.agg(
        F.count(F.lit(1)).alias("m"),
        g(F.col("x")).alias("sx"),
        g(F.col("y")).alias("sy"),
        g(F.col("x") * F.col("y")).alias("sxy"),
        g(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        F.col("m").alias("n_types"), F.round(slope, 6).alias("zipf_slope")
    )


@query(
    "text_hapax_ratio",
    oracle="""
WITH tf AS (
  SELECT lang, token, COUNT(*) AS n
  FROM (SELECT lang, UNNEST(string_split(text, ' ')) AS token FROM documents)
  GROUP BY lang, token
)
SELECT lang,
       COUNT(*) AS n_types,
       CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS hapax_ratio
FROM tf GROUP BY lang
""",
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-legomena ratio per language (types appearing exactly
    once / all types) — the lexical-richness companion to entropy and
    the Zipf fit: natural corpora run ~40-60% hapax; template/spam
    floods push it toward 0. Vocab-sized state; one exact integer
    ratio per language."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        spread(d, "doc_id")
        .select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    hapax = F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
    return tf.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_types"),
        hapax.alias("n_hapax"),
        (hapax.cast("double") / F.count(F.lit(1))).alias("hapax_ratio"),
    )


_ZLIB_FIXTURE = os.path.join(_FIXDIR, "zlib_ratio.parquet")


@query(
    "text_compression_ratio",
    oracle=f"""
SELECT d.doc_id,
       length(d.text) AS n_bytes,
       z.compression_ratio
FROM documents d
JOIN read_parquet('{_ZLIB_FIXTURE}') z ON md5(d.text) = z.text_md5
""",
)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression ratio per document — the Gopher-rules quality
    signal SQL cannot express: highly repetitive/boilerplate text
    compresses far below natural prose, so ratio thresholds catch
    template spam that token statistics miss. Arrow-batched pandas UDF
    over the stdlib zlib at a PINNED level (6) — deterministic bytes
    in, deterministic ratio out.

    Oracled since r4 (verdict task #3): every distinct shipped document
    text's ratio is precomputed into fixtures/zlib_ratio.parquet
    (sources/fixtures.py:ensure_zlib_ratio, plain Python — no Spark)
    keyed by md5(text); the DuckDB oracle joins on md5(text), keeping
    zlib out of SQL while hash-matching the full output. The inner join
    doubles as a completeness check: a text missing from the fixture
    would drop rows and fail the count compare. Pure map: scales
    embarrassingly; the only cost is the Python worker round-trip,
    batched by Arrow.
    """
    ensure_zlib_ratio()
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def comp_ratio(texts: pd.Series) -> pd.Series:
        import zlib

        return texts.map(
            lambda t: round(len(zlib.compress(t.encode("utf-8"), 6)) / max(len(t.encode("utf-8")), 1), 6)
        )

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").alias("n_bytes"),
        comp_ratio(F.col("text")).alias("compression_ratio"),
    )


# PII patterns shared by the Spark and DuckDB sides. Only constructs
# valid in BOTH Java regex and RE2 (no backrefs, no lookaround).
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_IP = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
_PII_NUM = "\\d{7,}"


@query(
    "text_pii_scrub",
    oracle=f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || doc_id ||
         '@mail.example.com from 10.' || (doc_id % 256) ||
         '.0.1 ref 99887766' || doc_id AS raw
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(raw, '{_PII_EMAIL}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(raw, '{_PII_IP}')) AS INTEGER) AS n_ips,
       CAST(len(regexp_extract_all(raw, '{_PII_NUM}')) AS INTEGER) AS n_longnums,
       regexp_replace(
         regexp_replace(
           regexp_replace(raw, '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_IP}', '<IP>', 'g'),
         '{_PII_NUM}', '<NUM>', 'g') AS scrubbed
FROM aug
""",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the compliance pass every training corpus runs
    before anything else sees the text: emails, IPv4 addresses, and
    long digit runs (phone/account-number shaped) replaced by typed
    placeholder tokens, with per-document match counts kept as the
    audit trail.

    The fixture text is synthetic word soup with no PII, so each doc
    is first augmented with DETERMINISTIC PII-shaped tokens derived
    from doc_id (identical construction in the oracle) — the hash
    match then proves the scrub actually fires on real matches, not
    that two engines agree on doing nothing.

    All three passes are JVM-side regexp_replace inside whole-stage
    codegen (pure map, no shuffle, no Python) — the shape survives any
    corpus size; patterns are restricted to the Java∩RE2 dialect so
    both engines compile the same automaton.
    """
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com from 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0.1 ref 99887766"),
        F.col("doc_id").cast("string"),
    )
    aug = d.select("doc_id", raw.alias("raw"))
    scrub = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("raw"), _PII_EMAIL, "<EMAIL>"),
            _PII_IP,
            "<IP>",
        ),
        _PII_NUM,
        "<NUM>",
    )
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("raw"), F.lit(_PII_EMAIL), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("raw"), F.lit(_PII_IP), 0)).alias("n_ips"),
        F.size(F.regexp_extract_all(F.col("raw"), F.lit(_PII_NUM), 0)).alias("n_longnums"),
        scrub.alias("scrubbed"),
    )


@query(
    "text_repetition_score",
    oracle="""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sized AS (
  SELECT doc_id, t, len(t) AS n_tokens, len(list_distinct(t)) AS n_distinct
  FROM base
), bg AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS bigram
  FROM sized,
       UNNEST(CASE WHEN n_tokens >= 2 THEN generate_series(1, n_tokens - 1)
                   ELSE [] END) AS u(i)
), top AS (
  SELECT doc_id, MAX(c) AS top_bigram_n
  FROM (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2)
  GROUP BY doc_id
)
SELECT s.doc_id, s.n_tokens,
       ROUND(1 - CAST(s.n_distinct AS DOUBLE) / s.n_tokens, 6) AS dup_token_frac,
       CASE WHEN s.n_tokens > 1
            THEN ROUND(CAST(COALESCE(t.top_bigram_n, 0) AS DOUBLE) / (s.n_tokens - 1), 6)
            ELSE 0.0 END AS top_bigram_share
FROM sized s LEFT JOIN top t ON t.doc_id = s.doc_id
""",
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-token
    fraction (1 - distinct/total) and the most frequent bigram's share
    of all bigrams — the two cheapest detectors of looped/boilerplate
    generation that length and stopword stats miss.

    Shape: token array stays an ARRAY for the distinct count (a JVM
    array_distinct, no explode); only the bigram leg explodes, spread
    by doc_id first (the repo's shuffle-before-explode idiom), and its
    groupBy(doc_id, bigram) is partial-agg'd so the shuffle carries
    per-doc distinct bigram counts, not token instances. Constant
    per-doc state afterwards — the plan is duplication-invariant at
    100 TB except the linear token stream.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = spread(d, "doc_id").select("doc_id", F.split("text", " ").alias("t"))
    sized = toks.select(
        "doc_id",
        "t",
        F.size("t").alias("n_tokens"),
        F.size(F.array_distinct("t")).alias("n_distinct"),
    )
    idx = F.when(F.size("t") >= 2, F.sequence(F.lit(1), F.size("t") - 1)).otherwise(
        F.array().cast("array<int>")
    )
    bigram = F.transform(
        idx,
        lambda i: F.concat_ws(" ", F.element_at(F.col("t"), i), F.element_at(F.col("t"), i + 1)),
    )
    top = (
        toks.select("doc_id", F.explode(bigram).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_bigram_n"))
    )
    share = F.when(
        F.col("n_tokens") > 1,
        F.round(F.coalesce(F.col("top_bigram_n"), F.lit(0)) / (F.col("n_tokens") - 1), 6),
    ).otherwise(F.lit(0.0))
    return (
        sized.join(top, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.round(1 - F.col("n_distinct") / F.col("n_tokens"), 6).alias("dup_token_frac"),
            share.alias("top_bigram_share"),
        )
    )
