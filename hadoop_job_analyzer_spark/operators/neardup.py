"""Category K2 — near-duplicate detection + bucketed ANN (SURVEY.md §2.K2).

Completes the dedup family from llm.py (exact, minhash-LSH) with the
remaining standard techniques: SimHash, n-gram Jaccard, and
embedding-cosine near-dup, plus the IVF-bucketed ANN variant whose
exact per-bucket step is sim_knn_join.

Cross-engine determinism: token hashes go through the verified
md5-hex→int64 path (Spark ``conv(substr(md5(t),1,15),16,10)`` ==
DuckDB ``('0x'||substring(md5(t),1,15))::BIGINT``); bit ops (>>, &,
xor, bit_count) are identical on int64 in both engines; cosines use
the dim-sequential float64 accumulation that bit-matches DuckDB's
list_cosine_similarity pipeline built from list_dot_product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from ._common import spread, tpersist
from .llm import (
    MINHASH_PAIRS_FULL_ORACLE,
    MINHASH_PAIRS_ORACLE,
    _cos6,
    _shingles,
    dedup_near_minhash,
)

_SIMHASH_BITS = 16
_SIMHASH_BANDS = 2  # 2 bands x 8 bits
_JACCARD_MAX_DF = 5  # shingles rarer than this generate candidate pairs
_JACCARD_MIN = 0.4
_EMB_DUP_MIN_COS = 0.4
_IVF_N_CENTROIDS = 16
_IVF_NPROBE = 2

_H_SQL = "('0x' || substring(md5(token), 1, 15))::BIGINT"
_H_SPARK = "cast(conv(substring(md5(token), 1, 15), 16, 10) as bigint)"


def _rare_shingle_index(spark: SparkSession, sf_dir: str):
    """Rare-shingle inverted index (doc_id, h), df-capped at
    _JACCARD_MAX_DF, PERSISTED — shared by dedup_ngram_jaccard and
    dedup_containment (identical subtree ⇒ one CacheManager entry when
    both run). The persist cannot be released inside this builder (the
    consuming action runs caller-side, after the operators return), so
    it is registered with session.track_transient_cache: long-lived
    drivers release it via session.release_transient_caches() between
    pipeline runs; plan-identical re-invocations before a release dedup
    to the SAME CacheManager entry, so entries do not accumulate per
    call.

    r16 reshape (guide §4.1 higher-order functions): the per-doc
    shingle DEDUP runs IN-ROW (array_distinct over the shingle array,
    hashed to int64 in the same projection), replacing the exploded
    (doc_id, shingle-string) hash aggregation — the explode now emits
    8-byte longs only and no distinct-agg state exists at all (measured
    1.12→0.97 s at sf0.1 on the index build; the structural win is the
    removed string-keyed aggregation at corpus scale). The df filter
    stays a COUNT window over the shingle-hash partition: one shuffle,
    row-streamed and spill-safe for mega-shingles (a groupBy+collect
    per h would hold a boilerplate shingle's whole posting list in one
    aggregation state).
    """
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    idx = F.when(F.size("t") >= 3, F.sequence(F.lit(1), F.size("t") - 2)).otherwise(
        F.array().cast("array<int>")
    )
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col("t"), i),
            F.element_at(F.col("t"), i + 1),
            F.element_at(F.col("t"), i + 2),
        ),
    )
    hs = F.transform(
        F.array_distinct(sh),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
    )
    return (
        toks.select("doc_id", F.explode(hs).alias("h"))
        .withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .where(F.col("_df") <= _JACCARD_MAX_DF)
        .drop("_df")
        .transform(tpersist)
    )


def _simhash_oracle() -> str:
    sums = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(_SIMHASH_BITS)
    )
    combine = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(_SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {_H_SQL} AS h
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents)
), sums AS (
  SELECT doc_id,
         {sums}
  FROM toks GROUP BY doc_id
), sh AS (
  SELECT doc_id, {combine} AS simhash FROM sums
), bands AS (
  SELECT doc_id, simhash, b.band, (simhash >> (8 * b.band)) & 255 AS nibble
  FROM sh, (SELECT UNNEST(generate_series(0, {_SIMHASH_BANDS - 1})) AS band) b
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM bands a JOIN bands b
  ON a.band = b.band AND a.nibble = b.nibble AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
"""


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 16-bit term-frequency simhash, 2×8-bit
    LSH bands, candidates sharing a band kept when hamming ≤ 4.

    The per-doc signature is 16 SUM aggregates over one token explode —
    map-side partial agg collapses each partition to ≤ #docs rows before
    the single shuffle (the same single-shuffle shape as the minhash
    key). Doc rows are spread by doc_id before the token explode
    (_common.spread) so the 16-bit hashing map stage is parallel and
    the signature groupBy needs no further exchange. The band self-join
    buckets on 8 bits; at 100 TB you widen the hash to 64/128 bits and
    the bands to 16+ bits so bucket sizes stay bounded — the plan shape
    is unchanged.
    """
    d = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).select("doc_id", F.expr(_H_SPARK).alias("h"))
    sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h >> {b}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(_SIMHASH_BITS)
        ]
    )
    simhash = sums.select(
        "doc_id",
        sum(
            F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
            for b in range(_SIMHASH_BITS)
        ).cast("bigint").alias("simhash"),
    )
    bands = simhash.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(f"(simhash >> {8 * b}) & 255").alias("nibble"),
                    )
                    for b in range(_SIMHASH_BANDS)
                ]
            )
        ).alias("bn"),
    ).select("doc_id", "simhash", F.col("bn.band").alias("band"), F.col("bn.nibble").alias("nibble"))
    # persist: both self-join legs replay the tokenize+16-sum pipeline
    # otherwise (same lesson as minhash's bands). #docs × 2 small rows.
    bands = bands.transform(tpersist)
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"),
        F.col("band").alias("band_a"), F.col("nibble").alias("nib_a"),
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"),
        F.col("band").alias("band_b"), F.col("nibble").alias("nib_b"),
    )
    hamming = F.bit_count(F.expr("sh_a ^ sh_b"))
    return (
        a.join(b, (a.band_a == b.band_b) & (a.nib_a == b.nib_b) & (a.doc_a < b.doc_b))
        .where(hamming <= 4)
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .distinct()
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS shingle
  FROM toks, UNNEST(CASE WHEN len(t) >= 3 THEN generate_series(1, len(t)-2) ELSE [] END) AS u(i)
), hsh AS (
  SELECT doc_id, ('0x' || substring(md5(shingle), 1, 15))::BIGINT AS h FROM sh
), rare AS (
  SELECT h FROM hsh GROUP BY h HAVING COUNT(*) <= {_JACCARD_MAX_DF}
), rsh AS (
  SELECT hsh.doc_id, hsh.h FROM hsh JOIN rare USING (h)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM rsh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM rsh a JOIN rsh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_inter,
       ROUND(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= {_JACCARD_MIN}
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup: similarity over DISCRIMINATIVE 3-word
    shingles (document frequency ≤ 5), pairs kept at jaccard ≥ 0.4.

    Dropping ubiquitous shingles before the inverted-index self-join is
    what makes exact Jaccard shuffle-safe: a shingle with df=d emits
    C(d,2) pairs, so capping df caps the join fan-out at any corpus
    size (the classic stop-feature trick; boilerplate never generates
    candidates).

    Plan shape (measured 5-7× over the naive build at sf0.1): the df
    filter is a COUNT window over the shingle partition — one shuffle,
    no df-table join — and the filtered inverted index is persisted
    because THREE consumers (sizes, both self-join legs) would each
    replay the whole shingle pipeline otherwise (ReusedExchange doesn't
    apply: each consumer re-shuffles it differently). Spark's
    CacheManager dedups by canonicalized plan, so repeated calls share
    one cache entry; the index is (doc_id, shingle-hash) pairs only —
    at 100 TB you'd persist to MEMORY_AND_DISK with the same plan.

    Shingles are md5-hashed to int64 BEFORE the window/join: every
    downstream sort, exchange, and join key becomes 8 fixed bytes
    instead of a ~25-char string — no measurable win at sf0.1 (the
    stage cost there is scheduling floor, measured ~1.0 s either way)
    but ~3× less shuffle key volume at corpus scale, where these
    exchanges are data-path-bound. The 60-bit hash can collide, but
    both engines hash identically, so any collision perturbs both
    sides the same way — the comparison stays exact (and at 2^60 the
    expected collision count is ~0 below trillions of shingles).
    """
    rsh = _rare_shingle_index(spark, sf_dir)
    sizes = rsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = rsh.select(F.col("doc_id").alias("doc_a"), "h")
    b = rsh.select(F.col("doc_id").alias("doc_b"), "h")
    inter = (
        a.join(b, ["h"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_inter").cast("double") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    # No forced broadcast on the sizes legs: `sizes` is one row per
    # surviving document (unbounded at corpus scale — billions of rows at
    # 100 TB, where a forced broadcast would OOM). AQE picks broadcast at
    # small SF and shuffle-hash at scale; both legs share the pair
    # shuffle's doc-id keys. tests/test_plans.py guards the hint's absence.
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(jac >= _JACCARD_MIN)
        .select("doc_a", "doc_b", "n_inter", F.round(jac, 6).alias("jaccard"))
    )


_O_COS_PAIR = (
    "list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
)


@query(
    "dedup_embedding",
    oracle=f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND({_O_COS_PAIR}, 6) AS cosine
FROM embeddings a JOIN embeddings b
  ON a.vec_id < b.vec_id
WHERE ROUND({_O_COS_PAIR}, 6) >= {_EMB_DUP_MIN_COS}
""",
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine ≥ 0.4, synthetic-corpus
    calibrated — real pipelines use ~0.95).

    Same Arrow/numpy pair-scan kernel as sim_knn_join (anchors = every
    vector), emitting only above-threshold pairs with vec_a < vec_b, so
    the Python→JVM return stream is the (sparse) duplicate set, not the
    O(n²) pair matrix. At 100 TB the anchor side no longer broadcasts —
    you IVF-bucket first and run this exact kernel per bucket, which is
    precisely `dedup_embedding_bucketed` below (the scale path; this
    brute-force key doubles as its recall baseline in tests).
    """
    import numpy as np
    import pandas as pd

    from .llm import _BRUTE_FORCE_CAP_CONF, _brute_force_cap

    e = load_table(spark, sf_dir, "embeddings")
    # Scale guard (shared with sim_knn_join): this baseline collects the
    # full vector matrix on the driver — cap it rather than let a corpus-
    # scale input OOM. The IVF-bucketed twin below is the scale path.
    # Cap enforced by the collect itself (limit cap+1) — no extra count()
    # job, keeping the frozen-basket timing comparable (ADVICE r5).
    cap = _brute_force_cap(spark)
    a_pdf = e.select("vec_id", "embedding").limit(cap + 1).toPandas()
    if len(a_pdf) > cap:
        raise ValueError(
            f"dedup_embedding is the brute-force recall baseline and "
            f"collects all vectors on the driver (> cap {cap} rows). Use "
            f"dedup_embedding_bucketed, the IVF-partitioned scale path; or, "
            f"for a recall-baseline run on a driver sized for the matrix, "
            f"raise `{_BRUTE_FORCE_CAP_CONF}` on the session."
        )
    a_ids = a_pdf["vec_id"].to_numpy()
    A = np.vstack(a_pdf["embedding"].to_numpy()).astype(np.float64)
    dim = A.shape[1]

    def _seq_norm2(M):
        acc = M[:, 0] * M[:, 0]
        for i in range(1, dim):
            acc = acc + M[:, i] * M[:, i]
        return acc

    a_norm2 = _seq_norm2(A)

    def scan(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            B = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            dots = B[:, 0][:, None] * A[:, 0][None, :]
            for i in range(1, dim):
                dots = dots + B[:, i][:, None] * A[:, i][None, :]
            cos = dots / np.sqrt(_seq_norm2(B)[:, None] * a_norm2[None, :])
            r = np.round(cos, 6)
            keep = (r >= _EMB_DUP_MIN_COS) & (ids[:, None] > a_ids[None, :])
            bi, ai = np.nonzero(keep)
            yield pd.DataFrame(
                {"vec_a": a_ids[ai], "vec_b": ids[bi], "cosine": cos[bi, ai]}
            )

    # spread: each of the N partitions scans its slice against the
    # broadcast anchor matrix in its own Arrow worker (2.3× at sf0.1;
    # at scale this is the per-bucket parallelism the docstring plans).
    cand = spread(e.select("vec_id", "embedding"), "vec_id").mapInPandas(
        scan, schema="vec_a bigint, vec_b bigint, cosine double"
    )
    return cand.select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))


# Shared IVF coarse-quantizer CTEs: centroids = the first 16 vectors
# (deterministic k-means stand-in), every vector assigned to its nearest
# centroid with a (rounded cosine DESC, cen_id ASC) tie-break. Used by
# sim_ann_ivf (probe path) and dedup_embedding_bucketed (pair path).
_IVF_ASSIGN_SQL = f"""cents AS (
  SELECT vec_id AS cen_id, embedding FROM embeddings WHERE vec_id < {_IVF_N_CENTROIDS}
), assign AS (
  SELECT vec_id, cen_id FROM (
    SELECT v.vec_id, c.cen_id,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY ROUND(list_cosine_similarity(CAST(v.embedding AS DOUBLE[]),
                                                   CAST(c.embedding AS DOUBLE[])), 6) DESC,
                      c.cen_id ASC) AS rk
    FROM embeddings v, cents c
  ) WHERE rk = 1
)"""


def _ivf_assign(e: DataFrame) -> DataFrame:
    """(vec_id, cen_id): nearest-centroid assignment, Spark twin of
    _IVF_ASSIGN_SQL. Centroids are broadcast; the k-dots-per-vector
    map runs data-parallel (spread pre-satisfies the argmax window's
    vec_id clustering, so the window adds no extra shuffle).

    The quantizer stays flat. A two-level √k×√k coarse quantizer was
    measured against it (BASELINE.md, "Two-level √k×√k coarse
    quantizer"): at the oracle-pinned k=16 it was slower (flat vs
    two-level 1.39 vs 1.63 s on dedup_embedding_bucketed, 1.27 vs
    1.98 s on sim_knn_join_bucketed, sf0.1) and buckets differently;
    it only wins once the codebook grows to O(10²-10³) centroids.
    """
    cents = e.where(F.col("vec_id") < _IVF_N_CENTROIDS).select(
        F.col("vec_id").alias("cen_id"), F.col("embedding").alias("c_emb")
    )
    cos_vc = _cos6(F.col("embedding"), F.col("c_emb"))
    w_assign = Window.partitionBy("vec_id").orderBy(F.col("cos_vc").desc(), F.col("cen_id").asc())
    return (
        spread(e, "vec_id")
        .crossJoin(F.broadcast(cents))
        .select("vec_id", "cen_id", cos_vc.alias("cos_vc"))
        .withColumn("rk", F.row_number().over(w_assign))
        .where(F.col("rk") == 1)
        .select("vec_id", "cen_id")
    )


@query(
    "dedup_embedding_bucketed",
    oracle=f"""
WITH {_IVF_ASSIGN_SQL}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND({_O_COS_PAIR}, 6) AS cosine
FROM embeddings a
JOIN assign sa ON sa.vec_id = a.vec_id
JOIN embeddings b ON a.vec_id < b.vec_id
JOIN assign sb ON sb.vec_id = b.vec_id AND sb.cen_id = sa.cen_id
WHERE ROUND({_O_COS_PAIR}, 6) >= {_EMB_DUP_MIN_COS}
""",
)
def dedup_embedding_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed EXACT embedding dedup — the scale-correct shape of
    dedup_embedding (round-3 verdict task #4): no O(n²) global pair
    scan anywhere in the plan.

    Pipeline: nearest-centroid assignment (_ivf_assign — broadcast
    centroids, data-parallel map) → hash-partition by bucket → the
    exact cosine pair kernel runs PER BUCKET via applyInPandas, so
    total work is Σ|bucket|² instead of n². Cross-bucket pairs are the
    recall tradeoff (measured against the brute-force key in
    tests/test_llm_ext.py); real pipelines tune #centroids so buckets
    fit executor memory and add multi-probe for recall. At 100 TB:
    assignment is a write-path partition column, the per-bucket kernel
    is an embarrassingly parallel shuffle-once stage, and skewed
    buckets split under AQE — nothing broadcasts the full matrix.

    The kernel accumulates dim-sequentially (float64) exactly like
    dedup_embedding, so shared pairs carry bit-identical cosines.
    """
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    assign = _ivf_assign(e)
    bucketed = e.join(assign, "vec_id").select("cen_id", "vec_id", "embedding")

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
            )
        ids = pdf["vec_id"].to_numpy()
        M = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        dim = M.shape[1]
        norm2 = M[:, 0] * M[:, 0]
        for i in range(1, dim):
            norm2 = norm2 + M[:, i] * M[:, i]
        dots = M[:, 0][:, None] * M[:, 0][None, :]
        for i in range(1, dim):
            dots = dots + M[:, i][:, None] * M[:, i][None, :]
        cos = dots / np.sqrt(norm2[:, None] * norm2[None, :])
        keep = (np.round(cos, 6) >= _EMB_DUP_MIN_COS) & (ids[:, None] < ids[None, :])
        ai, bi = np.nonzero(keep)
        return pd.DataFrame({"vec_a": ids[ai], "vec_b": ids[bi], "cosine": cos[ai, bi]})

    pairs = bucketed.groupBy("cen_id").applyInPandas(
        bucket_pairs, schema="vec_a bigint, vec_b bigint, cosine double"
    )
    return pairs.select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))


def _ivf_oracle() -> str:
    return f"""
WITH {_IVF_ASSIGN_SQL}, probe AS (
  SELECT cen_id FROM (
    SELECT c.cen_id,
           ROW_NUMBER() OVER (
             ORDER BY ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                   CAST(c.embedding AS DOUBLE[])), 6) DESC,
                      c.cen_id ASC) AS rk
    FROM cents c, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
  ) WHERE rk <= {_IVF_NPROBE}
)
SELECT vec_id, cosine, rank_pos FROM (
  SELECT v.vec_id,
         ROUND(list_cosine_similarity(CAST(v.embedding AS DOUBLE[]),
                                      CAST(q.embedding AS DOUBLE[])), 6) AS cosine,
         ROW_NUMBER() OVER (
           ORDER BY ROUND(list_cosine_similarity(CAST(v.embedding AS DOUBLE[]),
                                                 CAST(q.embedding AS DOUBLE[])), 6) DESC,
                    v.vec_id ASC) AS rank_pos
  FROM embeddings v
  JOIN assign s ON s.vec_id = v.vec_id
  JOIN probe p ON p.cen_id = s.cen_id
  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
  WHERE v.vec_id <> 0
)
WHERE rank_pos <= 10
"""


@query("sim_ann_ivf", oracle=_ivf_oracle())
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-10 for the query vector (vec_id=0).

    The scale path for sim_cosine_topk: a deterministic coarse
    quantizer (centroids = the first 16 vectors — a stand-in for
    k-means, which would be engine-private state), every vector
    assigned to its nearest centroid, and the query probes only its
    nprobe=2 nearest buckets (~2/16 of the data) before the exact
    top-10. Assignment cosines run through the JVM lambda dot — one
    pass, 16 centroids broadcast as literals; at 100 TB assignment is
    the write-path (stored as a partition column) and probing prunes
    partitions, which is exactly Spark partition pruning.
    """
    e = load_table(spark, sf_dir, "embeddings")
    cents = e.where(F.col("vec_id") < _IVF_N_CENTROIDS).select(
        F.col("vec_id").alias("cen_id"), F.col("embedding").alias("c_emb")
    )
    # spread inside _ivf_assign parallelizes the 16-dots-per-vector
    # assignment map (the interpreted lambda dot is the cost).
    # Measured 0.9 s -> 0.6 s at sf0.1.
    assign = _ivf_assign(e)
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    cos_qc = _cos6(F.col("q_emb"), F.col("c_emb"))
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select("cen_id", cos_qc.alias("cos_qc"))
        .withColumn("rk", F.row_number().over(Window.orderBy(F.col("cos_qc").desc(), F.col("cen_id").asc())))
        .where(F.col("rk") <= _IVF_NPROBE)
        .select("cen_id")
    )
    cand = (
        e.join(assign, "vec_id")
        .join(F.broadcast(probe), "cen_id")
        .where(F.col("vec_id") != 0)
    )
    cos_q = _cos6(F.col("embedding"), F.col("q_emb"))
    # limit-then-rank (see sim_cosine_topk): top-10 distributed, then
    # row_number over the 10 survivors only
    w = Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        cand.crossJoin(F.broadcast(q))
        .select("vec_id", cos_q.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(10)
        .withColumn("rank_pos", F.row_number().over(w))
    )


def _components_oracle() -> str:
    # Recursive min-reachability over the undirected minhash pair graph:
    # component(v) = MIN(u reachable from v), singletons included.
    return f"""
WITH RECURSIVE pairs AS (
{MINHASH_PAIRS_ORACLE}
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
), reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
)
SELECT src AS doc_id,
       MIN(dst) AS component,
       CASE WHEN src = MIN(dst) THEN 1 ELSE 0 END AS is_keeper
FROM reach
GROUP BY src
"""


@query("dedup_components", oracle=_components_oracle())
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the minhash candidate-pair graph — the
    keeper-selection stage every dedup pipeline ends with: near-dup
    PAIRS are not deletable units, transitive CLUSTERS are (A~B, B~C
    must collapse to one keeper even when A~C was never emitted).

    Iterative min-label propagation (the classic Spark connected-
    components shape): every doc starts labeled with its own id; each
    round takes the min of its own and its neighbors' labels, then
    POINTER-JUMPS (label ← label's label — see _min_label_components),
    so convergence is O(log diameter) rounds rather than O(diameter)
    (near-dup clusters are shallow — 2 rounds at sf0.1; the jump is
    what keeps deep x64-inflated clusters cheap). Driver-side loop
    control with a per-round
    changed-count action is the documented exception to the no-collect
    rule: iterative algorithms need a convergence test, and each round
    is a bounded pair of small shuffles over (id, label) pairs. Labels
    are localCheckpoint'ed per round: persist alone keeps the logical
    plan growing each iteration (the final plan tree is exponential in
    rounds and OOMs the driver just STRINGIFYING it — observed at x1
    inflation), while checkpointing truncates lineage to the
    materialized partitions. At 100 TB this is GraphX/GraphFrames
    connected components — same algorithm, same shuffle pattern, with
    reliable checkpoint() to HDFS instead of local.

    The oracle is a recursive CTE computing min-reachability — a fully
    independent formulation (closure vs propagation) that must agree
    exactly: is_keeper marks the component representative (min doc_id).
    """
    pairs = dedup_near_minhash(spark, sf_dir)
    return _min_label_components(spark, sf_dir, pairs)


def _min_label_components(spark: SparkSession, sf_dir: str, pairs: DataFrame) -> DataFrame:
    """Iterative min-label propagation WITH POINTER DOUBLING over an
    undirected pair graph — shared by dedup_components (capped pairs)
    and dedup_components_full (capped pairs + representative edges). See
    dedup_components' docstring for the checkpointing/convergence
    rationale.

    r6 (verdict task #7) introduced the POINTER JUMP — component ←
    component's own component (labels are doc_ids, so the label table
    doubles as the pointer map). Plain propagation moves the min label
    one hop per round (O(diameter) rounds), and the loop is hard-capped
    at 20 rounds — so a component of diameter >~20 would previously
    return UNCONVERGED labels. The jump doubles the label's reach per
    round (Shiloach-Vishkin shortcutting), so the cap covers diameters
    up to ~2^17 — a correctness-at-scale guarantee, not just speed.

    r16 reshape: the jump reads the PREVIOUS round's materialized
    labels instead of self-joining the current step — see the inline
    comment. That removes the mid-round eager checkpoint (one blocking
    job + one full label-table materialization per jumping round), and
    makes the jump cheap enough to run from round 1 (the r15 shape
    deferred it to round 3 because its fresh-jump checkpoint cost +17%
    at x16 on shallow graphs; the stale jump is one in-job broadcast-
    sized equi-join). A r17 two-hops-per-round fold was measured and
    REJECTED — see the loop's negative-result note. Labels only ever
    decrease and the fixed point
    (every doc labeled its component's min doc_id, where l(l(v)) =
    l(v)) is unchanged, so both components keys and every
    keeper/cluster/apply dependent hash-match exactly as before.
    tests/test_llm_ext.py pins the deep-chain case a plain 20-round
    cap gets wrong.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .union(pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
        .persist()
    )
    labels = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.col("doc_id").alias("component"))
        .localCheckpoint(eager=True)
    )
    # r17 NEGATIVE RESULT (loop kept in the r16 shape on evidence):
    # folding TWO neighbor-min hops (+jumps) into each round's single
    # checkpoint+count — halving rounds (7 → 4 at sf0.1) and label
    # materializations — measured SLOWER warm (3.69 s → 4.35 s,
    # verification/r17_comp_hops.txt): the hop-1 subtree is referenced
    # twice inside the round's lazy plan (nbr build + left join) and
    # executes twice (no exchange reuse fires across the differently-
    # shaped references), so per-round cost doubles while only the
    # ~0.07 s count jobs are saved. Three hops: worse again. The
    # per-round wall here is the JOINS, not the materialization.
    for rnd in range(20):
        nbr = (
            edges.join(labels, edges["a"] == labels["doc_id"])
            .select(F.col("b").alias("doc_id"), "component")
            .groupBy("doc_id")
            .agg(F.min("component").alias("nbr_comp"))
        )
        # Carry the pre-step label through the join so convergence can be
        # read off THIS result — no separate labels⋈labels diff join per
        # round (r6: one fewer shuffle/round). Sound because if the
        # neighbor-min step changes nothing, then for every edge (a,b)
        # l(b) ≤ l(a) and l(a) ≤ l(b) ⇒ labels are edge-constant ⇒ the
        # fixed point is reached and the jump below is the identity too.
        stepped = labels.join(nbr, "doc_id", "left").select(
            "doc_id",
            F.col("component").alias("_old"),
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_comp"), F.col("component"))
            ).alias("component"),
        )
        if rnd >= 1:
            # Pointer jump through the PREVIOUS round's labels (r16
            # reshape): component ← prev_labels(component). `labels` is
            # already materialized (last round's localCheckpoint), so the
            # jump is ONE extra equi-join inside the same per-round job —
            # the r15 shape self-joined `stepped` instead, which forced a
            # mid-round eager checkpoint (a full extra materialization of
            # the label table plus one extra blocking job per jumping
            # round; the jump was therefore deferred to round ≥3 to spare
            # shallow graphs). Soundness: labels only decrease and every
            # label IS a doc_id, so prev(m) ≤ m lies in m's component —
            # the stale jump only tightens toward the same fixed point,
            # and reach still doubles per round (new(v) goes through one
            # fresh hop plus the previous round's full chain), so the
            # 20-round cap still covers ~2^17 diameters. At the fixed
            # point prev(min)=min, hence `changed == 0` remains a correct
            # convergence test. Verified output-identical to the r15
            # shape at sf0.1 and pinned by the deep-chain test. Round 0
            # skips the jump (labels are the identity map — prev(m)=m).
            ptr = labels.select(
                F.col("doc_id").alias("c_id"), F.col("component").alias("c_comp")
            )
            jumped = stepped.join(
                ptr, stepped["component"] == ptr["c_id"], "left"
            ).select(
                "doc_id",
                "_old",
                F.coalesce(F.col("c_comp"), F.col("component")).alias("component"),
            )
            checkpointed = jumped.localCheckpoint(eager=True)
        else:
            checkpointed = stepped.localCheckpoint(eager=True)
        changed = checkpointed.where(F.col("component") < F.col("_old")).count()
        labels = checkpointed.drop("_old")
        if changed == 0:
            break
    # labels is materialized (localCheckpoint), so the edge cache can be
    # released — a long-lived driver session running the 290-key sweep
    # would otherwise accumulate one edge cache per invocation.
    edges.unpersist()
    return labels.select(
        "doc_id",
        "component",
        F.when(F.col("doc_id") == F.col("component"), 1).otherwise(0).alias("is_keeper"),
    )


def _components_full_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS (
{MINHASH_PAIRS_FULL_ORACLE}
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
), reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
)
SELECT src AS doc_id,
       MIN(dst) AS component,
       CASE WHEN src = MIN(dst) THEN 1 ELSE 0 END AS is_keeper
FROM reach
GROUP BY src
"""


@query("dedup_components_full", oracle=_components_full_oracle())
def dedup_components_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_components over the cap-safe pair graph
    (llm.dedup_near_minhash_full): the (bucket-min → member)
    representative edges guarantee every bucket member — including the
    ones beyond the 64-doc pair cap — reaches its cluster's component, so
    keeper selection never orphans a capped-out duplicate. Same iterative
    min-label propagation and recursive-CTE oracle as dedup_components;
    only the edge set differs (linear extra edges, bounded fan-out
    preserved)."""
    from .llm import dedup_near_minhash_full

    pairs = dedup_near_minhash_full(spark, sf_dir)
    return _min_label_components(spark, sf_dir, pairs)


_MJ_N = 16  # minhash signature length (mirrors llm._N_HASHES)


def _mj_oracle() -> str:
    return f"""
WITH pairs AS (
{MINHASH_PAIRS_ORACLE}
), toks2 AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sh2 AS (
  SELECT DISTINCT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS shingle
  FROM toks2, UNNEST(CASE WHEN len(t) >= 3 THEN generate_series(1, len(t)-2) ELSE [] END) AS u(i)
), seeds2 AS (
  SELECT UNNEST(generate_series(0, {_MJ_N - 1})) AS seed
), mh AS (
  SELECT doc_id, seed, MIN(md5(shingle || '#' || seed)) AS mh
  FROM sh2 CROSS JOIN seeds2 GROUP BY doc_id, seed
), agree AS (
  SELECT p.doc_a, p.doc_b, SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS n_agree
  FROM pairs p
  JOIN mh a ON a.doc_id = p.doc_a
  JOIN mh b ON b.doc_id = p.doc_b AND b.seed = a.seed
  GROUP BY 1, 2
), nsh AS (
  SELECT doc_id, COUNT(*) AS n FROM sh2 GROUP BY doc_id
), inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
  FROM pairs p
  JOIN sh2 a ON a.doc_id = p.doc_a
  JOIN sh2 b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b,
       CAST(g.n_agree AS DOUBLE) / {_MJ_N} AS est_jaccard,
       CAST(i.n_inter AS DOUBLE) / (na.n + nb.n - i.n_inter) AS exact_jaccard
FROM pairs p
JOIN agree g ON g.doc_a = p.doc_a AND g.doc_b = p.doc_b
JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
JOIN nsh na ON na.doc_id = p.doc_a
JOIN nsh nb ON nb.doc_id = p.doc_b
"""


@query("minhash_jaccard_estimate", oracle=_mj_oracle())
def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy evaluation for the minhash dedup family: for
    every LSH candidate pair, the signature-estimated Jaccard
    (agreeing minhashes / 16) next to the EXACT shingle-set Jaccard —
    the measurement a pipeline operator runs to tune band/threshold
    settings before trusting the sketch at 100 TB.

    Both columns are hash-exact, not float-policy: the estimate is a
    /16 dyadic fraction and the exact Jaccard is one IEEE division of
    exact integers, identical in both engines. Shuffle shape: the
    signature matrix (docs × 16 hex strings) joins to the pair list
    twice — the pair list is the small side (LSH-capped) and joins on
    doc id; the intersection count re-joins the distinct-shingle
    stream (persisted — three consumers: per-doc sizes and both pair
    legs) on (doc, shingle). At scale every join key is either a doc
    id or (doc, shingle) — no quadratic term beyond the already-capped
    candidate set.
    """
    from .llm import _lsh_pairs, _minhash_sigs

    d = load_table(spark, sf_dir, "documents")
    sh = _shingles(d).distinct().transform(tpersist)
    # one shingle pipeline feeds sigs, pairs, sizes, AND both
    # intersection legs (distinct is minhash-invariant: mins over a
    # multiset equal mins over its support)
    sigs = _minhash_sigs(sh).transform(tpersist)
    pairs = _lsh_pairs(sigs).transform(tpersist)
    a = sigs.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"mh{s}").alias(f"a{s}") for s in range(_MJ_N)]
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"mh{s}").alias(f"b{s}") for s in range(_MJ_N)]
    )
    n_agree = sum(
        F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0) for s in range(_MJ_N)
    )
    est = pairs.join(a, "doc_a").join(b, "doc_b").select(
        "doc_a", "doc_b", n_agree.alias("n_agree")
    )
    nsh = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        pairs.join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"), ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        est.join(inter, ["doc_a", "doc_b"])
        .join(nsh.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(nsh.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("n_agree").cast("double") / _MJ_N).alias("est_jaccard"),
            (
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter"))
            ).alias("exact_jaccard"),
        )
    )


@query(
    "emb_quantize_int8",
    oracle="""
WITH e AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
), stats AS (
  SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM e GROUP BY i
), q AS (
  SELECT e.vec_id, e.x, s.mn, (s.mx - s.mn) / 255.0 AS scl,
         CAST(ROUND((e.x - s.mn) / ((s.mx - s.mn) / 255.0), 0) AS BIGINT) AS code
  FROM e JOIN stats s USING (i)
)
SELECT vec_id,
       CAST(SUM(code) AS BIGINT) AS code_sum,
       ROUND(MAX(ABS(code * scl + mn - x)), 6) AS max_abs_err
FROM q GROUP BY vec_id
""",
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization — the 4× storage/bandwidth op every
    large ANN index applies before sharding: per-DIMENSION min/max
    calibration over the corpus, affine quantize to 0..255, and per-
    vector quality accounting (code checksum + max reconstruction
    error — max, not sum, because MAX is accumulation-order-free and
    needs no float policy).

    Shuffle shape: the calibration stats are 64 rows (one partial-agg
    pass — this IS the scan at 100 TB, everything else broadcasts);
    codes are integer math on identically-computed doubles, and the
    per-vector reduce carries (vec_id, code partials) only. The codes
    themselves would be the written artifact in production; here the
    checksum pins them exactly against the oracle.
    """
    e = load_table(spark, sf_dir, "embeddings")
    ex = spread(e, "vec_id").select(
        "vec_id", F.posexplode("embedding").alias("i0", "xf")
    ).select("vec_id", (F.col("i0") + 1).alias("i"), F.col("xf").cast("double").alias("x"))
    stats = ex.groupBy("i").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    scl = (F.col("mx") - F.col("mn")) / 255.0
    code = F.round((F.col("x") - F.col("mn")) / scl, 0).cast("long")
    q = ex.join(F.broadcast(stats), "i").select(
        "vec_id", "x", "mn", scl.alias("scl"), code.alias("code")
    )
    err = F.abs(F.col("code") * F.col("scl") + F.col("mn") - F.col("x"))
    return q.groupBy("vec_id").agg(
        F.sum("code").alias("code_sum"),
        F.round(F.max(err), 6).alias("max_abs_err"),
    )


_PR_ROUNDS = 5
_PR_DAMP = 0.85


def _pagerank_oracle() -> str:
    # 5 unrolled iterations (recursive CTEs disallow the aggregate in
    # the recursive term); every per-node SUM goes through the 1e-12
    # decimal grid so accumulation order can't perturb the doubles.
    steps = []
    prev = "pr0"
    for i in range(1, _PR_ROUNDS + 1):
        steps.append(f"""
pr{i} AS (
  SELECT d.node,
         0.15 / n.cnt + {_PR_DAMP} * CAST(COALESCE(SUM(
           CAST(p.r / CAST(pd.deg AS DOUBLE) AS DECIMAL(38,12))
         ), 0) AS DOUBLE) AS r
  FROM deg d CROSS JOIN n
  LEFT JOIN edges e ON e.b = d.node
  LEFT JOIN {prev} p ON p.node = e.a
  LEFT JOIN deg pd ON pd.node = e.a
  GROUP BY d.node, n.cnt
)""")
        prev = f"pr{i}"
    return f"""
WITH pairs AS (
{MINHASH_PAIRS_ORACLE}
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
), deg AS (
  SELECT a AS node, COUNT(*) AS deg FROM edges GROUP BY a
), n AS (SELECT COUNT(*) AS cnt FROM deg),
pr0 AS (
  SELECT node, CAST(1.0 AS DOUBLE) / n.cnt AS r FROM deg CROSS JOIN n
),{','.join(steps)}
SELECT node AS doc_id, r AS pagerank FROM {prev}
"""


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-dup adjacency graph (nodes = docs with
    ≥1 candidate edge), 5 fixed rounds, damping 0.85 — centrality over
    the duplicate graph ranks the most-copied boilerplate, and is the
    second iterative-algorithm shape (numeric fixpoint) next to
    dedup_components' label propagation.

    HASH-EXACT iterative float math: the only order-dependent step in
    a PageRank round is the per-node contribution sum, so each
    contribution r/deg snaps to the 1e-12 decimal grid and the sum is
    exact decimal addition (associative — executor count can't change
    it); everything else is identical IEEE double ops on identical
    inputs, so after 5 rounds the doubles are bit-equal to the
    oracle's unrolled-CTE evaluation. Per round: one join-groupBy pair
    of shuffles over (node, rank) rows + localCheckpoint to stop plan
    growth — GraphX's Pregel loop in DataFrame algebra.
    """
    pairs = dedup_near_minhash(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .union(pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
        .persist()
    )
    deg = edges.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("deg")).persist()
    n = deg.count()
    r = deg.select("node", (F.lit(1.0) / F.lit(float(n))).alias("r")).localCheckpoint(True)
    for _ in range(_PR_ROUNDS):
        contrib = (
            edges.join(r.withColumnRenamed("node", "a"), "a")
            .join(deg.select(F.col("node").alias("a"), "deg"), "a")
            .select(
                F.col("b").alias("node"),
                (F.col("r") / F.col("deg").cast("double")).cast("decimal(38,12)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("csum"))
        )
        r = (
            deg.select("node")
            .join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(0.15 / float(n))
                    + F.lit(_PR_DAMP)
                    * F.coalesce(F.col("csum"), F.lit(0).cast("decimal(38,12)")).cast("double")
                ).alias("r"),
            )
            .localCheckpoint(True)
        )
    # r is materialized (eager checkpoints) — release the loop caches so
    # repeated invocations in one driver session don't accumulate them.
    edges.unpersist()
    deg.unpersist()
    return r.select(F.col("node").alias("doc_id"), F.col("r").alias("pagerank"))


def _recall_oracle() -> str:
    # compose the two already-registered oracles: ANN result vs exact
    from ..registry import _ORACLES

    return f"""
WITH ivf AS (
{_ORACLES["sim_ann_ivf"]}
), ex AS (
{_ORACLES["sim_cosine_topk"]}
)
SELECT COUNT(*) AS n_overlap,
       CAST(COUNT(*) AS DOUBLE) / 10 AS recall_at_10
FROM ivf JOIN ex USING (vec_id)
"""


@query("sim_ann_recall", oracle=_recall_oracle())
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@10 of the IVF-bucketed index
    against the exact brute-force top-10 — the measurement loop every
    approximate index ships with (the third eval-verb alongside
    minhash_jaccard_estimate for LSH and sketch_countmin's overcount
    column: the engine doesn't just run approximations, it QUANTIFIES
    them). Both operands are the verified standalone keys; the oracle
    composes their oracle texts the same way, so all three layers
    (Spark ANN, Spark exact, both SQL twins) must agree for this to
    hash-match. Join on 10-row sides — negligible cost beyond the two
    searches themselves.
    """
    from .llm import sim_cosine_topk

    ivf = sim_ann_ivf(spark, sf_dir).select("vec_id")
    exact = sim_cosine_topk(spark, sf_dir).select("vec_id")
    return ivf.join(exact, "vec_id").agg(
        F.count(F.lit(1)).alias("n_overlap"),
        (F.count(F.lit(1)).cast("double") / 10).alias("recall_at_10"),
    )


def _family_compare_oracle() -> str:
    from ..registry import _ORACLES

    return f"""
WITH mh AS (
{_ORACLES["dedup_near_minhash"]}
), sh AS (
{_ORACLES["dedup_simhash"]}
), ja AS (
{_ORACLES["dedup_ngram_jaccard"]}
), em AS (
{_ORACLES["dedup_embedding"]}
), labeled AS (
  SELECT doc_a, doc_b, 1 AS fam FROM mh
  UNION ALL SELECT doc_a, doc_b, 2 FROM sh
  UNION ALL SELECT doc_a, doc_b, 4 FROM ja
  UNION ALL SELECT vec_a, vec_b, 8 FROM em
), masks AS (
  SELECT doc_a, doc_b, CAST(SUM(fam) AS BIGINT) AS fam_mask FROM labeled GROUP BY doc_a, doc_b
)
SELECT fam_mask, COUNT(*) AS n_pairs FROM masks GROUP BY fam_mask
"""


@query("dedup_family_compare", oracle=_family_compare_oracle())
def dedup_family_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-method Venn diagram: every candidate pair labeled with the
    BITMASK of families that flagged it (1=minhash, 2=simhash,
    4=rare-shingle jaccard, 8=embedding-cosine; embeddings share doc
    ids via vec_id==doc_id) — the agreement analysis a pipeline runs
    to choose/ensemble its dedup stack (pairs with mask 15 are
    certain; mask-1-only pairs show where LSH is loosest).

    Composes four verified standalone keys on the Spark side and
    their four oracle texts on the DuckDB side — a 4-way consistency
    check across both engines in one key. Each family's pair set is
    LSH/df/threshold-bounded, so the union and the per-pair mask agg
    stay candidate-sized at any corpus scale.
    """
    from .llm import dedup_near_minhash as _mh

    mh = _mh(spark, sf_dir).select("doc_a", "doc_b").withColumn("fam", F.lit(1))
    sh = dedup_simhash(spark, sf_dir).select("doc_a", "doc_b").withColumn("fam", F.lit(2))
    ja = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("fam", F.lit(4))
    )
    em = (
        dedup_embedding(spark, sf_dir)
        .select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
        .withColumn("fam", F.lit(8))
    )
    labeled = mh.unionByName(sh).unionByName(ja).unionByName(em)
    return (
        labeled.groupBy("doc_a", "doc_b")
        .agg(F.sum("fam").alias("fam_mask"))
        .groupBy("fam_mask")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def _cluster_hist_oracle() -> str:
    from ..registry import _ORACLES

    # reuse the components key's oracle (recursive min-reachability)
    comp = _ORACLES["dedup_components"]
    return f"""
WITH comp AS (
{comp}
), sizes AS (
  SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component
)
SELECT cluster_size, COUNT(*) AS n_clusters,
       cluster_size * COUNT(*) AS n_docs_in
FROM sizes GROUP BY cluster_size
"""


@query("dedup_cluster_sizes", oracle=_cluster_hist_oracle())
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution: how many near-dup clusters
    of each size exist and how much of the corpus they hold — the
    histogram a dedup run is judged by (a long tail of pairs is
    normal; one giant cluster means boilerplate leaked through the
    band cap). Reuses dedup_components verbatim; the histogram is two
    tiny aggregations over its (doc, component) labels."""
    comp = dedup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).alias("n_docs_in"),
    )


@query(
    "emb_label_separation",
    oracle="""
WITH ex AS (
  SELECT vec_id, label, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
), cent AS (
  SELECT label, pos, ROUND(AVG(x), 6) AS c FROM ex GROUP BY label, pos
), between_ AS (
  SELECT a.label AS label_a, b.label AS label_b,
         CAST(SUM(CAST(a.c * b.c AS DECIMAL(38,12))) AS DOUBLE) AS dot,
         CAST(SUM(CAST(a.c * a.c AS DECIMAL(38,12))) AS DOUBLE) AS na,
         CAST(SUM(CAST(b.c * b.c AS DECIMAL(38,12))) AS DOUBLE) AS nb
  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
  GROUP BY a.label, b.label
), vc AS (
  SELECT e.vec_id, e.label,
         CAST(SUM(CAST(e.x * c.c AS DECIMAL(38,12))) AS DOUBLE) AS dot,
         CAST(SUM(CAST(e.x * e.x AS DECIMAL(38,12))) AS DOUBLE) AS nv,
         CAST(SUM(CAST(c.c * c.c AS DECIMAL(38,12))) AS DOUBLE) AS nc
  FROM ex e JOIN cent c ON c.label = e.label AND c.pos = e.pos
  GROUP BY e.vec_id, e.label
), within_ AS (
  SELECT label,
         CAST(SUM(CAST(ROUND(dot / SQRT(nv * nc), 6) AS DECIMAL(38,12))) AS DOUBLE)
           / COUNT(*) AS avg_cos,
         COUNT(*) AS n
  FROM vc GROUP BY label
)
SELECT label AS label_a, label AS label_b, ROUND(avg_cos, 6) AS cosine, n AS n_items
FROM within_
UNION ALL
SELECT label_a, label_b, ROUND(dot / SQRT(na * nb), 6) AS cosine, 1 AS n_items
FROM between_
""",
)
def emb_label_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space separation report: for each label, the mean
    cosine of its members to their own centroid (cohesion — diagonal
    rows, label_a == label_b); for each label pair, the centroid-to-
    centroid cosine (separation — off-diagonal). Well-separated
    spaces show high diagonal, low off-diagonal; this is the health
    check run before trusting labels for IVF routing or classifier
    training.

    Everything reduces to per-(pair, pos) products summed through the
    1e-12 decimal grid — the regression/pagerank exactness pattern
    applied to vector geometry — with centroids quantized at 1e-6 in
    BOTH engines first, so every layer is hash-exact. Shuffle shape:
    one posexplode pass, centroid broadcast joins, and per-vec/per-
    pair partial aggs; at 100 TB the vector stream is touched once.
    """
    e = load_table(spark, sf_dir, "embeddings")
    ex = (
        spread(e, "vec_id")
        .select("vec_id", "label", F.posexplode("embedding").alias("pos", "xf"))
        .select("vec_id", "label", "pos", F.col("xf").cast("double").alias("x"))
        .transform(tpersist)
    )
    cent = (
        ex.groupBy("label", "pos").agg(F.round(F.avg("x"), 6).alias("c")).transform(tpersist)
    )
    g = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")
    a = cent.select(F.col("label").alias("label_a"), "pos", F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), "pos", F.col("c").alias("cb"))
    between = (
        a.join(b, (a.pos == b.pos) & (F.col("label_a") < F.col("label_b")))
        .groupBy("label_a", "label_b")
        .agg(
            g(F.col("ca") * F.col("cb")).alias("dot"),
            g(F.col("ca") * F.col("ca")).alias("na"),
            g(F.col("cb") * F.col("cb")).alias("nb"),
        )
        .select(
            "label_a",
            "label_b",
            F.round(F.col("dot") / F.sqrt(F.col("na") * F.col("nb")), 6).alias("cosine"),
            F.lit(1).cast("long").alias("n_items"),
        )
    )
    vc = (
        ex.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            g(F.col("x") * F.col("c")).alias("dot"),
            g(F.col("x") * F.col("x")).alias("nv"),
            g(F.col("c") * F.col("c")).alias("nc"),
        )
    )
    within = (
        vc.select(
            "label",
            F.round(F.col("dot") / F.sqrt(F.col("nv") * F.col("nc")), 6)
            .cast("decimal(38,12)")
            .alias("cos_q"),
        )
        .groupBy("label")
        .agg(
            (F.sum("cos_q").cast("double") / F.count(F.lit(1))).alias("avg_cos"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.col("label").alias("label_a"),
            F.col("label").alias("label_b"),
            F.round("avg_cos", 6).alias("cosine"),
            F.col("n").alias("n_items"),
        )
    )
    return within.unionByName(between)


_PCA_ITERS = 40  # fixed power-iteration step count (oracle unrolls the same)


def _pca_oracle() -> str:
    """DuckDB twin of the fixed-step power iteration: covariance via the
    same E[ab] − E[a]E[b] formula, then exactly ``_PCA_ITERS`` unrolled
    matrix-vector CTE steps with trace rescaling — a deterministic
    function of the data, so it hash-matches the Spark side regardless
    of eigen-convergence (the point of the round-6 reshape: no more
    rows-only grading for an iterative algorithm)."""
    # Every CTE is MATERIALIZED: DuckDB inlines plain CTEs at each
    # reference, which would re-evaluate the covariance subtree once per
    # unrolled step (O(iters) full re-scans — measured minutes instead of
    # sub-second at sf0.01). Materialization makes the chain genuinely
    # iterative: one covariance pass + 40 tiny 64x64 mat-vec steps.
    steps = []
    for k in range(1, _PCA_ITERS + 1):
        steps.append(
            f"p{k} AS MATERIALIZED (SELECT c.i AS i, SUM(c.c * p.val) / MAX(t.t) AS val\n"
            f"  FROM c JOIN p{k - 1} p ON c.j = p.i CROSS JOIN tr t GROUP BY c.i)"
        )
    last = f"p{_PCA_ITERS}"
    return f"""
WITH x AS MATERIALIZED (
  SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
), c AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j,
         SUM(a.v * b.v) / COUNT(*)
           - (SUM(a.v) / COUNT(*)) * (SUM(b.v) / COUNT(*)) AS c
  FROM x a JOIN x b USING (vec_id) GROUP BY a.i, b.i
), tr AS MATERIALIZED (
  SELECT SUM(c) AS t FROM c WHERE i = j
), p0 AS MATERIALIZED (
  SELECT DISTINCT i, 0.125 AS val FROM c
), {', '.join(steps)}, nrm AS MATERIALIZED (
  SELECT SQRT(SUM(val * val)) AS n FROM {last}
), sgn AS MATERIALIZED (
  SELECT CASE WHEN val < 0 THEN -1.0 ELSE 1.0 END AS s
  FROM {last} ORDER BY ABS(val) DESC, i ASC LIMIT 1
), vn AS MATERIALIZED (
  SELECT i, sgn.s * (val / nrm.n) AS u FROM {last}, nrm, sgn
), rq AS MATERIALIZED (
  SELECT SUM(a.u * c.c * b.u) AS r FROM vn a JOIN c ON c.i = a.i JOIN vn b ON c.j = b.i
)
SELECT CAST(vn.i AS INT) AS dim_idx,
       ROUND(vn.u, 6) AS loading,
       ROUND(rq.r, 6) AS rayleigh_q,
       ROUND(rq.r / tr.t, 6) AS explained_share
FROM vn, rq, tr
"""


@query("emb_pca_top_component", oracle=_pca_oracle())
def emb_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding cloud — the spectral
    health check for an embedding corpus (a dominant component with a
    huge variance share means collapsed/anisotropic embeddings; its
    loadings drive whitening).

    Round-6 reshape (VERDICT r5 task #3): instead of an eigh whose
    output only a rows-only check could grade, the key now emits the
    iterate of a FIXED 40-step power iteration (trace-rescaled, fixed
    uniform start, canonical sign) plus its Rayleigh quotient and
    explained share. A fixed-step iteration is a deterministic function
    of the data, so the DuckDB oracle unrolls the identical 40 steps as
    chained CTEs and the driver hash-matches it like any other key.
    Convergence quality is a separate concern, held by the self-check
    test (Rayleigh within 1% of numpy's true λ₁ — tight here because
    Rayleigh converges as (λ₂/λ₁)^2k even when the direction hasn't).

    Scale shape: ONE distributed pass accumulates the Gram matrix
    X^T X and the column sums as per-partition numpy partials
    (mapInPandas, Arrow-batched; d x d cells of mergeable state, the
    sketch discipline — d=64 here, fine to d~2k at 100 TB). Only
    #partitions rows of size-d² state reach the driver (the documented
    metadata-sized collect, like assign_contiguous_ids' offsets); the
    40 O(d²) power steps then run on the tiny d x d matrix driver-side.
    No row-level shuffle anywhere.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])

    def gram_partials(batches):
        xtx = np.zeros((dim, dim), dtype=np.float64)
        xsum = np.zeros(dim, dtype=np.float64)
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            xtx += X.T @ X
            xsum += X.sum(axis=0)
            n += len(X)
        yield pd.DataFrame(
            {"xtx": [xtx.ravel().tolist()], "xsum": [xsum.tolist()], "n": [n]}
        )

    parts = emb.select("embedding").mapInPandas(
        gram_partials, "xtx array<double>, xsum array<double>, n bigint"
    )
    rows = parts.collect()  # #partitions rows of d²-sized state (metadata-sized)
    xtx = np.zeros((dim, dim))
    xsum = np.zeros(dim)
    n = 0
    for r in rows:
        xtx += np.array(r["xtx"]).reshape(dim, dim)
        xsum += np.array(r["xsum"])
        n += r["n"]
    mean = xsum / n
    cov = xtx / n - np.outer(mean, mean)

    # Fixed 40-step power iteration with trace rescaling — the exact
    # computation the oracle unrolls. No convergence test, no adaptive
    # stopping: determinism is what makes the key hash-gradeable.
    tr = float(np.trace(cov))
    v = np.full(dim, 0.125, dtype=np.float64)
    for _ in range(_PCA_ITERS):
        v = (cov @ v) / tr
    vn = v / float(np.linalg.norm(v))
    if vn[int(np.argmax(np.abs(vn)))] < 0:  # canonical sign: max-|entry| positive
        vn = -vn
    rq = float(vn @ cov @ vn)

    out = pd.DataFrame(
        {
            "dim_idx": np.arange(dim, dtype=np.int32),
            "loading": np.round(vn, 6),
            "rayleigh_q": np.round(np.full(dim, rq), 6),
            "explained_share": np.round(np.full(dim, rq / tr), 6),
        }
    )
    return spark.createDataFrame(
        out,
        "dim_idx int, loading double, rayleigh_q double, explained_share double",
    )


def _mrl_oracle() -> str:
    from .llm import _O_COS

    def cos(d: int) -> str:
        a, b = f"v.embedding[1:{d}]", f"q.embedding[1:{d}]"
        return _O_COS.format(a=a, b=b)

    ctes, rows = [], []
    for d in (8, 16, 32, 64):
        ctes.append(
            f"top_{d} AS (SELECT v.vec_id, ROUND({cos(d)}, 6) AS c\n"
            f"  FROM embeddings v, q WHERE v.vec_id <> 0\n"
            f"  ORDER BY c DESC, v.vec_id ASC LIMIT 10)"
        )
    for d in (8, 16, 32):
        rows.append(
            f"SELECT {d} AS sub_dim,\n"
            f"  (SELECT COUNT(*) FROM top_{d} t JOIN top_64 f USING (vec_id)) AS n_overlap_top10,\n"
            f"  (SELECT vec_id FROM top_{d} ORDER BY c DESC, vec_id ASC LIMIT 1) AS top1_vec_id"
        )
    return (
        "WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),\n"
        + ",\n".join(ctes)
        + "\n"
        + "\nUNION ALL\n".join(rows)
    )


@query("emb_mrl_truncate_recall", oracle=_mrl_oracle())
def emb_mrl_truncate_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation quality: top-10 retrieval with only the
    first 8/16/32 dims vs the full 64-dim top-10 — the measurement that
    decides how far MRL-style embeddings can be truncated before recall
    pays (truncated prefixes are the standard cheap first-pass filter
    at retrieval scale: score on d' ≪ d, rerank survivors full-width).

    Each resolution is one broadcast-query scan + distributed TakeOrdered
    top-10 (limit-then-compare; no global window), and the overlap count
    joins two 10-row sets — all metadata-sized above the scans. Cosines
    round to 6 with vec_id tie-break so the cut is stable cross-engine.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))

    def top(d: int):
        a, b = F.slice(F.col("embedding"), 1, d), F.slice(F.col("q_emb"), 1, d)
        return (
            e.where(F.col("vec_id") != 0)
            .crossJoin(F.broadcast(q))
            .select("vec_id", _cos6(a, b).alias("c"))
            .orderBy(F.col("c").desc(), F.col("vec_id").asc())
            .limit(10)
        )

    full = top(64).select("vec_id").transform(tpersist)
    out = None
    for d in (8, 16, 32):
        t = top(d).transform(tpersist)
        overlap = (
            t.join(full, "vec_id")
            .agg(F.count(F.lit(1)).alias("n_overlap_top10"))
        )
        top1 = t.orderBy(F.col("c").desc(), F.col("vec_id").asc()).limit(1).select(
            F.col("vec_id").alias("top1_vec_id")
        )
        row = (
            overlap.crossJoin(F.broadcast(top1))
            .select(
                F.lit(d).alias("sub_dim"), "n_overlap_top10", "top1_vec_id"
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


_CONTAIN_MIN = 0.6


@query(
    "dedup_containment",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS shingle
  FROM toks, UNNEST(CASE WHEN len(t) >= 3 THEN generate_series(1, len(t)-2) ELSE [] END) AS u(i)
), hsh AS (
  SELECT doc_id, ('0x' || substring(md5(shingle), 1, 15))::BIGINT AS h FROM sh
), rare AS (
  SELECT h FROM hsh GROUP BY h HAVING COUNT(*) <= {_JACCARD_MAX_DF}
), rsh AS (
  SELECT hsh.doc_id, hsh.h FROM hsh JOIN rare USING (h)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM rsh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM rsh a JOIN rsh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_inter,
       ROUND(CAST(n_inter AS DOUBLE) / LEAST(sa.n, sb.n), 6) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / LEAST(sa.n, sb.n) >= {_CONTAIN_MIN}
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup: |A∩B| / min(|A|, |B|) over the
    same df≤{_JACCARD_MAX_DF} rare-shingle inverted index as
    dedup_ngram_jaccard — the measure that catches SUBSET duplication
    (a quote, a wrapped article, a doc embedded in a boilerplate
    frame), which symmetric Jaccard dilutes below threshold whenever
    the containing document is much larger.

    Plan shape is identical to the Jaccard key (df-capped inverted
    index, persisted, fan-out bounded at C(df,2) per shingle); only
    the final scoring expression differs, so the scale argument is
    inherited verbatim. Running both keys in one session shares the
    persisted index via CacheManager plan-dedup.
    """
    rsh = _rare_shingle_index(spark, sf_dir)
    sizes = rsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = rsh.select(F.col("doc_id").alias("doc_a"), "h")
    b = rsh.select(F.col("doc_id").alias("doc_b"), "h")
    inter = (
        a.join(b, ["h"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    cont = F.col("n_inter").cast("double") / F.least(F.col("na"), F.col("nb"))
    # Unforced sizes joins for the same reason as dedup_ngram_jaccard:
    # `sizes` is per-document (unbounded at 100 TB); AQE chooses the
    # strategy. Guarded by tests/test_plans.py.
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(cont >= _CONTAIN_MIN)
        .select("doc_a", "doc_b", "n_inter", F.round(cont, 6).alias("containment"))
    )


@query(
    "graph_degree_stats",
    oracle=f"""
WITH pairs AS (
{MINHASH_PAIRS_ORACLE}
), touched AS (
  SELECT doc_a AS doc_id FROM pairs
  UNION ALL
  SELECT doc_b AS doc_id FROM pairs
), degree AS (
  SELECT d.doc_id, COUNT(t.doc_id) AS deg
  FROM documents d LEFT JOIN touched t ON t.doc_id = d.doc_id
  GROUP BY d.doc_id
)
SELECT deg AS degree, COUNT(*) AS n_docs
FROM degree GROUP BY deg
""",
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the minhash-LSH candidate-pair graph —
    the dedup-run health report: a heavy tail here means a boilerplate
    cluster is about to dominate connected components, and the 64-doc
    band cap's effect is directly visible as the max degree.

    Pipeline: the shared capped LSH pairs (llm._lsh_pairs), each pair
    counted toward both endpoints, left-joined back to documents so
    degree-0 (unique) docs appear — then a two-level aggregation whose
    shuffle is #docs then #distinct-degrees. At 100 TB both stages are
    partial-agg'd and the final histogram is metadata-sized.
    """
    d = load_table(spark, sf_dir, "documents")
    pairs = dedup_near_minhash(spark, sf_dir)
    touched = pairs.select(F.col("doc_a").alias("doc_id")).unionAll(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    deg = (
        d.select("doc_id")
        .join(touched.groupBy("doc_id").agg(F.count(F.lit(1)).alias("deg")), "doc_id", "left")
        .select(F.coalesce("deg", F.lit(0)).alias("deg"))
    )
    return deg.groupBy(F.col("deg").alias("degree")).agg(F.count(F.lit(1)).alias("n_docs"))


_PQ_SUBS = 4  # subspaces
_PQ_DIM = 16  # dims per subspace (4 x 16 = the 64-dim embedding)
_PQ_CODES = 16  # codewords per subspace (codebook = first 16 vectors)


def _pq_oracle() -> str:
    d2 = (
        "ROUND(list_dot_product(v.sv, v.sv) + list_dot_product(c.cv, c.cv)"
        " - 2 * list_dot_product(v.sv, c.cv), 6)"
    )
    code_cols = ",\n       ".join(
        f"CAST(SUM(CASE WHEN sub_idx = {s} THEN code_id END) AS INTEGER) AS code_{s}"
        for s in range(_PQ_SUBS)
    )
    return f"""
WITH subs AS (
  SELECT vec_id, s.sub_idx,
         (CAST(embedding AS DOUBLE[]))[s.sub_idx * {_PQ_DIM} + 1 : s.sub_idx * {_PQ_DIM} + {_PQ_DIM}] AS sv
  FROM embeddings, (SELECT UNNEST(generate_series(0, {_PQ_SUBS - 1})) AS sub_idx) s
), cb AS (
  SELECT vec_id AS code_id, sub_idx, sv AS cv FROM subs WHERE vec_id < {_PQ_CODES}
), best AS (
  SELECT vec_id, sub_idx, code_id, d2 FROM (
    SELECT v.vec_id, v.sub_idx, c.code_id, {d2} AS d2,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.sub_idx
                              ORDER BY {d2} ASC, c.code_id ASC) AS rk
    FROM subs v JOIN cb c ON c.sub_idx = v.sub_idx
  ) WHERE rk = 1
)
SELECT vec_id,
       {code_cols},
       CAST(SUM(CAST(d2 AS DECIMAL(38,6))) AS DOUBLE) AS recon_err2
FROM best GROUP BY vec_id
"""


@query("emb_pq_quantize", oracle=_pq_oracle())
def emb_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: the 64-dim embedding split into 4×16-dim
    subvectors, each assigned to its nearest of 16 deterministic
    codewords (the first 16 vectors' subvectors — the same k-means
    stand-in convention as the IVF centroids), plus the exact squared
    reconstruction error. PQ is how billion-vector ANN fits RAM: 64
    floats (256 B) compress to 4 code bytes, and asymmetric distances
    are table lookups.

    Shape: posexplode to (vec_id, sub_idx, subvec) — 4 rows per vector
    — cross join the BROADCAST 64-row codebook restricted to the same
    sub_idx, L2 via the norm²+norm²−2·dot identity on the shared
    sequential-fold dot (_dot — the cross-engine-deterministic path),
    argmin per (vec_id, sub_idx) window (partitioned, never global),
    then one groupBy(vec_id) pivots codes back to columns. Work is
    #vectors × 4 × 16 dots at any scale, all JVM-side; the assignment
    is a pure map + one partial-agg'd shuffle on vec_id.
    """
    from .llm import _dot

    e = load_table(spark, sf_dir, "embeddings")
    subs_arr = F.array(
        *[F.slice("embedding", s * _PQ_DIM + 1, _PQ_DIM) for s in range(_PQ_SUBS)]
    )
    subs = spread(e, "vec_id").select(
        "vec_id", F.posexplode(subs_arr).alias("sub_idx", "sv")
    )
    cb = (
        e.where(F.col("vec_id") < _PQ_CODES)
        .select(F.col("vec_id").alias("code_id"), F.posexplode(subs_arr).alias("sub_idx", "cv"))
    )
    d2 = F.round(
        _dot(F.col("sv"), F.col("sv"))
        + _dot(F.col("cv"), F.col("cv"))
        - 2 * _dot(F.col("sv"), F.col("cv")),
        6,
    )
    w = Window.partitionBy("vec_id", "sub_idx").orderBy(F.col("d2").asc(), F.col("code_id").asc())
    best = (
        subs.join(F.broadcast(cb), "sub_idx")
        .withColumn("d2", d2)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
    )
    return best.groupBy("vec_id").agg(
        *[
            F.sum(F.when(F.col("sub_idx") == s, F.col("code_id")))
            .cast("int")
            .alias(f"code_{s}")
            for s in range(_PQ_SUBS)
        ],
        # decimal partials: the 4-term float sum must be order-invariant
        # to hash-match (the _common.py float policy)
        F.sum(F.col("d2").cast("decimal(38,6)")).cast("double").alias("recon_err2"),
    )


@query(
    "graph_triangle_count",
    oracle=f"""
WITH pairs AS (
{MINHASH_PAIRS_ORACLE}
), nodes AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM pairs UNION ALL SELECT doc_b FROM pairs)
), deg AS (
  SELECT doc_id, COUNT(*) AS d FROM (
    SELECT doc_a AS doc_id FROM pairs UNION ALL SELECT doc_b FROM pairs)
  GROUP BY doc_id
), tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM pairs p1
  JOIN pairs p2 ON p2.doc_a = p1.doc_b
  JOIN pairs p3 ON p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b
)
SELECT (SELECT COUNT(*) FROM nodes) AS n_nodes,
       (SELECT COUNT(*) FROM pairs) AS n_edges,
       (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges,
       n_triangles,
       CASE WHEN (SELECT SUM(d * (d - 1) // 2) FROM deg) > 0
            THEN ROUND(3.0 * n_triangles / (SELECT SUM(d * (d - 1) // 2) FROM deg), 6)
            ELSE 0.0 END AS global_clustering
FROM tri
""",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the LSH candidate-pair graph: nodes, edges,
    wedges (open triads), triangles, and the global clustering
    coefficient 3T/W — the structural summary that distinguishes a
    healthy near-dup graph (dense cliquish clusters → clustering ≈ 1)
    from hash-collision noise (star/chain artifacts → clustering ≈ 0).

    The triangle join uses the ORDERED edge list (doc_a < doc_b), so
    each triangle a<b<c is counted exactly once by chaining
    (a,b)⋈(b,c) and closing with (a,c) — the standard distributed
    triangle count, whose join fan-out is bounded because the band cap
    bounds every vertex degree. Pairs are persisted once for the three
    edge roles + the degree pass; wedges are pure integer arithmetic.
    All four counts land in ONE row — metadata-sized output.
    """
    pairs = dedup_near_minhash(spark, sf_dir).transform(tpersist)
    ends = pairs.select(F.col("doc_a").alias("doc_id")).unionAll(
        pairs.select(F.col("doc_b").alias("doc_id"))
    )
    deg = ends.groupBy("doc_id").agg(F.count(F.lit(1)).alias("d"))
    wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).cast("bigint").alias("n_wedges")
    )
    p1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    p2 = pairs.select(F.col("doc_a").alias("b2"), F.col("doc_b").alias("c"))
    p3 = pairs.select(F.col("doc_a").alias("a3"), F.col("doc_b").alias("c3"))
    tri = (
        p1.join(p2, F.col("b") == F.col("b2"))
        .join(p3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    counts = pairs.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        ends.distinct().agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    out = counts.crossJoin(wedges).crossJoin(tri)
    clustering = F.when(
        F.col("n_wedges") > 0,
        F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6),
    ).otherwise(F.lit(0.0))
    return out.select(
        "n_nodes", "n_edges", "n_wedges", "n_triangles", clustering.alias("global_clustering")
    )


@query(
    "dedup_source_matrix",
    oracle=f"""
WITH pairs AS (
{MINHASH_PAIRS_ORACLE}
)
SELECT LEAST(da.source, db.source) AS source_a,
       GREATEST(da.source, db.source) AS source_b,
       COUNT(*) AS n_pairs
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
GROUP BY 1, 2
""",
)
def dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: near-dup candidate pairs rolled
    up by (source, source) — the report that tells a crawl pipeline
    WHICH feeds duplicate each other (mirror sites, syndication) vs
    duplicate internally (template spam), i.e. where dedup budget and
    crawl dedup rules should go.

    Sources are unordered within a pair (LEAST/GREATEST), so the
    matrix is upper-triangular. Pairs join the doc→source lookup
    twice; at 100 TB that lookup is a compact (doc_id, source)
    projection — broadcast-or-shuffle per AQE — and the final rollup
    is at most #sources² rows.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = dedup_near_minhash(spark, sf_dir)
    da = d.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    db = d.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "emb_ivf_build_stats",
    oracle=f"""
WITH {_IVF_ASSIGN_SQL}, residual AS (
  SELECT s.cen_id, v.vec_id,
         ROUND(list_cosine_similarity(CAST(v.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6) AS cos_vc
  FROM embeddings v
  JOIN assign s ON s.vec_id = v.vec_id
  JOIN cents c ON c.cen_id = s.cen_id
)
SELECT cen_id,
       COUNT(*) AS bucket_size,
       CAST(SUM(CAST(cos_vc AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mean_cos_to_centroid,
       MIN(cos_vc) AS min_cos_to_centroid
FROM residual
GROUP BY cen_id
""",
)
def emb_ivf_build_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index build report: per-bucket size + cohesion (mean and
    worst cosine of members to their centroid) — the health check run
    after building a coarse quantizer and BEFORE trusting it for
    routing (sim_ann_ivf) or bucketed dedup (dedup_embedding_bucketed):
    a skewed bucket-size histogram predicts probe-latency skew, and a
    low min-cosine flags vectors the codebook represents badly (recall
    risk).

    Reuses the shared assignment (broadcast centroids, one data-parallel
    pass); the rollup shuffles #centroids × partials — metadata-sized
    at any corpus scale. Mean cosine sums the 1e-6-snapped member
    cosines as exact decimals, divided once.
    """
    e = load_table(spark, sf_dir, "embeddings")
    cents = e.where(F.col("vec_id") < _IVF_N_CENTROIDS).select(
        F.col("vec_id").alias("cen_id"), F.col("embedding").alias("c_emb")
    )
    cos_vc = _cos6(F.col("embedding"), F.col("c_emb"))
    member_cos = (
        e.join(_ivf_assign(e), "vec_id")
        .join(F.broadcast(cents), "cen_id")
        .select("cen_id", cos_vc.alias("cos_vc"))
    )
    return member_cos.groupBy("cen_id").agg(
        F.count(F.lit(1)).alias("bucket_size"),
        (F.sum(F.col("cos_vc").cast("decimal(38,6)")).cast("double") / F.count(F.lit(1))).alias(
            "mean_cos_to_centroid"
        ),
        F.min("cos_vc").alias("min_cos_to_centroid"),
    )


@query(
    "sim_knn_join_bucketed",
    oracle=f"""
WITH {_IVF_ASSIGN_SQL}, probe2 AS (
  SELECT vec_id, cen_id FROM (
    SELECT v.vec_id, c.cen_id,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY ROUND(list_cosine_similarity(CAST(v.embedding AS DOUBLE[]),
                                                   CAST(c.embedding AS DOUBLE[])), 6) DESC,
                      c.cen_id ASC) AS rk
    FROM embeddings v, cents c
    WHERE v.label = 0
  ) WHERE rk <= {_IVF_NPROBE}
)
SELECT anchor_id, neighbor_id, cosine, nn_rank FROM (
  SELECT a.vec_id AS anchor_id, b.vec_id AS neighbor_id,
         ROUND({_O_COS_PAIR}, 6) AS cosine,
         ROW_NUMBER() OVER (
           PARTITION BY a.vec_id
           ORDER BY ROUND({_O_COS_PAIR}, 6) DESC, b.vec_id ASC) AS nn_rank
  FROM embeddings a
  JOIN probe2 pa ON pa.vec_id = a.vec_id
  JOIN assign sb ON sb.cen_id = pa.cen_id
  JOIN embeddings b ON b.vec_id = sb.vec_id AND b.vec_id <> a.vec_id
  WHERE a.label = 0
) WHERE nn_rank <= 3
""",
)
def sim_knn_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed MULTI-PROBE 3-NN join — the scale-correct shape of
    sim_knn_join, closing the last quadratic-only similarity op: each
    label=0 anchor searches the nprobe=2 buckets nearest to it, so
    pair work is Σ anchors×|probed buckets| instead of n·|anchors|
    globally, and nothing broadcasts the full matrix.

    Same composition as dedup_embedding_bucketed (broadcast-centroid
    assignment → hash-partition by bucket → exact Arrow-vectorized
    kernel per bucket via applyInPandas) with the standard multi-probe
    recall fix: anchors replicate to their 2 nearest buckets (a ×2
    bounded fan-out of the SMALL side only), each bucket emits its
    local per-anchor top-3, and a final window over ≤ nprobe·3 rows
    per anchor merges — the merge input is bounded by the probe count,
    never by data volume. A candidate lives in exactly one bucket, so
    no (anchor, neighbor) pair duplicates across probes. Cosines
    accumulate dim-sequentially in float64 — bit-identical to the
    brute key and the oracle on shared pairs; recall@3 vs brute force
    is pinned in tests.
    """
    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings")
    anchors = e.where(F.col("label") == 0)
    cents = e.where(F.col("vec_id") < _IVF_N_CENTROIDS).select(
        F.col("vec_id").alias("cen_id"), F.col("embedding").alias("c_emb")
    )
    cos_vc = _cos6(F.col("embedding"), F.col("c_emb"))
    w_probe = Window.partitionBy("vec_id").orderBy(F.col("cos_vc").desc(), F.col("cen_id").asc())
    probe2 = (
        spread(anchors, "vec_id")
        .crossJoin(F.broadcast(cents))
        .select("vec_id", "cen_id", cos_vc.alias("cos_vc"))
        .withColumn("rk", F.row_number().over(w_probe))
        .where(F.col("rk") <= _IVF_NPROBE)
        .select("vec_id", "cen_id")
    )
    assign = _ivf_assign(e)
    cand = e.join(assign, "vec_id").select(
        "cen_id", "vec_id", "embedding", F.lit(False).alias("is_anchor")
    )
    anch = (
        e.where(F.col("label") == 0)
        .join(probe2, "vec_id")
        .select("cen_id", "vec_id", "embedding", F.lit(True).alias("is_anchor"))
    )
    bucketed = cand.unionByName(anch)

    empty = pd.DataFrame(
        {"anchor_id": [], "neighbor_id": [], "cosine": []}
    ).astype({"anchor_id": "int64", "neighbor_id": "int64", "cosine": "float64"})

    def bucket_knn(pdf: pd.DataFrame) -> pd.DataFrame:
        a_pdf = pdf[pdf["is_anchor"]]
        c_pdf = pdf[~pdf["is_anchor"]]
        if len(a_pdf) == 0 or len(c_pdf) == 0:
            return empty
        c_ids = c_pdf["vec_id"].to_numpy()
        a_ids = a_pdf["vec_id"].to_numpy()
        M = np.vstack(c_pdf["embedding"].to_numpy()).astype(np.float64)
        A = np.vstack(a_pdf["embedding"].to_numpy()).astype(np.float64)
        dim = M.shape[1]
        c_norm2 = M[:, 0] * M[:, 0]
        a_norm2 = A[:, 0] * A[:, 0]
        for i in range(1, dim):
            c_norm2 = c_norm2 + M[:, i] * M[:, i]
            a_norm2 = a_norm2 + A[:, i] * A[:, i]
        dots = A[:, 0][:, None] * M[:, 0][None, :]
        for i in range(1, dim):
            dots = dots + A[:, i][:, None] * M[:, i][None, :]
        cos = dots / np.sqrt(a_norm2[:, None] * c_norm2[None, :])
        cos_r = np.round(cos, 6)
        rows = []
        for ai in range(len(a_ids)):
            order = np.lexsort((c_ids, -cos_r[ai]))
            rank = 0
            for j in order:
                if c_ids[j] == a_ids[ai]:
                    continue
                rank += 1
                rows.append((a_ids[ai], c_ids[j], cos[ai, j]))
                if rank == 3:
                    break
        if not rows:
            return empty
        return pd.DataFrame(rows, columns=["anchor_id", "neighbor_id", "cosine"]).astype(
            {"anchor_id": "int64", "neighbor_id": "int64", "cosine": "float64"}
        )

    local = bucketed.groupBy("cen_id").applyInPandas(
        bucket_knn, schema="anchor_id bigint, neighbor_id bigint, cosine double"
    )
    # Final merge: <= nprobe*3 rows per anchor — bounded by probe count.
    w_final = Window.partitionBy("anchor_id").orderBy(
        F.round("cosine", 6).desc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("nn_rank", F.row_number().over(w_final))
        .where(F.col("nn_rank") <= 3)
        .select(
            "anchor_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "nn_rank"
        )
    )


# ------------------------------------------------------ iterative k-means

_KM_K = 8  # clusters
_KM_ROUNDS = 3  # fixed round count (deterministic; no convergence test)
# Embedding width. The embeddings fixture is FIXED-WIDTH by contract
# (FIXTURES.md; every consumer — _km_dot's zip_with, the PQ subspace
# slicing, the IVF kernels — already assumes it): a ragged/short array
# would make zip_with emit NULL products and poison the in-row sums,
# where the oracle's SUM skips NULLs (ADVICE r16). Documented invariant,
# not a runtime branch: enforcing it per-row would tax every vector for
# a malformed-fixture case the loaders never produce.
_KM_DIM = 64  # embedding dimensionality (pinned by catalog contract)


def _kmeans_oracle() -> str:
    """3-round spherical k-means, unrolled CTEs (the pagerank discipline:
    every accumulated term snapped to the DECIMAL(38,12) grid so sums are
    exact and order-free; divisions/sqrt are single IEEE ops)."""
    sql = [f"""
WITH ex AS (
  SELECT vec_id, u.i AS i, CAST(embedding[u.i] AS DOUBLE) AS x
  FROM embeddings, UNNEST(generate_series(1, {_KM_DIM})) AS u(i)
), vnorm AS (
  SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS vn2
  FROM ex GROUP BY vec_id
), cents0 AS (
  SELECT vec_id AS cen_id, i, x AS c FROM ex WHERE vec_id < {_KM_K}
)"""]
    prev = "cents0"
    for r in range(1, _KM_ROUNDS + 1):
        sql.append(f""", cn{r} AS (
  SELECT cen_id, CAST(SUM(CAST(c * c AS DECIMAL(38,12))) AS DOUBLE) AS cn2
  FROM {prev} GROUP BY cen_id
), cos{r} AS (
  SELECT e.vec_id, c.cen_id,
         ROUND(CAST(SUM(CAST(e.x * c.c AS DECIMAL(38,12))) AS DOUBLE)
               / SQRT(v.vn2 * n.cn2), 6) AS cos
  FROM ex e
  JOIN {prev} c ON c.i = e.i
  JOIN vnorm v ON v.vec_id = e.vec_id
  JOIN cn{r} n ON n.cen_id = c.cen_id
  GROUP BY e.vec_id, c.cen_id, v.vn2, n.cn2
), asg{r} AS (
  SELECT vec_id, cen_id, cos FROM cos{r}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cen_id ASC) = 1
), cents{r} AS (
  SELECT a.cen_id, e.i,
         CAST(SUM(CAST(e.x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS c
  FROM asg{r} a JOIN ex e ON e.vec_id = a.vec_id
  GROUP BY a.cen_id, e.i
)""")
        prev = f"cents{r}"
    sql.append(f"""
SELECT vec_id, cen_id, cos AS cosine FROM asg{_KM_ROUNDS}
""")
    return "".join(sql)


def _km_snap(c):
    return (F.col(c) if isinstance(c, str) else c).cast("decimal(38,12)")


def _km_sum_snap(arr):
    """Exact IN-ROW decimal sum with SUM(CAST(t AS DECIMAL(38,12)))
    semantics (r16 assignment reshape — see _km_assign).

    Terms snap at (25,12) — value-identical to the oracle's (38,12)
    snap while |t| < 10^13 (embedding cells are O(1); the fixture max
    |x·c| is < 10^3) — and the running (30,12) accumulator keeps every
    addition exact: (30,12)+(25,12) widens to (31,12), and the cast
    back to (30,12) is lossless below 10^18 integer magnitude. A
    (38,12) accumulator would NOT work: Spark adjusts (38,12)+(38,12)
    to scale 11 and rounds away the 12th decimal of every partial sum.
    Verified equal to the exploded groupBy-SUM path bit-for-bit."""
    return F.aggregate(
        arr,
        F.lit(0).cast("decimal(30,12)"),
        lambda acc, t: (acc + t).cast("decimal(30,12)"),
    ).cast("double")


def _km_dot(a, b):
    """Decimal-snapped dot product of two double arrays, in-row.

    Requires both arrays fixed-width (_KM_DIM — see the invariant note
    there): zip_with over a ragged pair yields NULL products, which
    would poison the whole sum where the oracle's SUM skips NULLs
    (ADVICE r16). The embeddings contract guarantees the width."""
    return _km_sum_snap(F.zip_with(a, b, lambda x, y: (x * y).cast("decimal(25,12)")))


def _km_onerow(per_cent: DataFrame) -> DataFrame:
    """(cen_id, cvec) k rows → ONE codebook row: array of k structs
    {cen_id, cvec, cn2} sorted by cen_id. The single-partition exchange
    carries k rows — metadata-sized by construction (k=8)."""
    with_n = per_cent.withColumn(
        "cn2", _km_sum_snap(F.transform("cvec", lambda c: (c * c).cast("decimal(25,12)")))
    )
    return with_n.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("cen_id", "cvec", "cn2"))).alias("cb")
    )


def _km_inputs(spark: SparkSession, sf_dir: str):
    """(projected vectors, initial 1-row codebook) for the k-means loop.

    r16 reshape (guide §2.4/§3.1): vectors stay ARRAYS — (vec_id, _v,
    _vn2) with the squared norm precomputed in-row — and persist (every
    round re-reads them); the codebook travels as ONE row of k
    (cen_id, cvec, cn2) structs. The old shape exploded vectors to
    n×64 rows and joined the k×64 codebook cells per round (n×64×8
    intermediate rows through two groupBy shuffles per round); the
    codebook is k·dim cells at ANY corpus size, so it belongs on the
    build side of a broadcast with the vector side never shuffled —
    taken to the limit, the build side is literally one row and the
    assignment is a pure map (the MLlib k-means shape)."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    # spread BEFORE projecting: the embeddings scan is as few tasks as
    # the file layout dictates (ONE at bench SF — measured: the whole
    # per-round assignment map ran single-threaded without this), and
    # every round's map + recenter explode reads this frame, so the
    # explicit-N repartition is their parallelism for the entire loop.
    vecs = (
        spread(e, "vec_id")
        .select("vec_id", v.alias("_v"))
        .withColumn(
            "_vn2",
            _km_sum_snap(F.transform("_v", lambda x: (x * x).cast("decimal(25,12)"))),
        )
        .persist()
    )
    cb0 = _km_onerow(
        vecs.where(F.col("vec_id") < _KM_K).select(
            F.col("vec_id").alias("cen_id"), F.col("_v").alias("cvec")
        )
    )
    return vecs, cb0


def _km_assign(vecs: DataFrame, cb: DataFrame) -> DataFrame:
    """One k-means assignment round, MAP-ONLY: rounded cosine of every
    vector against the broadcast ONE-ROW codebook, argmax in-row via
    array_min on (-cos, cen_id) structs — ties pick the lowest cen_id,
    exactly the oracle's ROW_NUMBER ORDER BY cos DESC, cen_id ASC.

    No exchange anywhere in this subtree (guarded by tests/
    test_plans.py): the r15 shape paid, per round, an n×64×8-row
    join+groupBy for the dots plus a second groupBy for the argmax;
    all of that arithmetic now runs inside one codegen'd projection.
    Extracted so the plan guard can assert the shape on the real
    per-round subtree — the operator's final plan hides it behind the
    result checkpoint."""
    best = F.array_min(
        F.transform(
            "cb",
            lambda c: F.struct(
                (
                    -F.round(
                        _km_dot(F.col("_v"), c["cvec"]) / F.sqrt(F.col("_vn2") * c["cn2"]),
                        6,
                    )
                ).alias("nc"),
                c["cen_id"].alias("cen_id"),
            ),
        )
    )
    return (
        vecs.crossJoin(F.broadcast(cb))
        .withColumn("_best", best)
        .select(
            "vec_id",
            "_v",
            F.col("_best.cen_id").alias("cen_id"),
            (-F.col("_best.nc")).alias("cos"),
        )
    )


def _km_recenter(asg: DataFrame) -> DataFrame:
    """Assignment (carrying _v) → next 1-row codebook: per-(cen_id, dim)
    member mean with exact decimal sums. The only non-trivial shuffle
    per round: n×64 exploded cells, partially aggregated map-side to
    ≤ k×64 rows per partition before the exchange.

    r17 NEGATIVE RESULT (kept the r16 explode shape on evidence): the
    "obvious" §2.3 rewrite — one flat groupBy(cen_id) with 64 separate
    SUM(element_at(_v, d)::decimal(38,12)) columns, deleting the explode
    and the re-assembly aggregation — measured 2.4× SLOWER per round
    (1.46 → 3.55 s at sf0.1, verification/r17_km_variants.txt): a
    65-aggregate HashAggregate over wide decimals blows past the
    whole-stage-codegen field limits and the update path falls back to
    interpreted BigDecimal per column per row, while the exploded shape
    keeps ONE codegen'd decimal accumulator and the explode itself is
    cheap. Same total BigDecimal additions either way — where they run
    (codegen vs interpreted) decides. The companion lesson to r16's
    in-row-minhash negative: rewrites that merely RELOCATE per-element
    work lose unless they delete an exchange that matters."""
    per_cent = (
        asg.select("cen_id", F.posexplode("_v").alias("_p", "x"))
        .groupBy("cen_id", "_p")
        .agg((F.sum(_km_snap("x")).cast("double") / F.count(F.lit(1))).alias("c"))
        .groupBy("cen_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_p", "c"))), lambda s: s["c"]
            ).alias("cvec")
        )
    )
    return _km_onerow(per_cent)


@query("emb_kmeans_iterative", oracle=_kmeans_oracle())
def emb_kmeans_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-EXACT iterative spherical k-means (k=8, 3 fixed rounds,
    init = the first k vectors) — the real clustering behind the IVF
    keys' deterministic "k-means stand-in" codebook: per round, every
    vector joins its nearest centroid by rounded cosine (ties → lowest
    cen_id), then centroids re-center on the per-dim member mean.

    Determinism discipline (same as graph_pagerank): every accumulated
    term — dot products, squared norms, member-component sums — is
    snapped to the DECIMAL(38,12) grid before summing, so aggregation is
    exact and order-free in both engines; the division, sqrt, and final
    6-dp round are single IEEE ops. Centroid means divide an exact
    decimal sum (cast to double) by the bigint member count.

    Plan shape per round (r16 reshape, guide §2.4 "remove shuffles
    outright" + §3.1 broadcast): assignment is a PURE MAP — the k×64
    codebook travels as ONE broadcast row of (cen_id, cvec, cn2)
    structs and every vector computes its 8 decimal-snapped dots and
    the argmax inside a single codegen'd projection (zip_with +
    aggregate + array_min; exact-sum equivalence argued at
    _km_sum_snap). The only per-round shuffle is the re-center: n×64
    exploded cells partial-agg'd to k×64 means (a flat 64-column
    rewrite measured 2.4× worse — see _km_recenter's negative-result
    note). The final-round checkpoint projects the raw vectors away
    first (r17, ADVICE r16 — measured ~2.2× on the whole key: the n×64
    doubles were materialized only to be dropped by the very next
    select). The r15 shape instead
    joined exploded vectors (n×64 rows) against the codebook cells and
    paid an n×64×8-row groupBy for the dots plus a second groupBy for
    the argmax, per round — two shuffles and a 3-orders-larger
    intermediate that all collapse into the map stage. The vector side
    (vec_id, _v, _vn2) is projected ONCE and persists; rounds reuse it.
    At 100 TB this is exactly MLlib's k-means pattern (broadcast
    codebook, map-side assignment, one small re-center shuffle) —
    nothing iterates on the driver but the loop counter (fixed rounds,
    no convergence collect).
    """
    vecs, cb = _km_inputs(spark, sf_dir)
    asg = None
    for rnd in range(_KM_ROUNDS):
        asg = _km_assign(vecs, cb)
        if rnd < _KM_ROUNDS - 1:
            # The re-centered codebook is ONE k-struct row —
            # localCheckpoint truncates the per-round lineage (the
            # dedup_components rule) so the final plan stays shallow and
            # each round's subtree runs once, not once per downstream
            # reference.
            cb = _km_recenter(asg).localCheckpoint(eager=True)
        else:
            # Final round: nothing consumes a re-centered codebook (the
            # result is the ASSIGNMENT against the round-(N-1) centroids),
            # so skip that whole job, and checkpoint the assignment itself
            # — otherwise the action that consumes the returned DataFrame
            # re-executes the last-round assignment map a second time.
            # Project _v away FIRST (ADVICE r16): the re-center is the
            # only consumer of the raw vectors and it is skipped on the
            # last round, so checkpointing them would materialize n×64
            # doubles that the very next select drops.
            asg = asg.select("vec_id", "cen_id", "cos").localCheckpoint(eager=True)
    # Result is materialized; release the round-shared cache so a
    # long-lived driver session doesn't accumulate it per invocation.
    vecs.unpersist()
    return asg.select("vec_id", "cen_id", F.col("cos").alias("cosine"))


# ------------------------------------------------------ range similarity

_RANGE_MIN_COS = 0.3


def _range_oracle() -> str:
    return f"""
WITH {_IVF_ASSIGN_SQL}, probe AS (
  SELECT cen_id FROM (
    SELECT c.cen_id,
           ROW_NUMBER() OVER (
             ORDER BY ROUND(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                   CAST(c.embedding AS DOUBLE[])), 6) DESC,
                      c.cen_id ASC) AS rk
    FROM cents c, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
  ) WHERE rk <= {_IVF_NPROBE}
)
SELECT v.vec_id,
       ROUND(list_cosine_similarity(CAST(v.embedding AS DOUBLE[]),
                                    CAST(q.embedding AS DOUBLE[])), 6) AS cosine
FROM embeddings v
JOIN assign s ON s.vec_id = v.vec_id
JOIN probe p ON p.cen_id = s.cen_id
CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
WHERE v.vec_id <> 0
  AND ROUND(list_cosine_similarity(CAST(v.embedding AS DOUBLE[]),
                                   CAST(q.embedding AS DOUBLE[])), 6) >= {_RANGE_MIN_COS}
"""


@query("sim_range_search", oracle=_range_oracle())
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned cosine RANGE query: every vector with cosine ≥ 0.3 to
    the query vector (vec_id=0), searched only in the query's nprobe=2
    nearest buckets — the radius-search twin of sim_ann_ivf's top-k
    (retrieval wants top-k; dedup-against-one and policy filters want
    "everything above threshold", where k is unknowable a priori).

    Same scale story as sim_ann_ivf: assignment is the write path (a
    partition column at 100 TB), probing prunes to nprobe/ncentroids of
    the corpus, and the threshold filter runs inside the scan stage —
    no top-k state at all, so the reduce side is empty (a pure filter
    is even cheaper than the rank merge).
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    cents = e.where(F.col("vec_id") < _IVF_N_CENTROIDS).select(
        F.col("vec_id").alias("cen_id"), F.col("embedding").alias("c_emb")
    )
    cos_qc = _cos6(F.col("q_emb"), F.col("c_emb"))
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select("cen_id", cos_qc.alias("cos_qc"))
        .orderBy(F.col("cos_qc").desc(), F.col("cen_id").asc())
        .limit(_IVF_NPROBE)
        .select("cen_id")
    )
    cos_vq = _cos6(F.col("embedding"), F.col("q_emb"))
    return (
        e.join(_ivf_assign(e), "vec_id")
        .join(F.broadcast(probe), "cen_id")
        .where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", cos_vq.alias("cosine"))
        .where(F.col("cosine") >= _RANGE_MIN_COS)
    )


@query(
    "emb_outlier_mahalanobis",
    oracle=f"""
WITH ex AS (
  SELECT vec_id, label, u.i AS i, CAST(embedding[u.i] AS DOUBLE) AS x
  FROM embeddings, UNNEST(generate_series(1, {_KM_DIM})) AS u(i)
), stats AS (
  SELECT label, i,
         CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS mu,
         CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m2,
         COUNT(*) AS n
  FROM ex GROUP BY label, i
), scored AS (
  SELECT e.vec_id, e.label,
         CAST(SUM(CAST(
           (e.x - s.mu) * (e.x - s.mu) / (s.m2 - s.mu * s.mu)
         AS DECIMAL(38,12))) AS DOUBLE) AS score
  FROM ex e JOIN stats s ON s.label = e.label AND s.i = e.i
  GROUP BY e.vec_id, e.label
)
SELECT vec_id, label, ROUND(score, 6) AS maha2,
       CASE WHEN score > {_KM_DIM} * 2.0 THEN 1 ELSE 0 END AS is_outlier
FROM scored
""",
)
def emb_outlier_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label diagonal-covariance Mahalanobis² outlier score for every
    embedding — the distributional-health screen an embedding pipeline
    runs before trusting a batch (a vector far from its label's
    per-dimension envelope is a mislabel/corruption candidate; the
    2·dim cutoff flags ~χ² tail mass).

    Hash-exact via the kmeans/pagerank discipline: per-(label, dim)
    moments from decimal-snapped exact sums (μ and E[x²] each one IEEE
    division), each vector's per-dim term (x−μ)²/σ² one IEEE expression
    snapped to the decimal grid before the per-vector sum, final 6-dp
    round. Plan: one posexplode pass → (label, dim) moment groupBy
    (#labels × 64 cells, broadcast back) → per-vector term sum — two
    bounded shuffles, no windows, no pairs; at 100 TB the moments are
    metadata-sized and the scoring stage is a pure map over re-exploded
    vectors.
    """
    snap = lambda c: c.cast("decimal(38,12)")
    e = load_table(spark, sf_dir, "embeddings")
    ex = (
        spread(e, "vec_id")
        .select(
            "vec_id",
            "label",
            F.posexplode("embedding").alias("pos", "xf"),
        )
        .select("vec_id", "label", (F.col("pos") + 1).alias("i"), F.col("xf").cast("double").alias("x"))
    )
    stats = ex.groupBy("label", "i").agg(
        (F.sum(snap(F.col("x"))).cast("double") / F.count(F.lit(1))).alias("mu"),
        (F.sum(snap(F.col("x") * F.col("x"))).cast("double") / F.count(F.lit(1))).alias("m2"),
    )
    term = (F.col("x") - F.col("mu")) * (F.col("x") - F.col("mu")) / (
        F.col("m2") - F.col("mu") * F.col("mu")
    )
    scored = (
        ex.join(F.broadcast(stats), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(F.sum(snap(term)).cast("double").alias("score"))
    )
    return scored.select(
        "vec_id",
        "label",
        F.round("score", 6).alias("maha2"),
        F.when(F.col("score") > _KM_DIM * 2.0, 1).otherwise(0).alias("is_outlier"),
    )


_DECON_EMB_MIN_COS = 0.4
_DECON_EMB_CAP = 64  # per (bucket, side) pair-generation cap (decon_near_minhash rule)


@query(
    "decon_embedding",
    oracle=f"""
WITH {_IVF_ASSIGN_SQL}, capped AS (
  SELECT d.doc_id, d.lang, d.source, a.cen_id
  FROM documents d JOIN assign a ON a.vec_id = d.doc_id
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY a.cen_id, (d.source = 'src0') ORDER BY d.doc_id
  ) <= {_DECON_EMB_CAP}
), hits AS (
  SELECT DISTINCT t.doc_id
  FROM capped t
  JOIN capped b ON b.cen_id = t.cen_id AND b.source = 'src0'
  JOIN embeddings et ON et.vec_id = t.doc_id
  JOIN embeddings eb ON eb.vec_id = b.doc_id
  WHERE t.source <> 'src0'
    AND ROUND(list_cosine_similarity(CAST(et.embedding AS DOUBLE[]),
                                     CAST(eb.embedding AS DOUBLE[])), 6)
        >= {_DECON_EMB_MIN_COS}
)
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_train,
       CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       ROUND(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS contamination_rate
FROM documents d
JOIN embeddings e ON e.vec_id = d.doc_id
LEFT JOIN hits h ON h.doc_id = d.doc_id
WHERE d.source <> 'src0'
GROUP BY d.lang
""",
)
def decon_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-space decontamination — completes the decon quartet
    (exact hash / minhash-LSH / n-gram overlap / semantic embedding):
    per language, train docs (source ≠ src0) whose embedding sits within
    cosine ≥ 0.4 of any benchmark doc (src0) in its IVF bucket — the
    paraphrase-leak detector that survives rewording no lexical pass
    catches.

    Scale shape mirrors decon_near_minhash: both sides IVF-assigned
    (broadcast codebook), a 64-doc per-(bucket, side) cap bounds the
    train×bench pair join at 64×64 per bucket at ANY corpus size, the
    cosine threshold runs inside the join stage (JVM lambda dot — no
    Python), and the hit set joins back as a 32-byte-id membership
    probe. Own-bucket-only matching is the recall tradeoff the bucketed
    dedup keys document; multi-probe (sim_knn_join_bucketed's anchor
    replication) is the recall fix at real scale.
    """
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    docs = d.join(e, d.doc_id == e.vec_id).select("doc_id", "lang", "source", "embedding")
    assigned = docs.join(
        _ivf_assign(e).withColumnRenamed("vec_id", "doc_id"), "doc_id"
    )
    cap_w = Window.partitionBy("cen_id", F.col("source") == "src0").orderBy("doc_id")
    capped = (
        assigned.withColumn("_rn", F.row_number().over(cap_w))
        .where(F.col("_rn") <= _DECON_EMB_CAP)
        .drop("_rn")
        .transform(tpersist)
    )
    train = capped.where(F.col("source") != "src0").select(
        F.col("doc_id").alias("t_id"), F.col("cen_id"), F.col("embedding").alias("t_emb")
    )
    bench = capped.where(F.col("source") == "src0").select(
        F.col("cen_id"), F.col("embedding").alias("b_emb")
    )
    cos = _cos6(F.col("t_emb"), F.col("b_emb"))
    hits = (
        train.join(bench, "cen_id")
        .where(cos >= _DECON_EMB_MIN_COS)
        .select(F.col("t_id").alias("doc_id"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    base = docs.where(F.col("source") != "src0").select("doc_id", "lang")
    n_cont = F.sum(F.coalesce("_hit", F.lit(0)))
    return base.join(hits, "doc_id", "left").groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_train"),
        n_cont.alias("n_contaminated"),
        F.round(n_cont.cast("double") / F.count(F.lit(1)), 6).alias("contamination_rate"),
    )


def _binq_oracle() -> str:
    half = _KM_DIM // 2
    # CASE (lazy per-row) rather than FILTER: DuckDB evaluates aggregate
    # arguments for every row before filtering, and the out-of-segment
    # shift amounts would be negative/overflowing.
    w1 = f"""SUM(CASE WHEN u.i <= {half} AND embedding[u.i] >= 0
                 THEN (1::BIGINT << (u.i - 1)) ELSE 0 END)"""
    w2 = f"""SUM(CASE WHEN u.i > {half} AND embedding[u.i] >= 0
                 THEN (1::BIGINT << (u.i - {half} - 1)) ELSE 0 END)"""
    return f"""
WITH sig AS (
  SELECT vec_id,
         CAST({w1} AS BIGINT) AS sig_lo,
         CAST({w2} AS BIGINT) AS sig_hi
  FROM embeddings, UNNEST(generate_series(1, {_KM_DIM})) AS u(i)
  GROUP BY vec_id
), q AS (
  SELECT sig_lo AS q_lo, sig_hi AS q_hi FROM sig WHERE vec_id = 0
)
SELECT s.vec_id, s.sig_lo, s.sig_hi,
       CAST(bit_count(CAST(xor(s.sig_lo, q.q_lo) AS BIGINT))
          + bit_count(CAST(xor(s.sig_hi, q.q_hi) AS BIGINT)) AS INT) AS hamming_to_q
FROM sig s CROSS JOIN q
WHERE s.vec_id <> 0
"""


@query("emb_binary_quantize", oracle=_binq_oracle())
def emb_binary_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit (sign) quantization of every embedding into two 32-bit
    words + Hamming distance to the query vector (vec_id=0) — the
    64×-compression tier below int8 (emb_quantize_int8) and PQ
    (emb_pq_quantize): binary signatures turn candidate generation into
    xor+popcount, the cheapest ANN pre-filter there is (rerank the
    Hamming top-k with true cosine — sim_cosine_topk's job).

    All-integer pipeline, so hash-exact with no float policy at all:
    bit i set iff dim i ≥ 0, packed via exact power-of-two literals
    (two 32-bit halves — a 1<<63 would overflow signed int64 in both
    engines), distance = popcount(xor) per word. One zip_with fold per
    word (JVM lambda), one broadcast of the 16-byte query signature;
    at 100 TB signatures are a 16-byte column you persist next to the
    vectors and scan at memory bandwidth.
    """
    half = _KM_DIM // 2
    e = load_table(spark, sf_dir, "embeddings")

    def word(lo: int) -> F.Column:
        bits = F.array(*[F.lit(1 << i).cast("long") for i in range(half)])
        seg = F.slice(F.col("embedding"), lo + 1, half)
        contrib = F.zip_with(
            seg, bits, lambda x, b: F.when(x >= 0, b).otherwise(F.lit(0).cast("long"))
        )
        return F.aggregate(contrib, F.lit(0).cast("long"), lambda acc, x: acc + x)

    sig = e.select(
        "vec_id", word(0).alias("sig_lo"), word(half).alias("sig_hi")
    ).transform(tpersist)
    q = sig.where(F.col("vec_id") == 0).select(
        F.col("sig_lo").alias("q_lo"), F.col("sig_hi").alias("q_hi")
    )
    ham = (
        F.bit_count(F.col("sig_lo").bitwiseXOR(F.col("q_lo")))
        + F.bit_count(F.col("sig_hi").bitwiseXOR(F.col("q_hi")))
    ).cast("int")
    return (
        sig.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "sig_lo", "sig_hi", ham.alias("hamming_to_q"))
    )


_RERANK_SHORTLIST = 32  # Hamming-stage candidates
_RERANK_K = 10  # final exact top-k


def _rerank_oracle() -> str:
    half = _KM_DIM // 2
    w1 = f"""SUM(CASE WHEN u.i <= {half} AND embedding[u.i] >= 0
                 THEN (1::BIGINT << (u.i - 1)) ELSE 0 END)"""
    w2 = f"""SUM(CASE WHEN u.i > {half} AND embedding[u.i] >= 0
                 THEN (1::BIGINT << (u.i - {half} - 1)) ELSE 0 END)"""
    return f"""
WITH sig AS (
  SELECT vec_id,
         CAST({w1} AS BIGINT) AS sig_lo,
         CAST({w2} AS BIGINT) AS sig_hi
  FROM embeddings, UNNEST(generate_series(1, {_KM_DIM})) AS u(i)
  GROUP BY vec_id
), q AS (
  SELECT sig_lo AS q_lo, sig_hi AS q_hi FROM sig WHERE vec_id = 0
), shortlist AS (
  SELECT s.vec_id,
         CAST(bit_count(CAST(xor(s.sig_lo, q.q_lo) AS BIGINT))
            + bit_count(CAST(xor(s.sig_hi, q.q_hi) AS BIGINT)) AS INT) AS hamming
  FROM sig s CROSS JOIN q
  WHERE s.vec_id <> 0
  QUALIFY ROW_NUMBER() OVER (ORDER BY hamming ASC, s.vec_id ASC) <= {_RERANK_SHORTLIST}
)
SELECT vec_id, hamming, cosine, rank_pos FROM (
  SELECT sl.vec_id, sl.hamming,
         ROUND(list_cosine_similarity(CAST(v.embedding AS DOUBLE[]),
                                      CAST(qv.embedding AS DOUBLE[])), 6) AS cosine,
         ROW_NUMBER() OVER (
           ORDER BY ROUND(list_cosine_similarity(CAST(v.embedding AS DOUBLE[]),
                                                 CAST(qv.embedding AS DOUBLE[])), 6) DESC,
                    sl.vec_id ASC) AS rank_pos
  FROM shortlist sl
  JOIN embeddings v ON v.vec_id = sl.vec_id
  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) qv
)
WHERE rank_pos <= {_RERANK_K}
"""


@query("sim_rerank_two_stage", oracle=_rerank_oracle())
def sim_rerank_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: binary-signature Hamming shortlist (top-32,
    xor+popcount over the emb_binary_quantize signatures) → EXACT cosine
    rerank (top-10) over the shortlist only — the canonical
    cheap-filter-then-exact-rerank composition every production vector
    search runs (the binary stage scans 16-byte signatures at memory
    bandwidth; the float math touches 32 vectors no matter how big the
    corpus is).

    Stage 1 is all-integer (hash-exact for free, ties broken by vec_id);
    stage 2's cosines go through the JVM lambda dot on exactly the
    shortlist. Both top-ks are orderBy().limit() — distributed
    TakeOrdered, no global window over data-sized input (the final rank
    window sees ≤32 rows).
    """
    half = _KM_DIM // 2
    e = load_table(spark, sf_dir, "embeddings")

    def word(lo: int) -> F.Column:
        bits = F.array(*[F.lit(1 << i).cast("long") for i in range(half)])
        seg = F.slice(F.col("embedding"), lo + 1, half)
        contrib = F.zip_with(
            seg, bits, lambda x, b: F.when(x >= 0, b).otherwise(F.lit(0).cast("long"))
        )
        return F.aggregate(contrib, F.lit(0).cast("long"), lambda acc, x: acc + x)

    sig = e.select("vec_id", word(0).alias("sig_lo"), word(half).alias("sig_hi"))
    q = sig.where(F.col("vec_id") == 0).select(
        F.col("sig_lo").alias("q_lo"), F.col("sig_hi").alias("q_hi")
    )
    ham = (
        F.bit_count(F.col("sig_lo").bitwiseXOR(F.col("q_lo")))
        + F.bit_count(F.col("sig_hi").bitwiseXOR(F.col("q_hi")))
    ).cast("int")
    shortlist = (
        sig.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", ham.alias("hamming"))
        .orderBy(F.col("hamming").asc(), F.col("vec_id").asc())
        .limit(_RERANK_SHORTLIST)
    )
    qv = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    cos = _cos6(F.col("embedding"), F.col("q_emb"))
    reranked = (
        shortlist.join(e, "vec_id")
        .crossJoin(F.broadcast(qv))
        .select("vec_id", "hamming", cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(_RERANK_K)
    )
    w = Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return reranked.withColumn("rank_pos", F.row_number().over(w))


def _keeper_quality_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS (
{MINHASH_PAIRS_ORACLE}
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
), reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
), comp AS (
  SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src
), keepers AS (
  SELECT c.component, d.doc_id AS keeper_doc_id, d.n_chars AS keeper_chars
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY c.component ORDER BY d.n_chars DESC, d.doc_id ASC
  ) = 1
)
SELECT k.component,
       CAST(COUNT(*) AS BIGINT) AS cluster_size,
       k.keeper_doc_id,
       CAST(k.keeper_chars AS BIGINT) AS keeper_chars
FROM comp c
JOIN keepers k ON k.component = c.component
GROUP BY k.component, k.keeper_doc_id, k.keeper_chars
"""


@query("dedup_keeper_quality", oracle=_keeper_quality_oracle())
def dedup_keeper_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-based keeper selection over the near-dup components:
    instead of min-doc_id (dedup_components' tie-break, which throws
    away the best copy whenever a longer/cleaner duplicate has a higher
    id), each cluster keeps its LONGEST document (n_chars, ties → lowest
    id) — what production dedup actually does (keep the highest-quality
    representative, drop the rest).

    Composition: the label-propagation components (shared machinery),
    one join to the documents' metadata (id + n_chars only — never the
    text), and a per-component argmax via min(struct(-n_chars, doc_id))
    — partial-aggregatable, so the keeper election is one bounded
    shuffle over (component, 16-byte struct) rows.
    """
    comp = dedup_components(spark, sf_dir).select("doc_id", "component")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    joined = comp.join(d, "doc_id")
    return (
        joined.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min(F.struct((-F.col("n_chars")).alias("neg"), F.col("doc_id"))).alias("_k"),
        )
        .select(
            "component",
            "cluster_size",
            F.col("_k.doc_id").alias("keeper_doc_id"),
            (-F.col("_k.neg")).cast("long").alias("keeper_chars"),
        )
    )


_ED_BLOCK_CHARS = 8  # length-bucket width; dist<=K pairs differ <K chars in length
_ED_CAP = 64  # per-(lang, bucket) block cap — bounds pairs at C(64,2) per block
# 20, not 60: the edit-bounded near-dup family targets typo/OCR-level
# variance, and the banded-DP cost is O(len·K) per pair — K=20 keeps a
# saturated 64-doc block's C(64,2) pairs ~10x cheaper than the K=60 first
# cut (measured 43 s -> ~4 s at sf0.1 base scale).
_ED_MAX_DIST = 20  # report pairs at most this many edits apart


@query(
    "text_edit_distance_join",
    oracle=f"""
WITH b AS (
  SELECT doc_id, lang, text, length(text) AS n,
         CAST(FLOOR(length(text) / {_ED_BLOCK_CHARS}) AS BIGINT) AS bkt
  FROM documents
), capped AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, bkt ORDER BY doc_id) AS rn FROM b
  ) WHERE rn <= {_ED_CAP}
), pairs AS (
  SELECT a.lang,
         LEAST(a.doc_id, c.doc_id) AS doc_a,
         GREATEST(a.doc_id, c.doc_id) AS doc_b,
         levenshtein(a.text, c.text) AS edit_dist,
         GREATEST(a.n, c.n) AS max_len
  FROM capped a JOIN capped c
    ON a.lang = c.lang
   AND (c.bkt = a.bkt OR c.bkt = a.bkt + 1)
   AND (c.bkt > a.bkt OR a.doc_id < c.doc_id)
)
SELECT lang, doc_a, doc_b, CAST(edit_dist AS BIGINT) AS edit_dist,
       ROUND(1.0 - CAST(edit_dist AS DOUBLE) / max_len, 6) AS edit_sim
FROM pairs WHERE edit_dist <= {_ED_MAX_DIST}
""",
)
def text_edit_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy self-join — the third near-dup discipline
    after hashing (minhash/simhash) and embeddings: exact Levenshtein
    similarity, made scale-safe by BLOCKING. Two docs within K edits
    differ by ≤K characters in length, so candidates are generated only
    inside (lang, length/8) length bands — the classic length-filter
    blocking of fuzzy record linkage — with each doc additionally
    PROBING its right-neighbor band (reshaped r7: the r6 same-band-only
    version measured 25-50% recall on unblocked small-corpus truth —
    every miss was an adjacent-band straddle; the ±1-band probe
    restores measured recall to 1.0 on both fixtures at ~2× candidate
    cost, pinned in tests/test_llm_ext.py::test_edit_distance_blocking_recall).
    Each band is capped at 64 docs (the LSH band-cap discipline;
    candidate pairs stay O(C(64,2)) per band pair regardless of corpus
    size). Dedup rule: same-band pairs keep doc_a < doc_b; straddle
    pairs are generated once (low band probes high band) and the output
    normalizes ids with LEAST/GREATEST. Levenshtein runs JVM-side
    (codegen'd F.levenshtein with the K-band threshold arg), one
    O(len·K) DP per candidate pair, never per cross-corpus pair; the
    equi-join keys stay (lang, band) so the quadratic work is
    embarrassingly parallel across bands — no lang-only join that would
    skew on the 5-language corpus. Residual recall gap (documented,
    theoretical; claim corrected r8 per ADVICE): a miss requires a band
    gap ≥ 2, which with bkt=floor(n/8) first becomes possible at length
    diff 9 (e.g. len 15 → bkt 1 vs len 24 → bkt 3) — guaranteed
    coverage holds only for length diff ≤ 8, so missable pairs have
    edit distances anywhere in [9, 20], not just ">15 chars". No such
    straddle pair exists in either fixture's truth set, and
    shingle-minhash covers the long-insertion family.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", F.length("text").alias("n")
    )
    # FLOOR before the long cast in BOTH engines: DuckDB's double->BIGINT
    # cast rounds-to-nearest while Spark's truncates (§5.3 cast trap).
    b = d.withColumn("bkt", F.floor(F.col("n") / _ED_BLOCK_CHARS).cast("long"))
    w = Window.partitionBy("lang", "bkt").orderBy("doc_id")
    # persist: BOTH self-join legs consume `capped` (the probe side and
    # the banded side), and each leg otherwise replays the whole
    # scan→window→cap subtree — ReusedExchange doesn't fire because the
    # legs project differently above the window (r16, measured 2.9 s →
    # 1.0 s at sf0.1; the same lesson as _lsh_pairs' bands persist).
    # (doc_id, lang, text, n, bkt) rows, ≤64 per (lang, band) — at
    # 100 TB persist MEMORY_AND_DISK, same plan. Cannot unpersist here
    # (the consuming action runs caller-side — ADVICE r16); tracked via
    # tpersist for session.release_transient_caches(), and plan-identical
    # re-invocations before a release dedup to ONE CacheManager entry.
    capped = (
        b.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _ED_CAP)
        .drop("rn")
        .transform(tpersist)
    )
    # Left side probes its own band and the next-higher band (explode of a
    # 2-element array — keeps the join an EQUI-join on (lang, probe band);
    # an |a.bkt - c.bkt| <= 1 theta condition would demote the join key to
    # lang alone and shuffle entire languages to single reducers).
    left = capped.select(
        "lang",
        F.col("bkt").alias("bkt_a"),
        F.explode(F.array(F.col("bkt"), F.col("bkt") + 1)).alias("pbkt"),
        F.col("doc_id").alias("id_a"),
        F.col("text").alias("text_a"),
        F.col("n").alias("n_a"),
    )
    right = capped.select(
        "lang", F.col("bkt").alias("pbkt"), F.col("doc_id").alias("id_b"),
        F.col("text").alias("text_b"), F.col("n").alias("n_b"),
    )
    pairs = left.join(right, ["lang", "pbkt"]).where(
        # same band: doc-id order dedups; straddle: generated exactly once
        # (the lower band's probe hits the higher band, never vice versa)
        (F.col("pbkt") > F.col("bkt_a")) | (F.col("id_a") < F.col("id_b"))
    )
    # Banded DP: the threshold arg caps work at O(len·K) per pair instead
    # of O(len²) (returns -1 past the band, filtered below — identical
    # surviving values). Measured 2.5x at x64 where every block saturates
    # its 64-doc cap and pair count hits C(64,2)/block.
    dist = F.levenshtein("text_a", "text_b", _ED_MAX_DIST)
    return (
        pairs.withColumn("edit_dist", dist.cast("long"))
        .where((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= _ED_MAX_DIST))
        .select(
            "lang",
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            "edit_dist",
            F.round(
                1.0
                - F.col("edit_dist").cast("double")
                / F.greatest("n_a", "n_b").cast("double"),
                6,
            ).alias("edit_sim"),
        )
    )
