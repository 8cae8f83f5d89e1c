"""Similarity-search gates: ANN flat/bucketed/IVF, k-means, centroids.

Split out of the monolithic queries.py (r7); registry assembly lives in
``dataproc_spark.queries`` (the package __init__).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataproc_spark.extensions import dedup, simsearch

# ---------------------------------------------------------------------------
# table access
# ---------------------------------------------------------------------------

from dataproc_spark.queries._tables import _t  # noqa: F401


def q_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise label-centroid cosine (integer permille): which classes
    are confusable. Centroids are per-label integer SUM vectors (cosine
    is scale-invariant, so sums stand in for means with zero division
    error); the 45-pair self-join runs on the 10-row centroid table.
    ``cos_m = dot·1000 div (⌊√(a·a)⌋·⌊√(b·b)⌋)`` — floor-sqrt is exact
    below 2^53, so both engines agree bit-for-bit."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = (
        emb.select("label", F.posexplode(simsearch.quantize("embedding"))
                   .alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.sum("v").alias("s"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "s"))).alias("ds"))
        .select("label", F.transform("ds", lambda x: x["s"]).alias("c"))
    )
    a = cent.select(F.col("label").alias("label_a"), F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), F.col("c").alias("cb"))
    pairs = a.join(b, F.col("label_a") < F.col("label_b"))
    dot = simsearch.dot_q(F.col("ca"), F.col("cb"))
    na = F.floor(F.sqrt(simsearch.dot_q(F.col("ca"), F.col("ca")))).cast("long")
    nb = F.floor(F.sqrt(simsearch.dot_q(F.col("cb"), F.col("cb")))).cast("long")
    return pairs.select(
        "label_a", "label_b",
        dot.alias("_dot"), na.alias("_na"), nb.alias("_nb"),
    ).selectExpr(
        "label_a", "label_b",
        "CAST(_dot * 1000 div (_na * _nb) AS BIGINT) AS cos_m",
    )


SQL_CENTROID_SIMILARITY = """
WITH q AS (
    SELECT label,
           list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
    FROM embeddings
),
cent AS (
    SELECT label, list(s ORDER BY dim) AS c
    FROM (
        SELECT label, dim, CAST(SUM(val) AS BIGINT) AS s
        FROM (SELECT label, generate_subscripts(v, 1) AS dim,
                     unnest(v) AS val FROM q)
        GROUP BY label, dim
    ) GROUP BY label
),
pairs AS (
    SELECT a.label AS label_a, b.label AS label_b, a.c AS ca, b.c AS cb
    FROM cent a JOIN cent b ON a.label < b.label
)
SELECT label_a, label_b,
       CAST(list_aggregate(list_transform(range(1, len(ca) + 1),
                i -> ca[i] * cb[i]), 'sum') * 1000
            // (CAST(FLOOR(SQRT(list_aggregate(list_transform(
                    range(1, len(ca) + 1), i -> ca[i] * ca[i]), 'sum')))
                 AS BIGINT)
              * CAST(FLOOR(SQRT(list_aggregate(list_transform(
                    range(1, len(cb) + 1), i -> cb[i] * cb[i]), 'sum')))
                 AS BIGINT))
       AS BIGINT) AS cos_m
FROM pairs
"""


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid accumulators: posexplode the vector,
    aggregate exact integer-quantized sums per (label, dim). The
    distributed form of centroid computation — one hash shuffle keyed by
    (label, dim); the caller divides sum/count for the float centroid."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label", F.posexplode("embedding").alias("dim", "v")
        )
        .groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("v").cast("double") * 10000).cast("long"))
            .alias("sum_q"),
        )
    )


SQL_LABEL_CENTROIDS = """
WITH flat AS (
    SELECT label,
           unnest(range(0, len(embedding))) AS dim,
           unnest(embedding) AS v
    FROM embeddings
)
SELECT label, CAST(dim AS INTEGER) AS dim, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS BIGINT)
           AS sum_q
FROM flat GROUP BY label, dim
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 with a trained KMeans coarse quantizer (rows-only:
    cluster assignments depend on MLlib internals, not SQL-expressible —
    every driver artifact shows this entry as ``err: no_oracle`` BY
    DESIGN; the identical probe+search pipeline is value-hashed through
    its deterministic twin ``ann_ivf_exact``)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") % 500 == 0)
    return simsearch.ivf_topk(emb, queries_df, k=5, cells=8)


def q_ann_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 with deterministic label cells and exact-integer centroid
    probing (n_probe=2) — the hash-checked twin of the KMeans `ann_ivf`."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") % 100 == 0)
    return simsearch.ivf_exact_topk(emb, queries_df, k=5, n_probe=2)


SQL_ANN_IVF_EXACT = """
WITH cd AS (
    SELECT label, vec_id,
           unnest(range(0, len(embedding))) AS dim,
           unnest(list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS cv
    FROM embeddings
),
cent AS (
    SELECT label, dim, SUM(cv) // COUNT(*) AS cq
    FROM cd GROUP BY label, dim
),
qd AS (
    SELECT vec_id AS qid, dim, cv AS qv FROM cd WHERE vec_id % 100 = 0
),
ps AS (
    SELECT qid, label, SUM(2 * qv * cq - cq * cq) AS cscore
    FROM qd JOIN cent USING (dim) GROUP BY qid, label
),
probed AS (
    SELECT qid, label FROM (
        SELECT qid, label,
               ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY cscore DESC, label ASC
               ) AS prnk
        FROM ps
    ) WHERE prnk <= 2
),
cand AS (
    SELECT p.qid, c.vec_id, SUM(q.qv * c.cv) AS dot_q
    FROM probed p
    JOIN cd c ON c.label = p.label
    JOIN qd q ON q.qid = p.qid AND q.dim = c.dim
    WHERE c.vec_id <> p.qid
    GROUP BY p.qid, c.vec_id
)
SELECT qid, vec_id, CAST(dot_q AS BIGINT) AS dot_q, CAST(rnk AS INTEGER) AS rnk
FROM (
    SELECT qid, vec_id, dot_q,
           ROW_NUMBER() OVER (
               PARTITION BY qid ORDER BY dot_q DESC, vec_id ASC
           ) AS rnk
    FROM cand
) WHERE rnk <= 5
"""


def q_ann_ivf_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistable IVF index roundtrip (``simsearch.write_ivf_index`` →
    ``read_ivf_index`` → ``ivf_index_topk``): build the deterministic
    (exact-kind) index from label cells, write it — partition-pruned
    inverted lists + integer centroid dim-rows + format-marked meta —
    reload it in the probe path, and top-5 the same query set as
    ``ann_ivf_exact``. By construction the persisted probe must equal
    the in-memory pipeline bit-for-bit, so this gate shares its oracle
    SQL with ``ann_ivf_exact``; any drift introduced by the store
    (quantization loss, partition-column type change, list truncation)
    hash-fails. Scratch index is deleted before returning
    (`_materialize_and_clean` pattern)."""
    import shutil
    import tempfile

    from dataproc_spark.queries.diagnostics import _materialize_and_clean

    emb = _t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="ivfidx_")
    # build/probe run eager actions before _materialize_and_clean can
    # guard the scratch dir — remove it on failure (same leak class the
    # WARC gates' _write_warc_scratch guards against)
    try:
        simsearch.write_ivf_index(emb, out, cell_col="label")
        queries_df = emb.where(F.col("vec_id") % 100 == 0)
        res = simsearch.ivf_index_topk(
            spark, out, queries_df, k=5, n_probe=2
        )
    except Exception:
        shutil.rmtree(out, ignore_errors=True)
        raise
    return _materialize_and_clean(res, out)


SQL_ANN_IVF_INDEX_ROUNDTRIP = SQL_ANN_IVF_EXACT


def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs within a coarse bucket, exact-int scores."""
    return simsearch.near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold_dot_q=300_000
    )


SQL_EMBED_NEAR_DUP = """
WITH q AS (
    SELECT vec_id, label,
           list_transform(embedding,
                          x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
    FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       CAST(list_dot_product(a.v, b.v) AS BIGINT) AS dot_q
FROM q a JOIN q b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE CAST(list_dot_product(a.v, b.v) AS BIGINT) >= 300000
"""


def q_embed_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with NO bucket column: random-hyperplane
    LSH (16 md5-derived ±1 planes, 4 bands × 4 bits) → band-collision
    candidates → exact-integer dot verify. The self-contained scale path
    of the embed_near_dup family; the oracle replays the identical planes
    and banding, so the approximation itself is pinned, exactly like the
    MinHash portable gate."""
    return simsearch.rp_lsh_near_dup(
        _t(spark, sf_dir, "embeddings"),
        threshold_dot_q=300_000,
        dim=64,
        n_planes=16,
        band_bits=4,
    )


def _rp_plane_case_exprs() -> str:
    """DuckDB sign-bit CASE expressions for the gate's 16×64 plane set —
    generated from the SAME simsearch.rp_planes the Spark path uses
    (deterministic md5, so both engines hold identical literals by
    construction; DuckDB still independently computes signatures,
    banding, the collision join, and the verify)."""
    planes = simsearch.rp_planes(16, 64)
    return ",\n        ".join(
        "CASE WHEN list_dot_product(v, "
        f"{pl}::BIGINT[]) >= 0 THEN 1 ELSE 0 END"
        for pl in planes
    )


def _make_sql_embed_lsh_near_dup() -> str:
    plane_exprs = _rp_plane_case_exprs()
    return f"""
WITH q AS (
    SELECT vec_id,
           list_transform(embedding,
                          x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
    FROM embeddings
),
sig AS (
    SELECT vec_id, v, [
        {plane_exprs}
    ] AS bits FROM q
),
bands AS (
    SELECT vec_id, j AS band_idx,
           bits[4*j+1]*8 + bits[4*j+2]*4 + bits[4*j+3]*2 + bits[4*j+4] AS band_key
    FROM sig, UNNEST([0, 1, 2, 3]) AS t(j)
),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
     AND a.vec_id < b.vec_id
)
SELECT c.id_a, c.id_b,
       CAST(list_dot_product(qa.v, qb.v) AS BIGINT) AS dot_q
FROM cand c
JOIN q qa ON c.id_a = qa.vec_id
JOIN q qb ON c.id_b = qb.vec_id
WHERE CAST(list_dot_product(qa.v, qb.v) AS BIGINT) >= 300000
"""


SQL_EMBED_LSH_NEAR_DUP = _make_sql_embed_lsh_near_dup()


def q_embed_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality evaluation, the `ann_recall` analog for the near-dup
    family: global recall of rp_lsh_near_dup (gate banding, 16 planes ×
    4-bit bands) against the label-bucketed exhaustive truth at the same
    threshold. Recall is a banding CHOICE (per-bit collision prob is
    1 − θ/π), so the chosen banding's recall is a number worth pinning —
    this is the measurement loop a production dedup deployment tunes
    bands against. Both sides are deterministic, so recall itself is
    value-checked cross-engine. The truth side rides the same coarse
    label buckets as `embed_near_dup` (never all-pairs); the hit check is
    a left join of two bounded pair sets."""
    emb = _t(spark, sf_dir, "embeddings")
    truth = simsearch.near_dup_pairs(emb, threshold_dot_q=300_000).select(
        "id_a", "id_b"
    )
    found_res = simsearch.rp_lsh_near_dup(
        emb, threshold_dot_q=300_000, dim=64, n_planes=16, band_bits=4
    )
    found = found_res.select("id_a", "id_b", F.lit(1).alias("_hit"))
    # pin_lineage keeps found_res's pin (its A/B: simsearch.rp_lsh_near_dup)
    # alive past the select, for the driver's action
    from dataproc_spark.core import pin_lineage

    return pin_lineage(
        truth.join(found, ["id_a", "id_b"], "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_truth"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias("n_found"),
        )
        .selectExpr(
            "n_truth",
            "n_found",
            # zero-denominator guard (an empty truth set yields NULL under
            # non-ANSI div and raises under ANSI); matches the
            # domain_mixture zero-total convention (r8 ADVICE)
            "CAST(CASE WHEN n_truth > 0 THEN n_found * 1000 div n_truth "
            "ELSE 0 END AS BIGINT) AS recall_m",
        ),
        found_res,
    )


def _make_sql_embed_lsh_recall() -> str:
    plane_exprs = _rp_plane_case_exprs()
    return f"""
WITH q AS (
    SELECT vec_id, label,
           list_transform(embedding,
                          x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
    FROM embeddings
),
truth AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM q a JOIN q b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE CAST(list_dot_product(a.v, b.v) AS BIGINT) >= 300000
),
sig AS (
    SELECT vec_id, v, [
        {plane_exprs}
    ] AS bits FROM q
),
bands AS (
    SELECT vec_id, j AS band_idx,
           bits[4*j+1]*8 + bits[4*j+2]*4 + bits[4*j+3]*2 + bits[4*j+4] AS band_key
    FROM sig, UNNEST([0, 1, 2, 3]) AS t(j)
),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
     AND a.vec_id < b.vec_id
),
found AS (
    SELECT c.id_a, c.id_b
    FROM cand c
    JOIN q qa ON c.id_a = qa.vec_id
    JOIN q qb ON c.id_b = qb.vec_id
    WHERE CAST(list_dot_product(qa.v, qb.v) AS BIGINT) >= 300000
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
       CAST(SUM(CASE WHEN f.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_found,
       CAST(CASE WHEN COUNT(*) > 0
                 THEN SUM(CASE WHEN f.id_a IS NOT NULL THEN 1 ELSE 0 END)
                      * 1000 // COUNT(*)
                 ELSE 0 END AS BIGINT) AS recall_m
FROM truth t
LEFT JOIN found f ON t.id_a = f.id_a AND t.id_b = f.id_b
"""


SQL_EMBED_LSH_RECALL = _make_sql_embed_lsh_recall()


def q_embed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup over embeddings (SemDeDup-style): same-cell near-dup
    pairs above an exact-integer cosine-surrogate threshold → connected
    components → keep the smallest vec_id per component. The embedding
    counterpart of the text dedup family: drops semantically redundant
    items, not just lexically identical ones."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = simsearch.near_dup_pairs(emb, threshold_dot_q=300_000)
    return dedup.dedup_keep_representatives(
        emb.select("vec_id", "label"), pairs, id_col="vec_id"
    )


SQL_EMBED_DEDUP = """
WITH RECURSIVE q AS (
    SELECT vec_id, label,
           list_transform(embedding,
                          x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
    FROM embeddings
),
pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM q a JOIN q b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE CAST(list_dot_product(a.v, b.v) AS BIGINT) >= 300000
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, lbl) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
losers AS (SELECT node FROM comp WHERE node <> component)
SELECT e.vec_id, e.label
FROM embeddings e
LEFT JOIN losers ON e.vec_id = losers.node
WHERE losers.node IS NULL
"""


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-5 neighbors for sampled queries (int scores)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return simsearch.brute_force_topk(emb, queries, k=5)


SQL_ANN_TOPK = """
WITH q AS (
    SELECT vec_id, list_transform(embedding,
                                  x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
    FROM embeddings
),
scored AS (
    SELECT qs.vec_id AS qid, c.vec_id AS vec_id,
           CAST(list_dot_product(qs.v, c.v) AS BIGINT) AS dot_q
    FROM (SELECT * FROM q WHERE vec_id % 100 = 0) qs
    JOIN q c ON c.vec_id <> qs.vec_id
)
SELECT qid, vec_id, dot_q,
       CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot_q DESC, vec_id) AS INTEGER) AS rnk
FROM scored
QUALIFY rnk <= 5
"""


def q_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style bucketed top-5 (probe = own label cell), exact-int scores."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return simsearch.bucketed_topk(emb, queries, k=5)


SQL_ANN_BUCKETED = """
WITH q AS (
    SELECT vec_id, label, list_transform(embedding,
                                         x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
    FROM embeddings
),
scored AS (
    SELECT qs.vec_id AS qid, c.vec_id AS vec_id,
           CAST(list_dot_product(qs.v, c.v) AS BIGINT) AS dot_q
    FROM (SELECT * FROM q WHERE vec_id % 100 = 0) qs
    JOIN q c ON c.label = qs.label AND c.vec_id <> qs.vec_id
)
SELECT qid, vec_id, dot_q,
       CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot_q DESC, vec_id) AS INTEGER) AS rnk
FROM scored
QUALIFY rnk <= 5
"""


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: per-query recall@5 of the IVF path
    (deterministic cells, n_probe=2) against exact brute-force top-5 —
    the measurement loop every production ANN deployment needs to tune
    its n_probe/recall trade-off. Both sides are exact-integer and
    deterministic, so recall itself is value-checkable cross-engine.

    Plan: the two top-k frames join on (qid, vec_id) — both are ≤ k rows
    per query, so the recall join is a broadcast over tiny inputs no
    matter the corpus size."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") % 100 == 0)
    exact = simsearch.brute_force_topk(emb, queries_df, k=5).select(
        "qid", "vec_id"
    )
    approx = simsearch.ivf_exact_topk(
        emb, queries_df, k=5, n_probe=2
    ).select("qid", "vec_id")
    base = exact.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("k_eff")
    )
    hits = (
        exact.join(approx, ["qid", "vec_id"], "leftsemi")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    return base.join(hits, "qid", "left").select(
        "qid",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        F.expr("coalesce(n_hits, 0) * 1000 div k_eff")
        .cast("long")
        .alias("recall_m"),
    )


SQL_ANN_RECALL = """
WITH q AS (
    SELECT vec_id, list_transform(embedding,
                                  x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
    FROM embeddings
),
exact AS (
    SELECT qid, vec_id FROM (
        SELECT qs.vec_id AS qid, c.vec_id AS vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY qs.vec_id
                   ORDER BY CAST(list_dot_product(qs.v, c.v) AS BIGINT) DESC,
                            c.vec_id
               ) AS rnk
        FROM (SELECT * FROM q WHERE vec_id % 100 = 0) qs
        JOIN q c ON c.vec_id <> qs.vec_id
    ) WHERE rnk <= 5
),
cd AS (
    SELECT label, vec_id,
           unnest(range(0, len(embedding))) AS dim,
           unnest(list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS cv
    FROM embeddings
),
cent AS (
    SELECT label, dim, SUM(cv) // COUNT(*) AS cq
    FROM cd GROUP BY label, dim
),
qd AS (
    SELECT vec_id AS qid, dim, cv AS qv FROM cd WHERE vec_id % 100 = 0
),
ps AS (
    SELECT qid, label, SUM(2 * qv * cq - cq * cq) AS cscore
    FROM qd JOIN cent USING (dim) GROUP BY qid, label
),
probed AS (
    SELECT qid, label FROM (
        SELECT qid, label,
               ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY cscore DESC, label ASC
               ) AS prnk
        FROM ps
    ) WHERE prnk <= 2
),
cand AS (
    SELECT p.qid, c.vec_id, SUM(q2.qv * c.cv) AS dot_q
    FROM probed p
    JOIN cd c ON c.label = p.label
    JOIN qd q2 ON q2.qid = p.qid AND q2.dim = c.dim
    WHERE c.vec_id <> p.qid
    GROUP BY p.qid, c.vec_id
),
ivf AS (
    SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY dot_q DESC, vec_id ASC
               ) AS rnk
        FROM cand
    ) WHERE rnk <= 5
),
base AS (SELECT qid, COUNT(*) AS k_eff FROM exact GROUP BY qid),
hits AS (
    SELECT e.qid, COUNT(*) AS n_hits
    FROM exact e JOIN ivf USING (qid, vec_id) GROUP BY e.qid
)
SELECT b.qid,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(COALESCE(h.n_hits, 0) * 1000 // b.k_eff AS BIGINT) AS recall_m
FROM base b LEFT JOIN hits h USING (qid)
"""


def q_embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic integer Lloyd k-means (``simsearch.embed_kmeans``,
    k=8, 2 iterations): seed = the 8 smallest vec_ids, argmin squared-L2
    assignment with pinned tie-breaks, integer-mean centroid updates.
    The oracle replays both iterations as chained CTEs — the same
    value-checked-iteration pattern as ``pagerank``."""
    return simsearch.embed_kmeans(
        _t(spark, sf_dir, "embeddings"), k=8, iters=2
    )


SQL_EMBED_KMEANS = """
WITH q AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
    FROM embeddings
),
c0 AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v AS c
    FROM q ORDER BY vec_id LIMIT 8
),
d1 AS (
    SELECT q.vec_id, q.v, c.cid,
           list_aggregate(list_transform(range(1, len(q.v) + 1),
               i -> (q.v[i] - c.c[i]) * (q.v[i] - c.c[i])), 'sum') AS dist
    FROM q CROSS JOIN c0 c
),
a1 AS (
    SELECT vec_id, v, cid AS cluster
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY dist, cid) AS rn FROM d1)
    WHERE rn = 1
),
c1 AS (
    SELECT cluster AS cid, list(m ORDER BY dim) AS c
    FROM (
        SELECT cluster, dim, CAST(SUM(val) // COUNT(*) AS BIGINT) AS m
        FROM (SELECT cluster, generate_subscripts(v, 1) AS dim,
                     unnest(v) AS val FROM a1)
        GROUP BY cluster, dim
    ) GROUP BY cluster
),
d2 AS (
    SELECT q.vec_id, q.v, c.cid,
           list_aggregate(list_transform(range(1, len(q.v) + 1),
               i -> (q.v[i] - c.c[i]) * (q.v[i] - c.c[i])), 'sum') AS dist
    FROM q CROSS JOIN c1 c
),
a2 AS (
    SELECT vec_id, v, cid AS cluster
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY dist, cid) AS rn FROM d2)
    WHERE rn = 1
),
c2 AS (
    SELECT cluster AS cid, list(m ORDER BY dim) AS c
    FROM (
        SELECT cluster, dim, CAST(SUM(val) // COUNT(*) AS BIGINT) AS m
        FROM (SELECT cluster, generate_subscripts(v, 1) AS dim,
                     unnest(v) AS val FROM a2)
        GROUP BY cluster, dim
    ) GROUP BY cluster
),
d3 AS (
    SELECT q.vec_id, c.cid,
           list_aggregate(list_transform(range(1, len(q.v) + 1),
               i -> (q.v[i] - c.c[i]) * (q.v[i] - c.c[i])), 'sum') AS dist
    FROM q CROSS JOIN c2 c
)
SELECT vec_id, CAST(cluster AS INT) AS cluster
FROM (
    SELECT vec_id, cid AS cluster,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d3
) WHERE rn = 1
"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining gate: per query vector (vec_id % 100 ==
    0), the most similar same-label vector and the most similar
    different-label vector by exact integer dot product (candidate-id
    tie-break). The oracle-checkable exact path; the corpus-scale
    variant feeds the same rank-1 selection from bucketed candidates."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return simsearch.hard_negatives(emb, queries)


SQL_HARD_NEGATIVES = """
WITH v AS (
    SELECT vec_id, label,
           list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
    FROM embeddings
),
scored AS (
    SELECT qs.vec_id AS qid, c.vec_id AS cid,
           CASE WHEN c.label = qs.label THEN 'pos' ELSE 'neg' END AS side,
           CAST(list_dot_product(qs.q, c.q) AS BIGINT) AS dot
    FROM v qs JOIN v c ON c.vec_id <> qs.vec_id
    WHERE qs.vec_id % 100 = 0
),
best AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid, side
                                 ORDER BY dot DESC, cid ASC) AS rnk
    FROM scored
)
-- FULL join mirrors the engine: a query missing one side keeps its row
-- with that side NULL instead of vanishing
SELECT COALESCE(p.qid, n.qid) AS qid,
       p.cid AS pos_id, p.dot AS pos_dot,
       n.cid AS neg_id, n.dot AS neg_dot
FROM (SELECT * FROM best WHERE side = 'pos' AND rnk = 1) p
FULL OUTER JOIN (SELECT * FROM best WHERE side = 'neg' AND rnk = 1) n
  ON p.qid = n.qid
"""


# --------------------------------------------------------------------------
# r15: SemDeDup — k-means cells + within-cell cosine pruning
# --------------------------------------------------------------------------

def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup, SemDeDup-style (``simsearch.semantic_dedup``):
    deterministic integer k-means cells (k=8, 2 Lloyd iterations) →
    same-CELL near-dup pairs over the quantized dot (threshold
    300000) → connected components → keep the smallest vec_id per
    component. Differs from ``embed_dedup`` (which cells on the given
    ``label`` column) in that the cells are LEARNED — the actual
    SemDeDup recipe, and the arm that validates the kmeans→pairs
    composition end-to-end. The oracle replays both Lloyd iterations
    as chained CTEs (the ``embed_kmeans`` pattern), the cell-bucketed
    pair join, and min-label reachability as a recursive CTE. Output:
    surviving (vec_id, label, cluster). Plan: map-only assignment
    against literal centroids; the pair join is cell-bucketed (never
    all-pairs); components run on the pair graph only."""
    kept = simsearch.semantic_dedup(
        _t(spark, sf_dir, "embeddings"), threshold_dot_q=300_000,
        k=8, iters=2, with_cluster=True,
    )
    # pin_lineage keeps kept's pins (their A/B: simsearch.semantic_dedup)
    # alive past the select, for the driver's action
    from dataproc_spark.core import pin_lineage

    return pin_lineage(
        kept.select(
            "vec_id", "label", F.col("cluster").cast("int").alias("cluster")
        ),
        kept,
    )


SQL_SEMANTIC_DEDUP = """
WITH RECURSIVE q AS (
    SELECT vec_id, label,
           list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
    FROM embeddings
),
c0 AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
           v AS c
    FROM q ORDER BY vec_id LIMIT 8
),
d1 AS (
    SELECT q.vec_id, q.v, c.cid,
           list_aggregate(list_transform(range(1, len(q.v) + 1),
               i -> (q.v[i] - c.c[i]) * (q.v[i] - c.c[i])), 'sum') AS dist
    FROM q CROSS JOIN c0 c
),
a1 AS (
    SELECT vec_id, v, cid AS cluster
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY dist, cid) AS rn FROM d1)
    WHERE rn = 1
),
c1 AS (
    SELECT cluster AS cid, list(m ORDER BY dim) AS c
    FROM (
        SELECT cluster, dim, CAST(SUM(val) // COUNT(*) AS BIGINT) AS m
        FROM (SELECT cluster, generate_subscripts(v, 1) AS dim,
                     unnest(v) AS val FROM a1)
        GROUP BY cluster, dim
    ) GROUP BY cluster
),
d2 AS (
    SELECT q.vec_id, q.v, c.cid,
           list_aggregate(list_transform(range(1, len(q.v) + 1),
               i -> (q.v[i] - c.c[i]) * (q.v[i] - c.c[i])), 'sum') AS dist
    FROM q CROSS JOIN c1 c
),
a2 AS (
    SELECT vec_id, v, cid AS cluster
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY dist, cid) AS rn FROM d2)
    WHERE rn = 1
),
c2 AS (
    SELECT cluster AS cid, list(m ORDER BY dim) AS c
    FROM (
        SELECT cluster, dim, CAST(SUM(val) // COUNT(*) AS BIGINT) AS m
        FROM (SELECT cluster, generate_subscripts(v, 1) AS dim,
                     unnest(v) AS val FROM a2)
        GROUP BY cluster, dim
    ) GROUP BY cluster
),
d3 AS (
    SELECT q.vec_id, q.v, c.cid,
           list_aggregate(list_transform(range(1, len(q.v) + 1),
               i -> (q.v[i] - c.c[i]) * (q.v[i] - c.c[i])), 'sum') AS dist
    FROM q CROSS JOIN c2 c
),
a3 AS (
    SELECT vec_id, v, cid AS cluster
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY dist, cid) AS rn FROM d3)
    WHERE rn = 1
),
pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM a3 a JOIN a3 b
      ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    WHERE CAST(list_dot_product(a.v, b.v) AS BIGINT) >= 300000
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, lbl) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
losers AS (SELECT node FROM comp WHERE node <> component)
SELECT e.vec_id, e.label, CAST(a3.cluster AS INT) AS cluster
FROM embeddings e
JOIN a3 ON a3.vec_id = e.vec_id
LEFT JOIN losers ON e.vec_id = losers.node
WHERE losers.node IS NULL
"""


# --------------------------------------------------------------------------
# r15: Product Quantization — train codebooks, encode, ADC search
# --------------------------------------------------------------------------

def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-Quantization ANN end-to-end (``simsearch.pq_train`` →
    ``pq_encode`` → ``pq_adc_topk``): train m=8 sub-codebooks of 16
    codes (2 integer Lloyd iterations per subspace, init = the 16
    smallest vec_ids' subvectors), compress every vector to 8 codes,
    and answer the standard query set (vec_id % 100 == 0) by
    Asymmetric Distance Computation — per-query (sub, code) → squared
    L2 lookup tables, distance = the 8-term table sum, top-5 by
    distance ASC / id ASC. Every step is exact integer with pinned
    tie-breaks, so the oracle replays training, encoding, table build,
    and ranking bit-for-bit. Plan: training is 2 × ONE (sub, code,
    dim) agg; encoding map-only; search ONE broadcast-LUT join + ONE
    (qid, id) agg + partial top-k — the compressed-domain scan that
    makes a 100 TB vector corpus answerable without touching
    full-precision vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    cb = simsearch.pq_train(emb, m=8, codes=16, iters=2)
    codes = simsearch.pq_encode(emb, cb)
    queries = emb.where(F.col("vec_id") % 100 == 0)
    return simsearch.pq_adc_topk(queries, codes, cb, k=5).select(
        "qid", F.col("id").alias("vec_id"), "d_adc", "rank"
    )


#: the PQ train→encode→ADC chain as a shared CTE body (SQL_ANN_PQ ranks
#: it; SQL_PQ_RECALL joins it against the exact-L2 truth)
_PQ_CTES = """q AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
    FROM embeddings
),
subs AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS sub),
sv AS (
    SELECT vec_id, sub, list_slice(v, sub * 8 + 1, sub * 8 + 8) AS s
    FROM q, subs
),
c0 AS (
    SELECT sub,
           CAST(ROW_NUMBER() OVER (PARTITION BY sub ORDER BY vec_id) - 1
                AS INT) AS code,
           s AS c
    FROM sv
    WHERE vec_id IN (SELECT vec_id FROM q ORDER BY vec_id LIMIT 16)
),
d1 AS (
    SELECT s.vec_id, s.sub, s.s, c.code,
           list_aggregate(list_transform(range(1, 9),
               i -> (s.s[i] - c.c[i]) * (s.s[i] - c.c[i])), 'sum') AS dist
    FROM sv s JOIN c0 c ON c.sub = s.sub
),
a1 AS (
    SELECT vec_id, sub, s, code
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                       ORDER BY dist, code) AS rn FROM d1)
    WHERE rn = 1
),
c1 AS (
    SELECT sub, code, list(m ORDER BY dim) AS c
    FROM (
        SELECT sub, code, dim, CAST(SUM(val) // COUNT(*) AS BIGINT) AS m
        FROM (SELECT sub, code, generate_subscripts(s, 1) AS dim,
                     unnest(s) AS val FROM a1)
        GROUP BY sub, code, dim
    ) GROUP BY sub, code
),
d2 AS (
    SELECT s.vec_id, s.sub, s.s, c.code,
           list_aggregate(list_transform(range(1, 9),
               i -> (s.s[i] - c.c[i]) * (s.s[i] - c.c[i])), 'sum') AS dist
    FROM sv s JOIN c1 c ON c.sub = s.sub
),
a2 AS (
    SELECT vec_id, sub, s, code
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                       ORDER BY dist, code) AS rn FROM d2)
    WHERE rn = 1
),
c2 AS (
    SELECT sub, code, list(m ORDER BY dim) AS c
    FROM (
        SELECT sub, code, dim, CAST(SUM(val) // COUNT(*) AS BIGINT) AS m
        FROM (SELECT sub, code, generate_subscripts(s, 1) AS dim,
                     unnest(s) AS val FROM a2)
        GROUP BY sub, code, dim
    ) GROUP BY sub, code
),
enc AS (
    SELECT vec_id, sub, code
    FROM (SELECT s.vec_id, s.sub, c.code,
                 ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
                     ORDER BY list_aggregate(list_transform(range(1, 9),
                         i -> (s.s[i] - c.c[i]) * (s.s[i] - c.c[i])),
                         'sum'), c.code) AS rn
          FROM sv s JOIN c2 c ON c.sub = s.sub)
    WHERE rn = 1
),
qd AS (SELECT vec_id AS qid, sub, s FROM sv WHERE vec_id % 100 = 0),
lut AS (
    SELECT qd.qid, c.sub, c.code,
           list_aggregate(list_transform(range(1, 9),
               i -> (qd.s[i] - c.c[i]) * (qd.s[i] - c.c[i])), 'sum') AS d
    FROM qd JOIN c2 c ON c.sub = qd.sub
),
scored AS (
    SELECT l.qid, e.vec_id, CAST(SUM(l.d) AS BIGINT) AS d_adc
    FROM enc e JOIN lut l ON l.sub = e.sub AND l.code = e.code
    WHERE e.vec_id <> l.qid
    GROUP BY l.qid, e.vec_id
)"""

SQL_ANN_PQ = f"""
WITH {_PQ_CTES}
SELECT qid, vec_id, d_adc, CAST(rank AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY d_adc ASC, vec_id ASC) AS rank
      FROM scored)
WHERE rank <= 5
"""


def q_pq_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ index persistence roundtrip (``simsearch.write_pq_index`` /
    ``read_pq_index`` / ``pq_index_topk``): train the same 8×16
    codebooks as ``ann_pq``, persist codebooks + the encoded corpus,
    reload, and answer the standard query set THROUGH the index with
    geometry/scale taken from its meta. Output is bit-identical to the
    in-session ``ann_pq``, so the oracle is the same replayed SQL —
    any serialization loss (code row drift, centroid truncation, meta
    mismatch) hash-fails. Scratch index removed before returning."""
    import shutil
    import tempfile

    from dataproc_spark.queries.diagnostics import _materialize_and_clean

    emb = _t(spark, sf_dir, "embeddings")
    out = tempfile.mkdtemp(prefix="pqidx_")
    try:
        simsearch.write_pq_index(emb, out, m=8, codes=16, iters=2)
        res = simsearch.pq_index_topk(
            emb.where(F.col("vec_id") % 100 == 0), out, k=5,
        ).select("qid", F.col("id").alias("vec_id"), "d_adc", "rank")
    except BaseException:
        shutil.rmtree(out, ignore_errors=True)
        raise
    return _materialize_and_clean(res, out)


SQL_PQ_INDEX_ROUNDTRIP = SQL_ANN_PQ


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ over residuals (``simsearch.ivfpq_topk``) — the FAISS
    IVFPQ composition: 8 learned coarse cells (2 integer Lloyd
    iterations) prune each query to its 2 nearest cells, and within
    them candidates rank by ADC over PQ codes of the RESIDUAL
    ``vector − cell centroid`` (8 subspaces × 16 codes, trained on
    residuals — the finer quantization at equal bytes that makes this
    the 100 TB ANN architecture). The oracle replays the whole chain:
    coarse Lloyd (the ``embed_kmeans`` CTEs), the post-assignment
    integer-mean centroids, residuals, per-subspace residual
    codebooks, encoding, top-2 cell probing (ties → smaller cell),
    per-(query, cell) lookup tables, ADC sums, and top-5 ranking.
    Plan: corpus-side state is (id, cell, 8 codes); the candidate
    join is an equi-join on (cell, sub, code) against a broadcast
    LUT — probed cells only, never a scan."""
    emb = _t(spark, sf_dir, "embeddings")
    ranked = simsearch.ivfpq_topk(
        emb, emb.where(F.col("vec_id") % 100 == 0),
        k=5, cells=8, cell_iters=2, n_probe=2, m=8, codes=16,
        pq_iters=2,
    )
    # pin_lineage keeps ranked's pins (their A/B: simsearch.ivfpq_topk)
    # alive past the select, for the driver's action
    from dataproc_spark.core import pin_lineage

    return pin_lineage(
        ranked.select(
            "qid", F.col("id").alias("vec_id"), "d_adc", "rank"
        ),
        ranked,
    )


def _sql_sqdist(a: str, b: str, n: int) -> str:
    return (f"list_aggregate(list_transform(range(1, {n + 1}), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), 'sum')")


SQL_ANN_IVFPQ = f"""
WITH q AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
    FROM embeddings
),
c0 AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
           v AS c
    FROM q ORDER BY vec_id LIMIT 8
),
d1 AS (
    SELECT q.vec_id, q.v, c.cid, {_sql_sqdist('q.v', 'c.c', 64)} AS dist
    FROM q CROSS JOIN c0 c
),
a1 AS (
    SELECT vec_id, v, cid AS cluster
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY dist, cid) AS rn FROM d1)
    WHERE rn = 1
),
c1 AS (
    SELECT cluster AS cid, list(m ORDER BY dim) AS c
    FROM (SELECT cluster, dim, CAST(SUM(val) // COUNT(*) AS BIGINT) AS m
          FROM (SELECT cluster, generate_subscripts(v, 1) AS dim,
                       unnest(v) AS val FROM a1)
          GROUP BY cluster, dim)
    GROUP BY cluster
),
d2 AS (
    SELECT q.vec_id, q.v, c.cid, {_sql_sqdist('q.v', 'c.c', 64)} AS dist
    FROM q CROSS JOIN c1 c
),
a2 AS (
    SELECT vec_id, v, cid AS cluster
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY dist, cid) AS rn FROM d2)
    WHERE rn = 1
),
c2 AS (
    SELECT cluster AS cid, list(m ORDER BY dim) AS c
    FROM (SELECT cluster, dim, CAST(SUM(val) // COUNT(*) AS BIGINT) AS m
          FROM (SELECT cluster, generate_subscripts(v, 1) AS dim,
                       unnest(v) AS val FROM a2)
          GROUP BY cluster, dim)
    GROUP BY cluster
),
d3 AS (
    SELECT q.vec_id, q.v, c.cid, {_sql_sqdist('q.v', 'c.c', 64)} AS dist
    FROM q CROSS JOIN c2 c
),
a3 AS (
    SELECT vec_id, v, cid AS cluster
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY dist, cid) AS rn FROM d3)
    WHERE rn = 1
),
c3 AS (
    SELECT cluster AS cid, list(m ORDER BY dim) AS c
    FROM (SELECT cluster, dim, CAST(SUM(val) // COUNT(*) AS BIGINT) AS m
          FROM (SELECT cluster, generate_subscripts(v, 1) AS dim,
                       unnest(v) AS val FROM a3)
          GROUP BY cluster, dim)
    GROUP BY cluster
),
resid AS (
    SELECT a.vec_id, a.cluster,
           list_transform(range(1, 65), i -> a.v[i] - c.c[i]) AS r
    FROM a3 a JOIN c3 c ON c.cid = a.cluster
),
subs AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS sub),
rsv AS (
    SELECT vec_id, cluster, sub,
           list_slice(r, sub * 8 + 1, sub * 8 + 8) AS s
    FROM resid, subs
),
p0 AS (
    SELECT sub,
           CAST(ROW_NUMBER() OVER (PARTITION BY sub ORDER BY vec_id) - 1
                AS INT) AS code,
           s AS c
    FROM rsv
    WHERE vec_id IN (SELECT vec_id FROM resid ORDER BY vec_id LIMIT 16)
),
e1 AS (
    SELECT s.vec_id, s.sub, s.s, c.code,
           {_sql_sqdist('s.s', 'c.c', 8)} AS dist
    FROM rsv s JOIN p0 c ON c.sub = s.sub
),
b1 AS (
    SELECT vec_id, sub, s, code
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                       ORDER BY dist, code) AS rn FROM e1)
    WHERE rn = 1
),
p1 AS (
    SELECT sub, code, list(m ORDER BY dim) AS c
    FROM (SELECT sub, code, dim, CAST(SUM(val) // COUNT(*) AS BIGINT) AS m
          FROM (SELECT sub, code, generate_subscripts(s, 1) AS dim,
                       unnest(s) AS val FROM b1)
          GROUP BY sub, code, dim)
    GROUP BY sub, code
),
e2 AS (
    SELECT s.vec_id, s.sub, s.s, c.code,
           {_sql_sqdist('s.s', 'c.c', 8)} AS dist
    FROM rsv s JOIN p1 c ON c.sub = s.sub
),
b2 AS (
    SELECT vec_id, sub, s, code
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                       ORDER BY dist, code) AS rn FROM e2)
    WHERE rn = 1
),
p2 AS (
    SELECT sub, code, list(m ORDER BY dim) AS c
    FROM (SELECT sub, code, dim, CAST(SUM(val) // COUNT(*) AS BIGINT) AS m
          FROM (SELECT sub, code, generate_subscripts(s, 1) AS dim,
                       unnest(s) AS val FROM b2)
          GROUP BY sub, code, dim)
    GROUP BY sub, code
),
enc AS (
    SELECT vec_id, sub, code
    FROM (SELECT s.vec_id, s.sub, c.code,
                 ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
                     ORDER BY {_sql_sqdist('s.s', 'c.c', 8)}, c.code) AS rn
          FROM rsv s JOIN p2 c ON c.sub = s.sub)
    WHERE rn = 1
),
qset AS (SELECT vec_id AS qid, v FROM q WHERE vec_id % 100 = 0),
qcells AS (
    SELECT qid, cid AS cluster, v
    FROM (SELECT qs.qid, qs.v, c.cid,
                 ROW_NUMBER() OVER (PARTITION BY qs.qid
                     ORDER BY {_sql_sqdist('qs.v', 'c.c', 64)}, c.cid) AS rn
          FROM qset qs CROSS JOIN c3 c)
    WHERE rn <= 2
),
qresid AS (
    SELECT qc.qid, qc.cluster,
           list_transform(range(1, 65), i -> qc.v[i] - c.c[i]) AS qr
    FROM qcells qc JOIN c3 c ON c.cid = qc.cluster
),
lut AS (
    SELECT qr.qid, qr.cluster, p.sub, p.code,
           {_sql_sqdist("list_slice(qr.qr, p.sub * 8 + 1, p.sub * 8 + 8)", 'p.c', 8)} AS d
    FROM qresid qr JOIN p2 p ON TRUE
),
scored AS (
    SELECT l.qid, e.vec_id, CAST(SUM(l.d) AS BIGINT) AS d_adc
    FROM enc e
    JOIN resid r ON r.vec_id = e.vec_id
    JOIN lut l ON l.cluster = r.cluster AND l.sub = e.sub
              AND l.code = e.code
    WHERE e.vec_id <> l.qid
    GROUP BY l.qid, e.vec_id
)
SELECT qid, vec_id, d_adc, CAST(rank AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY d_adc ASC, vec_id ASC) AS rank
      FROM scored)
WHERE rank <= 5
"""


def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ quality evaluation (the ``ann_recall`` analog for the
    compressed-domain path): per-query recall@5 of ADC search against
    exact squared-L2 brute force — PQ is lossy BY DESIGN, so the
    approximation quality must be a pinned, measured number, not a
    hope (the tune loop is m/codes vs recall, exactly n_probe vs
    recall for IVF). Both sides are exact-integer and deterministic,
    so recall itself is value-checkable cross-engine. Plan: the two
    top-k frames are ≤ k rows per query — the recall join is tiny no
    matter the corpus size."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") % 100 == 0)
    cb = simsearch.pq_train(emb, m=8, codes=16, iters=2)
    approx = simsearch.pq_adc_topk(
        queries_df, simsearch.pq_encode(emb, cb), cb, k=5
    ).select("qid", F.col("id").alias("vec_id"))
    exact = simsearch.brute_force_topk(
        emb, queries_df, k=5, metric="l2"
    ).select("qid", "vec_id")
    base = exact.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("k_eff")
    )
    hits = (
        exact.join(approx, ["qid", "vec_id"], "leftsemi")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    return base.join(hits, "qid", "left").select(
        "qid",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        F.expr("coalesce(n_hits, 0) * 1000 div k_eff")
        .cast("long")
        .alias("recall_m"),
    )


SQL_PQ_RECALL = f"""
WITH {_PQ_CTES},
pq5 AS (
    SELECT qid, vec_id
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY d_adc ASC, vec_id ASC) AS rank
          FROM scored)
    WHERE rank <= 5
),
exact AS (
    SELECT qid, vec_id
    FROM (SELECT qs.vec_id AS qid, c.vec_id,
                 ROW_NUMBER() OVER (PARTITION BY qs.vec_id ORDER BY
                     list_aggregate(list_transform(range(1, 65),
                         i -> (qs.v[i] - c.v[i]) * (qs.v[i] - c.v[i])),
                         'sum') ASC, c.vec_id ASC) AS rn
          FROM q qs JOIN q c ON c.vec_id <> qs.vec_id
          WHERE qs.vec_id % 100 = 0)
    WHERE rn <= 5
),
base AS (SELECT qid, COUNT(*) AS k_eff FROM exact GROUP BY qid),
hits AS (
    SELECT e.qid, COUNT(*) AS n_hits
    FROM exact e JOIN pq5 USING (qid, vec_id) GROUP BY e.qid
)
SELECT b.qid,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(COALESCE(h.n_hits, 0) * 1000 // b.k_eff AS BIGINT) AS recall_m
FROM base b LEFT JOIN hits h USING (qid)
"""
