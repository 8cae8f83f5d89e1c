"""Document dedup gates: exact, MinHash/SimHash, n-gram, clusters.

Split out of the monolithic queries.py (r7); registry assembly lives in
``dataproc_spark.queries`` (the package __init__).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataproc_spark.extensions import dedup

# ---------------------------------------------------------------------------
# table access
# ---------------------------------------------------------------------------

from dataproc_spark.queries._tables import _t  # noqa: F401


#: shared oracle CTE fragments — ONE definition of the tokenize and
#: 3-gram-shingle steps that every n-gram oracle composes (r7 review:
#: the same ~10-line blocks were copy-pasted into eight SQL strings, so
#: a parameter change could silently gate a different query than the
#: operator runs; the f-string-composed-oracle pattern follows
#: tpch.py's DUCK_PARTSUPP_CTE)
_TOKS_CTE = r"""toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
    FROM documents
)"""

_SHINGLES3_CTE = r"""sh AS (
    SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(t) >= 3
             THEN list_transform(range(1, len(t) - 1),
                                 i -> array_to_string(list_slice(t, i, i + 2), ' '))
             ELSE [] END)) AS s
    FROM toks
)"""

def q_dedup_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-rate diagnostics per source: docs, distinct texts,
    and the duplicate permille — which crawl sources are redundant and
    by how much, the number that decides where the expensive near-dup
    passes are worth running. One aggregate (COUNT + COUNT DISTINCT on
    the md5 fingerprint, never the body)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("source", F.md5(F.col("text").cast("binary")).alias("_fp"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # countDistinct skips NULL fingerprints, which would count
            # every NULL-text doc as a duplicate (a missing body is not
            # a copy of anything — the exact_dedup NULL policy): each
            # NULL-text doc is its own distinct class
            (
                F.countDistinct("_fp")
                + F.count(F.when(F.col("_fp").isNull(), 1))
            ).alias("n_distinct"),
        )
        .select(
            "source", "n_docs", "n_distinct",
            F.expr("(n_docs - n_distinct) * 1000 div n_docs").alias("dup_m"),
        )
    )


SQL_DEDUP_RATES = """
-- NULL-text docs each count as their own distinct class (see engine)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT md5(text))
            + COUNT(*) FILTER (text IS NULL) AS BIGINT) AS n_distinct,
       CAST((COUNT(*) - COUNT(DISTINCT md5(text))
             - COUNT(*) FILTER (text IS NULL)) * 1000 // COUNT(*)
            AS BIGINT) AS dup_m
FROM documents
GROUP BY source
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one surviving doc per distinct text (min id wins)."""
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


SQL_DEDUP_EXACT = """
SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY md5(text), CASE WHEN text IS NULL THEN doc_id END
"""


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (``corpus.corpus_diff``): v1 = ids not
    divisible by 10, v2 = ids not divisible by 7 with every 5th text
    amended — each id labeled added/removed/changed/unchanged via a
    fingerprint full-outer join (bodies never shuffle)."""
    from dataproc_spark.extensions.corpus import corpus_diff

    docs = _t(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 10 != 0)
    new = docs.where(F.col("doc_id") % 7 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return corpus_diff(old, new)


SQL_CORPUS_DIFF = """
-- presence via explicit side markers, NOT fp nullness: md5(NULL) is
-- NULL, so a NULL-text doc on both sides would otherwise read 'added'
-- (mirrors the r7 corpus_diff fix; IS NOT DISTINCT FROM = eqNullSafe)
WITH v1 AS (
    SELECT doc_id, md5(text) AS fp, 1 AS present
    FROM documents WHERE doc_id % 10 <> 0
),
v2 AS (
    SELECT doc_id,
           md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
                    ELSE text END) AS fp,
           1 AS present
    FROM documents WHERE doc_id % 7 <> 0
)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.present IS NULL THEN 'added'
            WHEN n.present IS NULL THEN 'removed'
            WHEN o.fp IS NOT DISTINCT FROM n.fp THEN 'unchanged'
            ELSE 'changed' END AS status
-- null-safe id join, mirroring the engine: a NULL-id doc on both sides
-- is one row, not a contradictory added+removed pair
FROM v1 o FULL OUTER JOIN v2 n ON o.doc_id IS NOT DISTINCT FROM n.doc_id
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (rows-only: hash-family dependent).

    32 hashes / 8 bands (r=4): candidate threshold ≈ (1/8)^(1/4) ≈ 0.6
    Jaccard at the S-curve midpoint — appropriate for the 0.2 verify
    threshold and half the signature cost of 64 hashes.
    """
    return dedup.minhash_dedup_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.2, shingle_size=3,
        num_hashes=32, bands=8,
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (rows-only: hash-family dependent)."""
    return dedup.simhash_near_pairs(
        _t(spark, sf_dir, "documents"), bits=32, bands=4, max_hamming=2
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup pipeline: MinHash-LSH pairs → connected components →
    keep one representative per cluster.

    Uses the engine-portable md5 hash family (16 hashes / 4 bands, the
    same family as ``dedup_minhash_portable``) so the ENTIRE pipeline —
    which candidate pairs LSH surfaces, the component labels, and the
    surviving representatives — is bit-reproduced by the DuckDB oracle
    (portable-LSH pairs CTE + recursive reachability closure)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(
        docs, threshold=0.2, shingle_size=3, num_hashes=16, bands=4,
        portable=True, scale_m=1000,
    )
    # connected_components consumes pairs while the gate is built; the
    # returned plan never reads pairs' cache again
    return dedup.dedup_keep_representatives(docs, pairs).select(
        "doc_id", "lang", "source"
    )


SQL_DEDUP_CLUSTERS = r"""
WITH RECURSIVE toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
    FROM documents
),
sh AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(t) - 1),
               i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS s
    FROM toks WHERE len(t) >= 3
),
sig AS (
    SELECT doc_id, s,
           list_transform(range(0, 16),
               i -> list_aggregate(
                   list_transform(s, x -> md5(x || '#' || i)), 'min')) AS sg
    FROM sh
),
banded AS (
    SELECT doc_id, b.band AS band,
           md5(array_to_string(
               list_slice(sg, b.band * 4 + 1, b.band * 4 + 4), '|')) AS bhash
    FROM sig, (SELECT unnest(range(0, 4)) AS band) b
),
cand AS (
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM banded l JOIN banded r
      ON l.band = r.band AND l.bhash = r.bhash AND l.doc_id < r.doc_id
),
verified AS (
    SELECT id_a, id_b,
           len(list_intersect(sa.s, sb.s)) AS i_n,
           len(list_distinct(list_concat(sa.s, sb.s))) AS u_n
    FROM cand
    JOIN sh sa ON sa.doc_id = id_a
    JOIN sh sb ON sb.doc_id = id_b
),
pairs AS (
    SELECT id_a, id_b FROM verified WHERE (i_n * 1000) // u_n >= 200
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, label) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
losers AS (SELECT node FROM comp WHERE node <> component)
SELECT d.doc_id, d.lang, d.source
FROM documents d
LEFT JOIN losers ON d.doc_id = losers.node
WHERE losers.node IS NULL
"""


def q_dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with the engine-portable md5 hash family
    — the hash-checked twin of ``dedup_minhash``.

    Same shingle → signature → band → bucket-join → verify pipeline, but
    hash family i = ``md5(shingle || '#' || i)`` ordered lexicographically
    and integer milli-Jaccard scores, so DuckDB reproduces every bit
    (including which candidate pairs LSH surfaces). 16 hashes / 4 bands
    (r=4) keeps the oracle's md5 cost bounded while preserving the
    S-curve midpoint ≈ (1/4)^(1/4) ≈ 0.7.
    """
    return dedup.minhash_dedup_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.2, shingle_size=3,
        num_hashes=16, bands=4, portable=True, scale_m=1000,
    )


SQL_DEDUP_MINHASH_PORTABLE = rf"""
WITH {_TOKS_CTE},
sh AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(t) - 1),
               i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS s
    FROM toks WHERE len(t) >= 3
),
sig AS (
    SELECT doc_id, s,
           list_transform(range(0, 16),
               i -> list_aggregate(
                   list_transform(s, x -> md5(x || '#' || i)), 'min')) AS sg
    FROM sh
),
banded AS (
    SELECT doc_id, b.band AS band,
           md5(array_to_string(
               list_slice(sg, b.band * 4 + 1, b.band * 4 + 4), '|')) AS bhash
    FROM sig, (SELECT unnest(range(0, 4)) AS band) b
),
cand AS (
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM banded l JOIN banded r
      ON l.band = r.band AND l.bhash = r.bhash AND l.doc_id < r.doc_id
),
verified AS (
    SELECT id_a, id_b,
           len(list_intersect(sa.s, sb.s)) AS i_n,
           len(list_distinct(list_concat(sa.s, sb.s))) AS u_n
    FROM cand
    JOIN sh sa ON sa.doc_id = id_a
    JOIN sh sb ON sb.doc_id = id_b
)
SELECT id_a, id_b, CAST((i_n * 1000) // u_n AS BIGINT) AS jaccard_m
FROM verified WHERE (i_n * 1000) // u_n >= 200
"""


def q_dedup_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components + keep-representatives over *deterministic*
    exact-Jaccard pairs — the hash-checked gate for the clustering stage
    that ``dedup_clusters`` (LSH-dependent, rows-only) can't give.

    The oracle emulates min-label propagation with a recursive CTE
    (reachability closure, then min reachable id per node).
    """
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, n=3, min_shared=2, jaccard_threshold_m=100
    )
    return dedup.dedup_keep_representatives(docs, pairs).select(
        "doc_id", "lang", "source"
    )


SQL_DEDUP_CC = rf"""
WITH RECURSIVE toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
    FROM documents
),
{_SHINGLES3_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
shared AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 2
),
pairs AS (
    SELECT id_a, id_b
    FROM shared
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE (shared * 1000) // (sa.n + sb.n - shared) >= 100
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, label) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node),
losers AS (SELECT node FROM comp WHERE node <> component)
SELECT d.doc_id, d.lang, d.source
FROM documents d
LEFT JOIN losers ON d.doc_id = losers.node
WHERE losers.node IS NULL
"""


def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup diagnostics: the duplicate-cluster size histogram (how many
    clusters of 2, of 3, ... — singletons excluded), over the same
    deterministic exact-Jaccard pair graph as ``dedup_cc``. The first
    thing to inspect before committing a dedup pass at corpus scale: a
    heavy tail here means boilerplate families, not true duplicates.

    Plan: connected components (bounded label propagation) → one count
    per component → one count per size — each a partially-aggregated
    hash aggregate on a frame no larger than the paired-document set."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, n=3, min_shared=2, jaccard_threshold_m=100
    )
    comps = dedup.connected_components(pairs, id_a="id_a", id_b="id_b")
    return (
        comps.groupBy("component")
        .agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
    )


SQL_DEDUP_CLUSTER_SIZES = rf"""
WITH RECURSIVE toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
    FROM documents
),
{_SHINGLES3_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
shared AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 2
),
pairs AS (
    SELECT id_a, id_b
    FROM shared
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE (shared * 1000) // (sa.n + sb.n - shared) >= 100
),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, label) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters
FROM (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component)
GROUP BY cluster_size
"""


def q_dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with the engine-portable md5_32 token-hash
    family — the hash-checked twin of ``dedup_simhash``: DuckDB rebuilds
    fingerprints bit-for-bit (hex-digit bit extraction), bands them the
    same way, and verifies the same Hamming distances."""
    return dedup.simhash_near_pairs(
        _t(spark, sf_dir, "documents"), bits=32, bands=4, max_hamming=2,
        token_hash="md5_32",
    )


SQL_DEDUP_SIMHASH_PORTABLE = rf"""
WITH {_TOKS_CTE},
counts AS (
    SELECT doc_id,
           list_transform(range(0, 32), j ->
               list_aggregate(list_transform(t, tok ->
                   CASE WHEN ((strpos('0123456789abcdef',
                                      substr(md5(tok), 8 - (j // 4), 1)) - 1)
                              >> (j % 4)) & 1 = 1
                        THEN 1 ELSE -1 END), 'sum')) AS c
    FROM toks WHERE len(t) > 0
),
fp AS (
    SELECT doc_id,
           list_aggregate(list_transform(range(0, 32), j ->
               CASE WHEN c[j + 1] > 0 THEN (CAST(1 AS BIGINT) << j)
                    ELSE 0 END), 'sum') AS simhash
    FROM counts
),
banded AS (
    SELECT doc_id, simhash, b.band AS band,
           (simhash >> (b.band * 8)) & 255 AS bval
    FROM fp, (SELECT unnest(range(0, 4)) AS band) b
),
cand AS (
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
           l.simhash AS ha, r.simhash AS hb
    FROM banded l JOIN banded r
      ON l.band = r.band AND l.bval = r.bval AND l.doc_id < r.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 2
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing ≥2
    3-grams with the held-out eval slice (doc_id % 100 == 0) — per train
    doc, how many eval docs it collides with and the worst overlap."""
    docs = _t(spark, sf_dir, "documents")
    evalset = docs.where(F.col("doc_id") % 100 == 0)
    train = docs.where(F.col("doc_id") % 100 != 0)
    pairs = dedup.contamination_pairs(train, evalset, n=3, min_shared=2)
    return pairs.groupBy("train_id").agg(
        F.count(F.lit(1)).alias("n_eval_matches"),
        F.max("shared").alias("max_shared"),
    )


SQL_DECONTAMINATE = rf"""
WITH {_TOKS_CTE},
{_SHINGLES3_CTE},
hits AS (
    SELECT tr.doc_id AS train_id, ev.doc_id AS eval_id, COUNT(*) AS shared
    FROM sh tr JOIN sh ev ON tr.s = ev.s
    WHERE tr.doc_id % 100 <> 0 AND ev.doc_id % 100 = 0
    GROUP BY tr.doc_id, ev.doc_id
    HAVING COUNT(*) >= 2
)
SELECT train_id, CAST(COUNT(*) AS BIGINT) AS n_eval_matches,
       CAST(MAX(shared) AS BIGINT) AS max_shared
FROM hits GROUP BY train_id
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs via inverted-index join."""
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, min_shared=2,
        jaccard_threshold_m=100,
    )


SQL_NGRAM_JACCARD = rf"""
WITH {_TOKS_CTE},
{_SHINGLES3_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
shared AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 2
)
SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared,
       CAST((shared * 1000) // (sa.n + sb.n - shared) AS BIGINT) AS jaccard_m
FROM shared
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE (shared * 1000) // (sa.n + sb.n - shared) >= 100
"""


def q_ngram_jaccard_maxdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs with the ``max_df`` stop-shingle cut:
    shingles appearing in more than 4 documents are dropped before the
    inverted-index self-join (the quadratic-posting-list mitigation at
    100 TB — a shingle in d docs contributes d(d−1)/2 join rows), and
    Jaccard is computed over the pruned shingle universe. At sf0.01 the
    cutoff sits at the df distribution's p99, so the gate proves the
    pruning actually bites while both engines agree on the result."""
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, min_shared=2,
        jaccard_threshold_m=100, max_df=4,
    )


SQL_NGRAM_JACCARD_MAXDF = rf"""
WITH {_TOKS_CTE},
sh0 AS (
    SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(t) >= 3
             THEN list_transform(range(1, len(t) - 1),
                                 i -> array_to_string(list_slice(t, i, i + 2), ' '))
             ELSE [] END)) AS s
    FROM toks
),
hot AS (SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) > 4),
sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
shared AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 2
)
SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared,
       CAST((shared * 1000) // (sa.n + sb.n - shared) AS BIGINT) AS jaccard_m
FROM shared
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE (shared * 1000) // (sa.n + sb.n - shared) >= 100
"""


def q_decontaminate_maxdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination with the train-side ``max_df`` stop-shingle cut:
    3-grams in more than 3 TRAIN documents are dropped from both sides
    before the cross-corpus join (a train-hot shingle multiplies every
    eval doc containing it by its whole posting list)."""
    docs = _t(spark, sf_dir, "documents")
    evalset = docs.where(F.col("doc_id") % 100 == 0)
    train = docs.where(F.col("doc_id") % 100 != 0)
    pairs = dedup.contamination_pairs(
        train, evalset, n=3, min_shared=2, max_df=3
    )
    return pairs.groupBy("train_id").agg(
        F.count(F.lit(1)).alias("n_eval_matches"),
        F.max("shared").alias("max_shared"),
    )


SQL_DECONTAMINATE_MAXDF = rf"""
WITH {_TOKS_CTE},
{_SHINGLES3_CTE},
hot AS (
    SELECT s FROM sh WHERE doc_id % 100 <> 0 GROUP BY s HAVING COUNT(*) > 3
),
kept AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM hot)),
hits AS (
    SELECT tr.doc_id AS train_id, ev.doc_id AS eval_id, COUNT(*) AS shared
    FROM kept tr JOIN kept ev ON tr.s = ev.s
    WHERE tr.doc_id % 100 <> 0 AND ev.doc_id % 100 = 0
    GROUP BY tr.doc_id, ev.doc_id
    HAVING COUNT(*) >= 2
)
SELECT train_id, CAST(COUNT(*) AS BIGINT) AS n_eval_matches,
       CAST(MAX(shared) AS BIGINT) AS max_shared
FROM hits GROUP BY train_id
"""


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-passage removal: strip every token inside a
    3-gram shared by ≥2 documents (boilerplate/license/navigation chrome)
    while keeping the documents themselves — the within-document
    counterpart of the whole-document dedup family (Lee et al.-style
    passage dedup, bounded to n-grams so it stays relational)."""
    from dataproc_spark.extensions import corpus

    return corpus.remove_repeated_spans(
        _t(spark, sf_dir, "documents"), n=3, min_df=2
    )


SQL_DEDUP_SPANS = rf"""
WITH {_TOKS_CTE},
g1 AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t) - 1),
               i -> {{'pos': i - 1,
                     'g': array_to_string(list_slice(t, i, i + 2), ' ')}})) AS s
    FROM toks WHERE len(t) >= 3
),
grams AS (SELECT doc_id, s.pos AS pos, s.g AS g FROM g1),
hot AS (
    SELECT g
    FROM (SELECT g, COUNT(DISTINCT doc_id) AS dfd FROM grams GROUP BY g)
    WHERE dfd >= 2
),
cov AS (
    SELECT DISTINCT gr.doc_id, gr.pos + o.d AS cpos
    FROM grams gr
    JOIN hot USING (g)
    CROSS JOIN (SELECT unnest(range(0, 3)) AS d) o
),
covl AS (SELECT doc_id, list(cpos) AS cl FROM cov GROUP BY doc_id)
SELECT t.doc_id,
       CAST(COALESCE(len(c.cl), 0) AS BIGINT) AS n_removed,
       -- COALESCE aligns the empty-list case only (array_to_string([])
       -- is NULL in DuckDB where Spark's array_join([]) is '' — fully-
       -- boilerplate docs); a NULL-TEXT doc must stay NULL like Spark's
       -- tokens(NULL) → NULL, so the case guards it (r7 review)
       CASE WHEN t.t IS NULL THEN NULL
            ELSE COALESCE(array_to_string(
                list_transform(
                    list_filter(range(1, len(t.t) + 1),
                                i -> c.cl IS NULL
                                     OR NOT list_contains(c.cl, i - 1)),
                    i -> t.t[i]),
                ' '), '') END AS text_clean
FROM toks t LEFT JOIN covl c USING (doc_id)
"""


def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-containment pairs (quote/excerpt detection):
    ≥500 permille of id_a's 3-gram shingles appear in id_b. Same
    inverted-index join as the Jaccard gate; the score divides by the
    contained side's size only, so a short doc copied into a long one
    is caught even though its Jaccard is tiny."""
    return dedup.ngram_containment_pairs(
        _t(spark, sf_dir, "documents"), n=3, min_shared=2,
        containment_threshold_m=500,
    )


SQL_NGRAM_CONTAINMENT = rf"""
WITH {_TOKS_CTE},
{_SHINGLES3_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
shared AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 2
)
SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared,
       CAST((shared * 1000) // sa.n AS BIGINT) AS containment_m
FROM shared
JOIN sizes sa ON sa.doc_id = id_a
WHERE (shared * 1000) // sa.n >= 500
"""


def q_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surgical decontamination (``corpus.remove_contaminated_spans``):
    cut every train-doc token inside a 3-gram that occurs in the held-out
    eval slice (doc_id % 100 == 0) instead of dropping the document —
    the span-level companion to ``decontaminate``. Same eval-set
    convention, same (n_removed, text_clean) contract as
    ``dedup_spans``."""
    from dataproc_spark.extensions import corpus

    docs = _t(spark, sf_dir, "documents")
    evalset = docs.where(F.col("doc_id") % 100 == 0)
    train = docs.where(F.col("doc_id") % 100 != 0)
    return corpus.remove_contaminated_spans(train, evalset, n=3)


SQL_DECONTAMINATE_SPANS = rf"""
WITH {_TOKS_CTE},
g1 AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t) - 1),
               i -> {{'pos': i - 1,
                     'g': array_to_string(list_slice(t, i, i + 2), ' ')}})) AS s
    FROM toks WHERE len(t) >= 3
),
grams AS (SELECT doc_id, s.pos AS pos, s.g AS g FROM g1),
bad AS (SELECT DISTINCT g FROM grams WHERE doc_id % 100 = 0),
cov AS (
    SELECT DISTINCT gr.doc_id, gr.pos + o.d AS cpos
    FROM grams gr
    JOIN bad USING (g)
    CROSS JOIN (SELECT unnest(range(0, 3)) AS d) o
    WHERE gr.doc_id % 100 <> 0
),
covl AS (SELECT doc_id, list(cpos) AS cl FROM cov GROUP BY doc_id)
SELECT t.doc_id,
       CAST(COALESCE(len(c.cl), 0) AS BIGINT) AS n_removed,
       -- NULL/empty alignment as in SQL_DEDUP_SPANS (r7 review)
       CASE WHEN t.t IS NULL THEN NULL
            ELSE COALESCE(array_to_string(
                list_transform(
                    list_filter(range(1, len(t.t) + 1),
                                i -> c.cl IS NULL
                                     OR NOT list_contains(c.cl, i - 1)),
                    i -> t.t[i]),
                ' '), '') END AS text_clean
FROM toks t LEFT JOIN covl c USING (doc_id)
WHERE t.doc_id % 100 <> 0
"""


#: synthesized shared-span fixture for the cross_doc_spans gate: a
#: 28-token licensing notice per group (doc_id % 29) whose varying
#: group token sits in the MIDDLE — each constant half is <20 tokens,
#: so cross-group pairs share only under-threshold runs (the first
#: fixture draft put the group token at the edge and every arm pair
#: shared the 22-token constant body: C(72,2) pairs, caught by pair
#: accounting before landing). Arm 1 carries a 15-token prefix (always
#: under threshold); arm 2 appends a varying tail so maximality must
#: stop at the notice. CASE template shared verbatim by the Spark
#: query and the oracle ({S} = engine cast type).
_XDOC_BODY_L = (
    "all rights reserved in this corpus every document carries the "
    "same licensing"
)
_XDOC_BODY_R = (
    "paragraph for testing purposes only and nothing else is repeated "
    "verbatim here"
)
_XDOC_NOTICE = (
    "' begin notice " + _XDOC_BODY_L + " group' || "
    "CAST(doc_id % 29 AS {S}) || ' " + _XDOC_BODY_R + " end'"
)
_XDOC_TEXT_EXPR = (
    "CASE doc_id % 7 "
    "WHEN 0 THEN coalesce(text, '') || " + _XDOC_NOTICE + " "
    "WHEN 1 THEN coalesce(text, '') || ' begin notice " + _XDOC_BODY_L
    + " group' || CAST(doc_id % 29 AS {S}) "
    "WHEN 2 THEN coalesce(text, '') || " + _XDOC_NOTICE + " || "
    "' trailing marker ' || CAST(doc_id AS {S}) "
    "ELSE coalesce(text, '') END"
)


def q_cross_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact substring dedup
    (``dedup.cross_doc_spans``): the train-set criterion — report every
    maximal token span of ≥20 tokens shared between two documents.
    Documents get a synthesized per-group licensing notice appended
    (the realistic source of cross-doc exact spans): arm 0 and arm 2
    docs of the same group share the full 25+-token notice (arm 2 adds
    a varying tail, so maximality must stop the span at the notice),
    arm 1 carries only a 16-token prefix — BELOW the threshold, so any
    arm-1 pair in the output is a threshold bug; random base text
    contributes nothing at ≥20 tokens. The oracle replays the exact
    anchor-join + diagonal-islands algorithm (gram explode → equi-join
    → gaps-and-islands per (pair, diagonal)) in DuckDB. Spans are
    summarized per pair (count, longest, total) to keep the gate row
    count stable.

    The detection's consumer is exercised in the same gate
    (``dedup.cut_token_spans`` — keep the first occurrence, cut every
    reported range from the LATER document): ``n_tokens_b_after`` is
    doc ``id_b``'s token count after ALL its b-side ranges are removed,
    so overlapping-range union, 0-based offset arithmetic, and the
    keep-first policy are value-hashed too (the oracle recounts
    positions not covered by any cut range)."""
    from dataproc_spark.extensions.dedup import (
        cross_doc_spans,
        cut_token_spans,
        tokens,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_XDOC_TEXT_EXPR.format(S="STRING")).alias("text")
    )
    # the span frame feeds both the pair summary and the cut list —
    # checkpoint so the anchor join runs once, not twice
    spans = cross_doc_spans(docs, k=8, min_tokens=20).localCheckpoint()
    summary = spans.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.max("n_tokens").cast("long").alias("longest"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min("start_a").cast("long").alias("first_start_a"),
        F.min("start_b").cast("long").alias("first_start_b"),
    )
    cuts = spans.select(
        F.col("id_b").alias("doc_id"),
        F.col("start_b").alias("start"),
        "n_tokens",
    )
    after = cut_token_spans(docs, cuts).select(
        F.col("doc_id").alias("id_b"),
        F.size(tokens("text_cut")).cast("long").alias("n_tokens_b_after"),
    )
    return summary.join(after, "id_b")


SQL_CROSS_DOC_SPANS = rf"""
WITH synth AS (
    SELECT doc_id, {_XDOC_TEXT_EXPR.format(S="VARCHAR")} AS text
    FROM documents
),
toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS tk
    FROM synth
),
big AS (SELECT * FROM toks WHERE len(tk) >= 8),
-- constant series bound + WHERE (this DuckDB build rejects lateral
-- column args to generate_series); 256 comfortably covers the fixture
-- corpus (base docs cap at 99 tokens + the ~30-token notice)
grams AS (
    SELECT doc_id, gs.p - 1 AS pos,
           array_to_string(tk[gs.p : gs.p + 7], ' ') AS g
    FROM big, generate_series(1, 256) gs(p)
    WHERE gs.p <= len(tk) - 7
),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           a.pos AS pos_a, b.pos AS pos_b
    FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
),
isl AS (
    SELECT id_a, id_b, pos_a - pos_b AS diag, pos_a,
           pos_a - ROW_NUMBER() OVER (
               PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a
           ) AS grp
    FROM pairs
),
spans AS (
    SELECT id_a, id_b, diag,
           min(pos_a) AS start_a,
           count(*) + 7 AS n_tokens
    FROM isl GROUP BY id_a, id_b, diag, grp
),
keep AS (SELECT * FROM spans WHERE n_tokens >= 20),
cuts AS (
    SELECT id_b AS doc_id, start_a - diag AS cs, n_tokens AS cn FROM keep
),
-- token positions covered by ANY cut range (overlaps union), then the
-- after-cut token count per document (docs without cuts keep len(tk))
covered AS (
    SELECT DISTINCT t.doc_id, gs.p - 1 AS p
    FROM toks t, generate_series(1, 256) gs(p)
    JOIN cuts c ON c.doc_id = t.doc_id
    WHERE gs.p <= len(t.tk)
      AND gs.p - 1 >= c.cs AND gs.p - 1 < c.cs + c.cn
),
after AS (
    SELECT t.doc_id,
           len(t.tk) - coalesce(cv.n_cov, 0) AS n_after
    FROM toks t
    LEFT JOIN (
        SELECT doc_id, count(*) AS n_cov FROM covered GROUP BY doc_id
    ) cv USING (doc_id)
)
SELECT k.id_a, k.id_b,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(max(k.n_tokens) AS BIGINT) AS longest,
       CAST(sum(k.n_tokens) AS BIGINT) AS total_tokens,
       CAST(min(k.start_a) AS BIGINT) AS first_start_a,
       CAST(min(k.start_a - k.diag) AS BIGINT) AS first_start_b,
       CAST(any_value(a.n_after) AS BIGINT) AS n_tokens_b_after
FROM keep k JOIN after a ON a.doc_id = k.id_b
GROUP BY k.id_a, k.id_b
"""


# ---------------------------------------------------------------------------
# r12: cross-document repeated-line removal (CCNet-style boilerplate cut)
# ---------------------------------------------------------------------------

#: engine-portable line fixture ({S} = STRING | VARCHAR): the document's
#: own (possibly multi-line) text, a per-doc UNIQUE line (df=1, kept), a
#: footer every document carries (df=N, cut), a class line with df≈N/7
#: (cut at min_docs=4 for every test sf), a BLANK line (exempt by rule),
#: and a pair line with df≈N/250 (kept at sf0.01, cut at larger sf —
#: both engines replay the same data, so the boundary moves together)
_LINE_FIXTURE_EXPR = (
    "coalesce(text, '') || chr(10) || "
    "'u' || CAST(doc_id AS {S}) || chr(10) || "
    "'The footer — subscribe now' || chr(10) || "
    "'promo ' || CAST(doc_id % 7 AS {S}) || chr(10) || chr(10) || "
    "'pair ' || CAST(doc_id % 250 AS {S})"
)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-line removal
    (``dedup.drop_repeated_lines``): the CCNet-style boilerplate cut —
    every line appearing byte-identical in ≥ ``min_docs`` distinct
    documents (nav bars, footers, cookie banners) is removed from ALL
    of them, order preserved, whitespace-only lines exempt. The fixture
    (:data:`_LINE_FIXTURE_EXPR`) plants a unique line, a corpus-wide
    footer, a df≈N/7 class line, a blank line, and a df≈N/250 pair
    line around each document's own text; the oracle replays the whole
    algorithm relationally (unnest → HAVING count(DISTINCT doc_id) →
    list_filter), so a wrong frequency count, a cut blank line, a
    reordered or off-by-one position, or a miscounted drop total
    hash-fails. Plan: the counting passes shuffle only 8-byte xxhash64
    keys and (id, pos) pairs; the cut is a per-row higher-order index
    filter behind one id-join of the drop lists (broadcast when they
    fit — see the operator's 100 TB note)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_LINE_FIXTURE_EXPR.format(S="STRING")).alias("ftext"),
    )
    res = dedup.drop_repeated_lines(docs, min_docs=4, text_col="ftext")
    return res.select("doc_id", "text_clean", "n_lines_dropped")


SQL_LINE_DEDUP = rf"""
WITH src AS (
    SELECT doc_id, {_LINE_FIXTURE_EXPR.format(S="VARCHAR")} AS ftext
    FROM documents
),
ls AS (SELECT doc_id, string_split(ftext, chr(10)) AS lines FROM src),
ex AS (SELECT doc_id, unnest(lines) AS line FROM ls),
bad AS (
    SELECT coalesce(list(line), []) AS bl FROM (
        SELECT line FROM ex
        WHERE NOT regexp_matches(line, '^[\s\x0B\x{{0085}}\p{{Z}}]*$')
        GROUP BY line HAVING count(DISTINCT doc_id) >= 4)
),
out AS (
    SELECT doc_id,
           list_filter(lines,
                       x -> regexp_matches(
                                x, '^[\s\x0B\x{{0085}}\p{{Z}}]*$')
                            OR NOT list_contains(bl, x))
               AS kept,
           len(lines) AS n0
    FROM ls CROSS JOIN bad
)
SELECT doc_id,
       array_to_string(kept, chr(10)) AS text_clean,
       CAST(n0 - len(kept) AS BIGINT) AS n_lines_dropped
FROM out
"""


# --------------------------------------------------------------------------
# r14: perceptual image near-dup (dHash + banded Hamming)
# --------------------------------------------------------------------------

def q_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs (``imagehash.image_dhash`` →
    ``dedup.banded_hamming_pairs``): the image-side dedup a multimodal
    corpus runs — 64-bit difference hash per image, band-bucketed
    candidates, ``bit_count(xor)`` verification. Fixture: 9×8 binary
    PPMs whose pixels ARE the dHash grid (identity resize), with 29
    base patterns, one-cell perturbations per variant, and every 3rd
    variant unperturbed (exact-dup hashes). On the hash: the integer
    luma/box-mean pipeline (here 1:1 pixels), the strict left>right
    comparison bit order, signed-64 packing (via pairwise XOR —
    the oracle recomputes Hamming from the comparison grids, packing-
    free), the pigeonhole-complete candidate set at bands=8 /
    max_hamming=7, and the exact distances. Plan: one Arrow hash
    stage (pixels never shuffle) + the banded (band, bval) self-join
    moving (id, 8-byte hash) rows; all-pairs exists only in the
    DuckDB oracle, which is the point of the comparison."""
    from dataproc_spark.extensions import imagehash

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    media = imagehash.synthesize_cell_ppms(docs)
    return imagehash.image_near_dup(media, bands=8, max_hamming=7)


SQL_IMAGE_DEDUP = """
WITH grid AS (
    SELECT d.doc_id, r.r, c.c,
           (((((d.doc_id % 29) * 2654435761 + r.r * 97 + c.c * 89)
              % 2147483647)
             * (((d.doc_id % 29) * 2654435761 + r.r * 97 + c.c * 89)
              % 2147483647)) % 2147483647) % 200
           + CASE WHEN (d.doc_id // 29) % 3 <> 0
                       AND r.r = (d.doc_id // 29) % 8
                       AND c.c = (d.doc_id // 29) % 9
                  THEN 40 ELSE 0 END AS v
    FROM documents d,
         (SELECT unnest(range(0, 8)) AS r) r,
         (SELECT unnest(range(0, 9)) AS c) c
),
bits AS (
    SELECT a.doc_id, a.r, a.c,
           CASE WHEN a.v > b.v THEN 1 ELSE 0 END AS bit
    FROM grid a JOIN grid b
      ON a.doc_id = b.doc_id AND a.r = b.r AND b.c = a.c + 1
    WHERE a.c < 8
),
pairs AS (
    SELECT x.doc_id AS id_a, y.doc_id AS id_b,
           CAST(SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
                AS INTEGER) AS hamming
    FROM bits x JOIN bits y
      ON x.r = y.r AND x.c = y.c AND x.doc_id < y.doc_id
    GROUP BY x.doc_id, y.doc_id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 7
"""


def q_multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END multimodal corpus construction — the image-side
    analogue of ``crawl_pipeline``, every r14 piece chained as one
    lazy plan: pages render an ``<img>`` per document (arm 0: plain
    alt caption; arm 1: a figure whose figcaption outranks the alt;
    arm 2: alt-LESS next to a ``data-src`` decoy — caption NULL, so
    ``require_caption`` must drop it) → ``extract_images`` →
    ``image_text_pairs`` against a 41-image media store (payloads are
    the deterministic cell-PPMs) → ``image_dhash`` over the joined
    payloads → exact-dup collapse by fingerprint (keeper = min doc_id,
    ``min_by`` caption/url, copy count). On the hash: the caption
    rules, the decoy rejection, the pairing join, the integer dHash
    pipeline, and the collapse arithmetic — the oracle rebuilds the
    64-bit fingerprint as a BIT STRING from the pixel arithmetic and
    groups on it, so even an accidental cross-pattern hash collision
    stays engine-identical. Plan: map-only extraction → ONE broadcast
    media join (payloads ship once) → ONE Arrow hash stage → ONE
    fingerprint-keyed collapse shuffle carrying (hash, id, caption)."""
    from dataproc_spark.core import spread_narrow
    from dataproc_spark.extensions import imagehash, web as webx

    # spread the single-split id scan before the CPU-bound page
    # render → extract_images → pairing chain: profiled as ONE 1.9 s
    # task at sf0.1 (guide §2.5 input skew; only 8-byte ids shuffle)
    docs = spread_narrow(
        _t(spark, sf_dir, "documents").select("doc_id"), "doc_id"
    )
    did = F.col("doc_id").cast("string")
    p = (F.col("doc_id") % 41).cast("string")
    arm = F.col("doc_id") % 3
    img = (
        F.when(arm == 0, F.concat(
            F.lit('<img src="m'), p, F.lit('.ppm" alt="cap '), p,
            F.lit('">')))
        .when(arm == 1, F.concat(
            F.lit('<figure><img src="m'), p,
            F.lit('.ppm" alt="shadowed"><figcaption>fig '), p,
            F.lit("</figcaption></figure>")))
        .otherwise(F.concat(
            F.lit('<img data-src="no.jpg" alt="decoy"><img src="m'),
            p, F.lit('.ppm">')))
    )
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("https://m.example/d/p"), did,
                 F.lit(".html")).alias("url"),
        F.concat(F.lit("<html><body>"), img,
                 F.lit("</body></html>")).alias("html"),
    )
    media = imagehash.synthesize_cell_ppms(
        docs.select((F.col("doc_id") % 41).alias("doc_id")).distinct(),
        groups=41,
        # 41 rows by construction: spreading them to 32 partitions is
        # an exchange + 32 near-empty Arrow tasks for nothing (r15 opt)
        spread=False,
    ).select(
        F.concat(F.lit("https://m.example/d/m"),
                 F.col("media_id").cast("string"),
                 F.lit(".ppm")).alias("url"),
        "payload",
    )
    from dataproc_spark.core import release_cache_on_gc

    # persist the extraction+pairing output: BOTH the dHash branch and
    # the caption join consume `pairs`, and without the pin each branch
    # re-ran the whole render→parse→pair chain (profiled as the two
    # dominant stages of the gate — guide §5, persist exactly the
    # subtree two plan branches share)
    pairs = webx.image_text_pairs(
        webx.extract_images(pages), media,
        require_caption=True, broadcast_media=True,
    ).persist()
    fps = imagehash.image_dhash(
        pairs.select(F.col("doc_id").alias("media_id"), "payload")
    ).select(F.col("media_id").alias("doc_id"), "dhash")
    joined = pairs.select("doc_id", "img_url", "caption").join(
        fps, "doc_id"
    )
    out = joined.groupBy("dhash").agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("img_url", "doc_id").alias("img_url"),
        F.min_by("caption", "doc_id").alias("caption"),
        F.count(F.lit(1)).cast("long").alias("n_copies"),
    ).select("doc_id", "img_url", "caption", "n_copies")
    # pin A/B, sf0.1 on/off: 2.6/3.1 s count, 2.3/3.1 s consume
    return release_cache_on_gc(out, pairs)


SQL_MULTIMODAL_PIPELINE = """
WITH grid AS (
    SELECT p.p, r.r, c.c,
           (((p.p * 2654435761 + r.r * 97 + c.c * 89) % 2147483647)
            * ((p.p * 2654435761 + r.r * 97 + c.c * 89) % 2147483647))
               % 2147483647 % 200 AS v
    FROM (SELECT DISTINCT doc_id % 41 AS p FROM documents) p,
         (SELECT unnest(range(0, 8)) AS r) r,
         (SELECT unnest(range(0, 9)) AS c) c
),
bits AS (
    SELECT a.p,
           string_agg(CASE WHEN a.v > b.v THEN '1' ELSE '0' END, ''
                      ORDER BY a.r, a.c) AS fp
    FROM grid a JOIN grid b
      ON a.p = b.p AND a.r = b.r AND b.c = a.c + 1
    WHERE a.c < 8
    GROUP BY a.p
),
eligible AS (
    SELECT doc_id, doc_id % 41 AS p,
           CASE WHEN doc_id % 3 = 0
                THEN 'cap ' || CAST(doc_id % 41 AS VARCHAR)
                ELSE 'fig ' || CAST(doc_id % 41 AS VARCHAR) END
               AS caption
    FROM documents WHERE doc_id % 3 <> 2
),
tagged AS (
    SELECT e.doc_id, e.caption,
           'https://m.example/d/m' || CAST(e.p AS VARCHAR) || '.ppm'
               AS img_url,
           b.fp
    FROM eligible e JOIN bits b ON b.p = e.p
)
SELECT MIN(doc_id) AS doc_id,
       MIN_BY(img_url, doc_id) AS img_url,
       MIN_BY(caption, doc_id) AS caption,
       CAST(COUNT(*) AS BIGINT) AS n_copies
FROM tagged GROUP BY fp
"""


def q_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate pairs (``imagehash.audio_envelope_hash`` →
    ``dedup.banded_hamming_pairs``): the third modality through the
    one banding core — text (SimHash), images (dHash), audio (envelope
    hash). Fixture: 65-frame mono PCM16 WAVs whose frames ARE the
    envelope windows (identity windowing), 29 quadratic-mix base
    patterns, one-frame +500 perturbations, every 3rd variant
    unperturbed (exact dups). On the hash: the RIFF decode, integer
    mono/abs/floor-mean pipeline, strict comparison bit order, the
    pigeonhole-complete candidate set, and exact distances — the
    oracle recomputes every |sample| comparison arithmetically and
    Hamming-joins all pairs (all-pairs exists only in DuckDB). Plan:
    one Arrow hash stage + the banded (band, bval) self-join moving
    (id, 8-byte hash) rows."""
    from dataproc_spark.extensions import imagehash

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    media = imagehash.synthesize_envelope_wavs(docs)
    return imagehash.audio_near_dup(media, bands=8, max_hamming=7)


SQL_AUDIO_DEDUP = """
WITH grid AS (
    SELECT d.doc_id, k.k,
           ABS((((d.doc_id % 29) * 2654435761 + k.k * 97) % 2147483647)
               * (((d.doc_id % 29) * 2654435761 + k.k * 97) % 2147483647)
               % 2147483647 % 4001 - 2000
               + CASE WHEN (d.doc_id // 29) % 3 <> 0
                           AND k.k = (d.doc_id // 29) % 65
                      THEN 500 ELSE 0 END) AS v
    FROM documents d, (SELECT unnest(range(0, 65)) AS k) k
),
bits AS (
    SELECT a.doc_id, a.k,
           CASE WHEN a.v > b.v THEN 1 ELSE 0 END AS bit
    FROM grid a JOIN grid b
      ON a.doc_id = b.doc_id AND b.k = a.k + 1
    WHERE a.k < 64
),
pairs AS (
    SELECT x.doc_id AS id_a, y.doc_id AS id_b,
           CAST(SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
                AS INTEGER) AS hamming
    FROM bits x JOIN bits y
      ON x.k = y.k AND x.doc_id < y.doc_id
    GROUP BY x.doc_id, y.doc_id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 7
"""


# --------------------------------------------------------------------------
# r15: 256-bit multi-scale dHash — the fingerprint-length scale path
# --------------------------------------------------------------------------

def q_image_dedup_256(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs over the 256-bit MULTI-SCALE dHash
    (``imagehash.image_dhash256`` →
    ``dedup.banded_hamming_pairs_multi``): the longer fingerprint that
    removes the 64-bit parameter ceiling (r14 verdict item — distance
    budget from more bits, not more bands; at bands=16 every band
    still spans 16 bits, the flat-probe regime, while the pigeonhole
    covers hamming <= 15). Fixture: 18×18 arithmetic PPMs
    (``synthesize_scale_ppms``) — REAL multi-pixel floor boxes, so the
    box-boundary/floor-mean arithmetic of all four words (full-image
    horizontal+vertical grids, center-crop horizontal+vertical) is on
    the hash, plus the strict comparisons, the cross-word Hamming sum,
    and pigeonhole completeness at bands=16/max_hamming=15. The oracle
    rebuilds every comparison bit from the pixel formula through
    literal box-boundary tables and takes the ALL-PAIRS Hamming — the
    banded plan must reproduce it exactly. Plan: one Arrow hash stage
    (pixels never shuffle) + the banded (band, bval) self-join moving
    (id, 32-byte fingerprint) rows."""
    from dataproc_spark.extensions import imagehash

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    media = imagehash.synthesize_scale_ppms(docs)
    # returned DIRECTLY: the core already emits hamming as int, and a
    # derived-and-dropped .select() here released the fps cache pin
    # before the action ran (the release_cache_on_gc r8 caveat),
    # recomputing the whole Arrow synth+hash stage for BOTH join
    # branches (r15 opt profile: 3.8 s + 6.3 s duplicate stages)
    return imagehash.image_near_dup_256(media, bands=16, max_hamming=15)


def _scale_ppm_oracle_sql() -> str:
    """SQL_IMAGE_DEDUP_256 generator: the four dHash grids' floor box
    boundaries over the fixed 18×18 fixture as literal VALUES tables,
    the pixel arithmetic of ``synthesize_scale_ppms``, comparison
    bits, and all-pairs Hamming."""
    side, rows, cols, off = 18, 8, 9, 18 // 4
    crop = side // 2

    def bounds(n: int, extent: int, shift: int):
        return [
            (i, shift + i * extent // n, shift + (i + 1) * extent // n)
            for i in range(n)
        ]

    def values(rows_):
        return ", ".join(f"({i}, {lo}, {hi})" for i, lo, hi in rows_)

    # (grid tag, row boundary table, col boundary table, vertical?)
    grids = [
        (0, bounds(rows, side, 0), bounds(cols, side, 0), False),
        (1, bounds(cols, side, 0), bounds(rows, side, 0), True),
        (2, bounds(rows, crop, off), bounds(cols, crop, off), False),
        (3, bounds(cols, crop, off), bounds(rows, crop, off), True),
    ]
    parts = []
    for tag, rb, cb, vert in grids:
        cmp_join = (
            "a.gr = b.gr AND b.gc = a.gc + 1" if not vert
            else "a.gc = b.gc AND b.gr = a.gr + 1"
        )
        lim = (
            f"a.gc < {len(cb) - 1}" if not vert
            else f"a.gr < {len(rb) - 1}"
        )
        parts.append(f"""
cells_{tag} AS (
    SELECT p.doc_id, rb.gr, cb.gc,
           SUM(p.v) // COUNT(*) AS m
    FROM px p
    JOIN (SELECT * FROM (VALUES {values(rb)}) AS t(gr, lo, hi)) rb
      ON p.r >= rb.lo AND p.r < rb.hi
    JOIN (SELECT * FROM (VALUES {values(cb)}) AS t(gc, lo, hi)) cb
      ON p.c >= cb.lo AND p.c < cb.hi
    GROUP BY 1, 2, 3
),
bits_{tag} AS (
    SELECT a.doc_id, {tag} AS gtag, a.gr, a.gc,
           CASE WHEN a.m > b.m THEN 1 ELSE 0 END AS bit
    FROM cells_{tag} a JOIN cells_{tag} b
      ON a.doc_id = b.doc_id AND {cmp_join}
    WHERE {lim}
)""")
        cells = ",\n".join(parts)
    return f"""
WITH px AS (
    SELECT d.doc_id, r.r, c.c,
           (((((d.doc_id % 29) * 2654435761 + r.r * 97 + c.c * 89)
              % 2147483647)
             * (((d.doc_id % 29) * 2654435761 + r.r * 97 + c.c * 89)
              % 2147483647)) % 2147483647) % 200
           + CASE WHEN (d.doc_id // 29) % 3 <> 0
                       AND r.r = (d.doc_id // 29) % {side}
                       AND c.c = (d.doc_id // 29) % {side}
                  THEN 40 ELSE 0 END AS v
    FROM documents d,
         (SELECT unnest(range(0, {side})) AS r) r,
         (SELECT unnest(range(0, {side})) AS c) c
),{cells},
allbits AS (
    SELECT * FROM bits_0 UNION ALL SELECT * FROM bits_1
    UNION ALL SELECT * FROM bits_2 UNION ALL SELECT * FROM bits_3
),
pairs AS (
    SELECT x.doc_id AS id_a, y.doc_id AS id_b,
           CAST(SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END)
                AS INTEGER) AS hamming
    FROM allbits x JOIN allbits y
      ON x.gtag = y.gtag AND x.gr = y.gr AND x.gc = y.gc
         AND x.doc_id < y.doc_id
    GROUP BY x.doc_id, y.doc_id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 15
"""


SQL_IMAGE_DEDUP_256 = _scale_ppm_oracle_sql()


# --------------------------------------------------------------------------
# r15 late wave: incremental near-dup against a persisted MinHash index
# --------------------------------------------------------------------------

def q_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup of an ingestion batch against a PERSISTED signature
    index (``dedup.write_minhash_index`` → ``incremental_near_dup``):
    the corpus slice ``doc_id % 3 != 0`` is indexed once to scratch
    (signatures only — 16 portable md5 mins per doc, no bodies), then
    the ``% 3 == 0`` batch is signed under the index's pinned meta
    parameters, band-joined (4 bands × 4 rows) against the stored
    side, and candidates scored by the MinHash estimate ``matching
    positions × 1000 div 16`` ≥ 250. The oracle recomputes BOTH sides'
    signatures from the documents table with the same md5 family
    (the ``dedup_minhash_portable`` replay), rebuilds the band join
    new-vs-old, and the estimate — so what's on the hash is exactly
    what the index path must preserve through parquet. Plan: the old
    corpus contributes fixed-width signature rows read from the index
    (bodies never touched — the whole point); ONE banded equi-join +
    ONE id join per side for the estimate. Scratch removed before
    returning."""
    import shutil
    import tempfile

    from dataproc_spark.queries.diagnostics import _materialize_and_clean

    docs = _t(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="mhidx_")
    try:
        dedup.write_minhash_index(
            docs.where(F.col("doc_id") % 3 != 0), path,
            num_hashes=16, shingle_size=3, bands=4, portable=True,
        )
        out = dedup.incremental_near_dup(
            docs.where(F.col("doc_id") % 3 == 0), path, threshold_m=250,
        )
    except BaseException:
        shutil.rmtree(path, ignore_errors=True)
        raise
    return _materialize_and_clean(out, path)


SQL_INCREMENTAL_NEAR_DUP = rf"""
WITH {_TOKS_CTE},
sh AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(t) - 1),
               i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS s
    FROM toks WHERE len(t) >= 3
),
sig AS (
    SELECT doc_id,
           list_transform(range(0, 16),
               i -> list_aggregate(
                   list_transform(s, x -> md5(x || '#' || i)), 'min')) AS sg
    FROM sh
),
banded AS (
    SELECT doc_id, b.band AS band,
           md5(array_to_string(
               list_slice(sg, b.band * 4 + 1, b.band * 4 + 4), '|')) AS bhash
    FROM sig, (SELECT unnest(range(0, 4)) AS band) b
),
cand AS (
    SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
    FROM banded n JOIN banded o
      ON n.band = o.band AND n.bhash = o.bhash
    WHERE n.doc_id % 3 = 0 AND o.doc_id % 3 <> 0
      AND n.doc_id <> o.doc_id
),
est AS (
    SELECT c.new_id, c.old_id,
           (len(list_filter(range(1, 17),
                i -> sa.sg[i] = sb.sg[i])) * 1000) // 16 AS est_jaccard_m
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.new_id
    JOIN sig sb ON sb.doc_id = c.old_id
)
SELECT new_id, old_id, CAST(est_jaccard_m AS BIGINT) AS est_jaccard_m
FROM est WHERE est_jaccard_m >= 250
"""
