"""Tokenization / vocabulary / language-model gates: token stats and
quantiles, TF-IDF, BPE merge learning, bigram LM, inverted index, vocab
coverage, token-budget selection.

Split out of ``queries/documents.py`` (r8 — the r7 split guideline caps
query modules at 1,450 lines); registry assembly lives in
``dataproc_spark.queries`` (the package __init__).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from dataproc_spark.core import local_frame
from dataproc_spark.extensions import dedup, textstats
from dataproc_spark.queries._tables import _t

def _cum_hist(feats, group_col: str, value_col: str):
    """(group, value, _c, _cum, _n) cumulative histogram — THE shared
    exact-quantile machinery (r7 review: median_tokens and
    token_quantiles each carried a verbatim copy). Scale-safe: the
    shuffle is bounded by distinct values and the windows sort the tiny
    histogram, never the raw rows (a row_number over a whole language
    would sort its entire corpus on one task at 100 TB)."""
    hist = feats.groupBy(group_col, value_col).agg(
        F.count(F.lit(1)).alias("_c")
    )
    w_cum = Window.partitionBy(group_col).orderBy(value_col)
    w_all = Window.partitionBy(group_col)
    return hist.withColumn("_cum", F.sum("_c").over(w_cum)).withColumn(
        "_n", F.sum("_c").over(w_all)
    )


def _rank_pick(cum):
    """Rows whose cumulative rank range [_cum - _c + 1, _cum] covers the
    target rank ``_k`` — exactly one histogram row per (group, _k)."""
    return cum.where(
        (F.col("_cum") >= F.col("_k"))
        & (F.col("_cum") - F.col("_c") < F.col("_k"))
    )


def q_token_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-quantile profile (p25/p50/p75/p95 of token counts per
    lang) — ``median_tokens`` generalized: ONE histogram aggregate, the
    quantile list exploded over the tiny (lang, value) histogram, each
    quantile picked by rank-range intersection. percentile_disc
    semantics (k = ceil(q·n/100)); raw rows never see a window."""
    docs = _t(spark, sf_dir, "documents")
    feats = docs.select("lang", F.size(dedup.tokens("text")).alias("n_tokens"))
    cum = _cum_hist(feats, "lang", "n_tokens")
    exploded = cum.select(
        "*",
        F.explode(F.array(*[F.lit(x) for x in (25, 50, 75, 95)])).alias("q"),
    ).withColumn("_k", F.expr("(q * _n + 99) div 100"))
    return _rank_pick(exploded).select(
        "lang", "q",
        F.col("n_tokens").alias("value"),
        F.col("_n").alias("n_docs"),
    )


SQL_TOKEN_QUANTILES = r"""
WITH feats AS (
    SELECT lang,
           len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
               AS n_tokens
    FROM documents
),
ranked AS (
    SELECT lang, n_tokens,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_tokens) AS rn,
           COUNT(*) OVER (PARTITION BY lang) AS cnt
    FROM feats
)
SELECT lang, q, CAST(n_tokens AS BIGINT) AS value,
       CAST(cnt AS BIGINT) AS n_docs
FROM ranked, (SELECT unnest([25, 50, 75, 95]) AS q)
WHERE rn = (q * cnt + 99) // 100
"""


def q_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 tokens by frequency (explode → agg → top-k)."""
    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(dedup.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # TakeOrdered limit first, window over the 20 survivors only: a
    # global no-partition row_number window would funnel the entire
    # distinct-token counts table (|vocab| rows at corpus scale) through
    # ONE task to pick 20 rows (r8 follow-up review finding)
    top = counts.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(20)
    w = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    return top.withColumn("rnk", F.row_number().over(w))


SQL_TOKEN_TOPK = r"""
WITH toks AS (
    SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
    FROM documents
),
counts AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY token)
SELECT token, cnt, CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS INTEGER) AS rnk
FROM counts
QUALIFY rnk <= 20
"""


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training
    (``textstats.bpe_learn_merges``): one corpus-sized (word, freq)
    aggregate, then 3 merge rounds of pair-count + argmax on the
    vocabulary table. The oracle replays all three rounds — pair
    explode, frequency argmax with lexicographic tie-break, and the
    sentinel-space replace — as chained CTEs."""
    merges = textstats.bpe_learn_merges(
        _t(spark, sf_dir, "documents"), n_merges=3
    )
    return local_frame(
        spark, merges, "rank int, lhs string, rhs string, pair_freq long"
    )


SQL_BPE_MERGES = r"""
WITH toks AS (
    SELECT unnest(list_filter(string_split_regex(text, '\s+'),
                              x -> x <> '')) AS w
    FROM documents
),
words1 AS (
    SELECT ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS r,
           COUNT(*) AS freq
    FROM toks GROUP BY w
),
p1 AS (
    SELECT s[i] AS a, s[i + 1] AS b, SUM(freq) AS cnt
    FROM (SELECT string_split(trim(r), ' ') AS s, freq FROM words1) t,
         unnest(range(1, len(t.s))) u(i)
    GROUP BY 1, 2
),
b1 AS (SELECT a, b, cnt FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
words2 AS (
    SELECT replace(r, ' ' || b1.a || ' ' || b1.b || ' ',
                   ' ' || b1.a || b1.b || ' ') AS r, freq
    FROM words1, b1
),
p2 AS (
    SELECT s[i] AS a, s[i + 1] AS b, SUM(freq) AS cnt
    FROM (SELECT string_split(trim(r), ' ') AS s, freq FROM words2) t,
         unnest(range(1, len(t.s))) u(i)
    GROUP BY 1, 2
),
b2 AS (SELECT a, b, cnt FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
words3 AS (
    SELECT replace(r, ' ' || b2.a || ' ' || b2.b || ' ',
                   ' ' || b2.a || b2.b || ' ') AS r, freq
    FROM words2, b2
),
p3 AS (
    SELECT s[i] AS a, s[i + 1] AS b, SUM(freq) AS cnt
    FROM (SELECT string_split(trim(r), ' ') AS s, freq FROM words3) t,
         unnest(range(1, len(t.s))) u(i)
    GROUP BY 1, 2
),
b3 AS (SELECT a, b, cnt FROM p3 ORDER BY cnt DESC, a, b LIMIT 1)
SELECT 0 AS rank, a AS lhs, b AS rhs, CAST(cnt AS BIGINT) AS pair_freq FROM b1
UNION ALL
SELECT 1, a, b, CAST(cnt AS BIGINT) FROM b2
UNION ALL
SELECT 2, a, b, CAST(cnt AS BIGINT) FROM b3
"""


def q_salted_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe token frequency: `skew.salted_agg` two-phase aggregation
    (groupBy (token, salt) partials → re-aggregate) for hot tokens, top-20
    by count. The oracle computes the plain single-phase aggregate — a
    value-exact proof that salting is semantics-preserving."""
    from dataproc_spark import skew

    toks = _t(spark, sf_dir, "documents").select(
        F.explode(dedup.tokens("text")).alias("token")
    )
    counts = skew.salted_agg(
        toks, ["token"], {"n": F.count(F.lit(1))}, salt=8
    )
    # same TakeOrdered-then-rank shape as q_token_topk: never a global
    # single-partition window over the full counts table
    top = counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(20)
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return (
        top.withColumn("rnk", F.row_number().over(w))
        .select("token", F.col("n").cast("long").alias("n"), "rnk")
    )


SQL_SALTED_TOKEN_COUNTS = r"""
WITH toks AS (
    SELECT unnest(list_filter(string_split_regex(text, '\s+'),
                              x -> x <> '')) AS token
    FROM documents
),
counts AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY token),
ranked AS (
    SELECT token, n,
           ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS rnk
    FROM counts
)
SELECT token, CAST(n AS BIGINT) AS n, CAST(rnk AS INTEGER) AS rnk
FROM ranked WHERE rnk <= 20
"""


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document (exact-integer tf/df
    surrogate; first 50 docs to keep the gate output bounded)."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    return textstats.tfidf_top_terms(docs, k=3)


SQL_TFIDF_TOPK = r"""
WITH toks AS (
    SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
                                      x -> x <> '')) AS term
    FROM documents WHERE doc_id < 50
),
tf AS (
    SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
),
dfreq AS (
    SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term
),
scored AS (
    SELECT t.doc_id, t.term, t.tf, d.df,
           (t.tf * 1000000) // d.df AS score_m,
           ROW_NUMBER() OVER (
               PARTITION BY t.doc_id
               ORDER BY (t.tf * 1000000) // d.df DESC, t.term ASC
           ) AS rnk
    FROM tf t JOIN dfreq d USING (term)
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(score_m AS BIGINT) AS score_m, CAST(rnk AS INTEGER) AS rnk
FROM scored WHERE rnk <= 3
"""


def q_median_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median (lower median / percentile_disc style): the
    ((n+1) div 2)-th smallest token count per lang. Exact distributed
    quantiles via rank-selection — deterministic, unlike approx sketches;
    the picked *value* is tie-order independent."""
    docs = _t(spark, sf_dir, "documents")
    feats = docs.select("lang", F.size(dedup.tokens("text")).alias("n_tokens"))
    cum = _cum_hist(feats, "lang", "n_tokens").withColumn(
        "_k", F.expr("(_n + 1) div 2")  # lower-median rank
    )
    return _rank_pick(cum).select(
        "lang",
        F.col("n_tokens").alias("median_tokens"),
        F.col("_n").alias("n_docs"),
    )


SQL_MEDIAN_TOKENS = r"""
WITH feats AS (
    SELECT lang,
           len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
               AS n_tokens
    FROM documents
),
ranked AS (
    SELECT lang, n_tokens,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_tokens) AS rn,
           COUNT(*) OVER (PARTITION BY lang) AS cnt
    FROM feats
)
SELECT lang, CAST(n_tokens AS INTEGER) AS median_tokens,
       CAST(cnt AS BIGINT) AS n_docs
FROM ranked WHERE rn = (cnt + 1) // 2
"""


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram language-model table: corpus-wide bigram counts with the
    top-3 continuations per leading token (support ≥ 10). Explode →
    partial+final hash aggregate → partial top-k per w1.

    Shuffle-key audit (r6): unlike ``doc_novelty``/``ngram_jaccard``,
    the (w1, w2) strings ARE the output payload here — hashing the
    grouping key would not narrow the exchange because the strings must
    travel to the reducers anyway. Partial (map-side) aggregation
    already collapses repeats before the shuffle; raw keys are correct.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = dedup.tokens("text")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    counts = (
        docs.select(F.explode(bigrams).alias("bg"))
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= 10)
    )
    w = Window.partitionBy("w1").orderBy(F.col("cnt").desc(), F.col("w2").asc())
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("w1", "w2", F.col("cnt").cast("long").alias("cnt"), "rnk")
    )


SQL_BIGRAM_LM = r"""
WITH toks AS (
    SELECT list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
    FROM documents
),
bg AS (
    SELECT unnest(list_transform(range(1, len(t)),
                  i -> {'w1': t[i], 'w2': t[i + 1]})) AS b
    FROM toks WHERE len(t) >= 2
),
counts AS (
    SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS cnt
    FROM bg GROUP BY b.w1, b.w2 HAVING COUNT(*) >= 10
),
ranked AS (
    SELECT w1, w2, cnt,
           ROW_NUMBER() OVER (
               PARTITION BY w1 ORDER BY cnt DESC, w2 ASC
           ) AS rnk
    FROM counts
)
SELECT w1, w2, CAST(cnt AS BIGINT) AS cnt, CAST(rnk AS INTEGER) AS rnk
FROM ranked WHERE rnk <= 3
"""


def q_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM token budgeting: BPE-style pre-token counts per source."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(textstats.bpe_token_count().cast("long")).alias("sum_bpe_tokens"),
        F.max(textstats.bpe_token_count().cast("long")).alias("max_bpe_tokens"),
    )


SQL_BPE_TOKEN_STATS = """
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))) AS BIGINT) AS sum_bpe_tokens,
       CAST(MAX(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))) AS BIGINT) AS max_bpe_tokens
FROM documents GROUP BY source
"""


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index build (`corpus.inverted_index`): term → (doc, tf,
    sorted 0-based positions) postings, min_tf=2 pruning the singleton
    tail. posexplode → one hash aggregate on the term; the oracle
    re-derives positions with generate_subscripts."""
    from dataproc_spark.extensions import corpus

    return corpus.inverted_index(
        _t(spark, sf_dir, "documents"), min_tf=2
    )


SQL_INVERTED_INDEX = r"""
WITH base AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
    FROM documents
), toks AS (
    SELECT doc_id, unnest(t) AS term, generate_subscripts(t, 1) - 1 AS pos
    FROM base
)
SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf,
       array_to_string(list_sort(list(pos)), ',') AS positions
FROM toks GROUP BY term, doc_id HAVING COUNT(*) >= 2
"""


def q_select_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted corpus selection: keep the highest-quality documents whose
    cumulative token count fits a global training budget (here 20 000
    tokens; quality = alphabetic-character permille, ties by doc_id) —
    the data-selection step between scoring and training.

    Semantics are ONE cumulative window ordered (score desc, doc_id asc);
    the oracle states exactly that. ``analytics.select_under_budget``
    decomposes it scale-safely (histogram running total + per-bucket
    windows — no global sort of raw documents; plan shape pinned by
    test)."""
    from dataproc_spark.extensions.analytics import select_under_budget

    docs = _t(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        F.size(dedup.tokens("text")).cast("long").alias("n_tokens"),
        F.expr(
            "CASE WHEN length(text) > 0 THEN"
            " (length(regexp_replace(text, '[^A-Za-z]', '')) * 1000)"
            " div length(text) ELSE 0 END"
        )
        .cast("long")
        .alias("score_m"),
    )
    return select_under_budget(feats, budget=20_000).withColumnRenamed(
        "cum_weight", "cum_tokens"
    )


SQL_SELECT_TOKEN_BUDGET = r"""
WITH feats AS (
    SELECT doc_id,
           len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
               AS n_tokens,
           CASE WHEN len(text) > 0
                THEN (len(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1000)
                     // len(text)
                ELSE 0 END AS score_m
    FROM documents
),
cum AS (
    -- COALESCE + weight in the order, mirroring the engine's uniform
    -- NULL-weight and tie-determinism policy
    SELECT doc_id, score_m, n_tokens,
           SUM(COALESCE(n_tokens, 0)) OVER (
               ORDER BY score_m DESC, doc_id ASC, n_tokens ASC
               ROWS UNBOUNDED PRECEDING
           ) AS cum_tokens
    FROM feats
)
SELECT doc_id, CAST(score_m AS BIGINT) AS score_m,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM cum WHERE cum_tokens <= 20000
"""


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fit diagnostic: per-source OOV permille against the
    corpus' own top-500 tokens (deterministic vocabulary: count desc,
    token asc). Raw text never shuffles — token counts aggregate
    map-side and the 500-row vocabulary broadcasts."""
    docs = _t(spark, sf_dir, "documents")
    return textstats.vocab_coverage(docs, vocab_size=500)


SQL_VOCAB_COVERAGE = r"""
WITH toks AS (
    SELECT source AS src,
           unnest(list_filter(string_split_regex(text, '\s+'),
                              x -> x <> '')) AS tok
    FROM documents
),
vocab AS (
    SELECT tok FROM toks GROUP BY tok
    ORDER BY COUNT(*) DESC, tok LIMIT 500
)
SELECT src AS source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) FILTER (tok NOT IN (SELECT tok FROM vocab))
            AS BIGINT) AS n_oov,
       CAST(COUNT(*) FILTER (tok NOT IN (SELECT tok FROM vocab)) * 1000
            // COUNT(*) AS BIGINT) AS oov_m
FROM toks GROUP BY src
"""


def q_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE apply pass (``textstats.bpe_apply``): learn 3 merge rules
    from the corpus (``bpe_learn_merges``), then apply them corpus-wide
    with the map-only Arrow kernel and report the per-document
    learned-vocabulary token count next to the whitespace surrogate —
    the loop-closer that re-bases token budgeting on real BPE counts
    (``select_under_budget`` / ``pack_greedy`` are weight-column-generic
    and consume ``n_bpe_tokens`` directly). The oracle re-learns the
    same 3 rules (the ``bpe_merges`` CTE chain) and replays the apply
    per document with the same non-overlapping ``replace``."""
    docs = _t(spark, sf_dir, "documents")
    merges = textstats.bpe_learn_merges(docs, n_merges=3)
    return (
        textstats.bpe_apply(docs.select("doc_id", "text"), merges)
        .select(
            "doc_id",
            textstats.token_count().cast("long").alias("n_ws_tokens"),
            "n_bpe_tokens",
        )
    )


SQL_BPE_APPLY = r"""
WITH toks AS (
    SELECT unnest(list_filter(string_split_regex(text, '\s+'),
                              x -> x <> '')) AS w
    FROM documents
),
words1 AS (
    SELECT ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS r,
           COUNT(*) AS freq
    FROM toks GROUP BY w
),
p1 AS (
    SELECT s[i] AS a, s[i + 1] AS b, SUM(freq) AS cnt
    FROM (SELECT string_split(trim(r), ' ') AS s, freq FROM words1) t,
         unnest(range(1, len(t.s))) u(i)
    GROUP BY 1, 2
),
b1 AS (SELECT a, b FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
words2 AS (
    SELECT replace(r, ' ' || b1.a || ' ' || b1.b || ' ',
                   ' ' || b1.a || b1.b || ' ') AS r, freq
    FROM words1, b1
),
p2 AS (
    SELECT s[i] AS a, s[i + 1] AS b, SUM(freq) AS cnt
    FROM (SELECT string_split(trim(r), ' ') AS s, freq FROM words2) t,
         unnest(range(1, len(t.s))) u(i)
    GROUP BY 1, 2
),
b2 AS (SELECT a, b FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
words3 AS (
    SELECT replace(r, ' ' || b2.a || ' ' || b2.b || ' ',
                   ' ' || b2.a || b2.b || ' ') AS r, freq
    FROM words2, b2
),
p3 AS (
    SELECT s[i] AS a, s[i + 1] AS b, SUM(freq) AS cnt
    FROM (SELECT string_split(trim(r), ' ') AS s, freq FROM words3) t,
         unnest(range(1, len(t.s))) u(i)
    GROUP BY 1, 2
),
b3 AS (SELECT a, b FROM p3 ORDER BY cnt DESC, a, b LIMIT 1),
docw AS (
    SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'),
                                      x -> x <> '')) AS w
    FROM documents
),
d0 AS (
    SELECT doc_id,
           ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS r
    FROM docw
),
d1 AS (SELECT doc_id, replace(r, ' ' || b1.a || ' ' || b1.b || ' ',
                              ' ' || b1.a || b1.b || ' ') AS r
       FROM d0, b1),
d2 AS (SELECT doc_id, replace(r, ' ' || b2.a || ' ' || b2.b || ' ',
                              ' ' || b2.a || b2.b || ' ') AS r
       FROM d1, b2),
d3 AS (SELECT doc_id, replace(r, ' ' || b3.a || ' ' || b3.b || ' ',
                              ' ' || b3.a || b3.b || ' ') AS r
       FROM d2, b3),
cnt AS (
    SELECT doc_id,
           SUM(len(string_split_regex(trim(r), ' +'))) AS n_bpe
    FROM d3 GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(list_filter(string_split_regex(d.text, '\s+'),
                            x -> x <> '')) AS BIGINT) AS n_ws_tokens,
       CAST(coalesce(cnt.n_bpe, 0) AS BIGINT) AS n_bpe_tokens
FROM documents d LEFT JOIN cnt USING (doc_id)
"""


def q_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring: learn a bigram LM from the corpus
    (support >= 3), then score every document's mean bigram surprisal in
    exact integer micro-units. The learn/apply pair to ``bigram_lm`` the
    way ``bpe_apply`` pairs with ``bpe_merges``."""
    docs = _t(spark, sf_dir, "documents")
    lm = textstats.bigram_lm_counts(docs, min_count=3)
    return textstats.lm_surprisal(docs, lm)


SQL_LM_SURPRISAL = r"""
WITH toks AS (
    SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
                               x -> x <> '') AS t
    FROM documents
),
pairs AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t)),
                  i -> {'w1': t[i], 'w2': t[i + 1]})) AS b
    FROM toks WHERE len(t) >= 2
),
bg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM pairs),
lm AS (
    SELECT w1, w2, COUNT(*) AS cnt2
    FROM bg GROUP BY w1, w2 HAVING COUNT(*) >= 3
),
tot AS (SELECT w1, SUM(cnt2) AS cnt1 FROM lm GROUP BY w1),
lmj AS (SELECT l.w1, l.w2, l.cnt2, t.cnt1 FROM lm l JOIN tot t USING (w1)),
scored AS (
    SELECT g.doc_id,
           CASE WHEN l.cnt2 IS NOT NULL
                THEN (l.cnt1 * 1000000) // l.cnt2
                ELSE 100000000 END AS s,
           CASE WHEN l.cnt2 IS NULL THEN 1 ELSE 0 END AS oov
    FROM bg g LEFT JOIN lmj l ON g.w1 = l.w1 AND g.w2 = l.w2
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(oov) AS BIGINT) AS n_oov,
       CAST(SUM(s) // COUNT(*) AS BIGINT) AS avg_surprise_m
FROM scored GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# r14: hashed-ngram linear document scoring (classify.score_documents)
# --------------------------------------------------------------------------

def q_doc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based document scoring (``classify.hashed_ngram_buckets``
    / ``score_documents`` / ``predict_label``): the fastText-style
    hashed unigram+bigram linear classifier a curation pipeline runs
    between heuristic filters and training. The model is derived
    DETERMINISTICALLY from the corpus itself so the oracle can rebuild
    it: per md5 bucket (512 buckets — small on purpose, so genuine
    hash collisions are ON the hash), label 'len' weighs the summed
    length of the distinct grams in the bucket and label 'vow' their
    summed vowel count; bias 3 on 'len' exercises the n_feats-scaled
    bias arm. Output: one row per (doc, label) with the exact-integer
    score plus the per-doc argmax label (tie → label ASC). On the
    hash: lowercasing, term-frequency (duplicates kept), the per-arity
    bucket salts, collision-merged weights, empty-doc zero rows, and
    integer bias scaling. Plan: map-only featurization; ONE broadcast
    weights join; per-(doc,label) sums complete map-side."""
    from dataproc_spark.extensions import classify
    from dataproc_spark.extensions.approx import _md5_mod

    n_buckets = 512
    # spread the scan before the CPU-heavy per-gram md5 stages: the
    # corpus parquet arrives in O(files) partitions (2 at the 10×
    # probe) and featurization+derivation would run that narrow —
    # measured 74 s vs 16 s at 10×. One small shuffle of (id, text)
    # rows; values unchanged. At 100 TB the scan is already wide and
    # maxPartitionBytes owns this; the repartition is a no-op cost.
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    low = F.lower(F.coalesce(F.col("text"), F.lit("")))
    toks = F.filter(F.split(low, r"\s+"), lambda x: x != F.lit(""))
    bigs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # ONE tokenize+explode+distinct pass for both arities (r15 opt,
    # guide §2.4): the old per-arity branches each scanned the corpus
    # and paid their own distinct Exchange; tagging each gram with its
    # arity and distinct-ing (arity, g) once yields the same per-arity
    # distinct sets — a unigram and bigram spelling can only collide
    # WITH its arity tag, exactly as in the two-branch union — while
    # halving the corpus scans (2 Exchange → 1). md5 runs after the
    # distinct, once per surviving gram, per-arity salt preserved.
    grams = docs.select(
        F.explode(
            F.concat(
                F.transform(
                    toks,
                    lambda t: F.struct(
                        F.lit("u").alias("a"), t.alias("g")
                    ),
                ),
                F.transform(
                    bigs,
                    lambda t: F.struct(
                        F.lit("b").alias("a"), t.alias("g")
                    ),
                ),
            )
        ).alias("e")
    ).select("e.a", "e.g").distinct()
    vocab = grams.select(
        "g",
        F.when(
            F.col("a") == "u", _md5_mod(F.col("g"), "#ftzu", n_buckets)
        )
        .otherwise(_md5_mod(F.col("g"), "#ftzb", n_buckets))
        .alias("bucket"),
    )
    vowels = F.length(F.col("g")) - F.length(
        F.regexp_replace(F.col("g"), "[aeiou]", "")
    )
    weights_plan = (
        vocab.select(F.lit("len").alias("label"), "bucket",
                     F.length("g").alias("_w"))
        .unionAll(vocab.select(F.lit("vow").alias("label"), "bucket",
                               vowels.alias("_w")))
        .groupBy("label", "bucket")
        .agg(F.sum("_w").cast("long").alias("w"))
    )
    # MATERIALIZE the derived model (≤ 2×512 rows): score_documents
    # references the weights frame twice, and as a live plan the
    # whole-corpus distinct re-executed per reference — a measured 24×
    # blowup at the 10× probe. A real deployment loads the model as a
    # table anyway; collect-and-recreate reproduces that honestly.
    weights = local_frame(
        spark, weights_plan.collect(), "label string, bucket long, w long"
    )
    scores = classify.score_documents(
        docs, weights, n_buckets=n_buckets, bias={"len": 3},
        labels=["len", "vow"],
    ).persist()  # read twice: the output rows and the argmax join
    pred = classify.predict_label(scores).select(
        "doc_id", F.col("label").alias("pred_label")
    )
    return scores.join(pred, "doc_id").select(
        "doc_id", "label", "n_feats", "score", "pred_label"
    )


SQL_DOC_SCORE = r"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(coalesce(text, '')),
                                          '\s+'),
                       x -> x <> '') AS t
    FROM documents
),
uni AS (SELECT doc_id, unnest(t) AS g FROM toks),
bi AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t)),
                                 i -> t[i] || ' ' || t[i + 1])) AS g
    FROM toks WHERE len(t) >= 2
),
feats AS (
    SELECT doc_id, g,
           CAST('0x' || substr(md5(g || '#ftzu'), 1, 8) AS BIGINT)
               % 512 AS bucket
    FROM uni
    UNION ALL
    SELECT doc_id, g,
           CAST('0x' || substr(md5(g || '#ftzb'), 1, 8) AS BIGINT)
               % 512 AS bucket
    FROM bi
),
vocab AS (SELECT DISTINCT g, bucket FROM feats),
wts AS (
    SELECT 'len' AS label, bucket, CAST(SUM(length(g)) AS BIGINT) AS w
    FROM vocab GROUP BY bucket
    UNION ALL
    SELECT 'vow' AS label, bucket,
           CAST(SUM(length(g)
                    - length(regexp_replace(g, '[aeiou]', '', 'g')))
                AS BIGINT) AS w
    FROM vocab GROUP BY bucket
),
nf AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c FROM feats
       GROUP BY doc_id),
base AS (
    SELECT d.doc_id, l.label, COALESCE(nf.c, 0) AS n_feats
    FROM documents d
    CROSS JOIN (VALUES ('len'), ('vow')) AS l(label)
    LEFT JOIN nf ON nf.doc_id = d.doc_id
),
dots AS (
    SELECT f.doc_id, w.label, CAST(SUM(w.w) AS BIGINT) AS dot
    FROM feats f JOIN wts w USING (bucket)
    GROUP BY f.doc_id, w.label
),
scores AS (
    SELECT b.doc_id, b.label, b.n_feats,
           COALESCE(d.dot, 0)
               + CASE WHEN b.label = 'len' THEN 3 * b.n_feats
                      ELSE 0 END AS score
    FROM base b
    LEFT JOIN dots d ON d.doc_id = b.doc_id AND d.label = b.label
),
pred AS (
    SELECT doc_id, label AS pred_label
    FROM (SELECT doc_id, label,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, label ASC) AS rk
          FROM scores)
    WHERE rk = 1
)
SELECT s.doc_id, s.label, s.n_feats, CAST(s.score AS BIGINT) AS score,
       p.pred_label
FROM scores s JOIN pred p USING (doc_id)
"""


# --------------------------------------------------------------------------
# r15: NB trainer — the producer half of the train → export → score loop
# --------------------------------------------------------------------------

def q_nb_train_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive-Bayes training + scoring loop closure
    (``classify.train_nb_weights`` → ``score_documents`` →
    ``predict_label``): train a Laplace-smoothed multinomial NB
    language classifier ON the corpus (label = ``lang``, hashed
    unigram+bigram features, 512 buckets so collisions are on the
    hash), export the quantized model, and score every document under
    it — the exact loop a curation pipeline runs (r14 verdict gap:
    the repo could consume weights but not produce them). Every weight
    is integer via the Mitchell fixed-point log2
    (``classify.quantized_log2``), so the oracle replays training AND
    scoring arithmetically — counts, ``Q(cnt+1)`` weights, the
    ``-Q(tot + aV)`` per-feature bias, the ``Q(n_docs)`` prior
    intercept, and the argmax. Output: one row per (doc, label) with
    the exact score plus the per-doc argmax (tie → label ASC).
    Plan: featurize map-only; ONE (label, bucket) agg with map-side
    combine trains the model (bounded by labels × buckets, never by
    corpus size); the model is materialized like any export; scoring
    is the doc_score plan (broadcast weights join, map-side sums)."""
    from dataproc_spark.extensions import classify

    from dataproc_spark.core import release_cache_on_gc

    n_buckets = 512
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    # featurize ONCE (r15 opt round 2, classify.ngram_features seam):
    # train aggregates the (label, _bucket) projection, scoring joins
    # the (doc_id, _bucket) projection — the tokenize+md5 pass is the
    # dominant map cost and used to run twice. The repartition spreads
    # the single-split corpus scan across cores for the one kernel pass.
    from dataproc_spark.core import spread_narrow

    feats = classify.ngram_features(
        spread_narrow(
            docs.select("doc_id", F.col("lang").alias("label"), "text"),
            "doc_id", target_bytes=128 << 10,
        ),
        ["doc_id", "label"], n_buckets=n_buckets,
    ).persist()
    w_plan, bias, icpt = classify.train_nb_weights(
        docs.select(F.col("lang").alias("label"), "text"),
        n_buckets=n_buckets, features=feats,
    )
    # materialize the trained model (≤ labels × 512 rows): the scorer
    # references its weights twice — the doc_score 24× lesson
    weights = local_frame(
        spark, w_plan.collect(), "label string, bucket long, w long"
    )
    scores = classify.score_documents(
        docs, weights, n_buckets=n_buckets,
        bias=bias, intercept=icpt, labels=sorted(bias), features=feats,
    )
    pred = classify.predict_label(scores).select(
        "doc_id", F.col("label").alias("pred_label")
    )
    out = scores.join(pred, "doc_id").select(
        "doc_id", "label", "n_feats", "score", "pred_label"
    )
    # pin A/B on/off (± IQR of on runs, 6 pairs): feats sf0.1 3.19/3.59
    # ±0.32 s count. scores is not persisted: no cell slower off (sf0.1
    # 3.79/2.73 ±0.65 s count, 3.99/3.52 ±1.09 s consume; 10x 8.75/6.37
    # ±1.12 s count, 9.94/10.14 ±1.68 s consume)
    return release_cache_on_gc(out, feats)


def _sql_q(c: str, scale: int = 4096) -> str:
    """The Mitchell fixed-point log2 (classify.quantized_log2) as a
    DuckDB expression over a BIGINT expression ``c`` >= 1."""
    e = f"(length(bin({c})) - 1)"
    p = f"(CAST(1 AS BIGINT) << {e})"
    return f"({scale} * {e} + (({c} - {p}) * {scale}) // {p})"


SQL_NB_TRAIN_SCORE = r"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(coalesce(text, '')),
                                          '\s+'),
                       x -> x <> '') AS t
    FROM documents
),
uni AS (SELECT doc_id, unnest(t) AS g FROM toks),
bi AS (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t)),
                                 i -> t[i] || ' ' || t[i + 1])) AS g
    FROM toks WHERE len(t) >= 2
),
feats AS (
    SELECT doc_id,
           CAST('0x' || substr(md5(g || '#ftzu'), 1, 8) AS BIGINT)
               % 512 AS bucket
    FROM uni
    UNION ALL
    SELECT doc_id,
           CAST('0x' || substr(md5(g || '#ftzb'), 1, 8) AS BIGINT)
               % 512 AS bucket
    FROM bi
),
lab AS (SELECT doc_id, lang AS label FROM documents),
counts AS (
    SELECT l.label, f.bucket, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM feats f JOIN lab l USING (doc_id) GROUP BY 1, 2
),
wts AS (
    SELECT label, bucket, CAST(__Q_CNT__ AS BIGINT) AS w FROM counts
),
tot AS (SELECT label, CAST(SUM(cnt) AS BIGINT) AS t FROM counts
        GROUP BY 1),
nd AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n FROM lab GROUP BY 1),
stats AS (
    SELECT nd.label,
           CAST(-(__Q_TOT__) AS BIGINT) AS bias,
           CAST(__Q_ND__ AS BIGINT) AS icpt
    FROM nd JOIN tot USING (label)
),
nf AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS c FROM feats
       GROUP BY 1),
base AS (
    SELECT d.doc_id, s.label, COALESCE(nf.c, 0) AS n_feats,
           s.bias, s.icpt
    FROM documents d
    CROSS JOIN stats s
    LEFT JOIN nf ON nf.doc_id = d.doc_id
),
dots AS (
    SELECT f.doc_id, w.label, CAST(SUM(w.w) AS BIGINT) AS dot
    FROM feats f JOIN wts w USING (bucket)
    GROUP BY 1, 2
),
scores AS (
    SELECT b.doc_id, b.label, b.n_feats,
           COALESCE(d.dot, 0) + b.n_feats * b.bias + b.icpt AS score
    FROM base b
    LEFT JOIN dots d ON d.doc_id = b.doc_id AND d.label = b.label
),
pred AS (
    SELECT doc_id, label AS pred_label
    FROM (SELECT doc_id, label,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, label ASC) AS rk
          FROM scores)
    WHERE rk = 1
)
SELECT s.doc_id, s.label, s.n_feats, CAST(s.score AS BIGINT) AS score,
       p.pred_label
FROM scores s JOIN pred p USING (doc_id)
""".replace("__Q_CNT__", _sql_q("(cnt + 1)")) \
   .replace("__Q_TOT__", _sql_q("(t + 512)")) \
   .replace("__Q_ND__", _sql_q("n"))


def q_nb_model_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model persistence roundtrip (``classify.write_nb_model`` /
    ``read_nb_model`` / ``score_with_nb_model``): the EXPORT word in
    the train → export → score loop — train the same lang model as
    ``nb_train_score``, persist it (weights/labels/meta layout),
    reload, and score THROUGH the model directory with featurization
    parameters taken from its meta table. Output is bit-identical to
    scoring in-session, so the oracle is the same replayed
    training+scoring SQL — any serialization loss (weights row drift,
    quantization, meta parameter mismatch, label table truncation)
    hash-fails. Scratch model removed before returning."""
    import shutil
    import tempfile

    from dataproc_spark.extensions import classify
    from dataproc_spark.queries.diagnostics import _materialize_and_clean

    n_buckets = 512
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    w_plan, bias, icpt = classify.train_nb_weights(
        docs.select(F.col("lang").alias("label"), "text"),
        n_buckets=n_buckets,
    )
    out = tempfile.mkdtemp(prefix="nbmodel_")
    try:
        classify.write_nb_model(
            w_plan, bias, icpt, out, n_buckets=n_buckets,
        )
    except BaseException:
        shutil.rmtree(out, ignore_errors=True)
        raise
    scores = classify.score_with_nb_model(docs, out).persist()
    pred = classify.predict_label(scores).select(
        "doc_id", F.col("label").alias("pred_label")
    )
    res = scores.join(pred, "doc_id").select(
        "doc_id", "label", "n_feats", "score", "pred_label"
    )
    return _materialize_and_clean(res, out)


#: persistence must be lossless, so the oracle IS the in-session one
SQL_NB_MODEL_ROUNDTRIP = SQL_NB_TRAIN_SCORE


# --------------------------------------------------------------------------
# r15 late wave: corpus drift (per-token JSD contributions)
# --------------------------------------------------------------------------

def q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-drift report (``corpus.token_drift``): the English
    slice vs the rest of the corpus as two "snapshots", per-token
    Jensen–Shannon contributions in exact ppm·Q integer units (the
    Mitchell fixed-point log2 again — training, scoring, and now
    drift all share one replayable log), top 40 by contribution.
    Language split so the drift signal is real (disjoint vocab
    dominates the top). The oracle replays counts → ppm shares →
    Q-difference terms → ranking. Plan: two map-side-combined token
    aggregates + ONE full-outer join + broadcast totals + partial
    top-k; documents scanned once per side."""
    from dataproc_spark.extensions import corpus as corpusx

    docs = _t(spark, sf_dir, "documents")
    return corpusx.token_drift(
        docs.where(F.col("lang") == "en"),
        docs.where(F.col("lang") != "en"),
        top_k=40,
    )


def _sql_drift_term(own: str, other: str) -> str:
    q2 = _sql_q(f"(2 * {own})")
    qm = _sql_q(f"({own} + {other})")
    return f"CASE WHEN {own} > 0 THEN {own} * ({q2} - {qm}) ELSE 0 END"


SQL_CORPUS_DRIFT = rf"""
WITH ca AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS a_cnt
    FROM (SELECT unnest(list_filter(string_split_regex(text, '\s+'),
                                    x -> x <> '')) AS token
          FROM documents WHERE lang = 'en')
    GROUP BY token
),
cb AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS b_cnt
    FROM (SELECT unnest(list_filter(string_split_regex(text, '\s+'),
                                    x -> x <> '')) AS token
          FROM documents WHERE lang <> 'en')
    GROUP BY token
),
tot AS (
    -- CAST the totals back to BIGINT: DuckDB's SUM(BIGINT) is HUGEINT
    -- (INT128), which propagates through `//` into the p_ppm/q_ppm
    -- OUTPUT columns — numerically identical to Spark's int64 but a
    -- different result type (decimal128 via Arrow, float64 via
    -- pandas), which hash-fails a value-exact checker even though
    -- every value matches (r15 driver: rows ok, hash mismatch).
    SELECT CAST((SELECT SUM(a_cnt) FROM ca) AS BIGINT) AS ta,
           CAST((SELECT SUM(b_cnt) FROM cb) AS BIGINT) AS tb
),
j AS (
    SELECT COALESCE(ca.token, cb.token) AS token,
           COALESCE(a_cnt, 0) AS a_cnt, COALESCE(b_cnt, 0) AS b_cnt,
           CAST((COALESCE(a_cnt, 0) * 1000000) // tot.ta AS BIGINT) AS p_ppm,
           CAST((COALESCE(b_cnt, 0) * 1000000) // tot.tb AS BIGINT) AS q_ppm
    FROM ca FULL OUTER JOIN cb ON ca.token = cb.token, tot
)
SELECT token, a_cnt, b_cnt, p_ppm, q_ppm,
       CAST(({_sql_drift_term('p_ppm', 'q_ppm')})
            + ({_sql_drift_term('q_ppm', 'p_ppm')}) AS BIGINT) AS contrib_q
FROM j
ORDER BY contrib_q DESC, token ASC
LIMIT 40
"""


# --------------------------------------------------------------------------
# r15 late wave: BM25 ranked retrieval
# --------------------------------------------------------------------------

#: the fixed BM25 query battery (vocabulary-realistic term sets; term
#: sets, not bags — the operator deduplicates)
_BM25_QUERIES = [
    (0, ["hash", "join"]),
    (1, ["scan", "filter", "batch"]),
    (2, ["vector", "spark", "data"]),
]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (``textstats.bm25_topk``): top-10
    documents per query for a fixed 3-query battery over the documents
    table — Lucene-form non-negative idf via the Mitchell fixed-point
    log2, permille tf saturation with the doc-length ratio computed by
    integer division (avgdl never exists as a float), rank ties →
    doc_id ASC. The oracle replays tokenization, tf/df/dl aggregates,
    the corpus scalars, both Q terms, every div, and the ranking.
    Plan: ONE tokenize feeding the tf aggregate; df reduces FROM tf;
    query terms + idf broadcast; ONE (qid, doc) score aggregate with
    partial top-k."""
    from dataproc_spark.extensions import textstats

    docs = _t(spark, sf_dir, "documents")
    queries = local_frame(
        spark, _BM25_QUERIES, "qid long, terms array<string>"
    )
    ranked = textstats.bm25_topk(docs, queries, k=10)
    # pin_lineage keeps bm25's tf pin (its A/B: textstats.bm25_topk)
    # alive past the select, for the driver's action
    from dataproc_spark.core import pin_lineage

    return pin_lineage(
        ranked.select(
            "qid", F.col("id").alias("doc_id"), "score_q", "rank"
        ),
        ranked,
    )


def _sql_bm25() -> str:
    q_idf = (f"({_sql_q('(2 * st.n + 2)')}) - ({_sql_q('(2 * df.df + 1)')})")
    qrows = ", ".join(
        f"({qid}, '{t}')" for qid, terms in _BM25_QUERIES
        for t in sorted(set(terms))
    )
    return rf"""
WITH toks AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(text, '\s+'),
                              x -> x <> '')) AS term
    FROM documents
),
tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM toks GROUP BY doc_id, term
),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf
       GROUP BY doc_id),
st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(dl) AS BIGINT) AS total FROM dl),
df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf
       GROUP BY term),
idf AS (
    SELECT df.term, CAST({q_idf} AS BIGINT) AS idf_q
    FROM df, st
),
qt AS (SELECT * FROM (VALUES {qrows}) AS v(qid, term)),
parts AS (
    SELECT qt.qid, tf.doc_id,
           idf.idf_q,
           (tf.tf * 2200 * 1000) //
           (tf.tf * 1000 +
            (1200 * (250 + (750 * ((dl.dl * st.n * 1000) // st.total))
                            // 1000)) // 1000) AS tf_part_m
    FROM tf
    JOIN qt ON qt.term = tf.term
    JOIN idf ON idf.term = tf.term
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN st
),
scored AS (
    SELECT qid, doc_id, CAST(SUM(idf_q * tf_part_m) AS BIGINT) AS score_q
    FROM parts GROUP BY qid, doc_id
)
SELECT CAST(qid AS BIGINT) AS qid, doc_id, score_q,
       CAST(rank AS INT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                   ORDER BY score_q DESC, doc_id ASC) AS rank
      FROM scored)
WHERE rank <= 10
"""


SQL_BM25_TOPK = _sql_bm25()
