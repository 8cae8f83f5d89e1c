"""Profiling, validation, sketches, graph, and storage-layout gates.

Split out of the monolithic queries.py (r7); registry assembly lives in
``dataproc_spark.queries`` (the package __init__).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from dataproc_spark.extensions import dedup

# ---------------------------------------------------------------------------
# table access
# ---------------------------------------------------------------------------

from dataproc_spark.queries._tables import _t, rev_cents  # noqa: F401


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (``graph.triangle_count``) over the
    deterministic exact-Jaccard similarity graph — the cohesion metric
    for dedup clusters (a clique-ish cluster is a confident duplicate
    group; a sparse star is LSH noise). Oriented wedge join + closing
    edge, no cartesian; the oracle repeats the same two equi-joins over
    the identical pair CTE."""
    from dataproc_spark.extensions import graph

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        docs, n=3, min_shared=2, jaccard_threshold_m=100
    )
    # pin_lineage keeps pairs' shingle pin alive for the lazy wedge
    # joins (A/B with the persist off: 7.5/9.6 s count, 8.2/12.6 s
    # consume at sf0.1)
    from dataproc_spark.core import pin_lineage

    return pin_lineage(
        graph.triangle_count(pairs, src="id_a", dst="id_b"), pairs
    )


SQL_TRIANGLE_COUNT = r"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
    FROM documents
),
sh AS (
    SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(t) >= 3
             THEN list_transform(range(1, len(t) - 1),
                                 i -> array_to_string(list_slice(t, i, i + 2), ' '))
             ELSE [] END)) AS s
    FROM toks
),
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
tri AS (
    SELECT e1.id_a AS x, e1.id_b AS y, e2.id_b AS z
    FROM pairs e1
    JOIN pairs e2 ON e2.id_a = e1.id_b
    JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (SELECT unnest([x, y, z]) AS node FROM tri)
GROUP BY node
"""


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnosis for a join/aggregation key — measure BEFORE
    mitigating: top keys by row count with integer share-permille, the
    key-space skew factor ``max_count · n_keys · 1000 div total``
    (1000 = perfectly uniform), the key's share of SELF-JOIN pair work
    ``cnt(cnt−1)/2`` in permille, and a recommendation column derived
    from the r7 salting A/B (SCALE.md §salting A/B): explicit salting
    measured a 0–10 % LOSS wherever AQE's skew split applies, while the
    stop-key cut (``max_df``) measured 26× on a key dominating the
    self-join pair volume. So: ``cut-or-split`` when one key holds the
    majority (≥ 500 ‰) of pair work — drop it (max_df) or split the
    cell; ``salted-agg`` only for aggregation keys at extreme imbalance
    (the key's own count ≥ 4× the uniform share — where a final-shuffle
    straggler, not a join, is the bottleneck); else ``aqe-default``.
    One aggregate + one tiny top-k; pair arithmetic through
    DECIMAL(38,0)/HUGEINT (cnt² wraps 64-bit past cnt ≈ 3·10⁹)."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    wall = Window.partitionBy()
    enriched = (
        counts.withColumn("_total", F.sum("cnt").over(wall))
        .withColumn("_nk", F.count(F.lit(1)).over(wall))
        .withColumn("_mx", F.max("cnt").over(wall))
        .withColumn(
            # n(n-1)/2 WITHOUT the BIGINT `div`: Spark's `div` always
            # computes in 64-bit even on decimal operands, so the old
            # "decimal(38,0) ... div 2" silently wrapped past
            # cnt ≈ 3e9 — the exact regime the decimal cast claimed to
            # protect (r8 review, verified live vs DuckDB HUGEINT).
            # One of n, n-1 is even, so halve the even factor FIRST in
            # long arithmetic and multiply in decimal — exact.
            "_pairs",
            F.expr(
                "CASE WHEN cnt % 2 = 0 "
                "THEN cast(cnt div 2 as decimal(38,0))"
                "     * cast(cnt - 1 as decimal(38,0)) "
                "ELSE cast(cnt as decimal(38,0))"
                "     * cast((cnt - 1) div 2 as decimal(38,0)) END"
            ),
        )
        .withColumn("_tpairs", F.sum("_pairs").over(wall))
        # EXACT decimal floor via the remainder identity: a plain
        # floor(p*1000/t) rounds HALF_UP at the division's result scale
        # BEFORE floor, so a ratio within 5e-7 below an integer came out
        # one high vs DuckDB's HUGEINT `//` (confirmed live; reachable
        # once a key holds ~2000 rows — r8 follow-up review finding).
        # (a - a % t) / t is remainder-free, so no rounding exists.
        # Exact up to _pairs ≈ 1e35; past that ANSI decimal overflow
        # fails LOUDLY instead of wrapping.
        .withColumn(
            "_sj",
            F.expr(
                "CASE WHEN _tpairs = 0 THEN cast(0 as bigint) ELSE "
                "cast((_pairs * 1000 - (_pairs * 1000) % _tpairs)"
                " / _tpairs as bigint) END"
            ),
        )
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("event_type"))
    return (
        enriched.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "rank",
            F.col("event_type").alias("key"),
            "cnt",
            # decimal remainder-identity floors: the plain 64-bit `div`
            # forms wrapped silently once mx*nk*1000 passed 2^63 — the
            # exact skewed-at-scale inputs this diagnostic exists for
            F.expr(
                "cast((cast(cnt as decimal(38,0)) * 1000"
                " - (cast(cnt as decimal(38,0)) * 1000) % _total)"
                " / _total as bigint)"
            ).alias("share_m"),
            F.expr(
                "cast((cast(_mx as decimal(38,0)) * _nk * 1000"
                " - (cast(_mx as decimal(38,0)) * _nk * 1000) % _total)"
                " / _total as bigint)"
            ).alias("skew_m"),
            # _tpairs = 0 when every key count is 1 (all-distinct keys):
            # zero pair work, selfjoin share defined as 0 — guarded in
            # BOTH engines
            F.col("_sj").alias("selfjoin_m"),
            F.expr(
                "CASE WHEN _tpairs > 0 AND _sj >= 500"
                "     THEN 'cut-or-split'"
                "     WHEN (cast((cast(cnt as decimal(38,0)) * _nk * 1000"
                "      - (cast(cnt as decimal(38,0)) * _nk * 1000) % _total)"
                "      / _total as bigint)) >= 4000"
                "     THEN 'salted-agg'"
                "     ELSE 'aqe-default' END"
            ).alias("rec"),
        )
    )


SQL_SKEW_REPORT = """
WITH counts AS (
    SELECT event_type AS key, COUNT(*) AS cnt FROM events GROUP BY 1
),
stats AS (
    SELECT key, cnt, SUM(cnt) OVER () AS total,
           COUNT(*) OVER () AS nk, MAX(cnt) OVER () AS mx,
           CAST(cnt AS HUGEINT) * (cnt - 1) // 2 AS pairs,
           SUM(CAST(cnt AS HUGEINT) * (cnt - 1) // 2) OVER () AS tpairs,
           ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS rank
    FROM counts
)
SELECT CAST(rank AS BIGINT) AS rank, key, CAST(cnt AS BIGINT) AS cnt,
       CAST(cnt * 1000 // total AS BIGINT) AS share_m,
       CAST(mx * nk * 1000 // total AS BIGINT) AS skew_m,
       CAST(CASE WHEN tpairs = 0 THEN 0
                 ELSE pairs * 1000 // tpairs END AS BIGINT) AS selfjoin_m,
       CASE WHEN tpairs > 0 AND pairs * 1000 // tpairs >= 500
                 THEN 'cut-or-split'
            WHEN cnt * nk * 1000 // total >= 4000 THEN 'salted-agg'
            ELSE 'aqe-default' END AS rec
FROM stats WHERE rank <= 3
"""


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (``quality.profile_table``): one row per column
    with total/null/distinct counts and native-type min/max rendered as
    strings — the data-observability pass before every ingest."""
    from dataproc_spark.extensions.quality import profile_table

    return profile_table(
        _t(spark, sf_dir, "documents"),
        ["doc_id", "lang", "source", "n_chars"],
    )


SQL_PROFILE_TABLE = """
SELECT 'doc_id' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
       CAST(MIN(doc_id) AS VARCHAR) AS min_value,
       CAST(MAX(doc_id) AS VARCHAR) AS max_value
FROM documents
UNION ALL
SELECT 'lang', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT lang) AS BIGINT),
       MIN(lang), MAX(lang)
FROM documents
UNION ALL
SELECT 'source', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT source) AS BIGINT),
       MIN(source), MAX(source)
FROM documents
UNION ALL
SELECT 'n_chars', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT n_chars) AS BIGINT),
       CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR)
FROM documents
"""


def q_validate_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint validation (``quality.validate_constraints``): key
    uniqueness, a value-range rule, and referential integrity
    (anti-join against the broadcast dimension) — one (rule,
    violations) row each, the data-contract gate of an ingest."""
    from dataproc_spark.extensions.quality import (
        check_in_range,
        check_references,
        check_unique,
        validate_constraints,
    )

    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    customer = _t(spark, sf_dir, "customer")
    return validate_constraints([
        check_unique(orders, ["o_orderkey"]),
        check_in_range(lineitem, "l_quantity", 1, 50),
        check_references(orders, "o_custkey", customer, "c_custkey"),
    ])


SQL_VALIDATE_CONSTRAINTS = """
SELECT 'unique(o_orderkey)' AS rule,
       CAST(COALESCE(SUM(n), 0) AS BIGINT) AS violations
FROM (SELECT COUNT(*) AS n FROM orders
      -- NULL keys are exempt (SQL UNIQUE: NULLs compare distinct),
      -- matching the r8 check_unique fix — without the filter the
      -- oracle would encode the pre-fix NULL-grouping bug
      WHERE o_orderkey IS NOT NULL
      GROUP BY o_orderkey HAVING COUNT(*) > 1)
UNION ALL
SELECT 'range(l_quantity, 1, 50)', CAST(COUNT(*) AS BIGINT)
FROM lineitem
WHERE NOT (l_quantity BETWEEN 1 AND 50) OR l_quantity IS NULL
UNION ALL
SELECT 'references(o_custkey)', CAST(COUNT(*) AS BIGINT)
FROM orders o
-- NULL FKs are exempt (standard SQL FK semantics), matching the r7
-- check_references fix — without the filter the oracle would encode
-- the pre-fix NULL-counting bug
WHERE o.o_custkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
"""


def _materialize_and_clean(df, scratch_dir: str):
    """Eagerly collect a (small) gate result so the scratch directory
    can be removed before returning — the q_stream_sink_roundtrip
    pattern. Without it every sweep/bench invocation left a full copy
    of the roundtripped table under /tmp until the disk filled (r7
    review finding)."""
    import shutil

    try:
        rows = df.collect()
        from dataproc_spark.core import local_frame

        out = local_frame(df.sparkSession, rows, df.schema)
    finally:
        # clean on FAILURE too: a gate that throws mid-read otherwise
        # leaves its full written table copy under /tmp (r8 review)
        shutil.rmtree(scratch_dir, ignore_errors=True)
    return out


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink + source roundtrip (the LLM training-data interchange
    format): write documents metadata as JSON Lines, read it back with an
    explicit schema, aggregate. The oracle computes the same aggregate
    straight from parquet — the roundtrip must be the identity."""
    import tempfile

    from dataproc_spark.io import read_jsonl, write_jsonl

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    out = tempfile.mkdtemp(prefix="jsonl_")
    write_jsonl(docs, out)
    back = read_jsonl(
        spark, out,
        schema="doc_id long, lang string, source string, n_chars long",
    )
    agg = back.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )
    return _materialize_and_clean(agg, out)


SQL_JSONL_ROUNDTRIP = """
SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents GROUP BY lang, source
"""


def q_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-layout roundtrip with pruning: write documents
    partitioned by lang, read back ONE partition directory (the scan
    touches only lang=en files — directory pruning, the 100 TB lever for
    selective reads), aggregate. Partition values come back from directory
    names; the oracle filters the flat parquet."""
    import tempfile

    from dataproc_spark.storage import write_partitioned

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    out = tempfile.mkdtemp(prefix="part_")
    write_partitioned(docs, out, ["lang"])
    back = spark.read.parquet(out).where(F.col("lang") == "en")
    agg = back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.min("doc_id").alias("min_doc"),
    )
    return _materialize_and_clean(agg, out)


SQL_PARTITIONED_SCAN = """
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS min_doc
FROM documents WHERE lang = 'en' GROUP BY source
"""


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source roundtrip (the other columnar interchange format
    Spark ships native support for); aggregate must equal the parquet
    side exactly."""
    import tempfile

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    out = tempfile.mkdtemp(prefix="orc_")
    docs.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    agg = back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.max("doc_id").alias("max_doc"),
    )
    return _materialize_and_clean(agg, out)


SQL_ORC_ROUNDTRIP = """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MAX(doc_id) AS max_doc
FROM documents GROUP BY lang
"""


def q_cube_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over (lang, source): all four aggregation
    granularities in one pass (the OLAP materialization shape; rollup is
    already gated — cube adds the cross-hierarchy cells)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.cube("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("sum_chars"),
        F.grouping_id().cast("long").alias("gid"),
    )


SQL_CUBE_DOC_STATS = """
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(GROUPING(lang) * 2 + GROUPING(source) AS BIGINT) AS gid
FROM documents
GROUP BY CUBE (lang, source)
"""


def q_merge_schema_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution: two parquet file sets with DIFFERENT schemas
    (the second adds a ``lang`` column) unified by ``mergeSchema`` —
    rows from the narrow files surface null lang. The append-only
    corpus-growth pattern (new crawls add columns; old files stay).
    The oracle recomputes the union from the documents view."""
    import tempfile

    docs = _t(spark, sf_dir, "documents")
    # per-run directory: a fixed shared path would let two concurrent
    # runs overwrite each other's files mid-scan
    out = tempfile.mkdtemp(prefix="dataproc_evo_")
    old = docs.where(F.pmod(F.col("doc_id"), F.lit(2)) == 0).select("doc_id", "n_chars")
    # pmod, not %: a negative odd id (% 2 == -1) matched NEITHER
    # file set and silently vanished from the merged scan
    new = docs.where(F.pmod(F.col("doc_id"), F.lit(2)) == 1).select(
        "doc_id", "n_chars", "lang"
    )
    old.write.mode("overwrite").parquet(f"{out}/old")
    new.write.mode("overwrite").parquet(f"{out}/new")
    merged = spark.read.option("mergeSchema", "true").parquet(
        f"{out}/old", f"{out}/new"
    )
    # label by file-set parity, NOT coalesce: a value-null lang in the
    # wide files must stay null (the oracle's CASE keeps it null), while
    # coalesce would fold it into the schema-absent group
    agg = merged.groupBy(
        F.when(F.pmod(F.col("doc_id"), F.lit(2)) == 0, F.lit("<pre-schema>"))
        .otherwise(F.col("lang"))
        .alias("lang")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).alias("sum_chars"),
    )
    return _materialize_and_clean(agg, out)


SQL_MERGE_SCHEMA_SCAN = """
SELECT CASE WHEN ((doc_id % 2) + 2) % 2 = 0 THEN '<pre-schema>' ELSE lang END AS lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY 1
"""


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer PageRank (`graph.pagerank`) over the bipartite
    supplier↔part graph from lineitem (both directions, distinct edges),
    5 synchronous rounds. All-integer floor arithmetic makes the
    iteration bit-reproducible: the oracle replays the SAME five rounds
    as chained DuckDB CTEs — an iterative algorithm value-checked
    cross-engine, not just rows-counted."""
    from dataproc_spark.extensions import graph

    li = _t(spark, sf_dir, "lineitem")
    s = F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
    p = F.concat(F.lit("p"), F.col("l_partkey").cast("string"))
    edges = li.select(s.alias("src"), p.alias("dst")).union(
        li.select(p.alias("src"), s.alias("dst"))
    )
    return graph.pagerank(edges, n_iter=5)


def _pagerank_oracle_sql(n_iter: int = 5) -> str:
    base, num, den = 150000, 85, 100
    ctes = [
        """edges AS (
    SELECT DISTINCT src, dst FROM (
        SELECT 's' || CAST(l_suppkey AS VARCHAR) AS src,
               'p' || CAST(l_partkey AS VARCHAR) AS dst FROM lineitem
        UNION ALL
        SELECT 'p' || CAST(l_partkey AS VARCHAR) AS src,
               's' || CAST(l_suppkey AS VARCHAR) AS dst FROM lineitem
    )
)""",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)",
        "pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes)",
    ]
    for i in range(n_iter):
        ctes.append(f"""pr{i + 1} AS (
    SELECT n.node,
           CAST({base} + (COALESCE(c.s, 0) * {num}) // {den} AS BIGINT) AS rank
    FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, SUM(p.rank // d.deg) AS s
        FROM edges e
        JOIN pr{i} p ON e.src = p.node
        JOIN outdeg d ON e.src = d.src
        GROUP BY e.dst
    ) c ON n.node = c.node
)""")
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT node, rank FROM pr{n_iter}"
    )


SQL_PAGERANK = _pagerank_oracle_sql(5)


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source roundtrip with RFC-4180 quoting (quoteAll +
    doubled-quote escape): free text with spaces/punctuation must survive
    byte-exact. Emits md5 of the text for compact exact comparison; the
    oracle reads the same md5 straight from parquet — the roundtrip must
    be the identity."""
    import tempfile

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    out = tempfile.mkdtemp(prefix="csv_rt_")
    # nullValue marker + multiLine: without multiLine a quoted newline
    # splits into garbage rows, and without a distinct NULL marker an
    # empty string reads back as NULL (md5('') vs NULL — oracle
    # mismatch); both verified by probe (r8 review). \\N is the
    # conventional (MySQL-style) CSV NULL sentinel; its ONE residual
    # collision — a text field that IS the two characters backslash-N
    # reads back as NULL even quoted (the parser unquotes before the
    # nullValue compare; probed, and a NUL-based sentinel mangles in
    # the writer) — is the format's documented limit, not the gate's.
    (
        docs.write.mode("overwrite")
        .option("header", True)
        .option("quoteAll", True)
        .option("escape", '"')
        .option("nullValue", "\\N")
        .csv(out)
    )
    back = (
        spark.read.schema("doc_id long, text string, lang string")
        .option("header", True)
        .option("escape", '"')
        .option("multiLine", True)
        .option("nullValue", "\\N")
        .option("emptyValue", "")
        .csv(out)
    )
    res = back.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("text_md5"),
        "lang",
    )
    return _materialize_and_clean(res, out)


SQL_CSV_ROUNDTRIP = """
SELECT doc_id, md5(text) AS text_md5, lang FROM documents
"""


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe join (`skew.salted_join`): lineitem ⋈ orders on the
    order key with the left side scattered across 8 salt buckets and the
    right side replicated into each — then aggregated per order priority.
    The oracle computes the PLAIN join + aggregate: a value-exact proof
    that salting is semantics-preserving (the same guarantee the
    `salted_token_counts` gate gives for salted aggregation)."""
    from dataproc_spark import skew

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"),
        rev_cents().alias("rev_c"),
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    joined = skew.salted_join(li, orders, on=["okey"], salt=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("rev_c").alias("sum_rev_c"),
    )


SQL_SALTED_JOIN = """
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                AS BIGINT)) AS BIGINT) AS sum_rev_c
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


def q_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation (`approx.count_min_sketch` /
    `count_min_estimate`): build the 4×512 sketch over document tokens in
    one pass, then estimate the 20 most frequent tokens. md5-derived
    buckets make the sketch deterministic, so the oracle rebuilds the
    IDENTICAL sketch in DuckDB and the estimates value-match — an
    approximate structure with an exact cross-engine gate."""
    from dataproc_spark.extensions import approx

    toks = _t(spark, sf_dir, "documents").select(
        F.explode(dedup.tokens("text")).alias("token")
    )
    sketch = approx.count_min_sketch(toks, "token")
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 20)
    )
    est = approx.count_min_estimate(sketch, top.select("token"), "token")
    return top.join(est, "token").select("token", "n", "est")


SQL_COUNT_MIN = r"""
WITH toks AS (
    SELECT unnest(list_filter(string_split_regex(text, '\s+'),
                              x -> x <> '')) AS token
    FROM documents
), cells AS (
    SELECT token, d,
           CAST('0x' || substr(md5(token || '#cms' || CAST(d AS VARCHAR)),
                               1, 8) AS BIGINT) % 512 AS bucket
    FROM toks, unnest([0, 1, 2, 3]) AS u(d)
), sketch AS (
    SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM cells GROUP BY d, bucket
), top AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n
    FROM toks GROUP BY token
    ORDER BY n DESC, token ASC LIMIT 20
), probes AS (
    SELECT t.token, t.n, u.d,
           CAST('0x' || substr(md5(t.token || '#cms' || CAST(u.d AS VARCHAR)),
                               1, 8) AS BIGINT) % 512 AS bucket
    FROM top t, unnest([0, 1, 2, 3]) AS u(d)
)
SELECT p.token, p.n, CAST(MIN(s.cnt) AS BIGINT) AS est
FROM probes p JOIN sketch s ON p.d = s.d AND p.bucket = s.bucket
GROUP BY p.token, p.n
"""


def q_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pre-filter (`approx.bloom_build` /
    `bloom_may_contain`): the blocklist is every doc fingerprint with
    doc_id % 7 == 0; all documents probe the 8192-bit filter. Members
    must always test true (no false negatives); non-member results
    reproduce exactly cross-engine because the md5 bit positions do —
    the oracle rebuilds the identical bitset in DuckDB."""
    from dataproc_spark.extensions import approx

    # NULL-text docs are excluded SYMMETRICALLY in both engines: their
    # fp is NULL, which the fp equi-join would silently drop Spark-side
    # while the oracle emitted a (doc_id, NULL) row — a latent row-count
    # mismatch (r8 follow-up review finding; same policy as binary_ingest)
    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", F.md5(F.col("text").cast("binary")).alias("fp"))
    )
    blocked = docs.where(F.col("doc_id") % 7 == 0).select("fp")
    bloom = approx.bloom_build(blocked, "fp")
    probed = approx.bloom_may_contain(bloom, docs.select("fp"), "fp")
    return (
        docs.join(probed, "fp")
        .select("doc_id", "may_contain")
    )


SQL_BLOOM_FILTER = """
WITH docs AS (
    -- text IS NOT NULL mirrors the engine's symmetric NULL-doc exclusion
    SELECT doc_id, md5(text) AS fp FROM documents WHERE text IS NOT NULL
), pos AS (
    SELECT CAST('0x' || substr(md5(fp || '#bloom' || CAST(i AS VARCHAR)),
                               1, 8) AS BIGINT) % 8192 AS p
    FROM docs, unnest([0, 1, 2]) AS u(i)
    WHERE doc_id % 7 = 0
), bloom AS (
    SELECT p // 63 AS word, bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INTEGER))
               AS bits
    FROM pos GROUP BY p // 63
), probes AS (
    SELECT d.doc_id,
           CAST('0x' || substr(md5(d.fp || '#bloom' || CAST(u.i AS VARCHAR)),
                               1, 8) AS BIGINT) % 8192 AS p
    FROM docs d, unnest([0, 1, 2]) AS u(i)
)
SELECT pr.doc_id,
       CAST(MIN((COALESCE(b.bits, 0) >> CAST(pr.p % 63 AS INTEGER)) & 1) = 1
            AS BOOLEAN) AS may_contain
FROM probes pr LEFT JOIN bloom b ON pr.p // 63 = b.word
GROUP BY pr.doc_id
"""


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order key arithmetic (``storage.z_value``): the
    data-skipping clustering key behind lakehouse OPTIMIZE ZORDER,
    computed over (user_id, event_id) folded into 12-bit lanes. The
    oracle rebuilds the identical bit interleave with shift arithmetic;
    the layout-level pruning benefit is pinned by the row-group
    intersection test in ``tests/test_storage_streaming.py``."""
    from dataproc_spark.storage import z_value

    ev = _t(spark, sf_dir, "events")
    a = F.pmod(F.col("user_id"), F.lit(4096)).cast("long")
    b = F.pmod(F.col("event_id"), F.lit(4096)).cast("long")
    return ev.select(
        "event_id", z_value([a, b], bits=12).alias("z")
    )


SQL_ZORDER_KEY = """
-- pmod form: DuckDB % is sign-preserving, so a negative id's bare
-- (id % 4096) would sign-extend garbage bits through the shifts where
-- the implementation's F.pmod feeds non-negative lanes (r7 review)
SELECT event_id,
       CAST(
         list_aggregate(list_transform(range(0, 12),
             j -> (((((user_id % 4096) + 4096) % 4096) >> j) & 1)
                  << (2 * j)), 'sum')
         + list_aggregate(list_transform(range(0, 12),
             j -> (((((event_id % 4096) + 4096) % 4096) >> j) & 1)
                  << (2 * j + 1)), 'sum')
       AS BIGINT) AS z
FROM events
"""


def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-linkage on customer names: pairs within edit
    distance 1 sharing a 16-char name prefix block. The equi-join on
    the block key bounds candidates at Σ|block|² — Levenshtein (with
    the short-circuit threshold form) runs only inside blocks, never
    across the |customers|² cross join."""
    from dataproc_spark.extensions.linkage import fuzzy_join_blocked

    c = _t(spark, sf_dir, "customer")
    return fuzzy_join_blocked(
        c, c, key_col="c_name",
        block=F.expr("substring(c_name, 1, 16)"),
        max_dist=1, id_col="c_custkey",
    )


SQL_FUZZY_MATCH = """
WITH c AS (
    SELECT c_custkey, c_name, substring(c_name, 1, 16) AS blk
    FROM customer
)
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
FROM c a JOIN c b
  ON a.blk = b.blk AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
"""


def q_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-media ingestion via Spark's built-in ``binaryFile`` source —
    the entry point of a multimodal pipeline: a directory of opaque
    media files becomes (media_id from the filename, byte length,
    content fingerprint) rows, ready for the decode/dedup stages.

    The gate synthesizes one ``<doc_id>.bin`` per document (UTF-8 text
    bytes as the opaque payload, driver-written — the corpus is tiny at
    gate SF; at scale the files already EXIST on object storage and the
    binaryFile scan parallelizes over them, ``pathGlobFilter`` +
    partition discovery doing the pruning). The fingerprint is
    ``md5(hex(content))`` — ``hex`` of a blob is bit-identical
    uppercase in both engines, so the oracle (DuckDB ``read_blob``)
    reproduces it without any binary→string cast hazards. Scratch is
    removed via the collect-then-rmtree gate pattern."""
    import os as _os
    import tempfile

    # NULL-text docs have no media file (and a zero-byte file would be
    # skipped by binaryFile's split planning anyway) — filter them out
    # here and in the oracle, mirroring the NULL-text handling of the
    # sibling text gates (r7 ADVICE finding).
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        # length(text) > 0, not just NOT NULL: an empty string writes a
        # ZERO-BYTE file, which binaryFile's split planning drops — the
        # oracle would keep the row with n_bytes=0 and the gate would
        # row-count-mismatch (r8 review, verified by probe)
        .where(F.col("text").isNotNull() & (F.length("text") > 0))
    )
    out = tempfile.mkdtemp(prefix="binmedia_")
    for r in docs.collect():
        with open(_os.path.join(out, f"{r.doc_id}.bin"), "wb") as fh:
            fh.write(r.text.encode("utf-8"))
    scanned = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(out)
        .select(
            F.regexp_extract(
                F.col("path"), r"(\d+)\.bin$", 1
            ).cast("long").alias("media_id"),
            F.col("length").cast("long").alias("n_bytes"),
            F.md5(F.hex(F.col("content"))).alias("payload_md5"),
        )
    )
    return _materialize_and_clean(scanned, out)


SQL_BINARY_INGEST = """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(hex(encode(text))) AS payload_md5
FROM documents
WHERE text IS NOT NULL AND length(text) > 0
"""
