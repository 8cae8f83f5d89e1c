"""Text/corpus-pipeline gates: stats, quality, sampling, packing, multimodal.

Split out of the monolithic queries.py (r7); registry assembly lives in
``dataproc_spark.queries`` (the package __init__).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from dataproc_spark.core import maybe_broadcast
from dataproc_spark.extensions import dedup, sampling, textstats

# ---------------------------------------------------------------------------
# table access
# ---------------------------------------------------------------------------

from dataproc_spark.queries._tables import (  # noqa: F401
    _t,
    register_tables,
    sql_lit as _sql_literal,
)


def q_hof_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions in one per-order pass: collect the
    sorted quantity list, then aggregate / transform / filter / exists /
    forall / zip_with(reverse) — the array-processing surface every
    nested-data pipeline leans on, all JVM-side (no UDFs)."""
    li = _t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(F.col("l_quantity").cast("long"))
        ).alias("qs")
    )
    return per_order.select(
        "l_orderkey",
        F.aggregate(
            "qs", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("total_qty"),
        F.size(F.filter("qs", lambda x: x > 25)).cast("long").alias("n_big"),
        F.aggregate(
            F.transform("qs", lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sum_sq"),
        F.exists("qs", lambda x: x == 50).cast("int").alias("has_50"),
        F.forall("qs", lambda x: x > 0).cast("int").alias("all_pos"),
        F.aggregate(
            F.zip_with("qs", F.reverse("qs"), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sum_cross"),
    )


SQL_HOF_SUITE = """
WITH per_order AS (
    SELECT l_orderkey,
           list_sort(list(CAST(l_quantity AS BIGINT))) AS qs
    FROM lineitem GROUP BY l_orderkey
)
SELECT l_orderkey,
       CAST(list_aggregate(qs, 'sum') AS BIGINT) AS total_qty,
       CAST(len(list_filter(qs, x -> x > 25)) AS BIGINT) AS n_big,
       CAST(list_aggregate(list_transform(qs, x -> x * x), 'sum')
            AS BIGINT) AS sum_sq,
       CAST(CASE WHEN list_contains(qs, 50) THEN 1 ELSE 0 END AS INTEGER)
           AS has_50,
       CAST(CASE WHEN len(list_filter(qs, x -> x <= 0)) = 0
                 THEN 1 ELSE 0 END AS INTEGER) AS all_pos,
       CAST(list_aggregate(list_transform(range(1, len(qs) + 1),
                i -> qs[i] * qs[len(qs) + 1 - i]), 'sum') AS BIGINT)
           AS sum_cross
FROM per_order
"""


def q_sql_udf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User extensibility on the SQL surface: a vectorized (Arrow)
    pandas UDF registered into the session catalog and called from a
    SQL STRING — the escape hatch for logic the built-ins can't
    express, in its production form (batched, not row-at-a-time). The
    token rule mirrors ``textstats.token_count`` so the oracle is
    plain SQL."""
    import re as _re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _tok(s):
        # NULL-safe + oracle-aligned (r7 review): a bare
        # s.str.split().str.len().astype('int64') raises on NULL text
        # (NaN -> int64 cast) where the oracle null-propagates, and
        # pandas' default split is Unicode-whitespace while the oracle's
        # RE2 \s+ (and Java's) is ASCII — split on the explicit ASCII
        # class, keep NULLs as nullable Int64 so SUM/MAX skip them like
        # SQL aggregates do
        return pd.Series(
            [
                None if x is None
                else len([t for t in _re.split(r"[ \t\n\r\f]+", x) if t])
                for x in s
            ],
            dtype="Int64",
        )

    # real annotation objects: the module-level `from __future__ import
    # annotations` would stringify inline hints, which the pandas_udf
    # signature inference rejects
    _tok.__annotations__ = {"s": pd.Series, "return": pd.Series}
    tok_count = pandas_udf(_tok, "long")
    spark.udf.register("tok_count", tok_count)
    register_tables(spark, sf_dir)
    return spark.sql("""
        SELECT source, CAST(SUM(tok_count(text)) AS BIGINT) AS total_tokens,
               CAST(MAX(tok_count(text)) AS BIGINT) AS max_tokens
        FROM documents_v
        GROUP BY source
    """)


SQL_SQL_UDF_TOKENS = r"""
SELECT source,
       CAST(SUM(len(list_filter(string_split_regex(text, '\s+'),
                                x -> x <> ''))) AS BIGINT) AS total_tokens,
       CAST(MAX(len(list_filter(string_split_regex(text, '\s+'),
                                x -> x <> ''))) AS BIGINT) AS max_tokens
FROM documents
GROUP BY source
"""


def q_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman-style rank correlation (integer permille) between
    document length and token count per source — the corpus-statistics
    sanity check ("does feature A actually track feature B in this
    slice"). Ranks are total-ordered (value, doc_id) so ties resolve
    identically in both engines; ``rho_m = 1000 − 6000·Σd² div
    n(n²−1)``. Both rank windows share the source partition; the
    aggregate is one shuffle on source. The ratio goes through
    DECIMAL(38,0) (Spark) / HUGEINT (DuckDB): the worst case is
    ``6000·Σd²`` with ``Σd² ≈ n³/3``, i.e. ``2000·n³`` — in 64-bit
    that wraps silently past per-group n ≈ 1.6·10⁵, far too low for a
    corpus slice; 128-bit holds to n ≈ 3·10¹¹."""
    docs = _t(spark, sf_dir, "documents")
    feats = docs.select(
        "source", "doc_id", "n_chars",
        F.size(dedup.tokens("text")).alias("n_tokens"),
    )
    wa = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wb = Window.partitionBy("source").orderBy("n_tokens", "doc_id")
    ranked = feats.select(
        "source",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wb).alias("rb"),
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("ra") - F.col("rb")) * (F.col("ra") - F.col("rb"))
            ).alias("sum_d2"),
        )
        .where(F.col("n") >= 2)
        # EXACT 128-bit floor division via the remainder identity:
        # Spark's `div` on DECIMAL operands converts to 64-bit and
        # silently WRAPS (confirmed: 6000*9e18 div 3 returns a negative
        # garbage value), so sources past ~1.7e5 docs corrupted rho_m
        # while DuckDB's HUGEINT // stayed exact (r8 follow-up review
        # finding). (a - a % b) / b keeps every step in decimal(38,0)
        # arithmetic and the final division is remainder-free, so the
        # scale-6 result is exact — no HALF_UP rounding can bite.
        .withColumn("_a", F.expr("6000 * cast(sum_d2 as decimal(38,0))"))
        .withColumn(
            "_b",
            F.expr(
                "cast(n as decimal(38,0)) * (cast(n as decimal(38,0)) * n - 1)"
            ),
        )
        .select(
            "source", "n",
            F.expr(
                "1000 - CAST((_a - _a % _b) / _b AS BIGINT)"
            ).alias("rho_m"),
        )
    )


SQL_RANK_CORRELATION = r"""
WITH feats AS (
    SELECT source, doc_id, n_chars,
           len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
               AS n_tokens
    FROM documents
),
ranked AS (
    SELECT source,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY n_chars, doc_id) AS ra,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY n_tokens, doc_id) AS rb
    FROM feats
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(1000 - (6000 * CAST(SUM((ra - rb) * (ra - rb)) AS HUGEINT))
            // (CAST(COUNT(*) AS HUGEINT)
                * (CAST(COUNT(*) AS HUGEINT) * COUNT(*) - 1))
            AS BIGINT) AS rho_m
FROM ranked
GROUP BY source
HAVING COUNT(*) >= 2
"""


# ---------------------------------------------------------------------------
# documents (dedup + text analysis)
# ---------------------------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics (token/char counts)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text").cast("long")).alias("sum_chars"),
        F.sum(textstats.token_count().cast("long")).alias("sum_tokens"),
    )


SQL_TEXT_STATS = r"""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
       CAST(SUM(len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))) AS BIGINT) AS sum_tokens
FROM documents GROUP BY lang
"""


def q_lang_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language ID (rank-weighted profile scores,
    ``textstats.LANG_TRIGRAM_PROFILES``) cross-tabulated against the
    labeled lang column; the oracle replays the same profiles."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("pred_lang", textstats.predicted_lang("text"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _first_max_case(names: list, col_prefix: str, none_label: str) -> str:
    """First-name-achieving-the-max CASE over ``{col_prefix}{name}``
    columns, '{none_label}' when nothing scores above 0 — the shared
    argmax shape of BOTH generated oracles (language profiles and
    script counts), matching the engines' greatest+first-equal /
    ordered-comparison argmaxes exactly."""
    arms = []
    for i, name in enumerate(names):
        later = names[i + 1:]
        cond = " AND ".join(
            f"{col_prefix}{name} >= {col_prefix}{n2}" for n2 in later
        ) or "TRUE"
        arms.append(f"WHEN {cond} THEN '{name}'")
    all_c = ", ".join(f"{col_prefix}{n}" for n in names)
    return (
        f"CASE WHEN greatest({all_c}) <= 0 THEN '{none_label}' "
        + " ".join(arms[:-1])
        + f" ELSE '{names[-1]}' END"
    )


def _lang_trigram_sql_fragments() -> tuple[str, str, str]:
    """(grams CTE expression, per-language score selects, argmax CASE) —
    generated from ``textstats.LANG_TRIGRAM_PROFILES`` so the oracle can
    never drift from the engine's profile table."""
    score_sqls = []
    for lang, profile in textstats.LANG_TRIGRAM_PROFILES.items():
        k = len(profile)
        # divide by each gram's own codepoint length (variable-length
        # grams since r10) — DuckDB length() counts codepoints like
        # Python len, so the arithmetic matches the engine exactly
        terms = " + ".join(
            f"{k - i} * ((length(s) - length(replace(s, '{g}', '')))"
            f" // {len(g)})"
            for i, g in enumerate(profile)
        )
        score_sqls.append(f"({terms}) AS s_{lang}")
    case = _first_max_case(
        list(textstats.LANG_TRIGRAM_PROFILES), "s_", "und"
    )
    norm = (
        "' ' || trim(regexp_replace(lower(coalesce(text, '')), "
        "'[ ' || chr(9) || chr(13) || chr(10) || ']+', ' ', 'g')) || ' '"
    )
    return norm, ",\n           ".join(score_sqls), case


_LANG_NORM_SQL, _LANG_SCORES_SQL, _LANG_ARGMAX_SQL = (
    _lang_trigram_sql_fragments()
)


SQL_LANG_PREDICT = f"""
WITH n AS (SELECT lang, {_LANG_NORM_SQL} AS s FROM documents),
scored AS (
    SELECT lang,
           {_LANG_SCORES_SQL}
    FROM n
),
pred AS (SELECT lang, {_LANG_ARGMAX_SQL} AS pred_lang FROM scored)
SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred GROUP BY lang, pred_lang
"""


def q_lang_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicted-language mixture report — the crawl-curation step that
    sets per-language sampling rates: language-ID every document
    (``textstats.predicted_lang``, map-only character-trigram profile
    scoring), weight
    by token count, and report each predicted language's corpus share in
    integer basis points via ``web.domain_mixture`` (the mixture
    machinery is column-generic; language is just another partition
    dimension). Plan: one map-side-combined aggregate over the scored
    frame + a 1-row broadcast denominator — raw text never shuffles,
    only (pred_lang, n_tokens) pairs."""
    from dataproc_spark.extensions import web as webx

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        textstats.predicted_lang("text").alias("pred_lang"),
        textstats.token_count().cast("long").alias("n_tokens"),
    )
    return webx.domain_mixture(
        scored, domain_col="pred_lang", weight_col="n_tokens"
    )


SQL_LANG_MIXTURE = f"""
WITH n AS (
    SELECT {_LANG_NORM_SQL} AS s,
           len(list_filter(string_split_regex(text, '\\s+'),
                           x -> x <> '')) AS n_tokens
    FROM documents
),
scored AS (
    SELECT n_tokens,
           {_LANG_SCORES_SQL}
    FROM n
),
pred AS (
    SELECT {_LANG_ARGMAX_SQL} AS pred_lang, n_tokens
    FROM scored
),
per AS (
    SELECT pred_lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS weight
    FROM pred GROUP BY pred_lang
)
SELECT pred_lang, n_docs, weight,
       CAST((weight * 10000) // (SELECT sum(weight) FROM per) AS BIGINT)
           AS share_bps
FROM per
"""


#: Fixed multilingual snippets for the script/language gate — one per
#: non-Latin profile plus two adversarial mixed-script arms. Shared by
#: the Spark query and the generated oracle so the fixture can never
#: drift between engines.
_LANG_SNIPPETS: dict[str, str] = {
    "ru": (
        "в москве и на неве что ни год то новые дома и не только "
        "для работы но и для жизни самого города"
    ),
    "ar": (
        "هذا النص في اللغة العربية من الاختبار على البيانات "
        "والكلمات في كل مكان من الملف"
    ),
    "zh": (
        "这是一个很大的测试我们有很多的数据和人在这里他们说的是中文"
        "这个文件里有很多个字"
    ),
    "ja": (
        "これは日本語のテストですたくさんのデータがあるのでことばを"
        "しらべますこの文書には字がある"
    ),
}
#: adversarial mixed-script arms: a few Latin words prepended — the
#: target script still carries more signal, so the profile argmax and
#: the script argmax must BOTH still resolve to the non-Latin side
_LANG_MIXED_PREFIX = "the data and the words say "


def _script_sql_fragments() -> tuple[str, str]:
    """(per-script count selects, argmax CASE) generated from
    ``textstats.SCRIPT_RANGES`` — same share-the-constant contract as
    the n-gram fragments. DuckDB regexp_replace needs the explicit
    ``'g'`` flag (Spark replaces all matches by default)."""
    counts = ", ".join(
        f"(length(t) - length(regexp_replace(t, '[{rng}]', '', 'g')))"
        f" AS c_{name}"
        for name, rng in textstats.SCRIPT_RANGES.items()
    )
    case = _first_max_case(list(textstats.SCRIPT_RANGES), "c_", "none")
    return counts, case


def _lang_script_text_expr(quote: str = "'") -> str:
    """The gate's synthesized text as a SQL CASE over doc_id — arms for
    each non-Latin snippet, two Latin-prefixed mixed arms, the
    document's own (Latin) text, and a scriptless digits arm. Identical
    string in Spark SQL and DuckDB."""
    q = quote
    ru, ar = _LANG_SNIPPETS["ru"], _LANG_SNIPPETS["ar"]
    zh, ja = _LANG_SNIPPETS["zh"], _LANG_SNIPPETS["ja"]
    mix = _LANG_MIXED_PREFIX
    return (
        f"CASE doc_id % 8 "
        f"WHEN 0 THEN {q}{ru}{q} "
        f"WHEN 1 THEN {q}{ar}{q} "
        f"WHEN 2 THEN {q}{zh}{q} "
        f"WHEN 3 THEN {q}{ja}{q} "
        f"WHEN 4 THEN {q}{mix}{ru}{q} "
        f"WHEN 5 THEN {q}{mix}{zh}{q} "
        f"WHEN 6 THEN {q}1234 5678 90 12{q} "
        f"ELSE coalesce(text, {q}{q}) END"
    )


def q_lang_script_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-Latin language-ID + Unicode script detection
    (``textstats.predicted_lang`` over the r10 ru/ar/zh/ja profiles and
    ``textstats.dominant_script``): per-document synthesized arms —
    pure Russian/Arabic/Chinese/Japanese snippets, two adversarial
    MIXED-script arms (Latin words prepended; the non-Latin signal must
    still win both argmaxes), a digits-only arm (script 'none', lang
    'und'), and the document's own Latin text. Cross-tab of (pred_lang,
    dom_script) with counts — any drift in a profile, a script range,
    either tie-break order, or the variable-gram-length arithmetic
    moves documents between cells and hash-fails. Map-only, zero
    shuffles before the final aggregate."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    synth = docs.select(
        F.expr(_lang_script_text_expr()).alias("t")
    )
    out = synth.select(
        textstats.predicted_lang("t").alias("pred_lang"),
        textstats.dominant_script("t").alias("dom_script"),
    )
    return out.groupBy("pred_lang", "dom_script").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def _make_sql_lang_script_predict() -> str:
    counts, case = _script_sql_fragments()
    return f"""
WITH synth AS (
    SELECT {_lang_script_text_expr()} AS text FROM documents
),
n AS (
    SELECT text AS t,
           {_LANG_NORM_SQL} AS s
    FROM synth
),
scored AS (
    SELECT t,
           {_LANG_SCORES_SQL}
    FROM n
),
pred AS (SELECT t, {_LANG_ARGMAX_SQL} AS pred_lang FROM scored),
scripts AS (
    SELECT pred_lang, {counts}
    FROM pred
),
pair AS (
    SELECT pred_lang, {case} AS dom_script
    FROM scripts
)
SELECT pred_lang, dom_script, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pair GROUP BY pred_lang, dom_script
"""


SQL_LANG_SCRIPT_PREDICT = _make_sql_lang_script_predict()


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-content fingerprint uniqueness per source."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("fp", textstats.doc_fingerprint("text"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_distinct_fp"),
        )
    )


SQL_DOC_FINGERPRINT = r"""
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS BIGINT) AS n_distinct_fp
FROM documents GROUP BY source
"""


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-feature binning: docs per 100-char bin with token sums."""
    docs = textstats.quality_features(_t(spark, sf_dir, "documents"))
    return (
        docs.withColumn("chars_bin", F.expr("n_chars_m div 100"))
        .groupBy("chars_bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_tokens").cast("long")).alias("sum_tokens"),
            F.sum("mean_tok_len_c").alias("sum_mtl_c"),
        )
    )


SQL_DOC_QUALITY = r"""
WITH feat AS (
    SELECT length(text) AS n_chars_m,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
    FROM documents
),
feat2 AS (
    SELECT n_chars_m, len(t) AS n_tokens,
           CASE WHEN len(t) > 0
                THEN CAST((COALESCE(list_aggregate(
                               list_transform(t, x -> length(x)), 'sum'), 0)
                           * 100) // len(t) AS BIGINT)
                ELSE 0 END AS mean_tok_len_c
    FROM feat
)
SELECT n_chars_m // 100 AS chars_bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(SUM(mean_tok_len_c) AS BIGINT) AS sum_mtl_c
FROM feat2 GROUP BY chars_bin
"""


def q_multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary metadata extraction (byte length + first code unit)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.octet_length(F.col("text")).cast("long").alias("n_bytes"),
        F.ascii(F.col("text")).cast("int").alias("first_code"),
    )


SQL_MULTIMODAL_BYTES = """
SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
       CAST(ascii(text) AS INTEGER) AS first_code
FROM documents
"""


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the multimodal Arrow path: every doc_id
    becomes a small RGB frame (pixel ``k`` = ``(doc_id*31 + k) % 256``)
    encoded as an actual PNG (even ids — zlib deflate, filter bytes) or
    binary PPM (odd ids) on one ``mapInPandas`` stage, then DECODED —
    zlib inflate + defilter / header parse, no image library — on a
    second, emitting exact-integer pixel statistics. The oracle
    reproduces the stats from the pixel arithmetic alone, so a decoder
    bug (wrong stride, off-by-one filter, bad header parse) hash-fails.

    Ref parity: the reference has no multimodal surface; this implements
    the LLM-pipeline mandate (binary columns + typed metadata + Arrow
    decode stages) with the codec now real for PNG/PPM.
    """
    from dataproc_spark.extensions.multimodal import (
        decode_image_stats,
        synthesize_images,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    # spread=False: single light decode pass — the spread exchange
    # measured slower than the 1-split plan here (r15 opt)
    return decode_image_stats(synthesize_images(docs, spread=False))


SQL_MULTIMODAL_DECODE = """
WITH px AS (
    SELECT doc_id,
           unnest(range(0, (4 + doc_id % 13) * (3 + doc_id % 7) * 3)) AS k
    FROM documents
)
SELECT doc_id AS media_id,
       CAST(4 + doc_id % 13 AS INTEGER) AS width,
       CAST(3 + doc_id % 7 AS INTEGER) AS height,
       3 AS channels,
       CAST((4 + doc_id % 13) * (3 + doc_id % 7) AS BIGINT) AS n_pixels,
       CAST(sum((doc_id * 31 + k) % 256) AS BIGINT) AS pixel_sum,
       CAST(min((doc_id * 31 + k) % 256) AS INTEGER) AS pixel_min,
       CAST(max((doc_id * 31 + k) % 256) AS INTEGER) AS pixel_max
FROM px
GROUP BY doc_id
"""


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + nearest-neighbor resize fused on one Arrow stage
    (``multimodal.resize_image_stats``): every synthesized frame is
    decoded (real PNG/PPM codec) and resampled to 8×8 with the
    floor-index NN rule, emitting exact-integer stats. The oracle
    replays the resampled pixel set from the synthesis arithmetic +
    the same integer index mapping — a wrong stride or off-by-one
    resample hash-fails."""
    from dataproc_spark.extensions.multimodal import (
        resize_image_stats,
        synthesize_images,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return resize_image_stats(
        synthesize_images(docs, spread=False), width=8, height=8
    )


SQL_MULTIMODAL_RESIZE = """
WITH tgt AS (
    SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h, ty, tx, ch
    FROM documents,
         (SELECT unnest(range(0, 8)) AS ty) a,
         (SELECT unnest(range(0, 8)) AS tx) b,
         (SELECT unnest(range(0, 3)) AS ch) c
),
px AS (
    SELECT doc_id,
           (doc_id * 31 + (((ty * h // 8) * w + (tx * w // 8)) * 3 + ch))
           % 256 AS v
    FROM tgt
)
SELECT doc_id AS media_id,
       8 AS width, 8 AS height, 3 AS channels,
       CAST(64 AS BIGINT) AS n_pixels,
       CAST(SUM(v) AS BIGINT) AS pixel_sum,
       CAST(MIN(v) AS INTEGER) AS pixel_min,
       CAST(MAX(v) AS INTEGER) AS pixel_max
FROM px
GROUP BY doc_id
"""


def q_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode through the multimodal Arrow path: every doc_id
    becomes a short PCM16 clip (interleaved sample ``k`` =
    ``((doc_id*37 + k*13) % 4001) - 2000``, ``1 + id%2`` channels,
    ``8000*(1 + id%3)`` Hz, every fifth clip carrying an odd-sized LIST
    junk chunk) encoded as an actual RIFF/WAVE file on one
    ``mapInPandas`` stage, then DECODED — RIFF envelope check, chunk
    walk with pad bytes, fmt/PCM validation, int16 LE parse — on a
    second, emitting exact-integer sample statistics. The oracle
    reproduces the stats from the sample arithmetic alone, so a parser
    bug (skipped pad byte, wrong block-align, bad chunk walk)
    hash-fails.

    Ref parity: the reference has no audio surface; this fills the audio
    slot of the LLM-pipeline multimodal mandate the way
    ``multimodal_decode`` fills the image slot.
    """
    from dataproc_spark.extensions.multimodal import (
        decode_audio_stats,
        synthesize_audio,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    # spread=False: single light decode pass — the spread exchange
    # measured slower than the 1-split plan here (r15 opt)
    return decode_audio_stats(synthesize_audio(docs, spread=False))


SQL_AUDIO_DECODE = """
WITH s AS (
    SELECT doc_id,
           1 + doc_id % 2 AS channels,
           8000 * (1 + doc_id % 3) AS sample_rate,
           32 + doc_id % 41 AS n_frames
    FROM documents
),
v AS (
    SELECT doc_id, channels, sample_rate, n_frames,
           ((doc_id * 37 + k * 13) % 4001) - 2000 AS v
    FROM s, LATERAL unnest(range(0, n_frames * channels)) AS t(k)
)
SELECT doc_id AS media_id,
       CAST(sample_rate AS INTEGER) AS sample_rate,
       CAST(channels AS INTEGER) AS channels,
       CAST(n_frames AS BIGINT) AS n_frames,
       CAST(n_frames * 1000 // sample_rate AS BIGINT) AS duration_ms,
       CAST(SUM(v) AS BIGINT) AS sample_sum,
       CAST(MIN(v) AS INTEGER) AS sample_min,
       CAST(MAX(v) AS INTEGER) AS sample_max,
       CAST(SUM(v * v) AS BIGINT) AS energy
FROM v
GROUP BY doc_id, sample_rate, channels, n_frames
"""


def q_multimodal_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG decode through the multimodal Arrow path: every doc_id
    becomes a grayscale baseline JPEG of constant 8×8 blocks — block
    ``(bx, by)`` = ``(doc_id*7 + bx*13 + by*31) % 256`` over a
    ``(2+id%3) × (1+id%2)`` block grid, quant table ``2^(id%4)`` — on
    one ``mapInPandas`` stage, then DECODED (marker walk,
    stream-defined Huffman tables, dequantize, IDCT) on a second. A
    constant block's DCT is DC-only and survives power-of-two
    quantization exactly, so the oracle reproduces the pixel statistics
    from the block arithmetic alone and any codec bug (zigzag order,
    Huffman table read, DC prediction chain, dequantize) hash-fails.
    r10: every 3rd payload is a REAL progressive (SOF2) stream —
    spectral-selection scans, half of them with successive
    approximation — decoded to the SAME bit-exact pixels (the
    coefficients are scan-script-independent), so the progressive
    decode path (DC/AC first + refinement scans, EOB runs) sits under
    the same arithmetic oracle. r11 closes the two documented gaps:
    progressive payloads with ``id % 5 == 3`` carry restart markers
    (DRI + RSTn inside SOF2 scans), and ids ``≡ 6 (mod 12)`` are
    SUBSAMPLED RGB progressive (4:2:0, 4:2:2 when ``id % 8 == 6``) —
    gray replicated to R=G=B keeps chroma constant-128, which survives
    the subsample boxes exactly, so those arms stay bit-exact with
    ``channels=3`` and ``pixel_sum × 3`` as the only oracle deltas.
    The header path is joined in from the separate marker-walk stage
    (``multimodal.jpeg_meta`` — no entropy decode), pinning that both
    agree on dimensions and that ``progressive`` flags exactly the
    SOF2 arms.

    Ref parity: extends the image slot of the LLM-pipeline multimodal
    mandate to the format real crawls actually carry (VERDICT r8
    missing #1).
    """
    from dataproc_spark.extensions.multimodal import (
        decode_image_stats,
        jpeg_meta,
        synthesize_jpegs,
    )

    from dataproc_spark.core import release_cache_on_gc

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    # persist the synthesized payloads: BOTH the full-decode branch and
    # the header-walk branch consume `media`, and without the pin each
    # would re-run the whole pure-Python encoder pass (r15 opt, guide
    # §5 — persist exactly the subtree two plan branches share; the
    # returned join holds the pin, so the release_cache_on_gc caveat
    # does not bite)
    media = synthesize_jpegs(docs, progressive_every=3).persist()
    stats = decode_image_stats(media)
    meta = jpeg_meta(media).select(
        "media_id",
        F.col("width").alias("hdr_width"),
        F.col("height").alias("hdr_height"),
        "progressive",
    )
    # pin A/B, sf0.1 on/off: 2.2/3.1 s count, 2.3/2.9 s consume
    return release_cache_on_gc(stats.join(meta, "media_id"), media)


SQL_MULTIMODAL_JPEG = """
WITH g AS (
    SELECT doc_id, 2 + doc_id % 3 AS wb, 1 + doc_id % 2 AS hb
    FROM documents
),
blk AS (
    SELECT g.doc_id, g.wb, g.hb,
           (g.doc_id * 7 + (k % g.wb) * 13 + (k // g.wb) * 31) % 256 AS v
    FROM g, LATERAL unnest(range(0, g.wb * g.hb)) AS t(k)
)
SELECT doc_id AS media_id,
       CAST(wb * 8 AS INTEGER) AS width,
       CAST(hb * 8 AS INTEGER) AS height,
       -- r11: ids ≡ 6 (mod 12) are subsampled RGB arms — gray values
       -- replicated to 3 exactly-equal channels (constant-128 chroma
       -- survives 4:2:0/4:2:2 boxes exactly), so only channels and the
       -- sample count scale; the block arithmetic is unchanged
       CASE WHEN doc_id % 12 = 6 THEN 3 ELSE 1 END AS channels,
       CAST(wb * hb * 64 AS BIGINT) AS n_pixels,
       CAST(SUM(v) * 64
            * (CASE WHEN doc_id % 12 = 6 THEN 3 ELSE 1 END)
            AS BIGINT) AS pixel_sum,
       CAST(MIN(v) AS INTEGER) AS pixel_min,
       CAST(MAX(v) AS INTEGER) AS pixel_max,
       CAST(wb * 8 AS INTEGER) AS hdr_width,
       CAST(hb * 8 AS INTEGER) AS hdr_height,
       doc_id % 3 = 0 AS progressive
FROM blk
GROUP BY doc_id, wb, hb
"""


def q_jpeg_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-only JPEG metadata walk (``multimodal.jpeg_meta``): the
    map-only marker-walk path for real-crawl stats, including the
    PROGRESSIVE streams — every 3rd payload is a real SOF2 stream and
    must surface ``progressive=true`` with its dimensions still read
    correctly, no entropy decode anywhere; r11's subsampled-RGB arms
    (ids ``≡ 6 mod 12``) must surface ``channels=3``. The oracle
    predicts every column arithmetically from the synthesis
    parameters."""
    from dataproc_spark.extensions.multimodal import (
        jpeg_meta,
        synthesize_jpegs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    media = synthesize_jpegs(docs, progressive_every=3)
    return jpeg_meta(media)


SQL_JPEG_META = """
SELECT doc_id AS media_id,
       CAST((2 + doc_id % 3) * 8 AS INTEGER) AS width,
       CAST((1 + doc_id % 2) * 8 AS INTEGER) AS height,
       CASE WHEN doc_id % 12 = 6 THEN 3 ELSE 1 END AS channels,
       doc_id % 3 = 0 AS progressive
FROM documents
"""


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by md5 hash ranges —
    stable under corpus growth and cluster layout; counts per split."""
    split_df = sampling.hash_split(
        _t(spark, sf_dir, "documents"), "doc_id", "r2split"
    )
    return split_df.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# cutoffs are frac_to_hex(0.8) / frac_to_hex(0.9): floor(f * 16^8) in hex


SQL_HASH_SPLIT = """
WITH h AS (
    SELECT lang,
           substr(md5(CAST(doc_id AS VARCHAR) || '#r2split'), 1, 8) AS hx
    FROM documents
)
SELECT CASE WHEN hx < 'cccccccc' THEN 'train'
            WHEN hx < 'e6666666' THEN 'val'
            ELSE 'test' END AS split,
       lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM h GROUP BY 1, 2
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k-per-stratum deterministic sample (hash order): 2 documents
    per (lang, source) cell."""
    return sampling.stratified_sample(
        _t(spark, sf_dir, "documents"), ["lang", "source"], k=2,
        id_col="doc_id", salt="strat",
    ).select("doc_id", "lang", "source")


SQL_STRATIFIED_SAMPLE = """
WITH r AS (
    SELECT doc_id, lang, source,
           ROW_NUMBER() OVER (
               PARTITION BY lang, source
               ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || '#strat'), 1, 8),
                        doc_id
           ) AS rn
    FROM documents
)
SELECT doc_id, lang, source FROM r WHERE rn <= 2
"""


def q_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic corpus sample (map-only, no shuffle): membership
    depends only on md5(doc_id + salt), so reruns and corpus growth never
    reshuffle the sample."""
    return sampling.deterministic_sample(
        _t(spark, sf_dir, "documents"), "doc_id", "s1", fraction=0.1
    ).select("doc_id", "lang", "source")


# cutoff is frac_to_hex(0.1) = floor(0.1 * 16^8) = 0x19999999


SQL_DOC_SAMPLE = """
SELECT doc_id, lang, source
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR) || '#s1'), 1, 8) < '19999999'
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals aggregated per lang: duplicate-token and
    top-bigram fractions (×1000 exact integers)."""
    feats = textstats.repetition_features(_t(spark, sf_dir, "documents"))
    return feats.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dup_token_m").alias("sum_dup_token_m"),
        F.max("top_bigram_m").alias("max_top_bigram_m"),
    )


SQL_REPETITION_STATS = r"""
WITH toks AS (
    SELECT lang,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
    FROM documents
),
bg AS (
    SELECT lang, t,
           CASE WHEN len(t) >= 2
                THEN list_transform(range(1, len(t)),
                                    i -> t[i] || ' ' || t[i + 1])
                ELSE [] END AS b
    FROM toks
),
feats AS (
    SELECT lang,
           CASE WHEN len(t) > 0
                THEN ((len(t) - len(list_distinct(t))) * 1000) // len(t)
                ELSE 0 END AS dup_token_m,
           CASE WHEN len(t) >= 2
                THEN (list_max(list_transform(list_distinct(b),
                         d -> len(list_filter(b, x -> x = d)))) * 1000)
                     // (len(t) - 1)
                ELSE 0 END AS top_bigram_m
    FROM bg
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(dup_token_m) AS BIGINT) AS sum_dup_token_m,
       CAST(MAX(top_bigram_m) AS BIGINT) AS max_top_bigram_m
FROM feats GROUP BY lang
"""


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture reweighting: per-source deterministic sampling
    rates (e.g. upsample src0, drop most of src1), counts per source."""
    out = sampling.mixture_sample(
        _t(spark, sf_dir, "documents"),
        fractions={"src0": 1.0, "src1": 0.25, "src2": 0.5},
        group_col="source", id_col="doc_id", salt="mix1", default=0.1,
    )
    return out.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))


# cutoffs: frac_to_hex of 1.0 / 0.25 / 0.5 / 0.1 — 'g' sorts above every
# hex char, so fraction 1.0 keeps all rows under lexicographic compare


SQL_MIXTURE_SAMPLE = """
WITH h AS (
    SELECT source,
           substr(md5(CAST(doc_id AS VARCHAR) || '#mix1'), 1, 8) AS hx
    FROM documents
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM h
WHERE hx < CASE source WHEN 'src0' THEN 'g'
                       WHEN 'src1' THEN '40000000'
                       WHEN 'src2' THEN '80000000'
                       ELSE '19999999' END
GROUP BY source
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing for LLM training batches: per-source
    in-order char-budget bins; reports per-bin fill. The greedy walk is
    sequential per group (applyInPandas), groups parallelize; the oracle
    replays the walk with a recursive CTE carrying (bin, fill) state."""
    from dataproc_spark.extensions import packing

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    packed = packing.pack_greedy(docs, size_col="n_chars", budget=1000)
    return packing.pack_stats(packed, size_col="n_chars")


SQL_PACK_SEQUENCES = """
WITH RECURSIVE d AS (
    SELECT source, doc_id, n_chars,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
    FROM documents
),
walk AS (
    SELECT source, n_chars, rn, CAST(0 AS BIGINT) AS bin_id,
           CAST(n_chars AS BIGINT) AS acc
    FROM d WHERE rn = 1
    UNION ALL
    SELECT d.source, d.n_chars, d.rn,
           CASE WHEN w.acc > 0 AND w.acc + d.n_chars > 1000
                THEN w.bin_id + 1 ELSE w.bin_id END,
           CASE WHEN w.acc > 0 AND w.acc + d.n_chars > 1000
                THEN CAST(d.n_chars AS BIGINT) ELSE w.acc + d.n_chars END
    FROM walk w JOIN d ON d.source = w.source AND d.rn = w.rn + 1
)
SELECT source, bin_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars
FROM walk GROUP BY source, bin_id
"""


def _keep_rules() -> F.Column:
    """THE C4/Gopher-style keep predicate over quality_features columns —
    one definition shared by q_quality_filter and q_corpus_prep (r7
    review: the five conditions were duplicated verbatim, so tightening
    a threshold in one gate would silently diverge the other; both
    oracles repeat the same constants, pinned by the gates)."""
    return (
        (F.col("n_tokens") >= 10)
        & (F.col("n_tokens") <= 1000)
        & (F.col("mean_tok_len_c") >= 200)
        & (F.col("mean_tok_len_c") <= 900)
        & (F.col("digit_ratio_m") < 300)
    )


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quality filtering: C4/Gopher-style keep rules over the
    quality features, reported as kept/dropped counts per lang."""
    docs = textstats.quality_features(_t(spark, sf_dir, "documents"))
    kept = _keep_rules()
    return (
        docs.withColumn("kept", kept.cast("int"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").alias("n_kept"),
        )
    )


SQL_QUALITY_FILTER = r"""
WITH feat AS (
    SELECT lang, length(text) AS n_chars,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t,
           length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits
    FROM documents
),
feat2 AS (
    SELECT lang, len(t) AS n_tokens,
           CASE WHEN len(t) > 0
                THEN CAST((COALESCE(list_aggregate(
                               list_transform(t, x -> length(x)), 'sum'), 0)
                           * 100) // len(t) AS BIGINT)
                ELSE 0 END AS mean_tok_len_c,
           CASE WHEN n_chars > 0
                THEN CAST(FLOOR((n_digits * 1000.0) / n_chars) AS BIGINT)
                ELSE 0 END AS digit_ratio_m
    FROM feat
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n_tokens BETWEEN 10 AND 1000
                      AND mean_tok_len_c BETWEEN 200 AND 900
                      AND digit_ratio_m < 300
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM feat2 GROUP BY lang
"""


def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-corpus prep pipeline as ONE lazy plan:
    quality filter (C4/Gopher rules) → exact dedup (min-id winner per
    content hash) → deterministic train/val/test split → per-(split, lang)
    corpus accounting. Composes four operator families; Catalyst fuses the
    map-side stages, and the only shuffles are the dedup aggregate and the
    final counts."""
    docs = _t(spark, sf_dir, "documents")
    feats = textstats.quality_features(docs)
    kept = feats.where(_keep_rules())
    winners = dedup.exact_dedup(kept).select("doc_id")
    deduped = kept.join(maybe_broadcast(winners), "doc_id", "left_semi")
    split = sampling.hash_split(deduped, "doc_id", "prep")
    return split.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


SQL_CORPUS_PREP = r"""
WITH feat AS (
    SELECT doc_id, lang, text, n_chars, length(text) AS len_c,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t,
           length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits
    FROM documents
),
feat2 AS (
    SELECT doc_id, lang, text, n_chars, len(t) AS n_tokens,
           CASE WHEN len(t) > 0
                THEN CAST((COALESCE(list_aggregate(
                               list_transform(t, x -> length(x)), 'sum'), 0)
                           * 100) // len(t) AS BIGINT)
                ELSE 0 END AS mean_tok_len_c,
           CASE WHEN len_c > 0
                THEN CAST(FLOOR((n_digits * 1000.0) / len_c) AS BIGINT)
                ELSE 0 END AS digit_ratio_m
    FROM feat
),
kept AS (
    SELECT doc_id, lang, text, n_chars FROM feat2
    WHERE n_tokens BETWEEN 10 AND 1000
      AND mean_tok_len_c BETWEEN 200 AND 900
      AND digit_ratio_m < 300
),
winners AS (
    SELECT MIN(doc_id) AS doc_id FROM kept
    GROUP BY md5(text), CASE WHEN text IS NULL THEN doc_id END
),
dd AS (
    SELECT k.doc_id, k.lang, k.n_chars
    FROM kept k JOIN winners w ON k.doc_id = w.doc_id
),
sp AS (
    SELECT lang, n_chars,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || '#prep'), 1, 8)
                     < 'cccccccc' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR) || '#prep'), 1, 8)
                     < 'e6666666' THEN 'val'
                ELSE 'test' END AS split
    FROM dd
)
SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM sp GROUP BY split, lang
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking (`corpus.chunk_documents`): each doc split
    into consecutive 64-token training chunks; map-only (explode over the
    chunk count, not the token count). The oracle re-derives every chunk
    via DuckDB list slicing — token boundaries, short final chunks, and
    empty-doc exclusion all value-checked."""
    from dataproc_spark.extensions import corpus

    return corpus.chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=64
    )


SQL_CHUNK_DOCUMENTS = r"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
    FROM documents
), nz AS (
    SELECT doc_id, t, CAST(ceil(len(t) / 64.0) AS INTEGER) AS n_chunks
    FROM toks WHERE len(t) > 0
), ex AS (
    SELECT doc_id, t, unnest(range(0, n_chunks)) AS chunk_id FROM nz
)
SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
       array_to_string(t[(chunk_id * 64 + 1):((chunk_id + 1) * 64)], ' ')
           AS chunk_text,
       CAST(len(t[(chunk_id * 64 + 1):((chunk_id + 1) * 64)]) AS INTEGER)
           AS n_tokens
FROM ex
"""


def q_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle (`corpus.shuffle_order`): every doc
    gets a reproducible (shard, pos) epoch coordinate from md5 — one hash
    shuffle + per-shard numbering, never a global sort. The oracle
    recomputes the same permutation in DuckDB (md5 is engine-portable),
    proving order is content-derived, not partitioning-derived."""
    from dataproc_spark.extensions import corpus

    return corpus.shuffle_order(
        _t(spark, sf_dir, "documents").select("doc_id", "source"),
        id_col="doc_id",
        salt="epoch0",
        n_shards=16,
    )


SQL_SHUFFLE_ORDER = """
WITH h AS (
    SELECT doc_id, source,
           substr(md5(CAST(doc_id AS VARCHAR) || '#epoch0'), 1, 8) AS hx
    FROM documents
)
SELECT doc_id, source,
       CAST(strpos('0123456789abcdef', substr(hx, 1, 1)) - 1 AS INTEGER)
           AS shard,
       CAST(ROW_NUMBER() OVER (
            PARTITION BY substr(hx, 1, 1) ORDER BY hx, doc_id
       ) - 1 AS BIGINT) AS pos
FROM h
"""


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (`corpus.redact_pii`): email/IPv4/digit-run tokens,
    map-only regexp chain. Emits md5 of the redacted text (compact exact
    comparison) + per-pattern counts; the oracle replays the same
    engine-portable regexes in DuckDB (RE2 vs Java regex parity is the
    thing being proven — patterns avoid lookbehind/backreferences)."""
    from dataproc_spark.extensions import corpus

    red = corpus.redact_pii(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return red.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("redacted_md5"),
        "n_emails",
        "n_ips",
        "n_numruns",
    )


SQL_REDACT_PII = r"""
SELECT doc_id,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
           '\d[\d\- ]{7,}\d', '<NUM>', 'g')) AS redacted_md5,
       CAST(len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER)
           AS n_emails,
       CAST(len(regexp_extract_all(text,
           '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ips,
       CAST(len(regexp_extract_all(text,
           '\d[\d\- ]{7,}\d')) AS INTEGER) AS n_numruns
FROM documents
"""


def q_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative novelty score: the fraction of a document's
    distinct bigrams that appear in fewer than 3 documents (in exact
    integer permille). High novelty flags gibberish/noise (bigrams no
    other document uses); low novelty flags boilerplate — the
    integer-exact, cross-engine-checkable stand-in for the perplexity
    filters (CCNet-style) whose float log-probs can't hash-match across
    engines. One map-only bigram explode + one df aggregate + one
    per-doc aggregate; docs with no bigrams are excluded (undefined
    score). Implementation: ``textstats.rare_bigram_stats``."""
    return textstats.rare_bigram_stats(
        _t(spark, sf_dir, "documents"), min_df=3
    )


SQL_DOC_NOVELTY = r"""
WITH toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
    FROM documents
),
bg AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(range(1, len(t)),
               i -> array_to_string(list_slice(t, i, i + 1), ' ')))) AS bg
    FROM toks WHERE len(t) >= 2
),
dfc AS (SELECT bg, COUNT(*) AS dfd FROM bg GROUP BY bg)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(CASE WHEN dfd < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       CAST(SUM(CASE WHEN dfd < 3 THEN 1 ELSE 0 END) * 1000 // COUNT(*)
            AS BIGINT) AS novelty_m
FROM bg JOIN dfc USING (bg)
GROUP BY doc_id
"""


def q_curriculum_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum binning: decile buckets of document length within each
    language (NTILE semantics under a total order — deterministic in any
    engine), then per-(lang, decile) counts and length ranges. The
    data-ordering step for curriculum / length-bucketed training schedules.

    Scale-safe exact plan: rather than `ntile` over the raw rows (which
    sorts an entire language on ONE task), aggregate to a (lang, n_chars)
    histogram, window over that tiny histogram to get each value's rank
    range, and intersect the range with NTILE's closed-form bucket
    boundaries (first n%10 buckets get n div 10 + 1 rows). The per-decile
    count/min/max depend only on how many rows of each value fall in each
    decile, so the result is bit-identical to raw-row NTILE regardless of
    the doc_id tie order.
    """
    docs = _t(spark, sf_dir, "documents")
    hist = (
        docs.groupBy("lang", "n_chars").agg(F.count(F.lit(1)).alias("_c"))
    )
    w_cum = Window.partitionBy("lang").orderBy("n_chars")
    w_all = Window.partitionBy("lang")
    spans = (
        hist.withColumn("_hi", F.sum("_c").over(w_cum))
        .withColumn("_lo", F.col("_hi") - F.col("_c") + 1)
        .withColumn("_n", F.sum("_c").over(w_all))
    )
    d = F.col("decile")
    q_sz = F.expr("_n div 10")
    rem = F.expr("_n % 10")
    bucket_start = (d - 1) * q_sz + F.least(d - 1, rem) + 1
    bucket_end = d * q_sz + F.least(d, rem)
    overlap = (
        F.least(F.col("_hi"), bucket_end)
        - F.greatest(F.col("_lo"), bucket_start)
        + 1
    )
    return (
        spans.withColumn("decile", F.explode(F.sequence(F.lit(1), F.lit(10))))
        .withColumn("_ov", overlap)
        .where(F.col("_ov") > 0)
        .groupBy("lang", "decile")
        .agg(
            F.sum("_ov").alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
    )


SQL_CURRICULUM_BINS = """
WITH b AS (
    SELECT lang, n_chars,
           NTILE(10) OVER (
               PARTITION BY lang ORDER BY n_chars, doc_id
           ) AS decile
    FROM documents
)
SELECT lang, CAST(decile AS INTEGER) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM b GROUP BY lang, decile
"""


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-balanced mixture resampling
    (``sampling.temperature_mixture``, α = 0.5): per-source targets
    ∝ sqrt(|source|) under a 2000-row budget, materialized as epoch
    repeats for upsampled sources + hash-selected subsets for
    downsampled ones. All-integer arithmetic end to end, so the oracle
    replays the exact rate table and draw comparisons."""
    out = sampling.temperature_mixture(
        _t(spark, sf_dir, "documents"),
        group_col="source", id_col="doc_id", salt="tmix", budget_rows=2000,
    )
    return out.select("doc_id", "source", "epoch")


SQL_TEMPERATURE_MIXTURE = """
WITH counts AS (
    SELECT source, COUNT(*) AS n FROM documents GROUP BY source
),
tot AS (
    SELECT CAST(SUM(CAST(FLOOR(SQRT(n)) AS BIGINT)) AS BIGINT) AS tw
    FROM counts
),
rates AS (
    SELECT source, n,
           (2000 * CAST(FLOOR(SQRT(n)) AS BIGINT)) // tw AS target
    FROM counts, tot
),
r2 AS (
    SELECT source, n, target // n AS copies,
           (4294967296 * (target - (target // n) * n)) // n AS rem_rate
    FROM rates
),
drawn AS (
    SELECT d.doc_id, d.source,
           r.copies + CASE WHEN CAST('0x' || substr(
               md5(CAST(d.doc_id AS VARCHAR) || '#tmix'), 1, 8) AS BIGINT)
               < r.rem_rate THEN 1 ELSE 0 END AS k
    FROM documents d JOIN r2 r USING (source)
)
SELECT doc_id, source,
       CAST(unnest(generate_series(0, k - 1)) AS BIGINT) AS epoch
FROM drawn
"""


def q_quality_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality calibration (``analytics.group_percentile``):
    each document's length score becomes its integer permille rank
    WITHIN its source, then the bottom decile of every source is
    dropped — "drop the worst 10%" holds per domain instead of
    deleting whole low-scoring domains."""
    from dataproc_spark.extensions.analytics import group_percentile

    docs = _t(spark, sf_dir, "documents")
    out = group_percentile(docs, ["source"], "n_chars", ["doc_id"])
    return out.where(F.col("permille") >= 100).select(
        "doc_id", "source", "permille"
    )


SQL_QUALITY_PERCENTILE = """
WITH ranked AS (
    SELECT doc_id, source,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY n_chars, doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY source) AS gn
    FROM documents
)
SELECT doc_id, source,
       CAST(((rn - 1) * 1000) // greatest(gn - 1, 1) AS BIGINT) AS permille
FROM ranked
WHERE ((rn - 1) * 1000) // greatest(gn - 1, 1) >= 100
"""



#: decomposed/compatibility prefixes for the normalization gate — ONE
#: shared list builds both the Spark arms and the oracle SQL, so the
#: engines see byte-identical inputs. Arms: combining acute (composes),
#: Angstrom sign (singleton → U+00C5), combining marks in NON-canonical
#: order (reorder + compose), already-composed (idempotence), ASCII
#: (no-op).
_NFC_PREFIXES = [
    "Cafe\u0301 ",             # e + combining acute -> e-acute
    "\u212b-unit ",            # ANGSTROM SIGN -> U+00C5
    "e\u0301\u0323-mark ",     # acute(ccc 230) then dot-below(ccc 220):
                               # canonical reorder, then compose
    "d\u00e9j\u00e0 ",         # composed: NFC is a fixpoint here
    "",                        # ASCII: unchanged
]


def q_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC canonicalization (``corpus.normalize_text``): each
    document is prefixed with a decomposed / compatibility sequence
    chosen by ``doc_id % 5`` (combining acute, Angstrom singleton,
    mis-ordered combining marks, an already-composed arm, plain ASCII),
    then normalized by the real Arrow-vectorized kernel. Output pins the
    normalized text itself plus changed-flag and code-point lengths, so
    a wrong composition, missed canonical reordering, or a kernel that
    silently byte-passes hash-fails against DuckDB's ``nfc_normalize``.

    Ref parity: the reference has no Unicode surface; this is the
    tokenizer-prep canonicalization pass of the LLM-pipeline mandate.
    """
    from dataproc_spark.extensions import corpus

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    arm = F.col("doc_id") % 5
    prefix = F.when(arm == 0, F.lit(_NFC_PREFIXES[0]))
    for j in range(1, 5):
        prefix = prefix.when(arm == j, F.lit(_NFC_PREFIXES[j]))
    synth = docs.withColumn(
        "synth", F.concat(prefix, F.coalesce(F.col("text"), F.lit("")))
    )
    out = corpus.normalize_text(synth, col="synth", out_col="norm_text")
    return out.select(
        "doc_id",
        "norm_text",
        (F.col("norm_text") != F.col("synth")).cast("int").alias("changed"),
        F.length("synth").cast("long").alias("n_cp_before"),
        F.length("norm_text").cast("long").alias("n_cp_after"),
    )



SQL_UNICODE_NORMALIZE = f"""
WITH synth AS (
    SELECT doc_id,
           CASE doc_id % 5
                WHEN 0 THEN {_sql_literal(_NFC_PREFIXES[0])}
                WHEN 1 THEN {_sql_literal(_NFC_PREFIXES[1])}
                WHEN 2 THEN {_sql_literal(_NFC_PREFIXES[2])}
                WHEN 3 THEN {_sql_literal(_NFC_PREFIXES[3])}
                ELSE ''
           END || COALESCE(text, '') AS synth
    FROM documents
)
SELECT doc_id,
       nfc_normalize(synth) AS norm_text,
       CAST(CASE WHEN nfc_normalize(synth) <> synth THEN 1 ELSE 0 END
            AS INTEGER) AS changed,
       CAST(length(synth) AS BIGINT) AS n_cp_before,
       CAST(length(nfc_normalize(synth)) AS BIGINT) AS n_cp_after
FROM synth
"""


def q_pdf_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF text extraction (``pdf.extract_pdf_text``, pure-core engine
    — the deterministic tier; the pypdf seam swaps the kernel, not the
    plan): each document's text rides into a STRUCTURALLY VALID
    single-page PDF (catalog/pages/page/font/xref — the builder the
    unit suite also drives through pypdf when installed) through five
    arms: (0) a plain ``Tj`` show with the text PDF-escaped; (1) the
    same stream FlateDecode-compressed — stdlib zlib, and the
    extracted text is byte-independent of the compressor, so the
    oracle needs no zlib; (2) a ``TJ`` array showing the text in two
    kerned halves that must concatenate back exactly; (3) the text as
    a HEX string; (4) a non-PDF payload → NULL text + the stable
    ``not_pdf`` quarantine code. The oracle is the roundtrip identity
    per arm. Plan: two Arrow map stages (fixture build + extract),
    zero shuffles (plan-audited in the unit suite)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    from dataproc_spark.extensions import pdf as pdfx

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def _mk(doc_id, text):
        out = []
        for i, t in zip(doc_id, text):
            raw = (t or "").encode("utf-8")
            arm = i % 5
            if arm == 4:
                out.append(b"ZZ no pdf magic " + raw)
                continue
            if arm == 3:
                cs = b"BT <" + raw.hex().encode() + b"> Tj ET"
            elif arm == 2:
                a, b = raw[: len(raw) // 2], raw[len(raw) // 2:]
                cs = (b"BT [(" + pdfx.escape_pdf_string(a) + b") -250 ("
                      + pdfx.escape_pdf_string(b) + b")] TJ ET")
            else:
                cs = (b"BT /F1 12 Tf 72 720 Td ("
                      + pdfx.escape_pdf_string(raw) + b") Tj ET")
            out.append(pdfx.build_simple_pdf(cs, flate=(arm == 1)))
        return pd.Series(out)

    _mk.__annotations__ = {"doc_id": pd.Series, "text": pd.Series,
                           "return": pd.Series}
    mk = pandas_udf(_mk, BinaryType())
    src = docs.select(
        "doc_id", mk(F.col("doc_id"), F.col("text")).alias("payload")
    )
    return pdfx.extract_pdf_text(src, engine="pure").select(
        "doc_id", "pdf_text", "pdf_error"
    )


SQL_PDF_TEXT = """
SELECT doc_id,
       CASE WHEN doc_id % 5 = 4 THEN NULL
            ELSE coalesce(text, '') END AS pdf_text,
       CASE WHEN doc_id % 5 = 4 THEN 'not_pdf' END AS pdf_error
FROM documents
"""


def q_jpeg_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG privacy scrub (``jpeg.strip_jpeg_metadata`` via
    ``multimodal.scrub_jpeg_metadata``): Exif/XMP/comment segments must
    leave a training corpus' images — with the pixels untouched. Each
    document becomes a real 8×8 baseline JPEG (constant block
    ``doc_id % 256``, quant 1) carrying an APP1/Exif segment of
    doc-dependent size and a COM comment embedding the doc_id; the
    scrub must remove exactly those two segments with byte-exact
    accounting (``n_meta_removed``, ``meta_bytes_removed``, and the
    length identity in_len − out_len = removed). The decoded-pixels-
    identical property is enforced in the unit suite (decode is the
    expensive path; the gate pins the byte accounting). Plan: two
    Arrow map stages (fixture build + scrub), zero shuffles."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    from dataproc_spark.extensions import multimodal as mm

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def _mk(doc_id):
        import numpy as np

        from dataproc_spark.extensions import jpeg as jp

        out = []
        for i in doc_id:
            arr = np.full((8, 8), int(i) % 256, dtype=np.uint8)
            buf = jp.encode_jpeg(arr, quant=1)
            buf = jp.insert_jpeg_segment(
                buf, 0xE1,
                b"Exif\x00\x00" + b"x" * (10 + int(i) % 50))
            buf = jp.insert_jpeg_segment(
                buf, 0xFE, b"scrubme " + str(int(i)).encode())
            out.append(buf)
        return pd.Series(out)

    _mk.__annotations__ = {"doc_id": pd.Series, "return": pd.Series}
    mk = pandas_udf(_mk, BinaryType())
    src = docs.select("doc_id", mk(F.col("doc_id")).alias("payload"))
    scrubbed = mm.scrub_jpeg_metadata(src)
    return scrubbed.select(
        "doc_id",
        "n_meta_removed",
        "meta_bytes_removed",
        (
            F.octet_length("payload") - F.octet_length("clean_payload")
            == F.col("meta_bytes_removed")
        ).alias("len_consistent"),
    )


SQL_JPEG_SCRUB = """
SELECT doc_id,
       2 AS n_meta_removed,
       CAST(32 + doc_id % 50 + length(CAST(doc_id AS VARCHAR))
            AS BIGINT) AS meta_bytes_removed,
       TRUE AS len_consistent
FROM documents
"""
