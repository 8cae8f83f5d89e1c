"""Model-based document scoring: a hashed n-gram LINEAR classifier as
pure Column expressions (the fastText-style architecture — lowercased
word unigrams + bigrams hashed into a bounded bucket space, a sparse
dot with per-label weights) plus an import-try seam for a real
``fasttext`` model when the library is installed.

This is the step between heuristic quality filters
(``textstats.quality_features``) and learned curation in every
published pretraining pipeline: language ID and quality classification
are run with a linear model over hashed n-grams precisely because the
architecture is cheap enough for trillions of documents. The engine
half (featurize + dot) runs JVM-side and bit-exactly cross-engine:
buckets derive from the md5 family (``approx._md5_mod`` — the same
derivation the Count-Min/Bloom sketches pin), and weights are INTEGER
quantized so summation order cannot perturb a score.

Reference scope: the reference repo (west-tandon/dataproc) has no
classifier; this extends the engine for corpus construction per the
round brief. Architecture follows the public fastText papers
(Joulin et al. 2016, "Bag of Tricks for Efficient Text
Classification") — hashed bigram features, linear label scores.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from dataproc_spark.extensions.approx import _md5_mod

__all__ = [
    "hashed_ngram_buckets",
    "ngram_feature_count",
    "quantized_log2",
    "train_nb_weights",
    "write_nb_model",
    "read_nb_model",
    "score_with_nb_model",
    "score_documents",
    "predict_label",
    "fasttext_predict",
]

#: format marker for persisted NB models (the write_ivf_index pattern)
NB_MODEL_FORMAT = "dataproc-nb-model-v1"


def hashed_ngram_buckets(
    col: str | Column = "text",
    n_buckets: int = 1 << 20,
    bigrams: bool = True,
    salt: str = "ftz",
    hash_fn: str = "md5",
) -> Column:
    """The document's hashed n-gram feature ids as ``array<long>`` —
    lowercased whitespace unigrams plus (with ``bigrams``) adjacent
    word bigrams, each md5-bucketed into ``[0, n_buckets)`` with a
    per-arity salt (``#{salt}u`` / ``#{salt}b`` — a unigram and a
    bigram can share a bucket only by genuine hash collision, the
    fastText hashing-trick semantics). Duplicate features are KEPT
    (term frequency weights the dot, the bag-of-words rule). Empty /
    NULL text → empty array. Map-only.

    ``hash_fn``: ``'md5'`` (default) is ENGINE-PORTABLE — the oracle
    rebuilds every bucket id in DuckDB from the same md5 prefix —
    but the md5+hex-conv chain dominates featurization CPU at scale.
    ``'xxhash64'`` is the production fast path (~2× end-to-end,
    measured at the 10× probe): native 64-bit hashing, deterministic
    within Spark, NOT replayable by the DuckDB oracle. The two
    produce different (equally valid) bucketings — a model's weights
    are tied to the hash_fn it was exported with."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(
            f"hash_fn must be 'md5' or 'xxhash64', got {hash_fn!r}"
        )
    if hash_fn == "xxhash64":
        def _bucket(t, suffix):
            return F.pmod(
                F.xxhash64(F.concat(t, F.lit(suffix))),
                F.lit(n_buckets),
            ).cast("long")
    else:
        def _bucket(t, suffix):
            return _md5_mod(t, suffix, n_buckets)
    c = F.col(col) if isinstance(col, str) else col
    # dedup.tokens() takes a column NAME; inline the same split here
    # because the input is a derived lower() expression. NULL text
    # coalesces to '' so NULL and empty documents both featurize to an
    # EMPTY array (score 0), not NULL scores
    toks = F.filter(
        F.split(F.lower(F.coalesce(c, F.lit(""))), r"\s+"),
        lambda x: x != F.lit(""),
    )
    unis = F.transform(toks, lambda t: _bucket(t, f"#{salt}u"))
    if not bigrams:
        return unis
    bis = F.when(
        F.size(toks) >= 2,
        F.transform(
            # sequence(1, 0) counts DOWN, never empty — guard explicitly
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: _bucket(
                F.concat_ws(" ", F.element_at(toks, i),
                            F.element_at(toks, i + 1)),
                f"#{salt}b",
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))
    return F.concat(unis, bis)


def _ngram_bucket_rows(
    df: DataFrame,
    keep_cols: list,
    text_col: str,
    n_buckets: int,
    bigrams: bool,
    salt: str,
    hash_fn: str,
) -> DataFrame:
    """Exploded ``(keep_cols..., _bucket)`` feature rows — the shape
    :func:`train_nb_weights` aggregates and :func:`score_documents`
    joins. For the md5 (oracle-portable) hash this runs tokenization
    in the JVM (``lower``/``split`` — locale/regex semantics stay
    EXACTLY Spark's) and hands the token arrays to ONE Arrow kernel
    for the md5→hex→mod chain, which is byte-exact in any runtime
    (md5 over UTF-8 bytes). r15 opt: the previous
    ``explode(hashed_ngram_buckets(...))`` evaluated the per-token
    md5 chain inside ``transform`` lambdas, which Catalyst never
    compiles — interpreted eval measured ~170 µs/feature (2.6 s × 32
    tasks at the sf0.1 gate for ~5 × 10⁵ features); the hashlib loop
    is ~2 µs/feature. ``xxhash64`` keeps the expression path (Spark's
    seed/implementation is not portably replicated in Python)."""
    if hash_fn != "md5":
        feats = hashed_ngram_buckets(
            text_col, n_buckets, bigrams, salt, hash_fn
        )
        return df.select(*keep_cols, F.explode(feats).alias("_bucket"))
    import pandas as pd

    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda x: x != F.lit(""),
    )
    src = df.select(*keep_cols, toks.alias("_toks"))
    su = f"#{salt}u".encode("utf-8")
    sb = f"#{salt}b".encode("utf-8")
    names = list(keep_cols)
    key_types = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in src.schema.fields[:-1]
    )

    def kernel(batches):
        from hashlib import md5 as _md5

        for pdf in batches:
            if not len(pdf):
                continue
            buckets: list = []
            reps: list = []
            for tarr in pdf["_toks"]:
                t = [s.encode("utf-8") for s in tarr]
                row = [
                    int(_md5(w + su).hexdigest()[:8], 16) % n_buckets
                    for w in t
                ]
                if bigrams and len(t) >= 2:
                    row.extend(
                        int(_md5(a + b" " + b + sb).hexdigest()[:8], 16)
                        % n_buckets
                        for a, b in zip(t, t[1:])
                    )
                buckets.append(row)
                reps.append(len(row))
            out = {
                n: pdf[n].to_numpy().repeat(reps) for n in names
            }
            out["_bucket"] = [b for row in buckets for b in row]
            yield pd.DataFrame(out)

    return src.mapInPandas(kernel, schema=f"{key_types}, _bucket long")


def ngram_features(
    df: DataFrame,
    keep_cols: list,
    text_col: str = "text",
    n_buckets: int = 1 << 20,
    bigrams: bool = True,
    salt: str = "ftz",
    hash_fn: str = "md5",
) -> DataFrame:
    """Public pre-featurization seam (r15 opt round 2): the exploded
    ``(keep_cols..., _bucket)`` hashed-ngram rows that
    :func:`train_nb_weights` aggregates and :func:`score_documents`
    joins. A train→score pipeline over ONE corpus should featurize
    once — ``ngram_features(df, [id, label])``, persist, and hand the
    (label, _bucket) / (id, _bucket) projections to the two consumers
    via their ``features`` parameter — instead of paying the tokenize +
    hash pass twice (the md5 chain is the dominant map cost at any
    scale). Parameters must match what the consumers would have used;
    the frame is position-free, so projections are safe."""
    from dataproc_spark.core import ensure_has_columns

    ensure_has_columns(df, list(keep_cols) + [text_col])
    return _ngram_bucket_rows(
        df.select(*keep_cols, F.col(text_col)), list(keep_cols),
        text_col, n_buckets, bigrams, salt, hash_fn,
    )


def ngram_feature_count(
    col: str | Column = "text", bigrams: bool = True
) -> Column:
    """``size(hashed_ngram_buckets(...))`` WITHOUT computing a single
    hash: the feature count is ``#tokens + #bigrams`` by construction
    (``#bigrams = max(#tokens - 1, 0)``), independent of bucket values.
    r15 opt (guide §1.2 — don't compute things you throw away):
    :func:`score_documents` previously derived ``n_feats`` via
    ``F.size`` over the full hashed-feature expression, which re-ran
    the per-token md5/xxhash chain over the whole corpus a second time
    just to count the array."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.filter(
        F.split(F.lower(F.coalesce(c, F.lit(""))), r"\s+"),
        lambda x: x != F.lit(""),
    )
    n_uni = F.size(toks)
    if not bigrams:
        return n_uni
    return n_uni + F.greatest(n_uni - F.lit(1), F.lit(0))


def quantized_log2(c: Column, scale: int = 1 << 12) -> Column:
    """Fixed-point base-2 logarithm of a positive integer column as an
    EXACT-integer piecewise-linear approximation (Mitchell 1962,
    "Computer Multiplication and Division Using Binary Logarithms" —
    public classic):

        Q(c) = scale * e + (c - 2^e) * scale div 2^e,   e = bitlen(c)-1

    the integer characteristic plus a linear interpolation of the
    mantissa — monotone non-decreasing over integers (counts closer
    than ``2^e / scale`` quantize to the same value), Q(1) = 0, exact
    at powers of two, max error ~0.086 bits. Every operation is integer
    (+, -, *, truncating div, shiftleft, base-2 digit count), so ANY
    engine replays it bit-for-bit — the property that makes
    :func:`train_nb_weights` models value-checkable cross-engine,
    where a float ``ln``/``round`` pair can drift in the last ulp and
    flip on rare boundary values (DuckDB replay:
    ``scale * (length(bin(c)) - 1) + (c - 2^e) * scale // 2^e``).
    ``c`` must be >= 1 (raises per row otherwise — a log of 0 would
    otherwise need a sentinel that silently ranks); ``c * scale`` must
    stay under 2^63 (c < 2^50 at the default scale — beyond any
    per-class token count; raise ``scale`` only with that bound in
    mind)."""
    c = c.cast("long")
    # base-2 digit count of a positive long == bit length (the
    # _ceil_pow2 derivation in extensions.cdx)
    e = (F.length(F.conv(c.cast("string"), 10, 2)) - 1).cast("int")
    p = F.call_function(
        "shiftleft", F.lit(1).cast("long"), e
    ).cast("long")
    # IntegralDivide ("div"): truncating long division — floor for the
    # nonnegative operands here, matching DuckDB's `//`
    frac = F.call_function(
        "div", (c - p) * F.lit(int(scale)).cast("long"), p
    )
    q = F.lit(int(scale)).cast("long") * e.cast("long") + frac
    return F.when(c >= 1, q).otherwise(
        F.raise_error(F.lit("quantized_log2: input must be >= 1"))
    )


def train_nb_weights(
    df: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    n_buckets: int = 1 << 20,
    bigrams: bool = True,
    salt: str = "ftz",
    alpha: int = 1,
    scale: int = 1 << 12,
    hash_fn: str = "md5",
    features: DataFrame | None = None,
):
    """Train a multinomial naive-Bayes model over hashed n-grams from a
    LABELED frame — the producer half of the train → export → score
    loop :func:`score_documents` consumes (before this, the repo could
    only SCORE under external weights). Count-based and fully
    deterministic: the only "learning" is two aggregations, and every
    derived weight is an exact integer via :func:`quantized_log2`, so
    the exported model is value-checkable cross-engine and retrains
    identically on any cluster layout.

    Model (standard Laplace-smoothed multinomial NB, rearranged into
    the ``score = Σ w[bucket] + n_feats·bias + intercept`` shape
    :func:`score_documents` evaluates, with Q = quantized_log2):

    - ``w(l, b)   = Q(cnt(l, b) + alpha) - Q(alpha)``  (>= 0; buckets
      unseen in class l correctly contribute 0 through the join miss);
    - ``bias(l)   = Q(alpha) - Q(tot(l) + alpha * n_buckets)``  (the
      per-feature normalizer, folded so the unseen-bucket case is
      exact: per-token score is ``Q(cnt+alpha) - Q(tot+alpha*V)``);
    - ``intercept(l) = Q(n_docs(l))``  (the class prior up to a shared
      constant — argmax-invariant, comparable across labels).

    Returns ``(weights, bias, intercept)``: the long-format
    (``label``, ``bucket``, ``w``) frame plus two small per-label
    dicts, exactly the :func:`score_documents` parameter shapes. NULL
    labels raise per row (a silently dropped class skews every prior);
    NULL/empty text is a legitimate zero-feature document (counts in
    the prior, adds no token mass).

    100 TB plan: featurization is map-only; ONE (label, bucket)
    aggregation with map-side combine produces the model (output ≤
    labels × n_buckets rows — bounded by the hashing trick regardless
    of corpus size); the per-label totals reduce from THAT aggregate
    (labels-sized, collected driver-side like any model export). The
    weights frame is returned LAZY — persist or materialize it before
    handing to score_documents (which references its weights twice;
    see that docstring's 24× lesson)."""
    from dataproc_spark.core import ensure_has_columns

    ensure_has_columns(df, [label_col, text_col])
    if alpha < 1:
        raise ValueError(f"alpha must be >= 1, got {alpha}")
    lab = (
        F.when(F.col(label_col).isNotNull(),
               F.col(label_col).cast("string"))
        .otherwise(F.raise_error(F.lit(
            "train_nb_weights: NULL label — a silently dropped class "
            "skews every prior; filter or impute explicitly first"
        )))
    )
    if features is not None:
        # pre-featurized (label, _bucket) rows from :func:`ngram_features`
        # (same corpus, same parameters) — the shared-featurize seam for
        # train→score pipelines (r15 opt round 2)
        from dataproc_spark.core import ensure_has_columns as _ehc

        _ehc(features, ["label", "_bucket"])
        feat_rows = features.select("label", "_bucket")
    else:
        feat_rows = _ngram_bucket_rows(
            df.select(lab.alias("label"), F.col(text_col).alias("_t")),
            ["label"], "_t", n_buckets, bigrams, salt, hash_fn,
        )
    counts = (
        feat_rows
        .withColumnRenamed("_bucket", "bucket")
        .groupBy("label", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("_cnt"))
    ).persist()
    q_alpha = F.lit(int(alpha)).cast("long")
    weights = counts.select(
        "label", "bucket",
        (quantized_log2(F.col("_cnt") + q_alpha, scale)
         - quantized_log2(q_alpha, scale)).cast("long").alias("w"),
    )
    tot = {
        r["label"]: r["_tot"]
        for r in counts.groupBy("label")
               .agg(F.sum("_cnt").cast("long").alias("_tot")).collect()
    }
    ndocs = {
        r["label"]: r["_n"]
        for r in df.select(lab.alias("label")).groupBy("label")
               .agg(F.count(F.lit(1)).cast("long").alias("_n")).collect()
    }
    if not ndocs:  # empty training frame: empty model, no labels
        counts.unpersist()
        return weights, {}, {}
    # zero-feature-only classes appear in ndocs but not tot
    spark = df.sparkSession
    scalar = spark.range(1).select(
        *[
            (quantized_log2(q_alpha, scale)
             - quantized_log2(
                 F.lit(int(tot.get(l, 0)) + alpha * n_buckets)
                 .cast("long"), scale)).alias(f"b_{i}")
            for i, l in enumerate(sorted(ndocs))
        ],
        *[
            quantized_log2(F.lit(int(n)).cast("long"), scale)
            .alias(f"p_{i}")
            for i, (_, n) in enumerate(sorted(ndocs.items()))
        ],
    ).first()
    labels_sorted = sorted(ndocs)
    bias = {l: int(scalar[f"b_{i}"]) for i, l in enumerate(labels_sorted)}
    intercept = {
        l: int(scalar[f"p_{i}"]) for i, l in enumerate(labels_sorted)
    }
    # pin A/B, nb_model_roundtrip (no features passed: the tot collect
    # and the model write both read counts) on/off, ± IQR of on runs:
    # 10x 19.2/21.7 ±3.7 s count (every off run slower), 18.2/22.0 ±3.0
    # s consume; sf0.1 6.4/5.8 ±1.1 s count. nb_train_score: no cell slower
    from dataproc_spark.core import release_cache_on_gc

    return release_cache_on_gc(weights, counts), bias, intercept


def write_nb_model(
    weights: DataFrame,
    bias: dict,
    intercept: dict,
    path: str,
    n_buckets: int = 1 << 20,
    bigrams: bool = True,
    salt: str = "ftz",
    scale: int = 1 << 12,
    hash_fn: str = "md5",
) -> dict:
    """Persist a :func:`train_nb_weights` model — the EXPORT in the
    train → export → score loop (the ``write_ivf_index`` layout
    pattern). Under ``path``:

    * ``weights/`` — the long-format (label, bucket, w) table;
    * ``labels/``  — one row per label with its ``bias`` and
      ``intercept`` terms;
    * ``meta/``    — one row pinning the FEATURIZATION parameters
      (n_buckets, bigrams, salt, hash_fn, scale) — a model scored
      under different featurization silently garbage-scores, which is
      why :func:`score_with_nb_model` reads these instead of trusting
      call-site arguments.

    Returns the meta dict. The weights write is the only
    possibly-large output (bounded by labels × n_buckets); labels/meta
    coalesce to one file each."""
    from dataproc_spark.core import local_frame

    spark = weights.sparkSession
    labels = sorted(set(bias) | set(intercept))
    weights.write.mode("overwrite").parquet(f"{path}/weights")
    local_frame(
        spark,
        [(l, int(bias.get(l, 0)), int(intercept.get(l, 0)))
         for l in labels],
        "label string, bias long, intercept long",
    ).write.mode("overwrite").parquet(f"{path}/labels")
    meta = {
        "format": NB_MODEL_FORMAT,
        "n_buckets": int(n_buckets),
        "bigrams": bool(bigrams),
        "salt": str(salt),
        "scale": int(scale),
        "hash_fn": str(hash_fn),
    }
    local_frame(
        spark,
        [tuple(meta.values())],
        "format string, n_buckets long, bigrams boolean, salt string, "
        "scale long, hash_fn string",
    ).write.mode("overwrite").parquet(f"{path}/meta")
    return meta


def read_nb_model(spark, path: str):
    """Load a persisted NB model: ``(weights df, bias dict, intercept
    dict, meta dict)`` — :func:`write_nb_model`'s inverse. Raises on a
    format-marker mismatch (an IVF index or arbitrary parquet at the
    same path would otherwise half-load)."""
    meta_row = spark.read.parquet(f"{path}/meta").first()
    meta = meta_row.asDict()
    if meta.get("format") != NB_MODEL_FORMAT:
        raise ValueError(
            f"read_nb_model: {path!r} holds format "
            f"{meta.get('format')!r}, expected {NB_MODEL_FORMAT!r}"
        )
    labels = spark.read.parquet(f"{path}/labels").collect()
    bias = {r["label"]: int(r["bias"]) for r in labels}
    intercept = {r["label"]: int(r["intercept"]) for r in labels}
    return (
        spark.read.parquet(f"{path}/weights"), bias, intercept, meta
    )


def score_with_nb_model(
    df: DataFrame,
    path: str,
    id_cols: tuple = ("doc_id",),
    text_col: str = "text",
    broadcast_weights: bool = True,
) -> DataFrame:
    """Score documents under a PERSISTED model: load, then
    :func:`score_documents` with the featurization parameters taken
    from the model's meta — the loop-closing consumer that makes
    parameter drift between train time and score time impossible
    (scoring under a different n_buckets/salt/hash_fn is the silent
    garbage-score footgun the meta table exists to prevent)."""
    weights, bias, intercept, meta = read_nb_model(
        df.sparkSession, path
    )
    return score_documents(
        df, weights,
        id_cols=id_cols,
        text_col=text_col,
        n_buckets=int(meta["n_buckets"]),
        bigrams=bool(meta["bigrams"]),
        salt=str(meta["salt"]),
        bias=bias,
        broadcast_weights=broadcast_weights,
        labels=sorted(bias),
        hash_fn=str(meta["hash_fn"]),
        intercept=intercept,
    )


def score_documents(
    df: DataFrame,
    weights: DataFrame,
    id_cols: tuple = ("doc_id",),
    text_col: str = "text",
    n_buckets: int = 1 << 20,
    bigrams: bool = True,
    salt: str = "ftz",
    bias: dict | None = None,
    broadcast_weights: bool = True,
    labels: list | None = None,
    hash_fn: str = "md5",
    intercept: dict | None = None,
    features: DataFrame | None = None,
) -> DataFrame:
    """Score every document under a hashed-ngram linear model — one
    output row per (document, label) with

    - ``n_feats`` — the document's feature count (unigrams + bigrams);
    - ``score`` — the exact-integer un-normalized dot
      ``Σ w[label][bucket(f)] + n_feats * bias[label] +
      intercept[label]`` (``intercept`` is the flat per-label additive
      term — the class-prior slot :func:`train_nb_weights` exports;
      absent labels default to 0, like ``bias``).

    ``weights`` is the long-format model: one row per (``label``
    string, ``bucket`` long, ``w`` long) with INTEGER-quantized
    weights (quantize at export time: ``round(w_float * scale)`` for a
    fixed scale — scores then reproduce bit-exactly in any engine and
    any summation order, the same reasoning as the money-in-cents
    TPC-H gates). Buckets absent from the model contribute 0. The
    ``n_feats``-scaled bias keeps the argmax identical to the
    mean-pooled fastText formulation (``mean + bias`` and
    ``sum + n·bias`` order labels the same way) without a division
    that would break integer exactness; calibrated probabilities are
    a caller-side softmax over ``score / (scale * n_feats)``.

    Documents with ZERO features (empty/NULL text) still emit one row
    per label with ``score = 0`` — a pipeline must see them to route
    them, not lose them in a join.

    100 TB plan: featurization is map-only; features explode and
    broadcast-hash-join the weights (a quantized hashed model is a few
    hundred MB at fastText's 2M buckets — executor-resident by
    design; ``broadcast_weights=False`` falls back to a shuffle join
    for an oversized ensemble). Per-(doc,label) sums complete
    MAP-SIDE (a document's tokens live in one row, hence one
    partition), so the one aggregation shuffle carries docs × labels
    rows of three longs — independent of document length. Label
    seeding: with explicit ``labels`` it is a literal-array explode
    (no join node at all); without, a broadcast cross-join against
    the weights' label-distinct — pass ``labels`` whenever
    ``weights`` is a DERIVED plan rather than a materialized table,
    or that distinct re-executes the whole derivation (measured 24×
    blowup in the r14 gate before its model was materialized). A
    weights frame that is itself an expensive plan should be
    persisted or collected-and-recreated by the caller for the same
    reason: this operator references it in TWO places (the feature
    join and, absent ``labels``, the label seed)."""
    from dataproc_spark.core import ensure_has_columns, ensure_no_columns

    ensure_has_columns(df, list(id_cols) + [text_col])
    ensure_has_columns(weights, ["label", "bucket", "w"])
    ensure_no_columns(
        df, ["label", "score", "n_feats", "_bucket"], "score_documents"
    )
    ids = [F.col(c) for c in id_cols]
    # n_feats is a pure COUNT — derive it hash-free (r15 opt: the old
    # F.size(feats) re-ran the whole per-token md5 chain over the
    # corpus a second time; ngram_feature_count is arithmetic on the
    # token count and provably equal to size(feats) by construction)
    base = df.select(
        *ids, ngram_feature_count(text_col, bigrams).alias("n_feats")
    )
    w = F.broadcast(weights) if broadcast_weights else weights
    if features is not None:
        # pre-featurized (*id_cols, _bucket) rows from
        # :func:`ngram_features` — the shared-featurize seam (r15 opt
        # round 2); parameters must match this call's
        ensure_has_columns(features, list(id_cols) + ["_bucket"])
        feat_rows = features.select(*id_cols, "_bucket")
    else:
        feat_rows = _ngram_bucket_rows(
            df.select(*ids, F.col(text_col)), list(id_cols), text_col,
            n_buckets, bigrams, salt, hash_fn,
        )
    sums = (
        feat_rows
        .join(w, F.col("_bucket") == F.col("bucket"), "inner")
        .groupBy(*id_cols, "label")
        .agg(F.sum("w").cast("long").alias("_dot"))
    )
    if labels is not None:
        # known labels seed via a literal-array explode — no join node
        # at all (a crossJoin(broadcast(labels)) planned as a
        # BroadcastNestedLoopJoin, which the registry plan audit
        # rightly flags; an explode is the same docs × labels fanout
        # without the join machinery)
        seeded = base.select(
            "*",
            F.explode(F.array(
                *[F.lit(str(x)) for x in sorted(set(labels))]
            )).alias("label"),
        )
    else:
        seeded = base.crossJoin(
            F.broadcast(weights.select("label").distinct())
        )
    def _label_map(d: dict) -> Column:
        return F.coalesce(
            F.create_map(
                *[F.lit(x) for kv in d.items() for x in kv]
            )[F.col("label")],
            F.lit(0),
        ).cast("long")

    bias_col = _label_map(bias) if bias else F.lit(0).cast("long")
    icpt_col = (
        _label_map(intercept) if intercept else F.lit(0).cast("long")
    )
    return (
        seeded
        .join(sums, list(id_cols) + ["label"], "left")
        .select(
            *id_cols,
            "label",
            "n_feats",
            (F.coalesce(F.col("_dot"), F.lit(0))
             + F.col("n_feats").cast("long") * bias_col
             + icpt_col).alias("score"),
        )
    )


def predict_label(
    scores: DataFrame, id_cols: tuple = ("doc_id",)
) -> DataFrame:
    """Collapse :func:`score_documents` output to one row per document
    with the argmax ``label`` and its ``score`` — tie-break label ASC
    (deterministic, the registry convention). One map-side-combined
    aggregation; with the upstream ``groupBy`` already partitioned on
    the ids the exchange is often reused."""
    from dataproc_spark.core import ensure_has_columns

    ensure_has_columns(scores, list(id_cols) + ["label", "score"])
    best = F.min(F.struct((-F.col("score")).alias("neg"),
                          F.col("label").alias("label")))
    return (
        scores.groupBy(*id_cols)
        .agg(best.alias("_b"))
        .select(
            *id_cols,
            F.col("_b.label").alias("label"),
            (-F.col("_b.neg")).cast("long").alias("score"),
        )
    )


try:  # pragma: no cover - exercised only where the library exists
    import fasttext as _fasttext  # type: ignore
except Exception:  # pragma: no cover
    _fasttext = None

#: per-worker model cache for the fasttext seam (loads once per
#: executor python process, the standard heavy-asset UDF pattern)
_FT_MODELS: dict = {}


def fasttext_predict(
    df: DataFrame,
    model_path: str,
    text_col: str = "text",
    id_cols: tuple = ("doc_id",),
    k: int = 1,
) -> DataFrame:
    """Score documents with a REAL fastText model — the import-try
    seam (the ``pdf.py``/``jpeg.py`` pattern): raises ImportError
    eagerly when the ``fasttext`` package is absent (this container),
    and otherwise runs ``model.predict`` in an Arrow ``pandas_udf``
    with the model loaded once per worker from ``model_path`` (a path
    visible on every executor — ship it with ``--files`` on a real
    cluster). Output: one row per document with ``labels``
    (``array<string>``, top-``k``) and ``probs`` (``array<float>``).
    Newlines are stripped per fastText's input contract. The
    deterministic engine-half equivalent (for oracles and
    lib-free environments) is :func:`score_documents` over the
    quantized weights exported from the same model."""
    if _fasttext is None:
        raise ImportError(
            "fasttext_predict requires the 'fasttext' package; use "
            "score_documents() with exported quantized weights instead"
        )
    import pandas as pd  # pragma: no cover
    from pyspark.sql.functions import pandas_udf  # pragma: no cover

    def _kernel(texts):  # pragma: no cover
        model = _FT_MODELS.get(model_path)
        if model is None:
            model = _fasttext.load_model(model_path)
            _FT_MODELS[model_path] = model
        labs, probs = [], []
        for t in texts:
            if t is None:
                labs.append(None)
                probs.append(None)
                continue
            ls, ps = model.predict(t.replace("\n", " "), k=k)
            labs.append(list(ls))
            probs.append([float(p) for p in ps])
        return pd.DataFrame({"labels": labs, "probs": probs})

    # REAL type objects, assigned post-def: string hints (and inline
    # hints — this module has PEP 563 active) resolve via
    # typing.get_type_hints against module globals, where pd is
    # undefined → NameError at udf construction (r14 review finding)
    _kernel.__annotations__ = {"texts": pd.Series, "return": pd.DataFrame}
    udf = pandas_udf(  # pragma: no cover
        _kernel, "labels array<string>, probs array<float>"
    )
    out = df.select(  # pragma: no cover
        *[F.col(c) for c in id_cols], udf(F.col(text_col)).alias("_p")
    )
    return out.select(  # pragma: no cover
        *id_cols,
        F.col("_p.labels").alias("labels"),
        F.col("_p.probs").alias("probs"),
    )
