"""Deduplication operators: exact, MinHash+LSH, SimHash.

All JVM-side (built-in higher-order functions over token arrays — no Python
UDFs in any hot path), so they scale with executors and stay inside
whole-stage codegen where Spark supports it.

Scale design notes
------------------
* Exact dedup groups on a 128-bit content hash, not the raw text, so the
  shuffle carries 16-byte keys instead of document bodies.
* MinHash/LSH follows the standard shingle → signature → band → bucket-join
  construction (Broder 1997; Leskovec et al., *Mining of Massive Datasets*
  ch. 3): candidate generation is an equi-join on (band_id, band_hash) —
  a plain hash shuffle, no cross join anywhere — and only candidates pay
  the exact-Jaccard verification.
* SimHash (Charikar 2002; Manku et al. 2007) buckets by band of the
  fingerprint; Hamming verification uses ``bit_count(a XOR b)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def content_fingerprint(col: str = "text") -> F.Column:
    """128-bit content hash (md5 hex) of a column — the exact-dedup key."""
    return F.md5(F.col(col).cast("binary"))


def exact_dedup(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct content value; the smallest id wins.

    The winner is chosen with ``min_by``-style aggregation rather than a
    window so the plan is a single partial+final hash aggregate (map-side
    combine shrinks the shuffle); a window would sort every group.

    NULL content is NOT a duplicate class: ``md5(NULL)`` is NULL and
    groupBy puts every NULL key in one group, which would keep a single
    NULL-text doc and silently delete the rest as "copies" of documents
    they share nothing with (r8 follow-up review finding; the same NULL
    policy as ``corpus.corpus_diff``). Each NULL-content row survives as
    its own group (``n_copies`` = 1).
    """
    fp = content_fingerprint(content_col).alias("_fp")
    null_key = F.when(
        F.col(content_col).isNull(), F.col(id_col)
    ).alias("_nullkey")
    return (
        df.select(fp, null_key, F.col(id_col))
        .groupBy("_fp", "_nullkey")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .drop("_fp", "_nullkey")
    )


# ---------------------------------------------------------------------------
# Tokenization / shingling (shared with textstats)
# ---------------------------------------------------------------------------

def tokens(col: str = "text") -> F.Column:
    """Whitespace tokens with empties removed (JVM-side)."""
    return F.filter(F.split(F.col(col), r"\s+"), lambda x: x != F.lit(""))


def shingles(tokens_col: F.Column, n: int = 5) -> F.Column:
    """Distinct word n-gram shingles of a token array.

    ``transform(sequence(...))`` sliding window — stays in the JVM; distinct
    so Jaccard is over shingle *sets*. Documents shorter than ``n`` tokens
    yield an empty set (guarded explicitly: Spark's ``sequence(1, 0)``
    counts *down*, it does not produce an empty array).
    """
    joined = F.when(
        F.size(tokens_col) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tokens_col) - (n - 1)),
            lambda i: F.array_join(F.slice(tokens_col, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(joined)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature(shingles_col: F.Column, num_hashes: int = 64) -> F.Column:
    """MinHash signature: per hash function i, min over shingles of
    ``xxhash64(shingle, i)``.

    xxhash64 with the function index as an extra seed input gives
    ``num_hashes`` independent 64-bit hash families without driver-side
    coefficient tables. (A hash-once + universal-hash ``a_i * h32 + b_i``
    variant was benchmarked and measured ~2x slower here: the per-family
    intermediate arrays it allocates cost more than xxhash64 on short
    shingle strings.)
    """
    # NB: the hash-family lambdas MUST be unary. PySpark's `transform`
    # inspects the callable's arity, and a `lambda s, i=i:` closure-default
    # counts as BINARY — `i` silently becomes the element-index column and
    # every "family" collapses into the same expression (caught by the
    # portable-family parity test; the xxhash64 path had the same latent
    # bug). A factory function binds the family index the safe way.
    def _family(i: int):
        seed = F.lit(i)
        return lambda s: F.xxhash64(s, seed)

    return F.array(
        *[
            F.array_min(F.transform(shingles_col, _family(i)))
            for i in range(num_hashes)
        ]
    )


def minhash_signature_portable(
    shingles_col: F.Column, num_hashes: int = 16
) -> F.Column:
    """Engine-portable MinHash signature: hash family *i* is
    ``md5(shingle || '#' || i)`` with the *lexicographic* order on the hex
    digest standing in for the usual integer order (any total order on a
    uniform hash works for MinHash).

    ~3-4x slower than the xxhash64 family (md5 + string mins), so the
    xxhash64 path stays the production default; this variant exists so the
    *entire* MinHash+LSH pipeline is bit-reproducible in any engine with
    ``md5`` — it is what the cross-engine correctness gate runs.
    """
    # unary-lambda factory — see minhash_signature for why `lambda s, i=i:`
    # would silently bind i to the element-index column instead
    def _family(i: int):
        suffix = F.lit(f"#{i}")
        return lambda s: F.md5(F.concat(s, suffix).cast("binary"))

    return F.array(
        *[
            F.array_min(F.transform(shingles_col, _family(i)))
            for i in range(num_hashes)
        ]
    )


def minhash_frame(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_size: int = 5,
    portable: bool = False,
) -> DataFrame:
    """(id, shingles, signature) frame — the input to LSH banding.

    Documents with no shingles (shorter than the shingle window) are
    excluded: they have no content signal, their all-null signatures would
    all collide into one LSH bucket, and their Jaccard is undefined (0/0).

    The signature is the pure-expression plan: at the 10× probe the full
    pairs pipeline read 4-13 s with it vs 13-28 s with a hash-once Arrow
    kernel (r16).
    """
    toks = tokens(content_col)
    # guard on the cheap token count, NOT on size(_shingles): Catalyst
    # pushes the filter below the projection, and a shingle-based predicate
    # would recompute the full shingling once for the filter and once for
    # the signature (measured ~2x on the whole pipeline)
    filtered = df.where(F.size(toks) >= shingle_size)
    sh = shingles(tokens(content_col), shingle_size).alias("_shingles")
    out = filtered.select(F.col(id_col), sh)
    sig_fn = minhash_signature_portable if portable else minhash_signature
    return out.withColumn("_sig", sig_fn(F.col("_shingles"), num_hashes))


def band_rows(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    num_hashes: int | None = None,
    portable: bool = False,
) -> DataFrame:
    """(id, band, bhash) rows from a signature frame — the map-only
    banding projection shared by :func:`lsh_candidates` (self-join) and
    :func:`incremental_near_dup` (index-vs-batch join). Band ``b``'s key
    hashes signature positions ``[b·r, (b+1)·r)``; portable mode uses
    md5 over the '|'-joined slice (engine-reproducible — the slice
    elements are md5 hex strings themselves), fast mode ``xxhash64``."""
    if num_hashes is None:
        probe = sigs.select(F.size("_sig").alias("s")).first()
        if probe is None:
            raise ValueError(
                "cannot infer num_hashes from an empty signature frame; "
                "pass num_hashes explicitly"
            )
        num_hashes = probe["s"]
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide the signature length ({num_hashes}); "
            f"a remainder would silently drop the trailing hashes from banding"
        )
    rows_per_band = num_hashes // bands

    def band_hash(b: int) -> F.Column:
        sl = F.slice(F.col("_sig"), b * rows_per_band + 1, rows_per_band)
        if portable:
            return F.md5(F.array_join(sl, "|").cast("binary"))
        return F.xxhash64(sl)

    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        band_hash(b).alias("bhash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bhash")


def lsh_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    num_hashes: int | None = None,
    portable: bool = False,
) -> DataFrame:
    """Candidate pairs from LSH banding: ids sharing ≥1 (band, band-hash).

    Each row explodes to ``bands`` rows keyed by the band hash; a self
    equi-join on (band, hash) with ``id_left < id_right`` yields candidate
    pairs. This is the scale path: the join is a hash shuffle on band keys
    — documents only meet if a band collides, never all-pairs. Skewed
    buckets (boilerplate shingles) are handled by AQE skew-join splitting
    (explicit salting never beat it, SCALE.md §salting A/B).

    Pass ``num_hashes`` when known to avoid a plan-time job probing the
    signature length.
    """
    banded = band_rows(sigs, id_col, bands, num_hashes, portable)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            [
                F.col(f"l.band") == F.col("r.band"),
                F.col(f"l.bhash") == F.col("r.bhash"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard_verify(
    candidates: DataFrame,
    sigs: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    scale_m: int | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs; keep ≥ ``threshold``.

    Only LSH candidates pay this cost. Shingle sets travel via two joins on
    id (broadcast when small; shuffle-hash otherwise).

    With ``scale_m`` set (e.g. 1000), the score is emitted as the exact
    integer ``jaccard_m = (|∩| * scale_m) div |∪|`` and the threshold is
    applied to that integer — order-independent and bit-identical across
    engines, which is what the cross-engine gate needs (float division is
    not).
    """
    sh = sigs.select(F.col(id_col), F.col("_shingles"))
    a = sh.select(F.col(id_col).alias("id_a"), F.col("_shingles").alias("_sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("_shingles").alias("_sh_b"))
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size(F.array_union("_sh_a", "_sh_b"))
    joined = candidates.join(a, "id_a").join(b, "id_b")
    if scale_m is not None:
        # SQL `div` keeps the whole computation in 64-bit integers; a double
        # `/` + floor is exact only while |∩|·scale_m stays below 2^53.
        jm = F.expr(
            f"(cast(size(array_intersect(_sh_a, _sh_b)) as bigint)"
            f" * {int(scale_m)})"
            f" div cast(size(array_union(_sh_a, _sh_b)) as bigint)"
        )
        return (
            joined.withColumn("jaccard_m", jm)
            # round, not int(): float truncation makes int(0.043 * 10000)
            # == 429, off by one from the intended cutoff — defeating the
            # bit-exact thresholding scale_m exists for
            .where(F.col("jaccard_m") >= round(threshold * scale_m))
            .select("id_a", "id_b", "jaccard_m")
        )
    return (
        joined.withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
    threshold: float = 0.5,
    portable: bool = False,
    scale_m: int | None = None,
) -> DataFrame:
    """End-to-end MinHash-LSH near-duplicate pairs with verified Jaccard.

    The signature frame feeds three plan branches (banding + both verify
    sides), so it is persisted — recomputing 64 hash families per branch
    triples the dominant cost — and released when the result frame is
    garbage-collected (:func:`_release_on_gc`; repeated calls must not
    accumulate pinned signature tables). Input is spread across all
    cores first: small corpora often arrive as one parquet split, which
    would otherwise serialize the (CPU-bound) shingling/hashing on a
    single task. At cluster scale, persist() becomes a checkpoint of the
    signature table — the same structure.
    """
    from dataproc_spark.core import spread_narrow

    if num_hashes % bands:
        # validate BEFORE the persist below: lsh_candidates would raise
        # this after sigs.persist(), leaking a pinned cache entry per
        # failed call (the result frame that would carry the
        # _release_on_gc finalizer never exists)
        raise ValueError(
            f"bands ({bands}) must divide the signature length "
            f"({num_hashes}); a remainder would silently drop the "
            "trailing hashes from banding"
        )
    spread = spread_narrow(df, id_col)
    sigs = minhash_frame(
        spread, content_col, id_col, num_hashes, shingle_size, portable=portable
    )
    sigs = sigs.persist()
    cands = lsh_candidates(
        sigs, id_col, bands, num_hashes=num_hashes, portable=portable
    )
    out = jaccard_verify(cands, sigs, id_col, threshold, scale_m=scale_m)
    # pin A/B, dedup_minhash sf0.1 on/off: 3.2/5.8 s count, 3.0/6.0 s consume
    return _release_on_gc(out, sigs)


#: format marker for persisted MinHash signature indexes
MINHASH_INDEX_FORMAT = "dataproc-minhash-index-v1"


def write_minhash_index(
    df: DataFrame,
    path: str,
    content_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_size: int = 3,
    bands: int = 4,
    portable: bool = False,
) -> dict:
    """Persist the corpus's MinHash signatures as a reusable near-dup
    index — so each new ingestion batch probes the EXISTING corpus
    without recomputing (or even re-reading) its bodies, the near-dup
    analog of ``incremental_dedup``'s exact-fingerprint store. Layout
    under ``path`` (the ``write_nb_model``/``write_ivf_index`` word):

    * ``sigs/`` — (id, ``_sig``) signature rows, ~``num_hashes`` longs
      (or md5 hexes in portable mode) per document — bodies stay out;
    * ``meta/`` — one row pinning the SIGNATURE parameters
      (num_hashes, shingle_size, bands, family) — a batch signed under
      different parameters silently finds nothing, which is why
      :func:`incremental_near_dup` reads these instead of trusting
      call-site arguments.

    Returns the meta dict. ``bands`` must divide ``num_hashes``
    (validated here, not at probe time — a bad index should fail at
    build)."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes})"
        )
    spark = df.sparkSession
    from dataproc_spark.core import spread_narrow

    # spread a narrow input before the CPU-bound signature pass — the
    # same shape as minhash_dedup_pairs: a single-split corpus would
    # otherwise compute every shingle/hash AND write the whole index as
    # ONE task (r15 opt profile: 4.5 s serial at the sf0.1 gate)
    sigs = minhash_frame(
        spread_narrow(df, id_col), content_col, id_col, num_hashes,
        shingle_size, portable=portable,
    ).select(id_col, "_sig")
    sigs.write.mode("overwrite").parquet(f"{path}/sigs")
    meta = {
        "format": MINHASH_INDEX_FORMAT,
        "id_col": str(id_col),
        "num_hashes": int(num_hashes),
        "shingle_size": int(shingle_size),
        "bands": int(bands),
        "portable": bool(portable),
    }
    from dataproc_spark.core import local_frame

    local_frame(
        spark,
        [tuple(meta.values())],
        "format string, id_col string, num_hashes long, "
        "shingle_size long, bands long, portable boolean",
    ).write.mode("overwrite").parquet(f"{path}/meta")
    return meta


def read_minhash_index(spark, path: str):
    """Load a persisted MinHash index: ``(sigs df, meta dict)`` —
    :func:`write_minhash_index`'s inverse. Raises on a format-marker
    mismatch (arbitrary parquet at the path would half-load)."""
    meta = spark.read.parquet(f"{path}/meta").first().asDict()
    if meta.get("format") != MINHASH_INDEX_FORMAT:
        raise ValueError(
            f"read_minhash_index: {path!r} holds format "
            f"{meta.get('format')!r}, expected {MINHASH_INDEX_FORMAT!r}"
        )
    return spark.read.parquet(f"{path}/sigs"), meta


def incremental_near_dup(
    new_docs: DataFrame,
    path: str,
    threshold_m: int = 500,
    content_col: str = "text",
) -> DataFrame:
    """Near-duplicates of an ingestion batch AGAINST a persisted
    :func:`write_minhash_index` — the streaming-corpus complement of
    ``minhash_dedup_pairs`` (which rescans everything): sign only the
    NEW batch under the index's pinned parameters, band-join new
    bands against index bands, and score candidates by the MinHash
    ESTIMATE ``est_jaccard_m = matching positions × 1000 div
    num_hashes`` (the index stores signatures, not shingle sets, so
    the exact-Jaccard verify of the full pipeline is deliberately out
    of reach — re-read the colliding old bodies downstream if an exact
    score is required; with 16+ hashes the estimate's granularity is
    the standard triage cut). Returns ``(new_id, old_id,
    est_jaccard_m)``; pairs whose ids are EQUAL are dropped (a
    re-crawled id is the exact-dedup family's job, not near-dup's).

    100 TB plan: the old corpus contributes ``bands`` fixed-width rows
    per document — read once from the index, bodies never touched; the
    join is the same banded equi-join as every near-dup path here
    (AQE skew split applies), and the estimate join moves only
    (id, signature) rows for documents that actually collide."""
    spark = new_docs.sparkSession
    old_sigs, meta = read_minhash_index(spark, path)
    id_col = meta["id_col"]
    num_hashes = int(meta["num_hashes"])
    bands = int(meta["bands"])
    portable = bool(meta["portable"])
    from dataproc_spark.core import spread_narrow

    new_sigs = minhash_frame(
        spread_narrow(new_docs, id_col), content_col, id_col,
        num_hashes, int(meta["shingle_size"]), portable=portable,
    ).select(id_col, "_sig").persist()
    nb = band_rows(new_sigs, id_col, bands, num_hashes, portable) \
        .select(F.col(id_col).alias("new_id"), "band", "bhash")
    ob = band_rows(old_sigs, id_col, bands, num_hashes, portable) \
        .select(F.col(id_col).alias("old_id"), "band", "bhash")
    cands = (
        nb.join(ob, ["band", "bhash"])
        .where(F.col("new_id") != F.col("old_id"))
        .select("new_id", "old_id")
        .distinct()
    )
    a = new_sigs.select(F.col(id_col).alias("new_id"),
                        F.col("_sig").alias("_sig_a"))
    b = old_sigs.select(F.col(id_col).alias("old_id"),
                        F.col("_sig").alias("_sig_b"))
    matches = F.aggregate(
        F.zip_with("_sig_a", "_sig_b",
                   lambda x, y: F.when(x == y, F.lit(1).cast("long"))
                   .otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"), lambda acc, v: acc + v,
    )
    # IntegralDivide keeps the score an exact 64-bit integer (the
    # jaccard_verify scale_m convention)
    est = F.call_function(
        "div", matches * F.lit(1000).cast("long"),
        F.lit(int(num_hashes)).cast("long"),
    )
    result = (
        cands.join(a, "new_id").join(b, "old_id")
        .withColumn("est_jaccard_m", est)
        .where(F.col("est_jaccard_m") >= int(threshold_m))
        .select("new_id", "old_id", "est_jaccard_m")
    )
    # pin A/B, incremental_near_dup sf0.1 on/off: 4.4/5.2 s count, 3.8/4.9 s consume
    return _release_on_gc(result, new_sigs)


def contamination_pairs(
    train: DataFrame,
    evalset: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Benchmark decontamination: (train_id, eval_id, shared) for every
    train document sharing ≥ ``min_shared`` word ``n``-grams with an eval
    document — the standard test-set-overlap check run before training.

    Same inverted-index construction as ``ngram_jaccard_pairs`` but across
    two corpora: explode both sides' shingle sets, equi-join on the
    shingle (hash shuffle — never |train|×|eval|), count per pair. The
    eval side is tiny relative to the corpus, so the join broadcasts it at
    scale; ultra-hot shingles (boilerplate) are the skew case —
    ``max_df`` drops shingles whose TRAIN-side document frequency
    exceeds it from both sides before the join (a train-hot shingle
    multiplies every eval doc containing it by its whole posting list),
    exactly the ``ngram_jaccard_pairs`` stop-shingle cut.

    As in ``ngram_jaccard_pairs``, the shingle string is internal — both
    sides project ``xxhash64(shingle)`` before the exchange, so the join
    keys are fixed-width longs, not n-token strings.
    """
    tsh = _hashed_shingles(train, content_col, id_col, n).select(
        F.col(id_col).alias("train_id"), "_sh"
    )
    esh = _hashed_shingles(evalset, content_col, id_col, n).select(
        F.col(id_col).alias("eval_id"), "_sh"
    )
    if max_df is not None:
        hot = _hot_keys(tsh, max_df)
        tsh = tsh.join(hot, "_sh", "left_anti")
        esh = esh.join(hot, "_sh", "left_anti")
    return (
        tsh.join(esh, "_sh")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )


# ---------------------------------------------------------------------------
# Connected components / dedup clustering
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Cluster near-duplicate pairs into components: (node, component)
    where component = min node id reachable through the pair graph.

    Dedup needs the *transitive closure* of pairwise similarity — if A~B
    and B~C, keeping "one of each pair" would keep two of {A,B,C}. This is
    iterative min-label propagation: each round every node takes the
    smallest label among itself and its neighbors; converges in
    graph-diameter rounds (near-dup components are shallow — diameter is
    typically tiny). Each round is one shuffle; ``localCheckpoint`` cuts
    the growing lineage so round N doesn't replay rounds 1..N-1.

    Small graphs resolve DRIVER-side (r15 opt round 2): the pair graph
    is the *duplicate* set — orders of magnitude smaller than the
    corpus in any real dedup run — so when a bounded ``take`` shows at
    most :data:`CC_LOCAL_EDGE_LIMIT` edges, a driver union-find
    produces the identical (node, min-reachable-id) fixed point in one
    job instead of ~log(diameter) join+checkpoint+probe rounds. The
    bound keeps driver memory and work trivially small (≤ ~200K edges,
    a few MB); past it the distributed loop runs exactly as before —
    the decision is data-adaptive, not a local-mode constant.
    """
    # persist the DIRECTED edges, not the symmetrized union: the union's
    # two branches would otherwise each recompute the full upstream pair
    # plan (LSH/kmeans joins — r15 opt profile: four duplicate pair
    # exchanges materialized before the first propagation round); with
    # the cache on edges, the swap branch is a projection over cached
    # rows and sym costs one pair computation total (guide §5, persist
    # exactly the reused subtree)
    edges = pairs.select(
        F.col(id_a).alias("a"), F.col(id_b).alias("b")
    ).persist()
    try:
        probe = edges.take(CC_LOCAL_EDGE_LIMIT + 1)
        if len(probe) <= CC_LOCAL_EDGE_LIMIT:
            # take() scanned every partition to come up short, so the
            # probe IS the complete edge list
            return _cc_local(pairs, probe, dict(pairs.dtypes)[id_a])
        sym = edges.union(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        labels = _cc_propagate(sym, max_iter)
    finally:
        # unpersist on the failure path too (a transient executor loss
        # surfacing at a mid-round action would otherwise pin the edge
        # table for the session — once per driver retry)
        edges.unpersist()
    return labels


#: edge count up to which :func:`connected_components` resolves the
#: pair graph driver-side (union-find) instead of running distributed
#: label-propagation rounds — a few MB of driver memory, one job
#: instead of ~log(diameter) join+checkpoint cycles. Data-adaptive:
#: bigger graphs take the distributed path automatically.
CC_LOCAL_EDGE_LIMIT = 200_000


def _cc_local(pairs: DataFrame, edge_rows, idt: str) -> DataFrame:
    """Driver union-find over a bounded edge list — the same output
    contract as :func:`_cc_propagate`: one (node, component) row per
    distinct endpoint, component = the smallest node id reachable
    through the pair graph. Exact and engine-free (pure integer/string
    comparisons), so it is value-identical to the distributed fixed
    point by construction."""
    from dataproc_spark.core import local_frame

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        a, b = r["a"], r["b"]
        if a is None or b is None:
            # internal pair producers raise on NULL ids before this
            # point; a direct caller's NULL endpoint used to surface as
            # an opaque None-vs-value TypeError in the min/sort below
            # (r15 ADVICE finding)
            raise ValueError(
                "connected_components: NULL edge endpoint — filter or "
                "repair NULL ids before clustering"
            )
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for n in parent:
        root = find(n)
        cur = comp_min.get(root)
        if cur is None or n < cur:
            comp_min[root] = n
    rows = sorted((n, comp_min[find(n)]) for n in parent)
    return local_frame(
        pairs.sparkSession, rows, f"node {idt}, component {idt}"
    )


def _cc_propagate(sym: DataFrame, max_iter: int) -> DataFrame:
    labels = (
        sym.select(F.col("a").alias("node")).distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iter):
        neighbor_labels = (
            sym.join(labels, sym.b == labels.node)
            .select(F.col("a").alias("node"), "component")
        )
        # Each node's SELF row carries its previous label through the
        # min-aggregate (neighbors contribute null, max ignores it), so
        # change detection is a scan-aggregate over the checkpointed
        # round result — NOT a new-vs-old join (which would be a second
        # full shuffle per round on top of the propagation join).
        merged = (
            labels.withColumn("_old", F.col("component"))
            .unionByName(
                neighbor_labels.withColumn(
                    # null of the label type (ids may be int/long/string)
                    "_old",
                    F.lit(None).cast(dict(labels.dtypes)["component"]),
                )
            )
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.max("_old").alias("_old"),
            )
        )
        # Pointer doubling (r15 opt): compress each node's label through
        # its label's OWN label from the same round — label paths halve
        # every round, so convergence takes ~log(diameter) rounds
        # instead of diameter (the classic MapReduce-CC shortcut;
        # driver-loop rounds are the dominant cost of this operator —
        # each one is a full job-schedule + checkpoint + probe cycle).
        # Same fixed point: labels only ever decrease toward the min
        # reachable id, and a label is always a reachable node's id.
        # The two `merged` branches canonicalize to the same exchange,
        # which Spark executes once and reuses (ReuseExchange).
        parents = merged.select(
            F.col("node").alias("_pn"), F.col("component").alias("_pc")
        )
        new_labels = (
            merged.join(parents, merged.component == parents._pn)
            .select(
                "node",
                F.col("_pc").alias("component"),
                "_old",
            )
            .withColumn(
                "_changed", (F.col("component") != F.col("_old")).cast("int")
            )
            .localCheckpoint()
        )
        # empty input: max over zero rows is None — that's "no change",
        # not "never converges"
        changed = new_labels.agg(F.max("_changed")).first()[0] or 0
        labels = new_labels.drop("_old", "_changed")
        if changed == 0:
            converged = True
            break
    if not converged:
        # returning partial labels would silently split true components —
        # near-dups would survive dedup with no signal
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"(a component's diameter exceeds max_iter — raise max_iter)"
        )
    return labels


def dedup_keep_representatives(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop near-duplicates: keep one document (smallest id) per connected
    component of the pair graph, plus every unpaired document.

    The standard final step of a MinHash/SimHash/embedding dedup pipeline:
    pairs → components → anti-join the non-representatives out of the
    corpus. The components frame is tiny relative to the corpus (only
    documents that had a near-dup), so the anti-join broadcasts.
    """
    comps = connected_components(pairs, id_a="id_a", id_b="id_b")
    losers = comps.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    # no broadcast hint: in heavy-duplication corpora the loser set is a
    # large fraction of the corpus — let Catalyst pick from its estimate
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (no hashing — the oracle-checkable dedup variant)
# ---------------------------------------------------------------------------

# persisted-intermediate lifetime management lives in core (shared with
# io's selection loader); the alias keeps this module's call sites short
from dataproc_spark.core import release_cache_on_gc as _release_on_gc  # noqa: E402


def _hashed_shingles(
    df: DataFrame, content_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, ``_sh`` = xxhash64(shingle)) inverted-index input frame.

    The shingle string never survives this projection — join keys are
    8-byte longs, not n-token strings (the difference between shuffling
    fixed-width keys and the corpus vocabulary at 100 TB). A 64-bit
    collision inflates one pair's ``shared`` by 1 (vanishingly rare;
    bounded by ``min_shared``/threshold slack).
    """
    return df.select(
        F.col(id_col),
        # shingles() already returns a distinct array — no second pass
        F.explode(shingles(tokens(content_col), n)).alias("_shs"),
    ).select(F.col(id_col), F.xxhash64("_shs").alias("_sh"))


def _hot_keys(sh: DataFrame, max_df: int) -> DataFrame:
    """Keys whose document frequency exceeds ``max_df`` — the tiny
    stop-shingle list (the df distribution's extreme tail), dropped via
    a broadcast-friendly anti-join by every ``max_df`` caller."""
    return (
        sh.groupBy("_sh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") > int(max_df))
        .select("_sh")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_shared: int = 2,
    jaccard_threshold_m: int = 200,
    max_df: int | None = None,
) -> DataFrame:
    """All-pairs exact n-gram Jaccard via an inverted-index join.

    Relational formulation (fully oracle-checkable, unlike MinHash):
    explode distinct shingles → self-join on the shingle (the inverted
    index) → count shared shingles per pair → Jaccard from
    |A∩B| / (|A| + |B| - |A∩B|), reported as an exact integer
    ``jaccard_m`` = floor(1000 × jaccard).

    Scale: the shingle join is the classic inverted-index candidate
    generation — pairs only materialize when they share a shingle, and
    ``min_shared`` prunes the long tail at the aggregate. Hot shingles
    (boilerplate) create skew AND quadratic posting-list blowup: a
    shingle in d documents contributes d·(d−1)/2 join rows, so one
    boilerplate line shared by 10⁶ docs is 5·10¹¹ rows from a single
    key. ``max_df`` is the mitigation: shingles whose document
    frequency exceeds it are dropped BEFORE the self-join (the
    stop-shingle cut every production dedup pipeline applies), bounding
    any key's contribution at max_df²/2. Jaccard is then computed over
    the pruned shingle universe — sizes count only surviving shingles,
    so a pair sharing nothing but boilerplate reports jaccard 0 rather
    than a boilerplate-inflated score. The hot list itself is tiny
    (df > max_df is the distribution's extreme tail), so the anti-join
    broadcasts under AQE. For corpora where even the pruned inverted
    index is too hot, MinHash-LSH above is the subsampled alternative.

    Join keys are hashed shingles — see :func:`_hashed_shingles`.
    """
    sh = _hashed_shingles(df, content_col, id_col, n)
    # the shingle frame feeds three plan branches (both join sides +
    # sizes); persist so the corpus is shingled once, not thrice —
    # at cluster scale this is a checkpointed shingle table. The
    # cache is released when the result frame is dropped
    # (:func:`_release_on_gc`). r9 review: the no-max_df path used to
    # skip the persist and re-shingled the whole corpus three times.
    if max_df is not None:
        sh = sh.join(_hot_keys(sh, max_df), "_sh", "left_anti")
    sh = cached = sh.persist()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
    a = sh.select(F.col(id_col).alias("id_a"), "_sh")
    b = sh.select(F.col(id_col).alias("id_b"), "_sh")
    shared = (
        a.join(b, ["_sh"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("_n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("_n").alias("n_b"))
    out = (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard_m",
            F.expr("(shared * 1000) div (n_a + n_b - shared)").cast("long"),
        )
        .where(F.col("jaccard_m") >= jaccard_threshold_m)
        .select("id_a", "id_b", F.col("shared").cast("long").alias("shared"),
                "jaccard_m")
    )
    # pin A/B, ngram_jaccard sf0.1 on/off: 5.6/9.2 s count, 5.9/9.9 s consume
    return _release_on_gc(out, cached)


# ---------------------------------------------------------------------------
# Bottom-k sketch (rolling-hash document fingerprints)
# ---------------------------------------------------------------------------

def bottom_k_sketch(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
) -> DataFrame:
    """Per-document bottom-k sketch: the k smallest 64-bit hashes of the
    document's n-gram shingles (a fixed-size fingerprint whose overlap
    estimates Jaccard — the winnowing/KMV family of sketches).

    JVM-side: hash shingles, sort, slice. A 16×8-byte fingerprint per
    document regardless of length — the thing you persist for a 100 TB
    corpus instead of shingle sets.
    """
    hashes = F.transform(
        # shingles() already returns a distinct array — no second pass
        shingles(tokens(content_col), n),
        lambda s: F.xxhash64(s),
    )
    sk = F.slice(F.array_sort(hashes), 1, k)
    return df.select(F.col(id_col), sk.alias("sketch"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(
    tokens_col: F.Column, bits: int = 64, token_hash: str = "xxhash64"
) -> F.Column:
    """SimHash fingerprint of a token array (Charikar 2002).

    Bit b of the fingerprint is the sign of Σ_tokens (±1 by bit b of the
    token hash). Built entirely from ``aggregate``/``zip_with`` — no UDF.

    Single traversal: ONE ``aggregate`` over the tokens accumulates a
    ``bits``-wide count array (each token's hash is taken once and its
    per-bit ±1 contributions are zipped into the accumulator), and the
    aggregate's *finish* lambda assembles the fingerprint from the final
    counts — the counts expression is bound once, so the token array is
    walked once regardless of ``bits``. (The previous formulation ran one
    array-aggregate per bit: O(bits × tokens) work and a 64-aggregate
    expression tree — the first thing to melt on long documents.)

    Bit extraction goes through the 64-char two's-complement binary string
    of the hash (``lpad(bin(h))``): ``substring`` accepts a *column*
    position, while ``shiftright`` takes only literal shift amounts —
    character ``64 - b`` of the padded string is exactly
    ``(h >> b) & 1``, keeping fingerprints identical to the per-bit
    formulation.
    """
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in [1, 64], got {bits}")
    if token_hash == "md5_32":
        # engine-portable family: the first 8 hex chars of md5(token) as a
        # 32-bit value (any engine with md5 reproduces it — the gate's
        # family); bits above 32 would read constant zeros
        if bits > 32:
            raise ValueError("md5_32 token hashes provide only 32 bits")
    elif token_hash != "xxhash64":
        raise ValueError(f"unknown token_hash {token_hash!r}")

    # 2^b bit patterns as longs; b=63 is the sign bit (2**63 itself would
    # overflow the long literal range)
    powers = F.array(
        *[
            F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long")
            for b in range(bits)
        ]
    )
    bit_idx = F.array(*[F.lit(b) for b in range(bits)])

    # Hash in a separate `transform` pass, NOT inside the merge lambda:
    # Spark's interpreted higher-order-function path does no loop-invariant
    # hoisting, so a hash expression placed inside the per-bit zip_with
    # would be re-evaluated once per BIT (32-64 md5/xxhash calls per
    # token). `transform` evaluates its lambda once per token.
    def h_bin(t: F.Column) -> F.Column:
        if token_hash == "md5_32":
            return F.lpad(
                F.conv(F.substring(F.md5(t.cast("binary")), 1, 8), 16, 2),
                64,
                "0",
            )
        return F.lpad(F.bin(F.xxhash64(t)), 64, "0")

    def merge(acc: F.Column, hb: F.Column) -> F.Column:
        return F.zip_with(
            acc,
            bit_idx,
            lambda a, b: a
            + F.when(F.substring(hb, F.lit(64) - b, F.lit(1)) == "1", 1)
            .otherwise(-1),
        )

    def finish(acc: F.Column) -> F.Column:
        # sum of distinct powers ≡ bitwise OR (each bit contributes once);
        # stays in long range even with the negative sign-bit pattern
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(bits)),
            F.lit(0).cast("long"),
            lambda fp, i: fp
            + F.when(F.element_at(acc, i) > 0, F.element_at(powers, i))
            .otherwise(F.lit(0).cast("long")),
        )

    return F.aggregate(
        F.transform(tokens_col, h_bin),
        F.array_repeat(F.lit(0), bits),
        merge,
        finish,
    )


def simhash_frame(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """Per-document SimHash fingerprints; empty documents are excluded
    (no content signal — their identical zero fingerprints would pair
    every empty doc with every other)."""
    toks = tokens(content_col)
    return df.where(F.size(toks) > 0).select(
        F.col(id_col), simhash(toks, bits, token_hash).alias("simhash")
    )


def simhash_near_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash: band-bucket candidates, Hamming-verify.

    A pair within Hamming distance ``bands - 1`` shares at least one exact
    band (pigeonhole), so bucketing by band finds all such pairs without a
    cross join; ``bit_count(xor)`` verifies the exact distance.
    """
    from dataproc_spark.core import spread_narrow

    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole guarantee "
            f"(bands - 1 = {bands - 1}): a pair at that distance can "
            "differ in every band and would be silently dropped — raise "
            "bands or lower max_hamming"
        )
    if bands < 1 or bits % bands:
        # bands > bits would give band_bits = 0 and mask = 0: every
        # document's every band value becomes 0 and the candidate join
        # degenerates to all-pairs — the cross-join cliff the banding
        # exists to avoid
        raise ValueError(
            f"bands ({bands}) must divide bits ({bits})"
        )
    spread = spread_narrow(df, id_col)
    fps = simhash_frame(spread, content_col, id_col, bits, token_hash).persist()
    pairs = banded_hamming_pairs(
        fps, id_col=id_col, fp_col="simhash", bits=bits, bands=bands,
        max_hamming=max_hamming,
    )
    # same lifetime contract as the minhash signature table: repeated
    # calls must not accumulate pinned fingerprint caches (r8 review)
    # pin A/B, dedup_simhash sf0.1 on/off: 1.9/7.3 s count, 2.1/7.0 s consume
    return _release_on_gc(pairs, fps)


def _banded_hamming_arrow(
    banded: DataFrame,
    id_col: str,
    fp_col: str,
    bands: int,
    band_bits: int,
    per_word: int,
    mask: int,
    max_hamming: int,
) -> DataFrame:
    """Candidate evaluation of :func:`banded_hamming_pairs_multi`: ONE
    groupBy-(band, bval) Arrow stage — each bucket's candidate set is
    evaluated as vectorized numpy (band-value matrix, first-colliding
    band via bool argmax, XOR + byte-LUT popcount). Bit-exact by
    construction: numpy int64 ``>>``/``&`` are the JVM's arithmetic
    shift + mask, argmax-over-bool picks the first colliding band,
    popcount is exact, and ``id_a < id_b`` emits each pair once. Same
    one-bucket-one-task contract as ``simsearch.near_dup_pairs`` — the
    band-width parameter law governs bucket sizes (SCALE.md)."""
    import numpy as np
    import pandas as pd

    idt = banded.schema[id_col].dataType.simpleString()
    pop8 = np.unpackbits(
        np.arange(256, dtype=np.uint8)[:, None], axis=1
    ).sum(axis=1).astype(np.int64)
    np_mask = np.int64(mask)

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"id_a": [], "id_b": [], "hamming": []}
            ).astype({"hamming": "int32"})
        ids = pdf[id_col].to_numpy()
        fp = np.array(pdf[fp_col].tolist(), dtype=np.int64)
        band = int(pdf["band"].iloc[0])
        bvals = np.empty((n, bands), dtype=np.int64)
        for b in range(bands):
            bvals[:, b] = (
                fp[:, b // per_word] >> ((b % per_word) * band_bits)
            ) & np_mask
        out_a, out_b, out_h = [], [], []
        # block rows so the (blk, n, bands) collision tensor stays ~8M
        # elements however large a bucket gets (the near_dup_pairs
        # blocking discipline)
        blk = max(1, (1 << 23) // max(n * bands, 1))
        for s in range(0, n, blk):
            e = min(n, s + blk)
            coll = bvals[s:e, None, :] == bvals[None, :, :]
            # every same-bucket pair collides at THIS band, so argmax
            # (first True) is always defined and <= band
            fc = coll.argmax(axis=2)
            keep = (fc == band) & (ids[None, :] > ids[s:e, None])
            ii, jj = np.nonzero(keep)
            if not len(ii):
                continue
            x = fp[s + ii] ^ fp[jj]
            h = pop8[x.view(np.uint8)].reshape(len(ii), -1).sum(axis=1)
            ok = h <= max_hamming
            if ok.any():
                out_a.append(ids[s + ii[ok]])
                out_b.append(ids[jj[ok]])
                out_h.append(h[ok])
        if not out_a:
            return pd.DataFrame(
                {"id_a": [], "id_b": [], "hamming": []}
            ).astype({"hamming": "int32"})
        return pd.DataFrame({
            "id_a": np.concatenate(out_a),
            "id_b": np.concatenate(out_b),
            "hamming": np.concatenate(out_h).astype(np.int32),
        })

    return banded.groupBy("band", "bval").applyInPandas(
        kernel, schema=f"id_a {idt}, id_b {idt}, hamming int"
    )


def banded_hamming_pairs(
    fps: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "fp",
    bits: int = 64,
    bands: int = 8,
    max_hamming: int = 7,
) -> DataFrame:
    """Near pairs by Hamming distance over ANY integer fingerprint
    frame — the band-bucket-verify core extracted from
    :func:`simhash_near_pairs` (r14, for the perceptual image hashes:
    same pigeonhole, different fingerprint). Input: one row per id
    with a ``bits``-wide integer in ``fp_col``. Output: (id_a, id_b,
    hamming) for every pair with ``hamming <= max_hamming``, complete
    by the pigeonhole guarantee (``max_hamming <= bands - 1``).

    100 TB plan: ids only ever meet on a colliding band value — the
    candidate exchange is a hash shuffle on (band, bval), never
    all-pairs. Candidates are evaluated by a relational self-join +
    ``bit_count(xor)``: for single-word fingerprints it beat the grouped
    numpy kernel 0.7 s vs 3.0 s at the sf0.1 audio gate (r15). Callers
    own persistence of ``fps`` (referenced twice by the self-join)."""
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole guarantee "
            f"(bands - 1 = {bands - 1}): a pair at that distance can "
            "differ in every band and would be silently dropped — raise "
            "bands or lower max_hamming"
        )
    if bands < 1 or bits % bands:
        raise ValueError(f"bands ({bands}) must divide bits ({bits})")
    band_bits = bits // bands
    mask = (1 << band_bits) - 1

    def bval_of(col: F.Column, b: int) -> F.Column:
        return F.shiftright(col, b * band_bits).bitwiseAND(F.lit(mask))

    banded = fps.select(
        id_col,
        fp_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        bval_of(F.col(fp_col), b).alias("bval"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, fp_col, "bb.band", "bb.bval")
    l, r = banded.alias("l"), banded.alias("r")
    lfp, rfp = F.col(f"l.{fp_col}"), F.col(f"r.{fp_col}")
    # emit each pair from its FIRST colliding band only: a pair whose
    # bands collide k times used to reach the .distinct() k times, each
    # paying the join output + the hamming expression + a two-stage
    # dedup shuffle. The first-collision predicate keeps exactly one of
    # those k rows (a flat codegen CASE over band values both sides
    # already carry for the hamming xor), so the distinct — and its
    # Exchange — disappears. r15 opt, guide §2.4 (remove shuffles) /
    # §2.3 (don't ship duplicate rows into one).
    first_coll = F.when(bval_of(lfp, 0) == bval_of(rfp, 0), 0)
    for b in range(1, bands):
        first_coll = first_coll.when(bval_of(lfp, b) == bval_of(rfp, b), b)
    pairs = l.join(
        r,
        [
            F.col("l.band") == F.col("r.band"),
            F.col("l.bval") == F.col("r.bval"),
            F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            F.col("l.band") == first_coll,
        ],
    ).select(
        F.col(f"l.{id_col}").alias("id_a"),
        F.col(f"r.{id_col}").alias("id_b"),
        F.bit_count(lfp.bitwiseXOR(rfp)).alias("hamming"),
    )
    return pairs.where(F.col("hamming") <= max_hamming)


def banded_hamming_pairs_multi(
    fps: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "fp",
    words: int = 4,
    bands: int = 16,
    max_hamming: int = 15,
) -> DataFrame:
    """:func:`banded_hamming_pairs` over MULTI-WORD fingerprints —
    ``fp_col`` is ``array<long>`` of ``words`` 64-bit words (bit ``i``
    of word ``w`` is fingerprint bit ``w*64 + i``), for fingerprints
    longer than one long (the 256-bit multi-scale dHash). Same
    pigeonhole contract: complete for ``hamming <= max_hamming`` when
    ``max_hamming <= bands - 1``. Band width must divide 64 so every
    band lives inside ONE word (a band straddling words would need a
    two-word splice on both join sides for zero gain — any (bands,
    words) need is expressible under the constraint).

    This is the fingerprint-length escape hatch the 64-bit parameter
    law points at (SCALE.md r14): more distance budget comes from more
    BITS, not more bands on 64 — at 256/16 each band still has 2^16
    values (the flat-probe regime) while the pigeonhole covers
    ``max_hamming`` up to 15. Shuffle carries (id, 32-byte array)
    rows. Each bucket is evaluated in ONE grouped numpy kernel
    (:func:`_banded_hamming_arrow`): it beat a self-join + per-word
    ``bit_count`` plan 8 s → 1 s at the sf0.1 image_dedup_256 gate and
    697 s → 33 s at 10× (r15)."""
    bits = 64 * words
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole "
            f"guarantee (bands - 1 = {bands - 1})"
        )
    if bands < 1 or bits % bands:
        raise ValueError(f"bands ({bands}) must divide bits ({bits})")
    band_bits = bits // bands
    if band_bits > 64 or 64 % band_bits:
        raise ValueError(
            f"band width {band_bits} must divide 64 (bands a multiple "
            f"of words={words})"
        )
    per_word = 64 // band_bits
    # a full-word band (band_bits == 64) masks with -1 — all ones in
    # two's complement; (1 << 64) - 1 does not fit a long literal
    mask = (1 << band_bits) - 1 if band_bits < 64 else -1

    def bval_of(col: F.Column, b: int) -> F.Column:
        return F.shiftright(
            F.element_at(col, b // per_word + 1),
            (b % per_word) * band_bits,
        ).bitwiseAND(F.lit(mask))

    # reject wrong-LENGTH fingerprints: ANSI element_at already raises
    # on too-short arrays, but an array LONGER than `words` slipped
    # through — the kernel's popcount covered every word present, and
    # MIXED over-length arrays crashed np.array inside the kernel (r15
    # ADVICE finding). NULL fingerprints stay legal (they never pair).
    fp_checked = F.when(
        F.col(fp_col).isNull() | (F.size(F.col(fp_col)) == words),
        F.col(fp_col),
    ).otherwise(
        F.raise_error(
            F.lit(
                f"banded_hamming_pairs_multi: {fp_col} must have "
                f"exactly {words} words (bits={bits})"
            )
        )
    )
    banded = fps.select(
        id_col,
        fp_checked.alias(fp_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        bval_of(fp_checked, b).alias("bval"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, fp_col, "bb.band", "bb.bval")
    # rows whose fingerprint is NULL or carries a NULL word never pair —
    # drop them BEFORE grouping, since groupBy would bucket NULL bvals
    # together and the kernel needs an int matrix
    clean = banded.where(
        F.col(fp_col).isNotNull()
        & ~F.exists(fp_col, lambda x: x.isNull())
    )
    return _banded_hamming_arrow(
        clean, id_col, fp_col, bands, band_bits, per_word, mask,
        max_hamming,
    )


def ngram_containment_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_shared: int = 2,
    containment_threshold_m: int = 500,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric near-CONTAINMENT pairs: (id_a, id_b) where at least
    ``containment_threshold_m`` permille of id_a's n-gram shingles also
    appear in id_b — the quote/excerpt detector Jaccard misses: a
    paragraph copied into a much longer document has tiny Jaccard
    (union is huge) but containment ≈ 1000 for the short side.

    Same inverted-index candidate generation as
    :func:`ngram_jaccard_pairs` (equi-join on hashed shingles, never
    all-pairs, same ``max_df`` stop-shingle cut — the pruned universe
    defines both the intersection and id_a's size), but the score
    divides by |A| alone: ``containment_m = shared · 1000 div n_a``.
    Emitted for BOTH directions (a⊂b and b⊂a are different facts), with
    id_a the contained side.
    """
    sh = _hashed_shingles(df, content_col, id_col, n)
    # same persist-and-release-on-GC contract as ngram_jaccard_pairs —
    # the no-max_df path also shingles once, not thrice (r9 review)
    if max_df is not None:
        sh = sh.join(_hot_keys(sh, max_df), "_sh", "left_anti")
    sh = cached = sh.persist()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
    a = sh.select(F.col(id_col).alias("id_a"), "_sh")
    b = sh.select(F.col(id_col).alias("id_b"), "_sh")
    shared = (
        a.join(b, ["_sh"])
        .where(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= int(min_shared))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("_n").alias("n_a"))
    out = (
        shared.join(sa, "id_a")
        .withColumn(
            "containment_m",
            F.expr("(shared * 1000) div n_a").cast("long"),
        )
        .where(F.col("containment_m") >= int(containment_threshold_m))
        .select(
            "id_a", "id_b",
            F.col("shared").cast("long").alias("shared"),
            "containment_m",
        )
    )
    # pin A/B, ngram_containment sf0.1 on/off: 8.0/13.0 s count, 7.5/12.5 s consume
    return _release_on_gc(out, cached)


# ---------------------------------------------------------------------------
# Cross-document exact substring dedup (anchor join + diagonal islands)
# ---------------------------------------------------------------------------

def cross_doc_spans(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_tokens: int = 20,
    max_df: int | None = None,
) -> DataFrame:
    """Maximal EXACT token spans of ``>= min_tokens`` shared across
    documents — the train-set dedup standard ("cut any long span that
    appears in two documents", the suffix-array criterion of the
    published dedup literature), re-expressed relationally.

    Formulation (exact, fully oracle-checkable): explode every
    ``k``-token gram with its position → self-join grams across
    documents (the inverted index; ``id_a < id_b``) → matching grams of
    one shared span line up on a constant DIAGONAL ``pos_a − pos_b``
    at CONSECUTIVE positions, so a gaps-and-islands pass per
    ``(id_a, id_b, diag)`` (``pos_a − row_number`` grouping) recovers
    each maximal run: an island of ``m`` anchors is a shared span of
    exactly ``m + k − 1`` tokens. No sampling, no winnowing loss: every
    shared span of at least ``k`` tokens produces at least one aligned
    anchor, and maximality is by construction (one more equal token on
    either side would have extended the island).

    Output: ``(id_a, id_b, start_a, start_b, n_tokens)`` with 0-based
    token offsets — the cut list a surgical span-removal pass (the
    cross-document sibling of ``remove_repeated_spans``) consumes.
    Within-document repeats are out of scope here (see
    ``remove_repeated_spans``); identical whole documents emit one
    doc-length span, as the criterion demands.

    Scale: anchors join on the gram's ``xxhash64`` (8 fixed bytes, not
    the ~k-token string — the `_hashed_shingles` rationale; a 64-bit
    collision can only contribute one spurious anchor, which
    ``min_tokens`` filters unless it lands adjacent to a real island),
    so shuffle volume is Σ df(g) rows of (id, pos, hash). Pair fan-out
    concentrates entirely in hub grams — a gram shared by d documents
    contributes d·(d−1)/2 join rows, so corpus-wide boilerplate is the
    one quadratic risk, exactly as in ``ngram_jaccard_pairs``.
    ``max_df`` is the same stop-gram cut: grams with document frequency
    above it are dropped BEFORE the self-join, bounding any key at
    max_df²/2 join rows. The cut is honest about its effect: dropping a
    gram can only SPLIT or SHORTEN reported islands (never invent one),
    and a span whose every anchor is corpus-wide boilerplate is
    precisely the text the boilerplate/exact-dedup passes already own.
    The islands pass is one window + one aggregate on (id_a, id_b,
    diag) — keys that are already pair-scoped, so no residual skew.
    """
    if k < 2:
        raise ValueError(f"cross_doc_spans needs k >= 2, got {k}")
    if min_tokens < k:
        raise ValueError(
            f"min_tokens ({min_tokens}) must be >= k ({k}): a span "
            f"shorter than one anchor can never be observed"
        )
    from pyspark.sql import Window

    toks = df.select(F.col(id_col), tokens(content_col).alias("_tk")).where(
        F.size("_tk") >= int(k)
    )
    grams = toks.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("_tk") - int(k)),
                lambda i: F.concat_ws(" ", F.slice("_tk", i + 1, int(k))),
            )
        ).alias("pos", "_g"),
    ).select(F.col(id_col), "pos", F.xxhash64("_g").alias("_gh"))
    if max_df is not None:
        hot = (
            grams.groupBy("_gh")
            .agg(F.count_distinct(F.col(id_col)).alias("_df"))
            .where(F.col("_df") > int(max_df))
            .select("_gh")
        )
        grams = grams.join(hot, "_gh", "left_anti")
    # BOTH self-join sides derive from grams — persist unconditionally
    # so the corpus is tokenized + shingled + hashed once, not twice
    # (the exact no-max_df regression class ngram_jaccard_pairs fixed
    # in r9; r10 review caught the same skip here)
    grams = cached = grams.persist()
    a = grams.select(
        F.col(id_col).alias("id_a"), F.col("pos").alias("pos_a"), "_gh"
    )
    b = grams.select(
        F.col(id_col).alias("id_b"), F.col("pos").alias("pos_b"), "_gh"
    )
    pairs = a.join(b, ["_gh"]).where(F.col("id_a") < F.col("id_b"))
    w = Window.partitionBy(
        "id_a", "id_b", F.col("pos_a") - F.col("pos_b")
    ).orderBy("pos_a")
    isl = pairs.select(
        "id_a",
        "id_b",
        (F.col("pos_a") - F.col("pos_b")).alias("_diag"),
        "pos_a",
        (F.col("pos_a") - F.row_number().over(w)).alias("_grp"),
    )
    out = (
        isl.groupBy("id_a", "id_b", "_diag", "_grp")
        .agg(
            F.min("pos_a").alias("start_a"),
            (F.count(F.lit(1)) + int(k) - 1).alias("n_tokens"),
        )
        .where(F.col("n_tokens") >= int(min_tokens))
        .select(
            "id_a",
            "id_b",
            F.col("start_a").cast("long").alias("start_a"),
            (F.col("start_a") - F.col("_diag")).cast("long").alias("start_b"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
        )
    )
    # pin A/B, cross_doc_spans sf0.1 on/off (± IQR of on runs): 18.0/18.0
    # ±1.2 s count, 18.9/20.7 ±3.8 s consume; kept for want of a 10x
    # cell (the span self-join is quadratic on the verbatim replica)
    return _release_on_gc(out, cached)


def cut_token_spans(
    df: DataFrame,
    cuts: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    start_col: str = "start",
    n_col: str = "n_tokens",
    out_col: str = "text_cut",
) -> DataFrame:
    """Surgically remove token ranges from documents — the consumer of
    :func:`cross_doc_spans` (cut the duplicated span from the LATER
    document, keep the first occurrence) and the cross-document sibling
    of ``remove_repeated_spans``. ``cuts`` carries one row per
    ``(id, start, n)`` token range (0-based, like ``cross_doc_spans``
    offsets); overlapping ranges union naturally (a token goes when ANY
    range covers it). Documents with no cut rows pass through
    unchanged — including NULL text, which stays NULL (absent ≠
    present-but-blank, the repo-wide NULL policy); cut rows keyed with
    NULL id/start/n are ignored (they carry no range). Token boundaries
    are the module's whitespace rule, so text is rebuilt with single
    spaces (the same normalization every token-level operator here
    applies).

    Plan: ONE aggregate of the cut list per document (collect the tiny
    range structs), a left join onto the corpus, and a map-only HOF
    filter over the token array — document text shuffles at most once,
    and only for documents that actually have cuts the join is still
    a single hash join on the id.
    """
    # a NULL range would make the per-token exists() predicate NULL and
    # F.filter drops non-TRUE rows — i.e. one NULL cut row would
    # silently eat the whole document; NULL ranges carry no information,
    # so they are ignored (collect_list also skips NULL ids by groupBy
    # semantics only if filtered — do it explicitly)
    ranges = (
        cuts.where(
            F.col(id_col).isNotNull()
            & F.col(start_col).isNotNull()
            & F.col(n_col).isNotNull()
        )
        .groupBy(F.col(id_col))
        .agg(
            F.collect_list(
                F.struct(
                    F.col(start_col).cast("long").alias("s"),
                    F.col(n_col).cast("long").alias("n"),
                )
            ).alias("_cut_ranges")
        )
    )
    toks = tokens(content_col)
    joined = df.join(ranges, [id_col], "left")
    rng = F.coalesce(
        F.col("_cut_ranges"),
        F.array().cast("array<struct<s:bigint,n:bigint>>"),
    )
    kept = F.filter(
        toks,
        lambda x, i: ~F.exists(
            rng, lambda c: (i >= c["s"]) & (i < c["s"] + c["n"])
        ),
    )
    # concat_ws maps NULL token arrays to '' — keep NULL text NULL
    # (r10 review: absent and present-but-blank must stay distinct)
    cut = F.when(
        F.col(content_col).isNull(), F.lit(None).cast("string")
    ).otherwise(F.concat_ws(" ", kept))
    return joined.withColumn(out_col, cut).drop("_cut_ranges")


# ---------------------------------------------------------------------------
# Cross-document repeated-line removal (r12) — CCNet-style boilerplate cut
# ---------------------------------------------------------------------------

def drop_repeated_lines(
    df: DataFrame,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "text_clean",
    count_col: str = "n_lines_dropped",
) -> DataFrame:
    """Remove every LINE that appears (byte-identical) in at least
    ``min_docs`` distinct documents — the CCNet-style cross-document
    boilerplate cut (Wenzek et al. 2019 dedup paragraphs by hash before
    anything else touches a crawl: nav bars, cookie banners, footers
    and share buttons repeat across a site's pages and would otherwise
    dominate the corpus). Complements :func:`cross_doc_spans` (exact
    substring spans within token streams): this operator is the cheap
    line-granular pass a pipeline runs FIRST, on the raw extracted
    text, with no token alignment at all.

    Whitespace-only lines are exempt (every document has them; cutting
    them would glue unrelated paragraphs). Line order is preserved.
    NULL text normalizes to ``''`` (matching the relational oracle's
    ``coalesce``). ``id_col`` must be unique per row — duplicate or
    NULL ids would both miscount document frequency and fan out the
    reassembly join, same precondition as every id-keyed operator here.

    Returns the input plus ``out_col`` (the text with repeated lines
    removed) and ``count_col`` (lines dropped, long).

    100 TB plan — the counting passes never move bodies: lines are
    counted and joined by 64-bit ``xxhash64`` (a collision — ~2^-64
    per pair — could cut an innocent line; the documented trade, same
    posture as the minhash family), so the frequency pass shuffles
    8-byte keys with map-side partial aggregation and the second pass
    regroups only (id, position) pairs of lines that ARE boilerplate.
    The final cut is a per-row higher-order index-filter over the
    original line array behind ONE id-equi-join of the drop lists onto
    the documents — broadcast when the drop lists fit (the common
    case: one small array per affected doc), in which case bodies
    never shuffle at all; under a sort-merge fallback that join is the
    single body-carrying exchange, the same cost as any id-keyed
    enrichment. Plan-audited: 5 exchanges worst-case (broadcast
    disabled), all but the last carrying hash/id/pos-width rows.
    """
    if count_col == out_col:
        raise ValueError("out_col and count_col must differ")
    # min_docs <= 1 makes the count(DISTINCT id) >= min_docs cut true
    # for EVERY non-blank line — silently deleting all non-whitespace
    # text from every document (r12 advice finding; mirrors the
    # cap >= 1 guard in cap_per_domain)
    if int(min_docs) < 2:
        raise ValueError(
            f"min_docs must be >= 2 (a line in fewer than 2 documents "
            f"is not cross-document boilerplate), got {min_docs}"
        )
    from dataproc_spark.core import ensure_no_columns

    ensure_no_columns(
        df,
        (out_col, count_col, "_lines", "_pos", "_h", "_drop_pos"),
        "drop_repeated_lines",
    )
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    base = df.withColumn("_lines", lines)
    ex = (
        base.select(id_col, F.posexplode("_lines").alias("_pos", "_line"))
        # regex, not trim(): SQL trim strips only ' ' (0x20) in Spark
        # AND DuckDB, so a '\t' line was counted — and cut — despite
        # the whitespace-only exemption (r12 model-test finding). And
        # (?U), not bare \s: Java's default \s is ASCII, so an
        # NBSP-only line (&nbsp; spacers are everywhere in extracted
        # HTML) was still cut (r12 third-review finding); (?U)\s is
        # exactly Unicode White_Space, which the oracle mirrors as
        # RE2 [\s\x0B\x{0085}\p{Z}].
        .where(~F.col("_line").rlike(r"(?U)^\s*$"))
        .select(id_col, "_pos", F.xxhash64("_line").alias("_h"))
    )
    bad = (
        ex.groupBy("_h")
        .agg(F.countDistinct(F.col(id_col)).alias("_df"))
        .where(F.col("_df") >= int(min_docs))
        .select("_h")
    )
    drops = (
        ex.join(bad, "_h")
        .groupBy(id_col)
        .agg(F.collect_set("_pos").alias("_drop_pos"))
    )
    joined = base.join(drops, [id_col], "left")
    kept = F.when(
        F.col("_drop_pos").isNull(), F.col("_lines")
    ).otherwise(
        F.filter(
            "_lines",
            lambda x, i: ~F.array_contains(F.col("_drop_pos"), i),
        )
    )
    return (
        joined.withColumn(out_col, F.concat_ws("\n", kept))
        .withColumn(
            count_col,
            (F.size("_lines") - F.size(kept)).cast("long"),
        )
        .drop("_lines", "_drop_pos")
    )
