"""Similarity search over embedding columns (``array<float>``).

Two scoring modes:

* ``dot_q`` — **integer-quantized dot product** (scalar quantization: each
  coordinate → ``round(x * scale)`` as a 64-bit int). Scores are exact
  integers, so results are bit-reproducible across engines and runs —
  this is the mode the correctness oracle uses, and int8/int16 SQ is also
  the standard memory-saving trick for billion-vector corpora.
* ``cosine`` — double-precision cosine for callers that want the real
  value (floating point, so only reproducible within one engine).

Scale design: the query side is always broadcast (queries ≪ corpus);
candidate generation for the 100 TB path is bucketed (IVF-style coarse
partitioning via a cluster-id column — here the ``label`` column; MLlib
KMeans supplies centroids when none exist) so the join is an equi-join on
the bucket id instead of a cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


#: bytes/task for the scoring-path spread (bucketed/brute-force top-k,
#: LSH verify, hard negatives): per-row cost is an interpreted dot per
#: candidate — heavier per byte than the matmul kernels (4 MB/task
#: below), so size at 1 MB/task. r16 opt: the old core-count spread
#: gave a 543 KB gate corpus 32 near-empty partitions whose dispatch
#: overhead dominated the query — ann_bucketed anti-SCALED (faster on
#: 8 cores than 32, PERF_r15 scaling ratio 0.8); a byte-sized spread is
#: 1 partition at gate scale and still reaches every core at ~32 MB+
#: (guide §2 — the knob is bytes/task, not a core count).
SCORE_SPREAD_TARGET_BYTES = 1 * 1024 * 1024


def _spread(df: DataFrame) -> DataFrame:
    """Spread a narrow input across cores before CPU-bound scoring — but
    only when it is actually narrow: unconditionally repartitioning a
    well-partitioned large corpus to defaultParallelism would shuffle
    everything into a few giant partitions. Delegates to
    :func:`core.spread_narrow` (plan-time file/size probe, no RDD
    conversion for file-backed frames), sized by
    :data:`SCORE_SPREAD_TARGET_BYTES`."""
    from dataproc_spark.core import spread_narrow

    return spread_narrow(df, target_bytes=SCORE_SPREAD_TARGET_BYTES)


#: bytes/task for the BYTE-SIZED spread of vector frames feeding numpy
#: matmul kernels (k-means assignment, PQ coding): per-byte CPU there is
#: tiny, so partition count should track data size, not core count — a
#: 1 MB gate corpus in 1-2 partitions pays 1-2 Arrow round trips per
#: Lloyd round instead of 32 (measured 0.48 → 0.22 s/round), while 100×
#: the bytes still fans out to every core (r15 opt round 2, guide §2 —
#: scale-adaptive partitioning).
VEC_SPREAD_TARGET_BYTES = 4 * 1024 * 1024


def _spread_vectors(df: DataFrame) -> DataFrame:
    """:func:`_spread` with :data:`VEC_SPREAD_TARGET_BYTES` — for the
    matmul-kernel training paths only."""
    from dataproc_spark.core import spread_narrow

    return spread_narrow(df, target_bytes=VEC_SPREAD_TARGET_BYTES)


def quantize(col, scale: int = 1000) -> F.Column:
    """Scalar-quantize a float vector to a long vector (exact integers)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: F.round(x.cast("double") * scale).cast("long"))


def dot_q(a, b) -> F.Column:
    """Exact integer dot product of two quantized (long) vectors."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def cosine(a, b) -> F.Column:
    """Double-precision cosine similarity of two float vectors.

    A zero-norm side yields 0.0 (defined, not NULL): the undefined
    division otherwise silently dropped the row from ``>=`` filters in
    non-ANSI sessions and raised DIVIDE_BY_ZERO mid-job under ANSI."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(ad, bd, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(ad, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(bd, F.lit(0.0), lambda acc, v: acc + v * v))
    return F.when(na * nb == 0.0, F.lit(0.0)).otherwise(dot / (na * nb))


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    exclude_self: bool = True,
    metric: str = "dot",
) -> DataFrame:
    """Exact top-k by quantized dot product: broadcast queries × full scan.

    The flat-index baseline: one pass over the corpus per batch of queries,
    queries broadcast (no shuffle of the corpus), per-query top-k via a
    rank window that Catalyst rewrites to partial top-k before the final
    shuffle. Ties break by candidate id — fully deterministic.

    ``exclude_self=True`` (default) drops candidates whose id equals the
    query id — right when queries are drawn FROM the corpus (the gates'
    shape). Pass ``False`` when query and corpus id spaces are unrelated,
    or an unlucky id collision silently hides a true neighbor.

    ``metric``: ``"dot"`` (default — quantized dot DESC, the similarity
    convention) or ``"l2"`` (squared L2 ASC — the ground truth the PQ
    family's ADC distances are measured against in ``pq_recall``).
    """
    if metric not in ("dot", "l2"):
        raise ValueError(
            f"brute_force_topk: metric must be 'dot' or 'l2', got {metric!r}")
    q = queries.select(
        F.col(id_col).alias("qid"), quantize(vec_col, scale).alias("_qv")
    )
    # spread the corpus before scoring: small inputs often arrive as one
    # parquet split, and the broadcast join preserves partitioning, which
    # would serialize the (CPU-bound) dot products on a single core
    spread = _spread(embeddings)
    c = spread.select(F.col(id_col), quantize(vec_col, scale).alias("_cv"))
    scored = c.crossJoin(F.broadcast(q))
    if exclude_self:
        scored = scored.where(F.col(id_col) != F.col("qid"))
    if metric == "l2":
        d = F.aggregate(
            F.zip_with("_qv", "_cv", lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"), lambda acc, v: acc + v,
        )
        scored = scored.withColumn("d_l2", d)
        w = Window.partitionBy("qid").orderBy(
            F.col("d_l2").asc(), F.col(id_col).asc())
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select("qid", id_col, "d_l2", "rnk")
        )
    scored = scored.withColumn("dot_q", dot_q("_qv", "_cv"))
    w = Window.partitionBy("qid").orderBy(F.col("dot_q").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("qid", id_col, "dot_q", "rnk")
    )


def bucketed_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "label",
    scale: int = 1000,
    salt: int | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-style approximate top-k: score only candidates in the query's
    coarse bucket.

    ``bucket_col`` is the coarse quantizer cell (a precomputed cluster id;
    train one with MLlib KMeans if the corpus has none). The candidate join
    becomes an equi-join on the bucket id — at 100 TB this is the difference
    between a cross join and a shuffle bounded by the probed cells. Probing
    n > 1 cells = unioning n bucket keys per query before the join.

    ``salt`` > 1 two-phases the top-k (the classic skewed-top-k split):
    a partial top-k per (qid, salt-bucket) first, so a query whose cell
    holds a huge candidate population sorts `salt` small partitions in
    parallel instead of one giant one, then the final window ranks only
    the surviving ``salt × k`` rows per query. Exactly the same result —
    every global top-k row is in some partial top-k — for one extra
    (tiny) shuffle; measured trade-off in SCALE.md.
    """
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(bucket_col).alias("_qb"),
        quantize(vec_col, scale).alias("_qv"),
    )
    spread = _spread(embeddings)
    c = spread.select(
        F.col(id_col), F.col(bucket_col).alias("_cb"), quantize(vec_col, scale).alias("_cv")
    )
    scored = c.join(F.broadcast(q), F.col("_cb") == F.col("_qb"))
    if exclude_self:
        # right when queries come FROM the corpus; pass False for
        # unrelated id spaces (same contract as brute_force_topk)
        scored = scored.where(F.col(id_col) != F.col("qid"))
    scored = scored.withColumn("dot_q", dot_q("_qv", "_cv"))
    w = Window.partitionBy("qid").orderBy(F.col("dot_q").desc(), F.col(id_col).asc())
    if salt is not None and int(salt) > 1:
        from dataproc_spark import skew as _skew

        wp = Window.partitionBy("qid", _skew.SALT).orderBy(
            F.col("dot_q").desc(), F.col(id_col).asc()
        )
        scored = (
            _skew.with_salt(scored, int(salt))
            .withColumn("_prnk", F.row_number().over(wp))
            .where(F.col("_prnk") <= k)
            .drop("_prnk", _skew.SALT)
        )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("qid", id_col, "dot_q", "rnk")
    )


def kmeans_cells(
    embeddings: DataFrame,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
):
    """Train an IVF coarse quantizer (MLlib KMeans) and assign each vector
    to its nearest centroid cell.

    Returns ``(assigned_df, model)`` where ``assigned_df`` carries a
    ``_cell`` int column. At 100 TB you train on a sample
    (``df.sample``) and only the assignment pass touches the full corpus —
    a map-only stage.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = embeddings.withColumn(
        "_feat", array_to_vector(F.transform(F.col(vec_col), lambda x: x.cast("double")))
    )
    model = KMeans(
        k=k, seed=seed, maxIter=max_iter, featuresCol="_feat", predictionCol="_cell"
    ).fit(feats)
    assigned = model.transform(feats).drop("_feat")
    return assigned, model


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    cells: int = 16,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    scale: int = 1000,
) -> DataFrame:
    """IVF approximate top-k with a trained coarse quantizer: assign corpus
    to KMeans cells, probe each query's ``n_probe`` nearest cells.

    The real-index version of :func:`bucketed_topk` (which expects a
    precomputed bucket column): candidate generation is an equi-join on
    ``_cell``. ``n_probe`` is the standard recall/latency knob — each
    query expands to its ``n_probe`` closest centroids (ranked by exact
    quantized dot against the broadcast centroid table), multiplying
    candidates by at most ``n_probe / cells`` of the corpus.

    NOTE: this refits KMeans on every call — fine for a gate, wrong for
    a production corpus. Build the index once with
    :func:`write_ivf_index` and probe across jobs with
    :func:`ivf_index_topk` (r9).
    """
    spark = embeddings.sparkSession
    assigned, model = kmeans_cells(embeddings, cells, id_col, vec_col, seed)
    # centroid table is tiny — broadcast-join queries against it and keep
    # the n_probe closest cells per query
    from dataproc_spark.core import local_frame

    centroids = local_frame(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        f"_qb int, _centroid array<double>",
    )
    q = queries.select(
        F.col(id_col), F.col(vec_col), quantize(vec_col, scale).alias("_qv_probe")
    )
    # L2-nearest centroid ranking in quantized space: argmin ||q-c||^2 =
    # argmax (2 q·c - ||c||^2) — the ||q||^2 term is constant per query
    qc = quantize("_centroid", scale)
    probed = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("_cscore", 2 * dot_q("_qv_probe", qc) - dot_q(qc, qc))
        .withColumn(
            "_probe_rnk",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy(
                    F.col("_cscore").desc(), F.col("_qb").asc()
                )
            ),
        )
        .where(F.col("_probe_rnk") <= n_probe)
        .select(id_col, vec_col, "_qb")
    )
    return bucketed_topk(
        assigned.withColumnRenamed("_cell", "_qb"), probed,
        k=k, id_col=id_col, vec_col=vec_col, bucket_col="_qb", scale=scale,
    )


def ivf_exact_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    scale: int = 1000,
) -> DataFrame:
    """IVF top-k with *deterministic* cells and *exact-integer* centroid
    probing — the oracle-checkable twin of :func:`ivf_topk`.

    Cells come from an existing partition column (``cell_col``) instead of
    trained KMeans, and the per-cell centroid is the truncating integer
    division ``sum(quantized) div n`` per dimension, so the n_probe cell
    ranking (max Σ q_d·c_d, ties by cell id) is bit-reproducible in any
    engine — no float anywhere in the decision path. Same plan shape as
    production IVF: tiny centroid table broadcast against queries, then an
    equi-join on the probed cell ids for candidate generation.

    The centroid and probe math is SHARED with the persisted-index path
    (:func:`_integer_cell_centroids` / :func:`_probe_cells`) — one
    implementation, so the ``ann_ivf_index_roundtrip`` bit-for-bit
    contract cannot drift between the two (r9 review finding).
    """
    cent = _integer_cell_centroids(
        embeddings.select(
            F.col(cell_col).alias("_cell"), F.col(vec_col)
        ),
        vec_col, scale,
    )
    probed_cells = _probe_cells(queries, cent, id_col, vec_col, scale, n_probe)
    probed_queries = _expand_queries_to_cells(
        queries, probed_cells, id_col, vec_col
    )
    return bucketed_topk(
        embeddings.withColumn("_probe_cell", F.col(cell_col)),
        probed_queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        bucket_col="_probe_cell",
        scale=scale,
    )


def _integer_cell_centroids(
    assigned: DataFrame, vec_col: str, scale: int
) -> DataFrame:
    """``(_cell, _dim, _cq)`` truncating-integer-division centroids
    (``sum(quantized) div n`` per dimension) from a frame carrying a
    ``_cell`` column — the ONE implementation of the deterministic-IVF
    decision-path math, shared by :func:`ivf_exact_topk` and
    :func:`write_ivf_index` so the persisted index can never drift from
    the in-memory twin (r9 review finding; the r8 raw-dot→L2 probe fix
    is exactly the class of change that would otherwise fork)."""
    return (
        assigned.select(
            "_cell",
            F.posexplode(quantize(vec_col, scale)).alias("_dim", "_cv"),
        )
        .groupBy("_cell", "_dim")
        .agg(F.sum("_cv").alias("_s"), F.count(F.lit(1)).alias("_n"))
        .select(
            "_cell", "_dim", F.expr("_s div _n").cast("long").alias("_cq")
        )
    )


def _probe_cells(
    queries: DataFrame,
    cent: DataFrame,
    id_col: str,
    vec_col: str,
    scale: int,
    n_probe: int,
) -> DataFrame:
    """``(_pqid, _cell)`` — each query's ``n_probe`` L2-nearest integer
    centroids (ties by cell id). L2-nearest, same probe metric as
    ``ivf_topk``: ``Σ_d (2 q_d c_d − c_d²) = 2 q·c − ||c||²`` (the
    ``||q||²`` term is constant per query; the raw-dot probe this
    replaced favored large-norm centroids — r8 review finding). Shared
    by :func:`ivf_exact_topk` and :func:`ivf_index_topk`."""
    qd = queries.select(
        F.col(id_col).alias("_pqid"),
        F.posexplode(quantize(vec_col, scale)).alias("_dim", "_qd"),
    )
    probe_scores = (
        qd.join(F.broadcast(cent), "_dim")
        .groupBy("_pqid", "_cell")
        .agg(
            F.sum(
                2 * F.col("_qd") * F.col("_cq") - F.col("_cq") * F.col("_cq")
            ).alias("_cscore")
        )
    )
    w = Window.partitionBy("_pqid").orderBy(
        F.col("_cscore").desc(), F.col("_cell").asc()
    )
    return (
        probe_scores.withColumn("_prnk", F.row_number().over(w))
        .where(F.col("_prnk") <= n_probe)
        .select("_pqid", "_cell")
    )


def _expand_queries_to_cells(
    queries: DataFrame, probed_cells: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Expand each query row to its probed cells so the bucketed
    candidate join stays an equi-join on the cell id — never a cross
    join."""
    return (
        queries.select(F.col(id_col), F.col(vec_col))
        .join(probed_cells, F.col(id_col) == F.col("_pqid"))
        .select(id_col, vec_col, F.col("_cell").alias("_probe_cell"))
    )


#: corpus-size estimate (bytes) below which a flat scan beats index
#: maintenance; above it, bucketed/IVF candidate generation pays off.
FLAT_SCAN_BUDGET_BYTES = 256 * 1024 * 1024


def choose_strategy(
    embeddings: DataFrame,
    bucket_col: str | None = None,
    flat_budget_bytes: int = FLAT_SCAN_BUDGET_BYTES,
) -> str:
    """Pick the physical top-k strategy from Catalyst's size estimate.

    The planner-level decision SURVEY.md §4 anticipates ("rewriting
    similarity self-joins into bucketed joins"), done the Spark-native
    way: consult the optimizer's ``sizeInBytes`` statistic (free — no
    job) and dispatch:

    * small corpus → ``flat`` (exact; scan cost below index overhead)
    * large + precomputed bucket column → ``bucketed``
    * large, no buckets → ``ivf`` (train a coarse quantizer first)

    Frames without statistics (in-memory relations report the unknown
    sentinel, ~Long.MaxValue) fall back to a bounded count probe: one
    cheap job that stops scanning at the budget-equivalent row count.
    """
    from dataproc_spark.core import plan_size_bytes

    size = plan_size_bytes(embeddings)
    if size is None:  # stats unknown — probe instead of trusting it
        budget_rows = max(flat_budget_bytes // 512, 1)  # ~bytes per vector row
        probed = embeddings.limit(budget_rows + 1).count()
        size = probed * 512
    if size <= flat_budget_bytes:
        return "flat"
    return "bucketed" if bucket_col else "ivf"


def topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str | None = None,
    strategy: str = "auto",
    n_probe: int = 1,
    scale: int = 1000,
) -> DataFrame:
    """Top-k neighbors with automatic strategy selection.

    ``strategy='auto'`` uses :func:`choose_strategy`; explicit values
    (``flat`` / ``bucketed`` / ``ivf``) force a path.
    """
    if strategy == "auto":
        strategy = choose_strategy(embeddings, bucket_col)
    if strategy == "flat":
        return brute_force_topk(embeddings, queries, k, id_col, vec_col, scale)
    if strategy == "bucketed":
        if bucket_col is None:
            raise ValueError("strategy='bucketed' requires bucket_col")
        return bucketed_topk(
            embeddings, queries, k, id_col, vec_col, bucket_col, scale
        )
    if strategy == "ivf":
        return ivf_topk(
            embeddings, queries, k=k, n_probe=n_probe, id_col=id_col,
            vec_col=vec_col, scale=scale,
        )
    raise ValueError(f"unknown strategy {strategy!r}")


def near_dup_pairs(
    embeddings: DataFrame,
    threshold_dot_q: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "label",
    scale: int = 1000,
) -> DataFrame:
    """Embedding near-duplicate pairs within a coarse bucket.

    Same-bucket pairs (id_a < id_b) whose exact quantized dot clears
    ``threshold_dot_q``. The bucket restriction is what keeps this off
    the all-pairs cliff at scale; recall is traded per the coarse
    quantizer's quality, exactly as in IVF dedup pipelines.

    ONE groupBy-bucket Arrow stage: each bucket's vectors are gathered
    once and all pairwise dots come out of an exact-int64 blocked numpy
    matmul (0.6 s vs 5.5 s for a relational self-join at the sf0.1 gate,
    r15). Block size bounds the dot matrix to ~32 MB however large a
    bucket gets; a bucket must still FIT one task — that is the k knob.

    NULL ids, buckets, or vector elements raise: each would silently
    escape detection (a NULL bucket is no real bucket, a NULL id cannot
    order a pair, a NULL element has no dot) — the same
    silent-corpus-escape policy as :func:`rp_lsh_near_dup`. Pre-filter
    unlabeled rows explicitly if that is intended.
    """

    def _req(c: F.Column, what: str) -> F.Column:
        return F.when(c.isNotNull(), c).otherwise(
            F.raise_error(
                F.lit(
                    f"near_dup_pairs: NULL {what} — it would silently "
                    "escape near-dup detection; filter such rows "
                    "explicitly first"
                )
            )
        )

    # no _spread: groupBy supplies the (only) exchange, so a pre-spread
    # would just add a second shuffle of the same vectors
    e = embeddings.select(
        _req(F.col(id_col), id_col).alias(id_col),
        _req(F.col(bucket_col), bucket_col).alias("_b"),
        F.when(
            F.col(vec_col).isNotNull()
            & ~F.exists(F.col(vec_col), lambda x: x.isNull()),
            quantize(vec_col, scale),
        )
        .otherwise(
            F.raise_error(
                F.lit(
                    f"near_dup_pairs: NULL {vec_col} or NULL element — "
                    "it would silently escape near-dup detection"
                )
            )
        )
        .alias("_v"),
    )

    import numpy as np
    import pandas as pd

    idt = e.schema[id_col].dataType.simpleString()
    thr = int(threshold_dot_q)

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"id_a": [], "id_b": [], "dot_q": []}
            ).astype({"dot_q": "int64"})
        ids = pdf[id_col].to_numpy()
        v = np.array(pdf["_v"].tolist(), dtype=np.int64)
        # block rows so the (B, n) dot matrix stays ~32 MB
        # regardless of bucket size
        blk = max(1, (1 << 22) // max(n, 1))
        outs = []
        for s in range(0, n, blk):
            g = v[s:s + blk] @ v.T
            ii, jj = np.nonzero(
                (g >= thr) & (ids[None, :] > ids[s:s + blk, None])
            )
            if len(ii):
                outs.append((ids[s + ii], ids[jj], g[ii, jj]))
        if not outs:
            return pd.DataFrame(
                {"id_a": [], "id_b": [], "dot_q": []}
            ).astype({"dot_q": "int64"})
        return pd.DataFrame({
            "id_a": np.concatenate([o[0] for o in outs]),
            "id_b": np.concatenate([o[1] for o in outs]),
            "dot_q": np.concatenate([o[2] for o in outs]),
        })

    return e.groupBy("_b").applyInPandas(
        kernel, schema=f"id_a {idt}, id_b {idt}, dot_q long"
    )


def rp_planes(n_planes: int, dim: int, seed: str = "rp") -> list[list[int]]:
    """Deterministic ±1 Rademacher hyperplanes for random-projection LSH
    (Charikar, STOC'02): coefficient (p, d) is the parity of
    ``md5("{seed}:{p}:{d}")``'s first 8 hex digits. Any engine that can
    md5 a string reproduces the exact plane set, so the registry oracle
    shares the planes by construction — no RNG, no stored artifact."""
    import hashlib

    if n_planes < 1 or dim < 1:
        raise ValueError("n_planes and dim must be >= 1")
    return [
        [
            1
            if int(hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()[:8], 16) % 2 == 0
            else -1
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def _rp_banded_arrow(
    e: DataFrame, planes: list[list[int]], band_bits: int, id_col: str
) -> DataFrame:
    """Signature stage of :func:`rp_lsh_near_dup`: one numpy matmul per
    batch (B×dim @ dim×P) computes every sign bit at once, then band
    keys via a power-of-two weight vector — constant plan size
    regardless of n_planes. Exact integer arithmetic (int64
    throughout)."""
    import numpy as np
    import pandas as pd

    n_planes = len(planes)
    n_bands = n_planes // band_bits
    P = np.asarray(planes, dtype=np.int64).T  # dim × n_planes
    weights = 2 ** np.arange(band_bits - 1, -1, -1, dtype=np.int64)
    id_type = e.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, band_idx int, band_key bigint"

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["_v"].to_numpy()).astype(np.int64)
            bits = (V @ P) >= 0
            keys = bits.reshape(len(V), n_bands, band_bits).astype(np.int64) @ weights
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), n_bands),
                    "band_idx": np.tile(
                        np.arange(n_bands, dtype=np.int32), len(V)
                    ),
                    "band_key": keys.reshape(-1),
                }
            )

    return e.select(id_col, "_v").mapInPandas(kernel, schema=out_schema)


def rp_lsh_near_dup(
    embeddings: DataFrame,
    threshold_dot_q: int,
    dim: int,
    n_planes: int = 16,
    band_bits: int = 4,
    seed: str = "rp",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Embedding near-dup pairs WITHOUT a pre-existing bucket column:
    random-hyperplane LSH. :func:`near_dup_pairs` needs a coarse label to
    stay off the all-pairs cliff; this is the self-contained scale path
    when no such label exists (the common case for a fresh crawl).

    Stages:

    1. **Signature** (map-only): each vector's bit ``p`` is
       ``sign(<v, plane_p>)`` against the ±1 planes from
       :func:`rp_planes` — integer dots on the quantized vector, computed
       by one numpy matmul per Arrow batch (:func:`_rp_banded_arrow`; it
       beat plan-literal ``aggregate``/``zip_with`` expressions at every
       probed point, up to 2.9 s vs 16.5 s at 64 planes — SCALE.md
       §rp-lsh); no dim explosion, no shuffle.
    2. **Banding**: ``n_planes / band_bits`` band keys (each the integer
       value of ``band_bits`` consecutive bits); explode to one row per
       band and self equi-join on (band_idx, band_key), ``id_a < id_b``,
       DISTINCT — identical shape to the MinHash LSH join, so the same
       skew story applies (AQE skew split; at scale raise ``band_bits`` so
       the 2^band_bits key space spreads: 4-bit bands are gate-sized, a
       production corpus wants 8–16-bit bands from 64+ planes).
    3. **Verify**: join candidate ids back to the quantized vectors (the
       heavy payload moves once, never through the banding) and keep exact
       integer ``dot_q >= threshold_dot_q``.

    Collision probability per bit is ``1 − θ/π`` (angle θ between the
    vectors), so recall is a banding choice, not an accident — the same
    contract as ``minhash_dedup_pairs``. Wrong-length, NULL, or
    NULL-element vectors raise (they would otherwise null out the band
    keys and silently escape detection)."""
    if band_bits < 1:
        raise ValueError("band_bits must be >= 1")
    if n_planes % band_bits:
        raise ValueError(
            f"band_bits ({band_bits}) must divide n_planes ({n_planes}); "
            "a remainder would silently drop the trailing bits from banding"
        )
    planes = rp_planes(n_planes, dim, seed)

    # a NULL vector or a NULL element would otherwise NaN-cast to garbage
    # band keys — a silent corpus escape, so raise instead
    vec_ok = (F.size(F.col(vec_col)) == dim) & ~F.exists(
        F.col(vec_col), lambda x: x.isNull()
    )
    e = _spread(embeddings).select(
        F.col(id_col),
        F.when(vec_ok, quantize(vec_col, scale))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"rp_lsh_near_dup: expected {dim}-dim vectors with "
                        "no NULL elements, got size="
                    ),
                    F.coalesce(
                        F.size(F.col(vec_col)).cast("string"), F.lit("NULL")
                    ),
                )
            )
        )
        .alias("_v"),
    )
    # three plan branches read e (signature pass + both verify sides) —
    # persist so the scan+quantize+validate runs once
    e = e.persist()

    banded = _rp_banded_arrow(e, planes, band_bits, id_col)
    left = banded.alias("l")
    right = banded.alias("r")
    cands = (
        left.join(
            right,
            [
                F.col("l.band_idx") == F.col("r.band_idx"),
                F.col("l.band_key") == F.col("r.band_key"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .distinct()
    )
    va = e.select(F.col(id_col).alias("id_a"), F.col("_v").alias("_va"))
    vb = e.select(F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"))
    out = (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", dot_q(F.col("_va"), F.col("_vb")).alias("dot_q"))
        .where(F.col("dot_q") >= threshold_dot_q)
    )
    from dataproc_spark.core import release_cache_on_gc

    # pin A/B, embed_lsh_near_dup on/off (± IQR of on runs): sf0.1
    # 3.75/3.67 ±0.74 s count, 4.48/4.71 ±0.85 s consume, 10x 195.9/195.5
    # s count; kept for want of a 10x consume cell (196 s a call), and
    # the 100x probe that added it went 58.7 -> 33.6 s (SCALE.md rp-lsh)
    return release_cache_on_gc(out, e)


#: centroid-table size (k × dim literal terms) above which
#: :func:`_kmeans_assign` switches from the expression plan to the Arrow
#: matmul kernel — below it the all-JVM expression wins (no Python
#: worker round-trip); far above it the expression is pathological
#: (k zip_with aggregates per row stop fitting whole-stage codegen and
#: fall back to interpreted eval: the k=400/dim=64 semantic_dedup probe
#: ran >30 min at 100× before this kernel, ~2 min after — SCALE.md r15).
#: r15 opt: lowered 4096 → 128 after an interleaved A/B at the gate
#: geometry (k=8 × dim=64 = 512 terms, sf0.1): the expression path costs
#: ~2 s of fresh codegen per assignment — centroid literals CHANGE every
#: Lloyd iteration, so nothing is ever compiled twice — and trains in
#: 5.9 s warm vs 2.1 s through the Arrow kernel. Only toy geometries
#: (k × dim ≤ 128, e.g. 8 × 16 unit fixtures) keep the literal plan.
_KMEANS_ARROW_THRESHOLD = 128


def _kmeans_assign(
    q: DataFrame, centroids: list[tuple[int, list[int]]]
) -> DataFrame:
    """Map-only cluster assignment against the centroid table: argmin
    squared distance, ties to the smallest centroid id. Small tables
    travel as plan literals (array_min over (dist, cid) structs —
    lexicographic, all-JVM); past :data:`_KMEANS_ARROW_THRESHOLD`
    literal terms the same argmin runs as one Arrow matmul stage
    (``||x||² − 2xCᵀ + ||c||²`` in exact int64, np.argmin's
    first-minimum = smallest cid over the cid-ascending table —
    bit-identical by construction, parity-pinned by test)."""
    if centroids and len(centroids) * len(centroids[0][1]) > _KMEANS_ARROW_THRESHOLD:
        import numpy as np
        import pandas as pd

        cids = np.array([cid for cid, _ in centroids], dtype=np.int64)
        cmat = np.array([c for _, c in centroids], dtype=np.int64)
        cnorm = (cmat * cmat).sum(axis=1)
        other = [c for c in q.columns if c != "_v"]

        def kernel(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.array(pdf["_v"].tolist(), dtype=np.int64)
                d = ((x * x).sum(axis=1, keepdims=True)
                     - 2 * (x @ cmat.T) + cnorm)
                pdf = pdf.assign(cluster=cids[np.argmin(d, axis=1)])
                yield pdf

        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in q.schema.fields
        ) + ", cluster long"
        out = q.mapInPandas(kernel, schema)
        # the expression path yields an INT cluster (the struct literal);
        # keep the public dtype identical across paths
        return out.withColumn("cluster", F.col("cluster").cast("int"))
    cands = []
    for cid, c in centroids:
        lit = F.array(*[F.lit(int(x)).cast("long") for x in c])
        d = F.aggregate(
            F.zip_with(F.col("_v"), lit, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        cands.append(F.struct(d.alias("d"), F.lit(int(cid)).alias("cid")))
    return q.withColumn("cluster", F.array_min(F.array(*cands))["cid"])


def _trunc_div(a: int, b: int) -> int:
    """Integer division truncating toward zero — EXACTLY Spark's
    IntegralDivide (``div``) on signed operands. The one-exchange
    centroid update collects per-dimension sums and divides
    driver-side, so the driver arithmetic must replicate ``div``;
    Python's ``//`` FLOORS and would drift on negative sums."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _mean_update_rows(df: DataFrame, keys: list, vec_col: str, dim: int):
    """Collected rows for a centroid update in ONE exchange (r15 opt,
    guide §2.3 "aggregate before you shuffle"): per-``keys`` count plus
    one ``sum`` per dimension over the array column — all partial
    map-side, shuffle carries |keys| rows of (dim+1) longs. The
    replaced shape ``posexplode → groupBy(keys, dim) → groupBy(keys)
    collect_list`` multiplied shuffle rows ×dim and paid TWO exchanges
    per Lloyd round. Callers derive means via :func:`_trunc_div` —
    identical integer arithmetic to the old ``s div n`` column."""
    aggs = [F.count(F.lit(1)).alias("_n")] + [
        F.sum(F.element_at(F.col(vec_col), i + 1)).alias(f"_s{i}")
        for i in range(dim)
    ]
    return df.groupBy(*keys).agg(*aggs).collect()


def _combine_partials(rows) -> dict:
    """Driver-side combine of per-partition (key → (n, sumvec)) partial
    rows from the fused update kernels: plain integer addition, order-
    independent, so the result is identical to a JVM ``sum`` aggregate
    over the same rows (both are exact int64 sums far below overflow —
    quantized components are bounded by ``scale``·‖emb‖∞). Keys are the
    kernels' scalar or tuple group keys."""
    comb: dict = {}
    for key, n, s in rows:
        if key in comb:
            n0, s0 = comb[key]
            comb[key] = (n0 + n, [a + b for a, b in zip(s0, s)])
        else:
            comb[key] = (n, list(s))
    return comb


def _kmeans_iter_update(
    q: DataFrame, centroids: list[tuple[int, list[int]]]
) -> dict:
    """ONE Lloyd round — assignment AND per-cluster (count, per-dim
    sums) — as a single map-only Arrow kernel with the partials
    combined driver-side (r15 opt round 2). The previous shape
    (assignment kernel → 1+dim-column JVM aggregate → collect) paid
    ~0.85 s of PLAN-freshness cost per round at the gate geometry:
    centroid literals change every iteration, so Catalyst re-analyzes
    and codegen recompiles the wide aggregate for every round (measured
    0.92 s/round vs 0.07 s re-executing the identical plan; the fused
    kernel rounds measure ~0.48 s). The shuffle disappears entirely —
    each task emits ≤ k partial rows, the driver combines ≤ k ×
    partitions rows (bounded, never corpus-sized). Bit-exactness: the
    argmin is :func:`_kmeans_assign`'s Arrow formula unchanged;
    np.add.at/np.bincount are exact int64 sums; integer addition is
    order-independent, so the combined sums equal the JVM aggregate's
    (parity-pinned by test)."""
    import numpy as np
    import pandas as pd

    cids = np.array([cid for cid, _ in centroids], dtype=np.int64)
    cmat = np.array([c for _, c in centroids], dtype=np.int64)
    cnorm = (cmat * cmat).sum(axis=1)
    k = len(cids)

    def kernel(batches):
        counts = np.zeros(k, dtype=np.int64)
        sums = np.zeros((k, cmat.shape[1]), dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(pdf["_v"].tolist(), dtype=np.int64)
            d = ((x * x).sum(axis=1, keepdims=True)
                 - 2 * (x @ cmat.T) + cnorm)
            a = np.argmin(d, axis=1)
            counts += np.bincount(a, minlength=k)
            np.add.at(sums, a, x)
        hit = np.nonzero(counts)[0]
        if not len(hit):
            return
        yield pd.DataFrame({
            "cluster": cids[hit],
            "_n": counts[hit],
            "_s": list(sums[hit]),
        })

    rows = q.select("_v").mapInPandas(
        kernel, "cluster long, _n long, _s array<long>"
    ).collect()
    return _combine_partials(
        (int(r["cluster"]), int(r["_n"]), r["_s"]) for r in rows
    )


def _group_update_partials(
    df: DataFrame, key_col: str, vec_col: str
) -> dict:
    """Per-``key_col`` (count, per-dim sums) over an ALREADY-grouped
    frame via the same kernel-partials + driver-combine shape as
    :func:`_kmeans_iter_update` — for the centroid recompute over a
    persisted assignment, where the wide fresh-plan JVM aggregate was
    the cost, not the grouping itself."""
    import numpy as np
    import pandas as pd

    def kernel(batches):
        acc: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            keys = pdf[key_col].to_numpy()
            x = np.array(pdf[vec_col].tolist(), dtype=np.int64)
            uniq, inv = np.unique(keys, return_inverse=True)
            counts = np.bincount(inv, minlength=len(uniq))
            sums = np.zeros((len(uniq), x.shape[1]), dtype=np.int64)
            np.add.at(sums, inv, x)
            for i, key in enumerate(uniq):
                key = int(key)
                if key in acc:
                    n0, s0 = acc[key]
                    acc[key] = (n0 + int(counts[i]), s0 + sums[i])
                else:
                    acc[key] = (int(counts[i]), sums[i].copy())
        if acc:
            yield pd.DataFrame({
                "_k": list(acc),
                "_n": [v[0] for v in acc.values()],
                "_s": [v[1] for v in acc.values()],
            })

    rows = df.select(key_col, vec_col).mapInPandas(
        kernel, "_k long, _n long, _s array<long>"
    ).collect()
    return _combine_partials(
        (int(r["_k"]), int(r["_n"]), r["_s"]) for r in rows
    )


def _embed_kmeans_impl(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    seed_limit: int = 0,
):
    """Deterministic Lloyd k-means over integer-quantized embeddings —
    the clustering step behind domain discovery, cluster-balanced data
    mixes, and SemDeDup-style semantic grouping. Unlike MLlib KMeans
    (RNG init, float drift → engine-specific results), every step here
    is exact integer arithmetic with pinned tie-breaks, so any engine
    replays it bit-for-bit (the registry oracle does):

    * init: the ``k`` smallest ids' vectors (cid = 0..k-1 in id order);
    * assign: argmin squared L2 on quantized longs, ties → smallest cid;
    * update: element-wise integer mean (``sum div count``) per cluster;
      clusters that empty out are dropped (both engines see the same
      survivor set).

    Scale: assignment is MAP-ONLY — centroids travel to executors as
    plan literals, the O(k·dim) centroid table is the only thing the
    driver ever holds (the same contract as MLlib's per-iteration
    centroid broadcast; corpus rows never collect). The update is one
    (cluster, dim)-keyed aggregate per iteration — partial map-side
    combine, then ≤ k·dim rows. Iterations are a fixed small count, the
    caller's knob, so lineage stays shallow (no checkpoint needed).

    Returns ``(assigned, centroids, dim, seed)``: the final
    assignment frame carrying (id, cluster, _v) over the validated
    projection, the final driver-side centroid table and vector dim —
    so composite operators (IVFPQ) can reuse the
    quantized/validated/assigned rows without a re-derivation join (r15
    opt) — plus the collected seed rows: ``seed_limit`` widens the init
    collect to ``max(k, seed_limit)`` smallest-id rows so a composite caller
    (IVFPQ's PQ seeding) can derive its own seed from the SAME collect
    instead of paying a separate orderBy/limit job (r15 opt round 2).
    """
    # not persisted: the seed collect and each round re-derive the
    # projection. Pin A/B (on/off ± IQR of on runs, s), count at sf0.1:
    # embed_kmeans 0.99/1.04 ±0.19, semantic_dedup 1.66/1.61 ±0.41,
    # ann_ivfpq 2.49/2.47 ±0.24; at 10x: 1.31/1.25 ±0.11, 11.62/11.79
    # ±3.29, 5.71/5.82 ±0.44 — no cell slower (SCALE.md "Cache pins")
    q = _spread_vectors(embeddings).select(
        F.col(id_col), quantize(vec_col, scale).alias("_v")
    )
    seed = q.orderBy(F.col(id_col).asc()).limit(max(k, seed_limit)).collect()
    centroids = []
    seed_dim = None
    for i, r in enumerate(seed):
        v = r["_v"]
        if (
            v is None
            or any(x is None for x in v)
            or (seed_dim is not None and len(v) != seed_dim)
        ):
            # seed vectors are validated DRIVER-side (the executor guard
            # below derives its dim from them, so a bad seed would crash
            # with an opaque int(None) while building centroid literals)
            raise ValueError(
                "embed_kmeans: seed vectors must be same-length with no "
                f"NULL elements; offending {id_col}={r[id_col]!r}"
            )
        seed_dim = len(v) if seed_dim is None else seed_dim
        if i < k:
            centroids.append((i, list(v)))
    if centroids:
        # NULL or wrong-length vectors would otherwise assign to cluster
        # 0 silently: every distance aggregates to NULL and the
        # (dist, cid) struct min sorts the NULL first (r8 follow-up
        # review finding; the same raise policy as rp_lsh_near_dup).
        dim = len(centroids[0][1])
        q = q.select(
            F.col(id_col),
            F.when(
                (F.size("_v") == dim)
                & ~F.exists("_v", lambda x: x.isNull()),
                F.col("_v"),
            )
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"embed_kmeans: expected {dim}-dim vectors "
                            "with no NULL elements, got size="
                        ),
                        F.coalesce(
                            F.size("_v").cast("string"), F.lit("NULL")
                        ),
                    )
                )
            )
            .alias("_v"),
        )
    dim = len(centroids[0][1]) if centroids else 0
    for _ in range(iters):
        if not centroids:
            break  # empty input: nothing to assign or update
        if len(centroids) * dim > _KMEANS_ARROW_THRESHOLD:
            # fused assign+partials kernel (r15 opt round 2): one
            # map-only job per round, no wide fresh-plan aggregate —
            # see _kmeans_iter_update for the measured plan-freshness
            # cost it removes. Bit-identical means via _trunc_div.
            comb = _kmeans_iter_update(q, centroids)
            centroids = sorted(
                (cid, [_trunc_div(x, n) for x in s])
                for cid, (n, s) in comb.items()
            )
            continue
        assigned = _kmeans_assign(q, centroids)
        # one-exchange update (r15 opt): count + per-dim sums with
        # map-side combine; means derived driver-side with _trunc_div
        # — bit-identical to the old per-(cluster, dim) `s div n`
        rows = _mean_update_rows(
            assigned.select("cluster", "_v"), ["cluster"], "_v", dim
        )
        centroids = sorted(
            (
                r["cluster"],
                [_trunc_div(r[f"_s{i}"], r["_n"]) for i in range(dim)],
            )
            for r in rows
        )
    out = _kmeans_assign(q, centroids).select(id_col, "cluster", "_v")
    return out, centroids, dim, seed


def embed_kmeans(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Public (id, cluster) view of :func:`_embed_kmeans_impl` — see
    its docstring for the algorithm/exactness contract."""
    out, _, _, _ = _embed_kmeans_impl(
        embeddings, k, iters, id_col, vec_col, scale
    )
    return out.select(id_col, "cluster")


def hard_negatives(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: int = 1000,
) -> DataFrame:
    """Contrastive-pair mining: for each query vector, the most similar
    SAME-label vector (the positive) and the most similar
    DIFFERENT-label vector (the hard negative) — the standard mining
    step for contrastive/embedding training, where random negatives are
    too easy and the nearest wrong-label example carries the gradient.

    Exact scoring against a broadcast query set (the test-SF/oracle
    path); at corpus scale swap the candidate generator for
    ``bucketed_topk``/``ivf_topk`` and keep the same per-label
    rank-1 selection. Integer dot products; ties break on candidate id
    ascending so both engines agree. One shuffle (the per-(qid, side)
    window); candidates never pair with themselves.
    """
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(label_col).alias("_ql"),
        quantize(vec_col, scale).alias("_qv"),
    )
    c = _spread(embeddings).select(
        F.col(id_col),
        F.col(label_col).alias("_cl"),
        quantize(vec_col, scale).alias("_cv"),
    )
    scored = (
        c.join(F.broadcast(q), F.col(id_col) != F.col("qid"))
        .withColumn("dot_q", dot_q("_qv", "_cv"))
        .withColumn(
            "side",
            F.when(F.col("_cl") == F.col("_ql"), "pos").otherwise("neg"),
        )
    )
    w = Window.partitionBy("qid", "side").orderBy(
        F.col("dot_q").desc(), F.col(id_col).asc()
    )
    best = scored.withColumn("rnk", F.row_number().over(w)).where(
        F.col("rnk") == 1
    )
    pos = best.where(F.col("side") == "pos").select(
        "qid",
        F.col(id_col).alias("pos_id"),
        F.col("dot_q").alias("pos_dot"),
    )
    neg = best.where(F.col("side") == "neg").select(
        "qid",
        F.col(id_col).alias("neg_id"),
        F.col("dot_q").alias("neg_dot"),
    )
    # FULL outer, not inner: a query with no same-label (or no
    # different-label) candidate keeps its row with the missing side
    # NULL — an inner join silently erased such queries entirely (r8
    # follow-up review finding)
    return pos.join(neg, "qid", "full")


# ---------------------------------------------------------------------------
# persistable IVF index (r9 — VERDICT r8 missing #5)
# ---------------------------------------------------------------------------

#: format marker written into the index meta table; readers refuse
#: anything else (the streaming fingerprint-store guard pattern — a
#: path holding unrelated parquet must fail loudly, never probe as an
#: empty index)
IVF_INDEX_FORMAT = "dataproc-spark/ivf-index/v1"


def write_ivf_index(
    embeddings: DataFrame,
    path: str,
    cell_col: str | None = None,
    cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
    scale: int = 1000,
) -> dict:
    """Build an IVF index ONCE and persist it, so probes across jobs read
    the index instead of refitting (``ivf_topk`` refits KMeans per call —
    fine for a gate, wrong for a production corpus).

    Layout under ``path``:

    * ``lists/`` — the inverted lists: ``(id, vector, _cell)`` written
      ``partitionBy("_cell")``, so a probe touching ``n_probe`` cells
      reads only those directories (static or dynamic partition
      pruning), not the corpus.
    * ``centroids/`` — quantized integer centroids as ``(_cell, _dim,
      _cq)`` dim-rows: exact longs, so the probe ranking replays
      bit-identically on reload and in any engine.
    * ``meta/`` — one row: format marker, quantizer kind, scale, cell
      count, column names.

    Quantizer flavors: ``cell_col`` given → deterministic cells from an
    existing partition column with truncating-integer-division centroids
    (``ivf_exact_topk``'s math — the oracle-able twin); otherwise MLlib
    KMeans with ``cells``/``seed``/``max_iter`` (real quantizer,
    rows-only checkable). Returns the meta dict.

    100 TB: centroid build is one narrow aggregate (dim-rows, map-side
    combined); the lists write is the only full-corpus pass and is
    map-only + the partitioned-write shuffle. Train-on-sample for the
    KMeans flavor via ``embeddings.sample(...)`` upstream.
    """
    spark = embeddings.sparkSession
    if cell_col is not None:
        # the cell id becomes a partition DIRECTORY and the probe
        # tie-break orders cells numerically, so only integral cell
        # columns are accepted — a string cell would abort mid-build
        # under ANSI (or NULL-out past the guard under non-ANSI), and a
        # float cell silently merges distinct cells (r9 review finding)
        from pyspark.sql import types as T

        dt = embeddings.schema[cell_col].dataType
        if not isinstance(
            dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            raise ValueError(
                f"write_ivf_index: cell_col {cell_col!r} must be an "
                f"integral type, got {dt.simpleString()} — re-key "
                "non-integer cells (e.g. dense_rank over the label) "
                "before building the index"
            )
        # NULL cells would land in the Hive default partition and never
        # match a probed cell id — vectors silently unsearchable forever
        # (the near_dup_pairs NULL-escape policy: raise per row, no
        # extra validation scan)
        cell = F.when(
            F.col(cell_col).isNotNull(), F.col(cell_col)
        ).otherwise(
            F.raise_error(
                F.lit(
                    f"write_ivf_index: NULL {cell_col} — the vector "
                    "would be unsearchable in every probe; filter or "
                    "re-cluster such rows first"
                )
            )
        )
        assigned = embeddings.select(
            F.col(id_col), F.col(vec_col), cell.alias("_cell")
        )
        kind = "exact"
    else:
        assigned, model = kmeans_cells(
            embeddings, cells, id_col, vec_col, seed, max_iter
        )
        assigned = assigned.select(id_col, vec_col, "_cell")
        kind = "kmeans"
    cent = _integer_cell_centroids(assigned, vec_col, scale)
    assigned.write.mode("overwrite").partitionBy("_cell").parquet(
        f"{path}/lists"
    )
    cent.write.mode("overwrite").parquet(f"{path}/centroids")
    n_cells = int(
        spark.read.parquet(f"{path}/centroids")
        .select(F.countDistinct("_cell"))
        .first()[0]
    )
    meta = {
        "format": IVF_INDEX_FORMAT,
        "kind": kind,
        "scale": scale,
        "n_cells": n_cells,
        "id_col": id_col,
        "vec_col": vec_col,
    }
    from dataproc_spark.core import local_frame

    local_frame(
        spark,
        [tuple(meta.values())],
        "format string, kind string, scale long, n_cells long, "
        "id_col string, vec_col string",
    ).write.mode("overwrite").parquet(f"{path}/meta")
    return meta


def read_ivf_index(spark, path: str):
    """Load a persisted IVF index: ``(meta dict, centroids df, lists
    df)``. Refuses paths without the :data:`IVF_INDEX_FORMAT` marker."""
    from pyspark.errors import AnalysisException

    # AnalysisException ONLY (path missing / not readable as parquet):
    # a blanket except rebranded transient IO/permission errors as
    # "not an index" and severed the cause chain, sending callers off
    # to recreate perfectly good indexes (r9 review finding)
    try:
        rows = spark.read.parquet(f"{path}/meta").collect()
    except AnalysisException as exc:
        raise ValueError(
            f"{path!r} is not an IVF index (no readable meta table): {exc}"
        ) from exc
    if len(rows) != 1 or getattr(rows[0], "format", None) != IVF_INDEX_FORMAT:
        raise ValueError(
            f"{path!r} is not an IVF index (format marker mismatch: "
            f"{rows!r})"
        )
    meta = rows[0].asDict()
    cent = spark.read.parquet(f"{path}/centroids")
    # the partition column comes back via directory-name inference —
    # re-align its type with the stored centroid table so the probe
    # equi-join and the tie-break ordering stay exact
    cell_type = dict(cent.dtypes)["_cell"]
    lists = spark.read.parquet(f"{path}/lists").withColumn(
        "_cell", F.col("_cell").cast(cell_type)
    )
    return meta, cent, lists


def ivf_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """Probe a persisted IVF index (:func:`write_ivf_index`): rank the
    stored integer centroids per query by the exact quantized L2 score
    ``Σ_d (2·q_d·c_d − c_d²)`` (ties by cell id), expand each query to
    its ``n_probe`` cells, and candidate-join against the inverted
    lists on the cell id — the identical decision path as
    :func:`ivf_exact_topk`, so for an ``exact``-kind index built from
    the same corpus the results match the in-memory pipeline
    bit-for-bit (the ``ann_ivf_index_roundtrip`` gate pins this).

    100 TB: the centroid table is tiny and broadcast; the lists scan is
    restricted to probed cells (partition-pruned layout); the top-k
    window is per query id.
    """
    meta, cent, lists = read_ivf_index(spark, path)
    id_col, vec_col, scale = meta["id_col"], meta["vec_col"], meta["scale"]
    probed_cells = _probe_cells(queries, cent, id_col, vec_col, scale, n_probe)
    probed_queries = _expand_queries_to_cells(
        queries, probed_cells, id_col, vec_col
    )
    return bucketed_topk(
        lists.withColumnRenamed("_cell", "_probe_cell"),
        probed_queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        bucket_col="_probe_cell",
        scale=scale,
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold_dot_q: int,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    with_cluster: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — public arXiv): cluster the corpus into k-means
    cells, find same-cell pairs whose embedding similarity clears a
    threshold, and keep ONE representative (smallest id) per connected
    near-dup component — dropping semantically redundant items that no
    lexical dedup (MinHash/SimHash/spans) can see. Returns the
    surviving rows of ``embeddings`` (all columns; ``with_cluster``
    adds the ``cluster`` cell id for mix auditing).

    Composition of the module's existing exact-integer pieces, so the
    whole pipeline is deterministic and cross-engine value-checkable:
    :func:`embed_kmeans` (integer Lloyd, pinned tie-breaks) →
    :func:`near_dup_pairs` (same-cell self-join, quantized-dot
    threshold) → ``dedup.dedup_keep_representatives`` (min-label
    components, anti-join). ``threshold_dot_q`` is the raw quantized
    dot (scale² × cosine for unit-norm embeddings — the SemDeDup
    setting; L2-normalize upstream if the corpus isn't).

    100 TB plan: k-means assignment is map-only against literal
    centroids (train iterations aggregate (cluster, dim) rows, never
    collect the corpus); the pair join is cell-bucketed — the same
    never-all-pairs shape as every near-dup path here, with cell
    granularity (``k``) the skew knob: size k so the biggest cell's
    self-join stays in memory (the paper also prunes within-cell pairs
    against the representative only — a stricter candidate cut a
    caller gets by raising k instead). Components run on the pair
    graph only (tiny vs corpus); the final anti-join streams."""
    from dataproc_spark.core import release_cache_on_gc
    from dataproc_spark.extensions import dedup as _dedup

    # r15 opt round 2: consume the kmeans impl's quantized
    # assignment (id, cluster, _v) directly — the previous shape
    # re-scanned `embeddings`, equi-joined the (id, cluster) view back
    # on, and re-quantized the vectors for the pair stage (a full extra
    # scan + join exchange + transform for rows the impl already had;
    # the ivfpq_topk lesson). scale=1 over the already-quantized longs
    # is the identity (exact: round(double(x)) == x for |x| < 2^53).
    out, _, _, _ = _embed_kmeans_impl(
        embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
        scale=scale,
    )
    assigned = out.persist()  # consumed by the pair stage (+ cluster join)
    pairs = near_dup_pairs(
        assigned.select(
            id_col, F.col("_v").alias(vec_col), "cluster"
        ),
        threshold_dot_q, id_col=id_col, vec_col=vec_col,
        bucket_col="cluster", scale=1,
    )
    kept = _dedup.dedup_keep_representatives(
        embeddings, pairs, id_col=id_col
    )
    if with_cluster:
        kept = kept.join(assigned.select(id_col, "cluster"), id_col)
    # pin A/B, semantic_dedup sf0.1 on/off: 1.8/2.5 s count, 1.7/2.0 s consume
    return release_cache_on_gc(kept, assigned)


# --------------------------------------------------------------------------
# r15: Product Quantization — compressed embeddings + ADC search
# --------------------------------------------------------------------------

def _pq_guard_dim(q: DataFrame, dim: int, who: str) -> DataFrame:
    """Re-project ``_v`` with the embed_kmeans raise policy: a NULL or
    wrong-length vector must fail loudly — numpy would otherwise die
    with an opaque ragged-array error inside the kernel."""
    other = [c for c in q.columns if c != "_v"]
    return q.select(
        *other,
        F.when(
            (F.size("_v") == dim) & ~F.exists("_v", lambda x: x.isNull()),
            F.col("_v"),
        ).otherwise(F.raise_error(F.concat(
            F.lit(f"{who}: expected {dim}-dim vectors with no NULL "
                  "elements, got size="),
            F.coalesce(F.size("_v").cast("string"), F.lit("NULL")),
        ))).alias("_v"),
    )


def _pq_codes_arrow(
    q: DataFrame, codebooks: list, m: int, subdim: int, id_col: str,
) -> DataFrame:
    """(id, ``_v``) → (id, ``codes`` array<int>) via ONE Arrow stage:
    per subspace, the squared-L2 matrix ``||x||² − 2xCᵀ + ||c||²`` in
    exact int64 with numpy, argmin taking the FIRST minimum — the
    codebook rows are code-ascending, so ties break to the smallest
    code."""
    import numpy as np
    import pandas as pd

    subs = []
    for sub in range(m):
        entries = [(code, v) for s, code, v in codebooks if s == sub]
        codes_arr = np.array([c for c, _ in entries], dtype=np.int64)
        cmat = np.array([v for _, v in entries], dtype=np.int64)
        subs.append((codes_arr, cmat, (cmat * cmat).sum(axis=1)))

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(pdf["_v"].tolist(), dtype=np.int64)
            out = np.empty((len(pdf), m), dtype=np.int32)
            for sub, (codes_arr, cmat, cnorm) in enumerate(subs):
                xs = x[:, sub * subdim:(sub + 1) * subdim]
                d = ((xs * xs).sum(axis=1, keepdims=True)
                     - 2 * (xs @ cmat.T) + cnorm)
                out[:, sub] = codes_arr[np.argmin(d, axis=1)]
            yield pd.DataFrame({id_col: pdf[id_col], "codes": list(out)})

    return q.mapInPandas(kernel, f"{id_col} long, codes array<int>")


def _pq_iter_update(
    q: DataFrame, codebooks: list, m: int, subdim: int
) -> dict:
    """ONE PQ Lloyd round — per-subspace code assignment AND
    per-(sub, code) (count, per-dim sums) — as a single map-only Arrow
    kernel with driver-side combine: the :func:`_kmeans_iter_update`
    fusion applied to :func:`pq_train`'s loop (same measured
    plan-freshness motivation; the replaced shape was codes kernel →
    m-way struct explode → wide fresh-plan aggregate → collect).
    Assignment math is :func:`_pq_codes_arrow`'s argmin unchanged;
    np.add.at/np.bincount are exact int64; keys are (sub, code)."""
    import numpy as np
    import pandas as pd

    subs = []
    for sub in range(m):
        entries = [(code, v) for s, code, v in codebooks if s == sub]
        codes_arr = np.array([c for c, _ in entries], dtype=np.int64)
        cmat = np.array([v for _, v in entries], dtype=np.int64)
        subs.append((codes_arr, cmat, (cmat * cmat).sum(axis=1)))

    def kernel(batches):
        counts = [np.zeros(len(s[0]), dtype=np.int64) for s in subs]
        sums = [
            np.zeros((len(s[0]), subdim), dtype=np.int64) for s in subs
        ]
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array(pdf["_v"].tolist(), dtype=np.int64)
            for sub, (codes_arr, cmat, cnorm) in enumerate(subs):
                xs = x[:, sub * subdim:(sub + 1) * subdim]
                d = ((xs * xs).sum(axis=1, keepdims=True)
                     - 2 * (xs @ cmat.T) + cnorm)
                a = np.argmin(d, axis=1)
                counts[sub] += np.bincount(a, minlength=len(codes_arr))
                np.add.at(sums[sub], a, xs)
        out_sub, out_code, out_n, out_s = [], [], [], []
        for sub, (codes_arr, _, _) in enumerate(subs):
            hit = np.nonzero(counts[sub])[0]
            for i in hit:
                out_sub.append(sub)
                out_code.append(int(codes_arr[i]))
                out_n.append(int(counts[sub][i]))
                out_s.append(sums[sub][i])
        if out_sub:
            yield pd.DataFrame({
                "sub": out_sub, "code": out_code,
                "_n": out_n, "_s": out_s,
            })

    rows = q.select("_v").mapInPandas(
        kernel, "sub int, code int, _n long, _s array<long>"
    ).collect()
    return _combine_partials(
        ((int(r["sub"]), int(r["code"])), int(r["_n"]), r["_s"])
        for r in rows
    )


def pq_train(
    embeddings: DataFrame,
    m: int = 8,
    codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    seed: list | None = None,
) -> list:
    """Train Product-Quantization codebooks (Jégou et al. 2011,
    "Product quantization for nearest neighbor search" — public IEEE
    TPAMI classic): split each vector into ``m`` subvectors and run an
    independent k-means (``codes`` centroids) per subspace, so a
    vector compresses to ``m`` small codes — dim×4 bytes → m bytes at
    the defaults, the standard 32× embedding-store shrink that makes
    100 TB of vectors scannable.

    Same exactness contract as :func:`embed_kmeans` (which this
    generalizes per-subspace): init is the ``codes`` smallest ids'
    subvectors (code = 0..codes-1 in id order), assignment is argmin
    squared L2 on quantized longs with ties → smallest code, update is
    the element-wise integer mean (``sum div count``), empty codes drop
    — every step integer with pinned tie-breaks, so DuckDB replays the
    trained codebook bit-for-bit (the ``ann_pq`` registry oracle does).

    Returns the codebook as a sorted list of ``(sub, code, centroid)``
    — driver-side small (m × codes × dim/m longs = dim × codes, same
    O as one k-means centroid table) for reuse as plan literals.

    100 TB plan: each of the ``iters`` Lloyd rounds is ONE map-only
    Arrow job (:func:`_pq_iter_update`) whose per-partition (sub, code)
    partial sums combine driver-side — never a shuffle of vectors by
    similarity; the codebook travels to executors as a kernel closure.
    The fused kernels replaced a plan-literal CASE-chain arm: ann_pq
    9.3 → 7.4 s, pq_recall 6.7 → 3.3 s (OPTIMIZATION_r15.md)."""
    if m < 1 or codes < 1:
        raise ValueError(f"pq_train: m ({m}) and codes ({codes}) must be >= 1")
    q = _spread_vectors(embeddings).select(
        F.col(id_col), quantize(vec_col, scale).alias("_v")
    )
    if seed is None:
        # init: the `codes` smallest ids' quantized vectors. A composite
        # caller that already holds those rows (IVFPQ derives the PQ
        # seed from the kmeans impl's widened seed collect) passes them
        # via ``seed`` — [(id, vector)] id-ascending, ALREADY in this
        # frame's quantized domain — and skips this orderBy/limit job
        # (r15 opt round 2).
        seed = [
            (r[id_col], r["_v"])
            for r in q.orderBy(F.col(id_col).asc()).limit(codes).collect()
        ]
    if not seed:
        raise ValueError("pq_train: empty embeddings frame")
    dim = len(seed[0][1]) if seed[0][1] is not None else 0
    if dim == 0 or dim % m != 0:
        raise ValueError(
            f"pq_train: vector dim ({dim}) must be a positive multiple "
            f"of m ({m}) — pad or re-slice upstream explicitly"
        )
    subdim = dim // m
    for sid, v in seed:
        if v is None or len(v) != dim or any(x is None for x in v):
            raise ValueError(
                "pq_train: seed vectors must be same-length with no "
                f"NULL elements; offending {id_col}={sid!r}"
            )
    q = _pq_guard_dim(q, dim, "pq_train").persist()
    codebooks = [
        (sub, i, list(v[sub * subdim:(sub + 1) * subdim]))
        for sub in range(m)
        for i, (_, v) in enumerate(seed)
    ]
    for _ in range(iters):
        comb = _pq_iter_update(q, codebooks, m, subdim)
        codebooks = sorted(
            (sub, code, [_trunc_div(x, n) for x in s])
            for (sub, code), (n, s) in comb.items()
        )
    q.unpersist()
    return codebooks


def pq_encode(
    embeddings: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> DataFrame:
    """Compress every vector to its ``m`` PQ codes — ``(id, codes
    array<int>)``, the m-byte row a 100 TB vector store actually keeps
    hot (the full-precision vectors stay in cold storage for optional
    re-ranking). One map-only matmul kernel stage
    (:func:`_pq_codes_arrow`); the scan never shuffles, and at the
    default geometry the output is ~32× smaller than the input column."""
    m, subdim = _pq_geometry(codebooks)
    q = _pq_guard_dim(
        _spread_vectors(embeddings).select(
            F.col(id_col), quantize(vec_col, scale).alias("_v")
        ),
        m * subdim, "pq_encode",
    )
    return _pq_codes_arrow(q, codebooks, m, subdim, id_col)


def _pq_geometry(codebooks: list) -> tuple:
    """(m, subdim) from a codebook list, validated non-ragged."""
    if not codebooks:
        raise ValueError("empty PQ codebook")
    subs = sorted({s for s, _, _ in codebooks})
    m = len(subs)
    if subs != list(range(m)):
        raise ValueError(f"PQ codebook subspaces not contiguous: {subs}")
    dims = {len(c) for _, _, c in codebooks}
    if len(dims) != 1:
        raise ValueError(f"ragged PQ codebook centroid dims: {sorted(dims)}")
    return m, dims.pop()


def pq_codebook_frame(spark, codebooks: list) -> DataFrame:
    """The codebook as a small DataFrame ``(sub, code, centroid)`` —
    the join-able form :func:`pq_adc_topk` builds its lookup tables
    from (and the layout :func:`write_pq_index` persists)."""
    from dataproc_spark.core import local_frame

    return local_frame(
        spark,
        [(int(s), int(c), [int(x) for x in v]) for s, c, v in codebooks],
        "sub int, code int, centroid array<long>",
    )


def _pq_lut_frame(
    qs: DataFrame, codebooks: list, m: int, subdim: int, who: str
) -> DataFrame:
    """``(qid, sub, code, d)`` ADC lookup table from a ``(qid, _qv)``
    frame — one Arrow stage, all pairwise squared-L2 terms out of
    vectorized int64 numpy (exactly Spark's long arithmetic; overflow
    needs |element| ≳ 2^31 per term, far beyond quantized embeddings).
    The codebook rides in the kernel closure as per-sub arrays, so no
    literal expression tree exists to re-analyze/re-compile per call
    (r15 opt — see the call-site comments). NULL or wrong-dim query
    vectors raise with the offending qid (fail-loud; the replaced
    expression silently produced NULL distances for them)."""
    import numpy as np
    import pandas as pd

    dim = m * subdim
    per_sub = []
    for s in range(m):
        entries = sorted(
            (int(c), [int(x) for x in v])
            for sub, c, v in codebooks if sub == s
        )
        per_sub.append((
            np.array([c for c, _ in entries], dtype=np.int64),
            np.array([v for _, v in entries], dtype=np.int64),
        ))
    qid_t = qs.schema["qid"].dataType.simpleString()

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vals = pdf["_qv"].tolist()
            for qid, v in zip(pdf["qid"], vals):
                if v is None or len(v) != dim or any(
                    x is None for x in v
                ):
                    raise ValueError(
                        f"{who}: query vectors must be {dim}-dim with "
                        f"no NULL elements; offending qid={qid!r}"
                    )
            qv = np.array(vals, dtype=np.int64)
            qids, subs, codes_out, ds = [], [], [], []
            for s in range(m):
                code_ids, cents = per_sub[s]
                sv = qv[:, s * subdim:(s + 1) * subdim]
                diff = sv[:, None, :] - cents[None, :, :]
                d = (diff * diff).sum(axis=2)  # [n, n_codes]
                n, c = d.shape
                qids.append(np.repeat(np.arange(n), c))
                subs.append(np.full(n * c, s, dtype=np.int64))
                codes_out.append(np.tile(code_ids, n))
                ds.append(d.reshape(-1))
            qi = np.concatenate(qids)
            yield pd.DataFrame({
                "qid": pdf["qid"].to_numpy()[qi],
                "sub": np.concatenate(subs),
                "code": np.concatenate(codes_out),
                "d": np.concatenate(ds),
            })

    return qs.mapInPandas(
        kernel, schema=f"qid {qid_t}, sub int, code int, d long"
    )


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list,
    k: int = 5,
    query_id_col: str = "vec_id",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k by Asymmetric Distance Computation (the PQ
    search half of Jégou et al. 2011): per query, a ``(sub, code) →
    squared-L2`` lookup table against the EXACT query subvectors, then
    every corpus row's distance is the m-term table sum over its codes
    — never a full-precision vector scan. Output: ``(qid, id, d_adc,
    rank)``, rank 1..k by distance ASC with id ASC tie-break (the
    registry convention). All arithmetic is exact integer, so the
    ``ann_pq`` oracle replays table build, lookup, and ranking.

    100 TB plan: the LUT is queries × (m·codes) rows — broadcast-small
    by construction; scoring is ONE broadcast join against the
    sub-exploded codes (m rows per corpus vector, each m-bytes wide)
    + ONE (qid, id) aggregation with map-side combine + a per-qid
    top-k window on the k·|queries|-bounded candidate set. The
    full-precision corpus is never read — that is the entire point of
    PQ at scale."""
    m, subdim = _pq_geometry(codebooks)
    qs = queries.select(
        F.col(query_id_col).alias("qid"),
        quantize(vec_col, scale).alias("_qv"),
    )
    # LUT: one row per (qid, sub, code) — squared L2 between the exact
    # query subvector and the centroid, computed in ONE Arrow kernel
    # (r15 opt). The previous shape exploded the codebook as a literal
    # struct array (m·codes structs × subdim literals each) with an
    # interpreted zip_with/aggregate per element: the literal tree
    # changes with every trained codebook, so Catalyst re-analyzes and
    # codegen recompiles it on EVERY call — measured as multi-second
    # driver stalls on a 2000-row corpus (guide §7.3 planning cost,
    # §4.2 hand batches to numpy). A crossJoin against the codebook
    # frame would plan as a BroadcastNestedLoopJoin (plan-audit reject).
    # numpy int64 arithmetic == Spark long arithmetic exactly.
    lut = _pq_lut_frame(qs, codebooks, m, subdim, "pq_adc_topk")
    exploded = codes.select(
        F.col(id_col).alias("id"), F.posexplode("codes").alias("sub", "code")
    )
    scored = (
        exploded.join(F.broadcast(lut), ["sub", "code"])
        .groupBy("qid", "id")
        .agg(F.sum("d").alias("d_adc"), F.count(F.lit(1)).alias("_n"))
    )
    # a corpus row missing a (sub, code) from the LUT can only happen on
    # geometry drift between codes and codebook — surface it, never rank
    # a partial sum
    scored = scored.select(
        "qid", "id",
        F.when(F.col("_n") == m, F.col("d_adc")).otherwise(
            F.raise_error(F.concat(
                F.lit(f"pq_adc_topk: expected {m} code terms, got "),
                F.col("_n").cast("string"),
                F.lit(" — codes/codebook geometry drift"),
            ))
        ).alias("d_adc"),
    )
    if exclude_self:
        scored = scored.where(F.col("qid") != F.col("id"))
    w = Window.partitionBy("qid").orderBy(
        F.col("d_adc").asc(), F.col("id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "id", "d_adc", F.col("rank").cast("int").alias("rank"))
    )


#: format marker for persisted PQ indexes
PQ_INDEX_FORMAT = "dataproc-pq-index-v1"


def write_pq_index(
    embeddings: DataFrame,
    path: str,
    m: int = 8,
    codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
) -> dict:
    """Train PQ codebooks and persist codebooks + the ENCODED corpus —
    so ANN queries across jobs scan m-byte code rows instead of
    re-reading (or re-encoding) full-precision vectors; the
    ``write_ivf_index`` story for the compressed-domain path. Layout
    under ``path``:

    * ``codes/``     — (id, codes array<int>): the compressed corpus,
      the only large output (~m bytes a row);
    * ``codebooks/`` — (sub, code, centroid array<long>): exact
      integer centroids, so reload replays bit-identically;
    * ``meta/``      — one row: format marker, geometry (m, subdim,
      codes), scale, id column.

    Returns the meta dict."""
    cb = pq_train(embeddings, m=m, codes=codes, iters=iters,
                  id_col=id_col, vec_col=vec_col, scale=scale)
    _, subdim = _pq_geometry(cb)
    spark = embeddings.sparkSession
    pq_encode(embeddings, cb, id_col=id_col, vec_col=vec_col,
              scale=scale).write.mode("overwrite").parquet(f"{path}/codes")
    pq_codebook_frame(spark, cb).write.mode(
        "overwrite").parquet(f"{path}/codebooks")
    meta = {
        "format": PQ_INDEX_FORMAT,
        "m": int(m),
        "subdim": int(subdim),
        "codes": int(codes),
        "scale": int(scale),
        "id_col": str(id_col),
    }
    from dataproc_spark.core import local_frame

    local_frame(
        spark,
        [tuple(meta.values())],
        "format string, m long, subdim long, codes long, scale long, "
        "id_col string",
    ).write.mode("overwrite").parquet(f"{path}/meta")
    return meta


def read_pq_index(spark, path: str):
    """Load a persisted PQ index: ``(codes df, codebooks list, meta
    dict)`` — :func:`write_pq_index`'s inverse. Raises on a format
    mismatch (an IVF or NB artifact at the path would half-load)."""
    meta = spark.read.parquet(f"{path}/meta").first().asDict()
    if meta.get("format") != PQ_INDEX_FORMAT:
        raise ValueError(
            f"read_pq_index: {path!r} holds format "
            f"{meta.get('format')!r}, expected {PQ_INDEX_FORMAT!r}"
        )
    cb = sorted(
        (int(r["sub"]), int(r["code"]), list(r["centroid"]))
        for r in spark.read.parquet(f"{path}/codebooks").collect()
    )
    return spark.read.parquet(f"{path}/codes"), cb, meta


def pq_index_topk(
    queries: DataFrame,
    path: str,
    k: int = 5,
    query_id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """ADC top-k THROUGH a persisted index — geometry and scale come
    from its meta (a query quantized under a different scale silently
    garbage-ranks, the same trust-the-artifact rule as
    ``score_with_nb_model``)."""
    spark = queries.sparkSession
    codes, cb, meta = read_pq_index(spark, path)
    return pq_adc_topk(
        queries, codes, cb, k=k, query_id_col=query_id_col,
        vec_col=vec_col, id_col=meta["id_col"],
        scale=int(meta["scale"]), exclude_self=exclude_self,
    )


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    cells: int = 8,
    cell_iters: int = 2,
    n_probe: int = 2,
    m: int = 8,
    codes: int = 16,
    pq_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1000,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF + PQ over RESIDUALS — the composition that actually runs at
    100 TB (Jégou et al. 2011 §IV, the FAISS IVFPQ design): a coarse
    quantizer (:func:`embed_kmeans` cells) prunes the corpus to
    ``n_probe`` cells per query, and within cells the search scans
    PQ codes of the residual ``vector − cell centroid`` (residuals
    concentrate near 0, so the same code budget quantizes them much
    finer than raw vectors — the reason IVFPQ beats IVF-then-PQ-on-raw
    at equal bytes). Every stage is the module's exact-integer
    machinery with pinned tie-breaks, so DuckDB replays coarse
    training, residuals, sub-codebooks, encoding, probing, ADC, and
    ranking bit-for-bit (the ``ann_ivfpq`` registry oracle).

    Returns ``(qid, id, d_adc, rank)`` — rank 1..k by ADC distance ASC
    / id ASC over the probed cells' candidates; the distance is the
    residual-space squared L2 (query residual vs candidate's quantized
    residual), per-cell comparable because both sides share the
    query's probed-cell centroid.

    100 TB plan: coarse assignment and residual encoding are the same
    map-only / Arrow stages as their building blocks; the corpus-side
    state is (id, cell, m codes) — the classic few-bytes-per-vector
    hot set; per query only ``n_probe`` cells' code rows join (an
    equi-join on the cell id, never a scan), each with a broadcast
    per-(query, cell) lookup table. Probing and ADC add ONE exchange
    each beyond the bucketed-join shape of :func:`bucketed_topk`."""
    from dataproc_spark.core import release_cache_on_gc

    # r15 opt: take the assignment WITH its quantized vectors straight
    # from the kmeans impl — the old shape re-derived spread+quantize
    # from scratch and equi-joined the (id, cluster) view back on, a
    # full extra scan plus a join exchange for rows the impl already
    # had as (id, _v, cluster)
    assigned, trained_cent, dim, kseed = _embed_kmeans_impl(
        embeddings, k=cells, iters=cell_iters, id_col=id_col,
        vec_col=vec_col, scale=scale, seed_limit=codes,
    )
    # persisted: `assigned` is itself an Arrow stage (the kmeans
    # assignment kernel) with THREE consumers (centroid recompute,
    # residuals, the code/cluster join) — without the pin each would
    # re-run the kernel and the projection under it
    q = assigned.persist()
    # centroids recomputed exactly as embed_kmeans' final update would:
    # integer mean per cluster over the final assignment — the fused
    # partials kernel (r15 opt round 2; _group_update_partials) instead
    # of a wide fresh-plan aggregate, same _trunc_div arithmetic
    cent_comb = _group_update_partials(
        q.select("cluster", "_v"), "cluster", "_v"
    )
    centroids = sorted(
        (int(cid), [_trunc_div(int(x), n) for x in s])
        for cid, (n, s) in cent_comb.items()
    )
    # residuals: vector − assigned cell centroid, as ONE Arrow kernel
    # (r15 opt): the previous literal CASE-over-centroid-arrays +
    # zip_with was a cells×dim literal tree re-analyzed and recompiled
    # per call (centroids change every run — nothing compiles twice;
    # guide §7.3/§4.2), with an interpreted lambda per element. numpy
    # int64 subtraction is bit-identical.
    import numpy as np
    import pandas as pd

    if not centroids:
        raise ValueError("ivfpq_topk: empty embeddings frame")
    cent_np = {cid: np.array(c, dtype=np.int64) for cid, c in centroids}
    idt = q.schema[id_col].dataType.simpleString()

    def _resid_kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.array(pdf["_v"].tolist(), dtype=np.int64)
            cl = pdf["cluster"].to_numpy()
            cmat = np.stack([cent_np[int(c)] for c in cl])
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "cluster": pdf["cluster"],
                "_r": list(v - cmat),
            })

    resid = q.mapInPandas(
        _resid_kernel,
        schema=f"{id_col} {idt}, cluster int, _r array<long>",
    )  # not persisted: pq_train and pq_encode each re-run the kernel;
    # ann_ivfpq on/off (± IQR of on runs, 6 pairs) sf0.1 2.60/2.46 ±0.16
    # s count, 2.61/2.31 ±0.23 s consume; 10x 5.85/6.12 ±0.57 s count,
    # 5.93/6.11 ±0.36 s consume — no cell slower
    # PQ on residuals: train + encode via the existing machinery over a
    # synthetic "embedding" float view is wrong (residuals are already
    # quantized longs) — train directly on the long vectors with
    # scale=1, which makes quantize() a no-op cast
    as_float_free = resid.select(
        F.col(id_col), F.col("cluster"), F.col("_r").alias("embedding")
    )
    # PQ seed derived DRIVER-side from the kmeans impl's widened seed
    # collect (r15 opt round 2): the `codes` smallest ids' residuals.
    # Replicates the engine bit-for-bit in exact Python ints — the
    # row's CELL is the impl's final assignment (argmin over the
    # TRAINED centroids, ties → smallest cid; both lists are
    # cid-ascending and min() keeps the first minimum), while the
    # subtracted vector is that cell's RECOMPUTED integer-mean centroid
    # (what the residual kernel uses). Saves pq_train's own
    # orderBy/limit job over the residual cache.
    cent_by_cid = dict(centroids)
    pq_seed = []
    for r in kseed[:codes]:
        v = [int(x) for x in r["_v"]]
        cid, _ = min(
            trained_cent,
            key=lambda c: sum((a - b) * (a - b) for a, b in zip(v, c[1])),
        )
        cvec = cent_by_cid[cid]
        pq_seed.append((r[id_col], [a - b for a, b in zip(v, cvec)]))
    cb = pq_train(as_float_free, m=m, codes=codes, iters=pq_iters,
                  id_col=id_col, vec_col="embedding", scale=1,
                  seed=pq_seed)
    enc = pq_encode(as_float_free, cb, id_col=id_col,
                    vec_col="embedding", scale=1)
    # the (id, cluster) join side comes off the CACHED assignment, not
    # off resid — resid.select(id, cluster) would re-run the residual
    # kernel just to drop its output column (r15 opt follow-up)
    corpus_codes = enc.join(
        q.select(F.col(id_col), F.col("cluster")), id_col
    )

    # query side: probe the n_probe nearest cells by exact centroid
    # distance (ties -> smaller cell id), then build the residual LUT
    # per (query, probed cell)
    qs = queries.select(
        F.col(id_col).alias("qid"), quantize(vec_col, scale).alias("_qv")
    )
    # probe + residual LUT in ONE Arrow kernel (r15 opt — the same
    # literal-tree removal as the residual kernel above and
    # _pq_lut_frame): per query, exact int64 distance to every cell
    # centroid, n_probe smallest by (d, cid) [the array_sort struct
    # semantics], then the (sub, code) squared-L2 table against the
    # query residual per probed cell. The replaced shape built a
    # cells×dim literal argmin array PLUS an m·codes×subdim literal
    # codebook explode with interpreted zip_with/aggregate per element.
    _, subdim = _pq_geometry(cb)
    cent_sorted = sorted(cent_np)
    cent_mat = np.stack([cent_np[c] for c in cent_sorted])
    cent_ids = np.array(cent_sorted, dtype=np.int64)
    cb_per_sub = []
    for s in range(m):
        entries = sorted(
            (int(c), [int(x) for x in v]) for sub, c, v in cb if sub == s
        )
        cb_per_sub.append((
            np.array([c for c, _ in entries], dtype=np.int64),
            np.array([v for _, v in entries], dtype=np.int64),
        ))
    qid_t = qs.schema["qid"].dataType.simpleString()

    def _probe_lut_kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vals = pdf["_qv"].tolist()
            for qid, v in zip(pdf["qid"], vals):
                if v is None or len(v) != dim or any(
                    x is None for x in v
                ):
                    raise ValueError(
                        f"ivfpq_topk: query vectors must be {dim}-dim "
                        f"with no NULL elements; offending qid={qid!r}"
                    )
            qv = np.array(vals, dtype=np.int64)
            diff = qv[:, None, :] - cent_mat[None, :, :]
            cd = (diff * diff).sum(axis=2)  # [n, cells]
            qids, cls, subs, codes_out, ds = [], [], [], [], []
            n_take = min(n_probe, len(cent_ids))
            for i in range(len(qv)):
                order = np.lexsort((cent_ids, cd[i]))[:n_take]
                for ci in order:
                    cid = int(cent_ids[ci])
                    qr = qv[i] - cent_mat[ci]
                    for s in range(m):
                        code_ids, cents = cb_per_sub[s]
                        sv = qr[s * subdim:(s + 1) * subdim]
                        d = ((sv[None, :] - cents) ** 2).sum(axis=1)
                        c = len(code_ids)
                        qids.append(np.full(c, i, dtype=np.int64))
                        cls.append(np.full(c, cid, dtype=np.int64))
                        subs.append(np.full(c, s, dtype=np.int64))
                        codes_out.append(code_ids)
                        ds.append(d)
            if not qids:
                continue
            qi = np.concatenate(qids)
            yield pd.DataFrame({
                "qid": pdf["qid"].to_numpy()[qi],
                "cluster": np.concatenate(cls),
                "sub": np.concatenate(subs),
                "code": np.concatenate(codes_out),
                "d": np.concatenate(ds),
            })

    lut = qs.mapInPandas(
        _probe_lut_kernel,
        schema=f"qid {qid_t}, cluster int, sub int, code int, d long",
    )
    exploded = corpus_codes.select(
        F.col(id_col).alias("id"), "cluster",
        F.posexplode("codes").alias("sub", "code"),
    )
    scored = (
        exploded.join(F.broadcast(lut), ["cluster", "sub", "code"])
        .groupBy("qid", "id")
        .agg(F.sum("d").alias("d_adc"), F.count(F.lit(1)).alias("_n"))
    )
    scored = scored.select(
        "qid", "id",
        F.when(F.col("_n") == m, F.col("d_adc")).otherwise(
            F.raise_error(F.concat(
                F.lit(f"ivfpq_topk: expected {m} code terms, got "),
                F.col("_n").cast("string"),
            ))
        ).alias("d_adc"),
    )
    if exclude_self:
        scored = scored.where(F.col("qid") != F.col("id"))
    w = Window.partitionBy("qid").orderBy(
        F.col("d_adc").asc(), F.col("id").asc()
    )
    out = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "id", "d_adc", F.col("rank").cast("int").alias("rank"))
    )
    # pin A/B, ann_ivfpq at 10x (± IQR of on runs, 6 pairs): alone, q
    # off is within noise (5.86/6.13 ±0.62 s count); with the kmeans
    # projection and resid caches gone too it is not: 5.95/6.93 ±0.54 s
    # count, 6.11/7.31 ±0.47 s consume, against 5.87/5.87 ±0.56 s with q
    return release_cache_on_gc(out, q)
