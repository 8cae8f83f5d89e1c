"""Tests for skew utilities, extended measures (AP/nDCG), n-gram Jaccard,
bottom-k sketches, KMeans IVF, and the stateful streaming operator."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from dataproc_spark import skew
from dataproc_spark.extensions import dedup, simsearch
from dataproc_spark.measures import average_precision, ndcg_at, precision_at
from dataproc_spark.selective import evaluate_step
from tests.conftest import rows_set


# --- skew utilities -------------------------------------------------------

def test_salted_agg_matches_plain(spark):
    df = spark.createDataFrame(
        [(k, v) for k in ("hot", "cold") for v in range(100)],
        schema="k string, v long",
    )
    out = skew.salted_agg(
        df, ["k"],
        {"total": F.sum("v"), "n": F.count(F.lit(1)), "mx": F.max("v")},
        salt=8,
    )
    got = rows_set(out, ["k", "total", "n", "mx"])
    assert got == {("hot", 4950, 100, 99), ("cold", 4950, 100, 99)}


def test_salted_join_matches_plain(spark):
    left = spark.createDataFrame(
        [(1, i) for i in range(50)] + [(2, i) for i in range(3)],
        schema="k long, v long",
    )
    right = spark.createDataFrame([(1, "a"), (2, "b")], schema="k long, tag string")
    out = skew.salted_join(left, right, ["k"], salt=4)
    plain = left.join(right, ["k"])
    assert rows_set(out) == rows_set(plain)
    assert out.count() == 53


def test_with_salt_scatters_rows_of_same_key(spark):
    # a hot KEY whose rows differ in some column (the realistic shape —
    # rows carry ids/payloads) spreads across buckets
    df = spark.createDataFrame([(1, i) for i in range(64)],
                               schema="k long, v long")
    salted = skew.with_salt(df, 8)
    n_buckets = salted.select("_salt").distinct().count()
    assert n_buckets > 1  # rows of the hot key spread across buckets


def test_with_salt_is_content_deterministic(spark):
    # the keyless salt hashes row CONTENT (retry-stable regardless of
    # intra-partition row order); the documented trade-off is that
    # bit-identical duplicate rows share a bucket — pass id_cols there
    df = spark.createDataFrame([(1,)] * 16, schema="k long")
    assert skew.with_salt(df, 8).select("_salt").distinct().count() == 1
    a = {(r.k, r.v, r._salt)
         for r in skew.with_salt(
             spark.createDataFrame([(1, i) for i in range(32)],
                                   "k long, v long").repartition(7),
             8).collect()}
    b = {(r.k, r.v, r._salt)
         for r in skew.with_salt(
             spark.createDataFrame([(1, i) for i in range(31, -1, -1)],
                                   "k long, v long").repartition(3),
             8).collect()}
    assert a == b  # same rows -> same salts, any order/partitioning


# --- AP / nDCG measures ---------------------------------------------------

@pytest.fixture()
def judged(spark):
    # one query, 4 results in rank order with rel pattern [1, 0, 1, 0]
    rows = [
        (0, 0, 1, 1),
        (0, 0, 2, 0),
        (0, 0, 3, 1),
        (0, 0, 4, 0),
    ]
    shards = spark.createDataFrame([(0, 0, 0)], schema="query long, shard long, rank long")
    results = spark.createDataFrame(
        rows, schema="query long, shard long, global_rank long, rel int"
    )
    return shards, results


def test_average_precision(judged):
    shards, results = judged
    out = evaluate_step(shards, results, {"rel": [average_precision()]}, step=1)
    got = out.first()
    # AP = (P@1 + P@3) / 2 = (1/1 + 2/3) / 2 = 5/6
    assert abs(got["ap"] - 5 / 6) < 1e-12


def test_average_precision_truncated_counts_all_relevant(spark):
    """AP@k divides by TOTAL relevant in the result set, not relevant in
    the prefix (r8 review finding: one early hit with three relevant
    docs below the cutoff scored a perfect 1.0). Ranks 1,8,9,10
    relevant, k=5 -> AP@5 = (1/1) / 4 = 0.25."""
    shards = spark.createDataFrame(
        [(0, 0, 0)], schema="query long, shard long, rank long"
    )
    rows = [(0, 0, r, 1 if r in (1, 8, 9, 10) else 0) for r in range(1, 11)]
    results = spark.createDataFrame(
        rows, schema="query long, shard long, global_rank long, rel int"
    )
    out = evaluate_step(
        shards, results, {"rel": [average_precision(5)]}, step=1
    )
    assert abs(out.first()["ap_5"] - 0.25) < 1e-12


def test_graded_judgments_binarize_for_ap_and_recall(spark):
    """Precision/recall count DOCUMENTS: a graded judgment (rel=2) must
    not count double in _hits or recall numerators (r8 review finding —
    graded recall could exceed 1.0). rel pattern [2, 0] with num_rel=1:
    AP = (1/1)/1 = 1.0, R@2 = 1/1 = 1.0; zero-relevant query -> 0.0."""
    from dataproc_spark.measures import recall_at

    shards = spark.createDataFrame(
        [(0, 0, 0), (1, 0, 0)], schema="query long, shard long, rank long"
    )
    rows = [(0, 0, 1, 2, 1), (0, 0, 2, 0, 1),
            (1, 0, 1, 0, 0), (1, 0, 2, 0, 0)]
    results = spark.createDataFrame(
        rows,
        schema="query long, shard long, global_rank long, rel int, num_rel int",
    )
    out = evaluate_step(
        shards, results,
        {"rel": [average_precision(), recall_at(2)]}, step=1,
    )
    got = {r.query: (r.ap, r.r_2) for r in out.collect()}
    assert got[0] == (1.0, 1.0)
    assert got[1] == (0.0, 0.0)


def test_ndcg(judged):
    shards, results = judged
    out = evaluate_step(shards, results, {"rel": [ndcg_at(4)]}, step=1)
    got = out.first()
    dcg = 1 / math.log2(2) + 1 / math.log2(4)
    idcg = 1 / math.log2(2) + 1 / math.log2(3)
    assert abs(got["ndcg_4"] - dcg / idcg) < 1e-12


def test_mixed_measures_with_requirements(judged):
    shards, results = judged
    out = evaluate_step(
        shards, results,
        {"rel": [precision_at(2), average_precision(), ndcg_at(2)]},
        step=1,
    )
    row = out.first()
    assert row["p_2"] == 0.5 and row["ap"] == pytest.approx(5 / 6)


# --- n-gram jaccard + sketch ---------------------------------------------

def test_ngram_jaccard_pairs(spark):
    rows = [
        (1, "a b c d e"),
        (2, "a b c d x"),   # shares 2 of its 3 3-grams with doc 1
        (3, "q r s t u"),
    ]
    docs = spark.createDataFrame(rows, schema="doc_id long, text string")
    out = dedup.ngram_jaccard_pairs(docs, n=3, min_shared=1, jaccard_threshold_m=0)
    got = {(r.id_a, r.id_b): (r.shared, r.jaccard_m) for r in out.collect()}
    # doc1 3-grams {abc,bcd,cde}, doc2 {abc,bcd,cdx}: shared 2, union 4
    assert got == {(1, 2): (2, 500)}


def test_ngram_jaccard_max_df_drops_hot_shingles(spark):
    """max_df stop-shingle cut: a boilerplate shingle shared by every
    document must stop generating candidate pairs, and Jaccard must be
    computed over the pruned shingle universe (sizes shrink too)."""
    boiler = "click here to subscribe"
    rows = [
        (1, f"{boiler} alpha beta gamma delta"),
        (2, f"{boiler} epsilon zeta eta theta"),
        (3, f"{boiler} iota kappa lam mu"),
    ]
    docs = spark.createDataFrame(rows, schema="doc_id long, text string")
    plain = dedup.ngram_jaccard_pairs(
        docs, n=3, min_shared=1, jaccard_threshold_m=0
    )
    # every pair shares the 2 boilerplate-only 3-grams
    assert plain.count() == 3
    pruned = dedup.ngram_jaccard_pairs(
        docs, n=3, min_shared=1, jaccard_threshold_m=0, max_df=2
    )
    # 'click here to' / 'here to subscribe' have df=3 > 2 -> dropped;
    # remaining shingles are unique per doc, so no pair survives
    assert pruned.count() == 0


def test_contamination_max_df_train_side_cut(spark):
    """contamination max_df: shingles hot in TRAIN are dropped from both
    sides; overlap through genuinely shared (cold) shingles survives."""
    boiler = "all rights reserved worldwide"
    train = spark.createDataFrame(
        [(1, f"{boiler} alpha beta gamma delta"),
         (3, f"{boiler} epsilon zeta eta theta"),
         (5, f"{boiler} iota kappa lam mu"),
         (7, "unique real overlap phrase here")],
        schema="doc_id long, text string",
    )
    evalset = spark.createDataFrame(
        [(100, f"{boiler} unique real overlap phrase here")],
        schema="doc_id long, text string",
    )
    plain = dedup.contamination_pairs(train, evalset, n=3, min_shared=2)
    assert {r.train_id for r in plain.collect()} == {1, 3, 5, 7}
    pruned = dedup.contamination_pairs(
        train, evalset, n=3, min_shared=2, max_df=2
    )
    # boilerplate (train-df 3) is cut; only the genuine overlap remains
    assert {r.train_id for r in pruned.collect()} == {7}


def test_bottom_k_sketch_overlap(spark):
    rows = [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "z y x w v u t s")]
    docs = spark.createDataFrame(rows, schema="doc_id long, text string")
    sk = {r.doc_id: tuple(r.sketch) for r in
          dedup.bottom_k_sketch(docs, n=2, k=4).collect()}
    assert sk[1] == sk[2] != sk[3]
    assert len(sk[1]) == 4
    assert list(sk[1]) == sorted(sk[1])


# --- KMeans IVF -----------------------------------------------------------

def test_ivf_topk_finds_cluster_neighbors(spark):
    import numpy as np

    rng = np.random.RandomState(0)
    # two well-separated clusters of 20 vectors
    c0 = rng.normal(0, 0.05, (20, 8)) + np.array([1.0] * 8)
    c1 = rng.normal(0, 0.05, (20, 8)) + np.array([-1.0] * 8)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(np.vstack([c0, c1]))]
    emb = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    queries = emb.where(F.col("vec_id") == 0)
    out = simsearch.ivf_topk(emb, queries, k=3, cells=2)
    got = {r.vec_id for r in out.collect()}
    assert len(got) == 3
    assert got <= set(range(20))  # neighbors come from the same cluster


# --- stateful streaming ---------------------------------------------------

def test_stream_session_counts(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    m = 60 * 1_000_000_000
    tbl = pa.table({
        "user_id": pa.array([100, 100, 100, 200], type=pa.int64()),
        "ts": pa.array([0 * m, 10 * m, 50 * m, 5 * m], type=pa.int64()),
        "event_id": pa.array([1, 2, 3, 4], type=pa.int64()),
    })
    path = str(tmp_path / "events.parquet")
    pq.write_table(tbl, path)

    from dataproc_spark.extensions.streaming import stream_session_counts

    out = stream_session_counts(spark, path, gap_minutes=30)
    got = {(r.user_id, r.n_sessions, r.n_events) for r in out.collect()}
    assert got == {(100, 2, 3), (200, 1, 1)}


def test_ivf_multiprobe_improves_recall(spark):
    import numpy as np

    rng = np.random.RandomState(1)
    # a query sitting BETWEEN two clusters: single-probe misses neighbors
    # in the second cell, multi-probe finds them
    c0 = rng.normal(0, 0.05, (15, 8)) + 1.0
    c1 = rng.normal(0, 0.05, (15, 8)) - 1.0
    boundary = np.zeros((1, 8)) + 0.08  # nearly equidistant
    rows = [(i, [float(x) for x in v])
            for i, v in enumerate(np.vstack([c0, c1, boundary]))]
    emb = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    queries = emb.where(F.col("vec_id") == 30)
    one = simsearch.ivf_topk(emb, queries, k=10, cells=2, n_probe=1)
    two = simsearch.ivf_topk(emb, queries, k=10, cells=2, n_probe=2)
    assert one.count() == 10
    # with both cells probed, the approximate result equals the exact flat
    # top-10 — single-probe cannot guarantee that for a boundary query
    flat = simsearch.brute_force_topk(emb, queries, k=10)
    assert {r.vec_id for r in two.collect()} == {r.vec_id for r in flat.collect()}


def test_adaptive_strategy_dispatch(spark):
    emb = spark.createDataFrame(
        [(i, [float(i), 0.0], i % 2) for i in range(10)],
        schema="vec_id long, embedding array<float>, label int",
    )
    # tiny corpus -> flat regardless of bucket availability
    assert simsearch.choose_strategy(emb, "label") == "flat"
    # force a 1-byte budget -> the large-corpus paths
    assert simsearch.choose_strategy(emb, "label", flat_budget_bytes=1) == "bucketed"
    assert simsearch.choose_strategy(emb, None, flat_budget_bytes=1) == "ivf"
    # auto topk returns the same rows as the forced flat path here
    q = emb.where(F.col("vec_id") == 9)
    auto = {r.vec_id for r in simsearch.topk(emb, q, k=3).collect()}
    flat = {r.vec_id for r in simsearch.brute_force_topk(emb, q, k=3).collect()}
    assert auto == flat
    with pytest.raises(ValueError, match="bucket_col"):
        simsearch.topk(emb, q, strategy="bucketed")
    with pytest.raises(ValueError, match="unknown strategy"):
        simsearch.topk(emb, q, strategy="nonsense")


# ---------------------------------------------------------------------------
# analytics module guards
# ---------------------------------------------------------------------------

def test_funnel_validates_steps(spark):
    from dataproc_spark.extensions.analytics import funnel

    ev = spark.createDataFrame(
        [(1, 10, "view")], schema="user_id long, ts long, event_type string"
    )
    with pytest.raises(ValueError, match="steps"):
        funnel(ev, steps=("view",))


def test_funnel_four_stage_chain(spark):
    from dataproc_spark.extensions.analytics import funnel

    ev = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 30, "c"), (1, 40, "d"),
         (2, 10, "a"), (2, 5, "b")],
        schema="user_id long, ts long, event_type string",
    )
    got = {r.user_id: (r.t_a, r.t_b, r.t_c, r.t_d, r.steps)
           for r in funnel(ev, steps=("a", "b", "c", "d")).collect()}
    assert got == {1: (10, 20, 30, 40, 4), 2: (10, None, None, None, 1)}


def test_retention_matrix_validates_period(spark):
    from dataproc_spark.extensions.analytics import retention_matrix

    ev = spark.createDataFrame(
        [(1, 10, "signup")], schema="user_id long, ts long, event_type string"
    )
    with pytest.raises(ValueError, match="period_ns"):
        retention_matrix(ev, "signup", 0)


def test_select_under_budget_requires_columns(spark):
    from dataproc_spark.extensions.analytics import select_under_budget

    df = spark.createDataFrame([(1,)], schema="doc_id long")
    with pytest.raises(Exception):
        select_under_budget(df, 10)


def test_lsh_candidates_matches_python_banding_model(spark):
    """The band self-join returns exactly the id pairs (a < b) whose
    signatures agree on every position of at least one band, checked
    against a brute-force pass over the collected signatures."""
    rows = [(i, f"common text block shared by near dups variant {i % 3}")
            for i in range(30)]
    docs = spark.createDataFrame(rows, schema="doc_id long, text string")
    sigs = dedup.minhash_frame(docs, "text", "doc_id", num_hashes=16,
                               shingle_size=2)
    got = {(r.id_a, r.id_b) for r in
           dedup.lsh_candidates(sigs, bands=4, num_hashes=16).collect()}

    sig = {r.doc_id: list(r._sig) for r in sigs.collect()}
    want = {
        (a, b) for a in sig for b in sig
        if a < b and any(sig[a][i:i + 4] == sig[b][i:i + 4]
                         for i in range(0, 16, 4))
    }
    assert got == want and len(want) > 0


def test_bucketed_topk_matches_python_model(spark):
    """Every (qid, rank) row equals a brute-force top-k over the query's
    own bucket: quantized dot product descending, id ascending, the query
    itself excluded."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    rng = np.random.RandomState(7)
    data = [(i, int(i % 2), rng.rand(8).tolist()) for i in range(200)]
    emb = spark.createDataFrame(
        data, schema="vec_id long, label int, embedding array<double>"
    )
    qs = emb.where(F.col("vec_id") < 4)
    got = {(r.qid, r.rnk): (r.vec_id, r.dot_q) for r in
           simsearch.bucketed_topk(emb, qs, k=5).collect()}

    def quant(v):  # Spark's round() is HALF_UP on the double's value
        return [int(Decimal(x * 1000).quantize(Decimal(1), ROUND_HALF_UP))
                for x in v]

    q = {i: quant(v) for i, _, v in data}
    want = {}
    for qid, qlabel, _ in data[:4]:
        ranked = sorted(
            ((-sum(a * b for a, b in zip(q[qid], q[i])), i)
             for i, label, _ in data if label == qlabel and i != qid)
        )[:5]
        want.update({(qid, rnk + 1): (i, -neg)
                     for rnk, (neg, i) in enumerate(ranked)})
    assert got == want and len(want) == 4 * 5


def test_maxdf_persist_released_on_gc(spark):
    """The persisted pruned-shingle intermediate must be released when
    the result frame is dropped — repeated max_df calls must not pin
    cache for the session lifetime (r7 review finding)."""
    import gc

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc {i}") for i in range(20)],
        "doc_id long, text string",
    )

    def _cached_ids():
        return {
            info.id()
            for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    # Assert on the SPECIFIC RDD ids this call creates, not the
    # session-global storage count: under full-suite ordering another
    # test's lingering cache can be released between our snapshots,
    # which made the count-based form flaky (r10 verdict finding).
    before = _cached_ids()
    out = dedup.ngram_jaccard_pairs(
        docs, n=3, min_shared=1, jaccard_threshold_m=0, max_df=5
    )
    out.count()
    created = _cached_ids() - before
    assert created  # the intermediate really was cached
    del out
    gc.collect()
    assert not (created & _cached_ids())
