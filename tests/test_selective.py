"""Ported reference unit tests (test_selectivesearch.py:43-98) plus
coverage for evaluate/evaluate_step, which the reference leaves untested.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from dataproc_spark.measures import num_retrieved, precision_at
from dataproc_spark.selective import (
    decayed_buckets,
    evaluate,
    evaluate_step,
    rank_selection,
    resolve_bucket_selection,
    select,
    select_buckets,
    select_with_decay,
)
from tests.conftest import rows_set


# --- ported: test_select_all (reference :43-47) ---------------------------

def test_select_all(results, selection):
    selected = select(selection, results, 3)
    assert rows_set(selected) == rows_set(results)


# --- ported: test_select_one (reference :49-56) ---------------------------

def test_select_one(results, selection):
    selected = select(selection, results.drop("bucket"), 1)
    expected = {
        (0, 0, 3.0),
        (0, 0, 2.0),
        (1, 2, 5.0),
        (1, 2, 5.0),
    }
    got = [tuple(r) for r in selected.select("query", "shard", "score").collect()]
    assert len(got) == 4
    assert set(got) == expected


# --- ported: test_decayed_buckets (reference :58-66) ----------------------

def test_decayed_buckets():
    assert decayed_buckets(10, 5, 1) == [10] * 5
    assert decayed_buckets(10, 5, 0.9) == [10, 9, 9, 8, 7]
    assert decayed_buckets(2, 3, 0.5) == [2, 1, 1]
    assert decayed_buckets(2, 3, 0.6) == [2, 2, 1]
    # intentional divergence from the reference's bare assert: a real
    # ValueError survives `python -O` (asserts are stripped there, and a
    # stripped guard would let decay > 1 silently produce growing budgets)
    with pytest.raises(ValueError, match="decay_factor"):
        decayed_buckets(10, 5, 0)
    with pytest.raises(ValueError, match="decay_factor"):
        decayed_buckets(10, 5, 1.1)


# --- ported: test_select_with_decay (reference :68-76) --------------------

def test_select_with_decay(results, selection):
    selected = select_with_decay(selection, results, 3, 0.5)
    expected = {
        (0, 1, 0, 5.0),
        (0, 2, 0, 4.0),
        (0, 0, 0, 3.0),
        (0, 0, 1, 2.0),
        (1, 2, 0, 5.0),
        (1, 2, 1, 5.0),
        (1, 1, 0, 4.0),
        (1, 0, 0, 2.0),
    }
    assert rows_set(selected, ["query", "shard", "bucket", "score"]) == expected


def test_select_with_decay_one_is_select(results, selection):
    assert rows_set(select_with_decay(selection, results, 2, 1)) == rows_set(
        select(selection, results, 2)
    )


# --- ported: test_select_buckets (reference :78-87) -----------------------

def test_select_buckets(results, bucket_selection):
    selected = select_buckets(bucket_selection, results, 3)
    expected = {
        (0, 0, 0, 3.0),
        (0, 1, 0, 5.0),
        (0, 2, 0, 4.0),
        (1, 0, 0, 2.0),
        (1, 0, 1, 2.0),
        (1, 1, 0, 4.0),
    }
    assert rows_set(selected, ["query", "shard", "bucket", "score"]) == expected


# --- ported: test_resolve_bucket_selection (reference :89-98) -------------

def test_resolve_bucket_selection(bucket_selection):
    resolved = resolve_bucket_selection(bucket_selection, 3)
    expected = {
        (0, 0, 0),
        (0, 1, 0),
        (0, 2, 0),
        (1, 0, 0),
        (1, 0, 1),
        (1, 1, 0),
    }
    assert rows_set(resolved) == expected


def test_resolve_bucket_selection_budget_skip(spark):
    """A row whose cost exceeds the remaining budget is skipped but the walk
    continues — a later cheaper row still fits (reference :171-174)."""
    sel = spark.createDataFrame(
        [
            # query 0: rank order -> (shard 0, bucket 2) cost 3... budget 2
            (0, 0, 2, 0),  # cost 3 > 2 -> skipped
            (0, 1, 0, 1),  # cost 1 -> selected
            (0, 0, 0, 2),  # cost 1 -> selected, budget hit
            (0, 1, 1, 3),  # after budget -> ignored
        ],
        schema="query long, shard long, bucket long, rank long",
    )
    resolved = resolve_bucket_selection(sel, 2)
    assert rows_set(resolved) == {(0, 0, 0), (0, 1, 0)}


# --- rank_selection -------------------------------------------------------

def test_rank_selection_ties_break_by_shard(spark):
    sel = spark.createDataFrame(
        [(0, 0, 1.0), (0, 1, 2.0), (0, 2, 2.0)],
        schema="query long, shard long, shard_score double",
    )
    ranked = rank_selection(sel)
    got = {(r.shard, r.rank) for r in ranked.collect()}
    # score desc, ties by shard asc (pandas method='first' on cartesian order)
    assert got == {(1, 0), (2, 1), (0, 2)}


# --- evaluate / evaluate_step (untested in the reference) -----------------

@pytest.fixture()
def eval_inputs(spark):
    # 2 queries, 2 shards; shard ranks: q0 -> [s0, s1], q1 -> [s1, s0]
    shards = spark.createDataFrame(
        [(0, 0, 0), (0, 1, 1), (1, 1, 0), (1, 0, 1)],
        schema="query long, shard long, rank long",
    )
    # results with global_rank and binary relevance
    rows = [
        # query, shard, global_rank, relevant
        (0, 0, 1, 1),
        (0, 1, 2, 0),
        (0, 0, 3, 1),
        (0, 1, 4, 1),
        (1, 1, 1, 0),
        (1, 0, 2, 1),
        (1, 1, 3, 1),
        (1, 0, 4, 0),
    ]
    results = spark.createDataFrame(
        rows, schema="query long, shard long, global_rank long, relevant int"
    )
    return shards, results


def test_evaluate_step(eval_inputs):
    shards, results = eval_inputs
    out = evaluate_step(shards, results, {"relevant": [precision_at(2)]}, step=1)
    got = {(r.query, r.step, r.p_2) for r in out.collect()}
    # step 1: q0 sees shard0 rows (rel 1,1) -> p@2 = 1.0
    #         q1 sees shard1 rows (rel 0,1) -> p@2 = 0.5
    assert got == {(0, 1, 1.0), (1, 1, 0.5)}


def test_evaluate_sweep_matches_stepwise(eval_inputs):
    shards, results = eval_inputs
    measures = {"relevant": [precision_at(2), num_retrieved()]}
    swept = evaluate(shards, results, measures, num_shards=2)
    stepwise = []
    for step in (1, 2):
        stepwise.append(evaluate_step(shards, results, measures, step))
    expected = set()
    for df in stepwise:
        expected |= {(r.query, r.step, r.p_2, r.num_ret) for r in df.collect()}
    got = {(r.query, r.step, r.p_2, r.num_ret) for r in swept.collect()}
    assert got == expected
    # full-selection P@2 uses the first 2 rows by global_rank
    full = {(r.query, r.p_2) for r in swept.where(F.col("step") == 2).collect()}
    assert full == {(0, 0.5), (1, 0.5)}


def test_recall_at(spark):
    from dataproc_spark.measures import recall_at

    shards = spark.createDataFrame(
        [(0, 0, 0)], schema="query long, shard long, rank long"
    )
    # 4 results, 3 relevant overall (num_rel broadcast on every row),
    # 2 relevant within the top-2 prefix -> R@2 = 2/3
    rows = [(0, 0, 1, 1, 3), (0, 0, 2, 1, 3), (0, 0, 3, 0, 3), (0, 0, 4, 1, 3)]
    results = spark.createDataFrame(
        rows, schema="query long, shard long, global_rank long, rel int, num_rel int"
    )
    out = evaluate_step(shards, results, {"rel": [recall_at(2)]}, step=1)
    assert abs(out.first()["r_2"] - 2 / 3) < 1e-12


def test_evaluate_step_with_buckets(spark):
    shards = spark.createDataFrame(
        [(0, 0, 0, 0), (0, 0, 1, 1)],
        schema="query long, shard long, bucket long, rank long",
    )
    results = spark.createDataFrame(
        [(0, 0, 0, 1, 1), (0, 0, 1, 2, 0)],
        schema="query long, shard long, bucket long, global_rank long, rel int",
    )
    out = evaluate_step(
        shards, results, {"rel": [precision_at(5)]}, step=1, with_buckets=True
    )
    # only bucket 0 (rank 0) selected at step 1 -> P@5 over one row = 1.0
    assert out.first()["p_5"] == 1.0


def test_ordered_presentation(results):
    from dataproc_spark.selective import ordered

    rows = ordered(results).collect()
    assert [r.query for r in rows] == sorted(r.query for r in rows)
    for q in {r.query for r in rows}:
        scores = [r.score for r in rows if r.query == q]
        assert scores == sorted(scores, reverse=True)


def test_evaluate_sort_derives_rank(eval_inputs, spark):
    _, results = eval_inputs
    shards = spark.createDataFrame(
        [(0, 0, 9.0), (0, 1, 1.0), (1, 1, 9.0), (1, 0, 1.0)],
        schema="query long, shard long, shard_score double",
    )
    out = evaluate(shards, results, {"relevant": [precision_at(2)]},
                   num_shards=2, sort=True)
    got = {(r.query, r.step, r.p_2) for r in out.collect()}
    assert (0, 1, 1.0) in got and (1, 1, 0.5) in got


def test_reference_closure_matches_precision_at(eval_inputs):
    """The reference's measure style — a closure over the ordered
    relevance Series, ``s[:k].sum() / s[:k].count()`` — gives exactly
    precision_at(k) at every step."""
    from dataproc_spark.measures import Measure

    shards, results = eval_inputs

    def p_at_2(s):
        return s[:2].sum() / s[:2].count()

    both = {"relevant": [precision_at(2), Measure("p2_closure", p_at_2)]}
    out = evaluate(shards, results, both, num_shards=2)
    rows = out.collect()
    assert len(rows) == 4
    for r in rows:
        assert r["p_2"] == r["p2_closure"]


def test_plain_callable_measure_autowraps(eval_inputs):
    shards, results = eval_inputs

    def mean_rel(s):
        return s.mean()

    out = evaluate_step(shards, results, {"relevant": [mean_rel]}, step=2)
    got = {(r.query, round(r.mean_rel, 6)) for r in out.collect()}
    assert got == {(0, 0.75), (1, 0.5)}


def test_struct_order_key_matches_integer_rank(eval_inputs):
    """order_col may be a composite struct sort key: `evaluate` only ever
    ORDERS BY it, so struct(neg_score, ...) must reproduce the integer
    global_rank sweep exactly (the at-scale form — a row_number window
    partitioned by query caps parallelism at the query count)."""
    shards, results = eval_inputs
    measures = {"relevant": [precision_at(2), num_retrieved()]}
    baseline = evaluate(shards, results, measures, num_shards=2)
    # encode the same total order as a struct key, then drop the integer
    keyed = results.withColumn(
        "gkey", F.struct(F.col("global_rank").alias("r"))
    ).drop("global_rank")
    swept = evaluate(shards, keyed, measures, num_shards=2, order_col="gkey")
    want = {(r.query, r.step, r.p_2, r.num_ret) for r in baseline.collect()}
    got = {(r.query, r.step, r.p_2, r.num_ret) for r in swept.collect()}
    assert got == want


def test_struct_order_key_for_pandas_measures(eval_inputs):
    """Series-closure measures see each group in Spark's ascending order
    of a struct order_col — field by field, a NULL field first — so a
    P@2 closure equals precision_at(2) under a key whose first field
    ties and whose fields hold NULLs."""
    shards, _ = eval_inputs
    rows = [
        # query, shard, k1, k2, relevant
        (0, 0, None, 9, 0),
        (0, 0, 1, 2, 1),
        (0, 1, 1, 1, 0),  # ties (1, 2) on k1; k2 puts it first
        (0, 1, 2, 0, 1),
        (1, 1, 3, None, 1),  # NULL k2 sorts before (3, 0)
        (1, 1, 3, 0, 0),
        (1, 0, 0, 7, 1),
        (1, 0, 5, 5, 1),
    ]
    results = shards.sparkSession.createDataFrame(
        rows, "query long, shard long, k1 long, k2 long, relevant int"
    ).select("query", "shard", F.struct("k1", "k2").alias("gkey"),
             "relevant")

    def p_at_2(s):
        return s[:2].sum() / s[:2].count()

    measures = {"relevant": [precision_at(2), p_at_2]}
    out = evaluate(shards, results, measures, num_shards=2, order_col="gkey")
    got = {(r.query, r.step): (r.p_2, r.p_at_2) for r in out.collect()}
    # NULLs sorted last, or the k1 tie broken the other way, would
    # give 0.5 at (0, 2) and at (1, 2)
    want = {(0, 1): 0.5, (0, 2): 0.0, (1, 1): 0.5, (1, 2): 1.0}
    assert got == {k: (v, v) for k, v in want.items()}
    one = evaluate_step(shards, results, measures, step=2, order_col="gkey")
    assert {r.query: (r.p_2, r.p_at_2) for r in one.collect()} == {
        0: (0.0, 0.0), 1: (1.0, 1.0)}


def test_measures_over_several_relevance_columns(spark):
    """One evaluate may score several relevance columns with measures
    that need each prefix's running hits and ideal order; its values
    equal one run per column."""
    from dataproc_spark.measures import average_precision, ndcg_at

    shards = spark.createDataFrame(
        [(0, 0, 0), (0, 1, 1), (1, 1, 0), (1, 0, 1)],
        schema="query long, shard long, rank long",
    )
    rows = [
        # query, shard, global_rank, rel, grade
        (0, 0, 1, 1, 0), (0, 1, 2, 0, 2), (0, 0, 3, 1, 1), (0, 1, 4, 1, 0),
        (0, 0, 5, 0, 3), (1, 1, 1, 0, 1), (1, 0, 2, 1, 0), (1, 1, 3, 1, 2),
        (1, 0, 4, 0, 0),
    ]
    results = spark.createDataFrame(
        rows, "query long, shard long, global_rank long, rel int, grade int"
    )
    by_rel = [average_precision(), ndcg_at(5)]
    by_grade = [average_precision(name="ap_g")]
    both = evaluate(shards, results, {"rel": by_rel, "grade": by_grade},
                    num_shards=2)
    assert both.columns == ["query", "step", "ap", "ndcg_5", "ap_g"]
    rel = evaluate(shards, results, {"rel": by_rel}, num_shards=2)
    grade = evaluate(shards, results, {"grade": by_grade}, num_shards=2)
    want = {
        (r.query, r.step): (r.ap, r.ndcg_5, g.ap_g)
        for r, g in zip(rel.collect(), grade.collect())
    }
    got = {(r.query, r.step): (r.ap, r.ndcg_5, r.ap_g) for r in both.collect()}
    assert got == want
    assert len(got) == 4 and len({v for v in got.values()}) > 1


def _final_plan(df) -> str:
    """The executed physical plan of ``df`` after running it (AQE's
    final plan, without its initial-plan copy)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan.toString()


def test_evaluate_plans_are_one_sweep(eval_inputs):
    """evaluate and evaluate_step run one grouped-map sweep per query:
    no explode of rows into steps (Generate) and no prefix window."""
    from dataproc_spark.measures import average_precision, ndcg_at

    shards, results = eval_inputs
    measures = {"relevant": [precision_at(2), average_precision(),
                             ndcg_at(2), num_retrieved()]}
    for df in (evaluate(shards, results, measures, num_shards=2),
               evaluate_step(shards, results, measures, step=2)):
        plan = _final_plan(df)
        assert "Generate" not in plan, plan
        assert "Window" not in plan, plan
        assert plan.count("FlatMapGroupsInPandas") == 1, plan
