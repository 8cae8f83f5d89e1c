"""Selective-search engine: selection ranking, shard/bucket selection with
decay, greedy bucket-budget resolution, and the evaluation sweep.

Parity: reference ``selectivesearch.py`` (see SURVEY.md §2.1 F4-F13).
Everything is a pure, lazy DataFrame composition. Python runs on executors
in two Arrow-batched grouped maps over queries, each a walk that is
inherently sequential per query: the greedy bucket resolver (F12) and the
evaluation sweep (F4/F5), which calls the measure closures.

Order semantics: the reference leans on implicit pandas row order; here
every ordering is an explicit column. Ties in ranking break by
deterministic key columns (documented per function), replicating pandas
``rank(method='first')`` under the reference's cartesian input order.
"""

from __future__ import annotations

import math
from typing import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StructField, StructType

from dataproc_spark.core import (
    ensure_has_columns,
    local_frame,
    maybe_broadcast,
)
from dataproc_spark.measures import as_measure


# ---------------------------------------------------------------------------
# Selection ranking
# ---------------------------------------------------------------------------

def rank_selection(
    selection: DataFrame,
    score_col: str = "shard_score",
    partition_cols: Sequence[str] = ("query",),
    tiebreak_cols: Sequence[str] = ("shard",),
    rank_col: str = "rank",
) -> DataFrame:
    """Add a 0-based per-query selection rank by ``score_col`` descending.

    Parity: reference ``selectivesearch.py:81-82`` — pandas
    ``rank(method='first', ascending=False) - 1``. ``method='first'`` breaks
    ties by input order, which for cartesian-ordered input is ascending
    (shard[, bucket]); ``tiebreak_cols`` makes that explicit. ``row_number``
    (not ``rank``/``dense_rank``) is the Spark equivalent of
    ``method='first'``.

    Scale: one window shuffle on ``partition_cols``; a 100 TB corpus still
    has only queries × shards selection rows, so this frame is always small
    relative to results and broadcast-joinable downstream.
    """
    w = Window.partitionBy(*partition_cols).orderBy(
        F.col(score_col).desc(), *[F.col(c).asc() for c in tiebreak_cols]
    )
    return selection.withColumn(rank_col, (F.row_number().over(w) - 1).cast("int"))


# ---------------------------------------------------------------------------
# F9 — select
# ---------------------------------------------------------------------------

def select(selection: DataFrame, results: DataFrame, t: int) -> DataFrame:
    """Keep results whose (query, shard) ranks in the top-``t`` shards.

    Parity: reference ``selectivesearch.py:121-129``. The selection side is
    key-unique, so the inner merge is semantically a left-semi join — we use
    ``leftsemi`` so only result columns survive and Catalyst can broadcast
    the (small) selection side. The reference's trailing sort
    (query asc, score desc) is presentation-only on an unordered engine;
    callers that need the order apply :func:`ordered` / ``orderBy`` at the
    sink.
    """
    ensure_has_columns(selection, ["rank", "query", "shard"])
    ensure_has_columns(results, ["score", "query", "shard"])
    chosen = selection.where(F.col("rank") < t).select("query", "shard")
    return results.join(maybe_broadcast(chosen), ["query", "shard"], "leftsemi")


def ordered(results: DataFrame) -> DataFrame:
    """The reference's canonical output order: query asc, score desc."""
    return results.orderBy(F.col("query").asc(), F.col("score").desc())


# ---------------------------------------------------------------------------
# F10 — decayed_buckets
# ---------------------------------------------------------------------------

def decayed_buckets(num_buckets: int, num_shards: int, decay_factor: float) -> list[int]:
    """Bucket budget per selection rank: ``ceil(num_buckets * decay^i)``.

    Parity: reference ``selectivesearch.py:131-137``. Computed by repeated
    multiplication (not ``pow``) to reproduce the reference's float
    trajectory bit-for-bit at ``ceil`` boundaries (SURVEY.md §7 risk 4);
    driver-side because the list has ``num_shards`` entries (tiny).
    """
    # a real raise, not an assert — `python -O` strips asserts, and
    # decay_factor > 1 would then silently produce GROWING budgets
    # (select_with_decay degenerates to plain select with no error)
    if not 0 < decay_factor <= 1:
        raise ValueError(
            f"decay_factor must be in (0, 1], got {decay_factor}"
        )
    sel = []
    budget = float(num_buckets)
    for _ in range(num_shards):
        sel.append(math.ceil(budget))
        budget *= decay_factor
    return sel


# ---------------------------------------------------------------------------
# F11 — select_with_decay
# ---------------------------------------------------------------------------

def select_with_decay(
    selection: DataFrame,
    results: DataFrame,
    t: int,
    decay_factor: float,
    num_buckets: int | None = None,
) -> DataFrame:
    """Top-``t`` shard selection where the shard at selection rank *i*
    contributes only its first ``decayed_buckets[i]`` buckets.

    Parity: reference ``selectivesearch.py:139-158``. The rank→budget map is
    a tiny driver-side list joined in as a broadcast lookup (replacing the
    reference's in-place ``.loc`` mutation, quirk Q3), followed by the
    non-equi residual ``bucket < buckets`` which Catalyst folds into the
    join. One intentional driver scalar: global ``max(bucket) + 1``, same as
    the reference (``:147``).
    """
    if decay_factor == 1 and num_buckets is None:
        # the derived bucket count is max(bucket)+1, so every budget is
        # vacuous and this equals plain select(). With an EXPLICIT
        # num_buckets the budget filter still binds (rows with
        # bucket >= num_buckets must drop, matching the decay→1 limit) —
        # short-circuiting there made behavior discontinuous at
        # decay_factor == 1 (r8 follow-up review finding)
        return select(selection, results, t)
    ensure_has_columns(selection, ["rank", "query", "shard"])
    ensure_has_columns(results, ["score", "query", "shard", "bucket"])
    if num_buckets is None:
        # reference behavior (:147): derive the bucket count with a scan;
        # pass num_buckets explicitly to skip this extra job
        max_bucket = results.agg(F.max("bucket")).first()[0]
        if max_bucket is None:
            # empty results: nothing to select (the reference crashes on
            # NaN here — divergence recorded as a fix, not a change)
            return results.where(F.lit(False))
        num_buckets = max_bucket + 1
    budgets = decayed_buckets(num_buckets, t, decay_factor)
    spark = results.sparkSession
    lookup = local_frame(
        spark, list(enumerate(budgets)), "rank int, buckets int"
    )
    shard_sel = (
        selection.where(F.col("rank") < t)
        .join(F.broadcast(lookup), "rank")
        .select("query", "shard", "buckets")
    )
    return (
        results.join(maybe_broadcast(shard_sel), ["query", "shard"])
        .where(F.col("bucket") < F.col("buckets"))
        .drop("buckets")
    )


# ---------------------------------------------------------------------------
# F12 — resolve_bucket_selection (greedy, applyInPandas)
# ---------------------------------------------------------------------------

def resolve_bucket_selection(
    selection: DataFrame, threshold: int, num_shards: int | None = None
) -> DataFrame:
    """Resolve a bucket-granular selection into per-shard contiguous bucket
    prefixes under a total budget of ``threshold`` buckets per query.

    Parity: reference ``selectivesearch.py:160-181``. Semantics (greedy walk
    in rank order): selecting (shard, bucket b) costs every not-yet-selected
    bucket ≤ b of that shard; zero/negative-cost rows are skipped; rows whose
    cost would exceed the remaining budget are skipped (the walk continues —
    a later cheaper row may still fit); the walk stops early only when the
    budget is hit exactly.

    This is a stateful, data-dependent sequential fold — not expressible
    relationally (SURVEY.md §4) — so it runs as an Arrow-batched grouped-map
    over queries: each query's selection (≤ shards × buckets rows, small) is
    walked in Python, and queries parallelize across executors. Output
    carries one row per selected (query, shard, bucket).
    """
    ensure_has_columns(selection, ["rank", "query", "shard", "bucket"])
    if num_shards is None:
        # derived with a scan when unknown; pass it to skip the extra job
        max_shard = selection.agg(F.max("shard")).first()[0]
        if max_shard is None:
            # empty selection: nothing to resolve — mirror
            # select_with_decay's empty-input fix instead of crashing on
            # None + 1 (r7 review finding)
            return selection.select("query", "shard", "bucket").where(
                F.lit(False)
            )
        num_shards = max_shard + 1

    fields = {f.name: f.dataType for f in selection.schema.fields}
    out_schema = StructType(
        [StructField(c, fields[c]) for c in ("query", "shard", "bucket")]
    )

    def resolve(pdf: pd.DataFrame) -> pd.DataFrame:
        query = pdf["query"].iloc[0]
        buckets_selected = 0
        query_selection = [0] * int(num_shards)
        for _, row in pdf.sort_values("rank").iterrows():
            if buckets_selected == threshold:
                break
            shard = int(row["shard"])
            cost = int(row["bucket"]) + 1 - query_selection[shard]
            if cost < 1:
                continue
            if buckets_selected + cost <= threshold:
                query_selection[shard] += cost
                buckets_selected += cost
        out = [
            (query, shard, bucket)
            for shard, buckets in enumerate(query_selection)
            for bucket in range(int(buckets))
        ]
        return pd.DataFrame(out, columns=["query", "shard", "bucket"])

    return selection.groupBy("query").applyInPandas(resolve, schema=out_schema)


# ---------------------------------------------------------------------------
# F13 — select_buckets
# ---------------------------------------------------------------------------

def select_buckets(
    selection: DataFrame,
    results: DataFrame,
    t: int,
    num_shards: int | None = None,
) -> DataFrame:
    """Select results belonging to the greedily-resolved bucket set.

    Parity: reference ``selectivesearch.py:183-191``; 3-key semi-join
    against the resolved (query, shard, bucket) set.
    """
    ensure_has_columns(selection, ["rank", "query", "shard", "bucket"])
    ensure_has_columns(results, ["score", "query", "shard", "bucket"])
    resolved = resolve_bucket_selection(selection, t, num_shards)
    return results.join(
        maybe_broadcast(resolved.select("query", "shard", "bucket")),
        ["query", "shard", "bucket"],
        "leftsemi",
    )


# ---------------------------------------------------------------------------
# F4/F5 — evaluate_step / evaluate
# ---------------------------------------------------------------------------

def _measure_specs(measures: dict) -> list:
    """Normalize the measures dict into ``(rel_col, Measure)`` pairs in
    dict order. Plain callables — the reference's measure style — are
    wrapped by :func:`~dataproc_spark.measures.as_measure`."""
    specs = []
    for rel_col, ms in measures.items():
        ms = ms if isinstance(ms, (list, tuple)) else [ms]
        specs += [
            (rel_col, as_measure(m, rel_hint=f"{rel_col}_m{i}"))
            for i, m in enumerate(ms)
        ]
    if not specs:
        raise ValueError(
            "measures must be non-empty: pass at least one measure per "
            "relevance column, e.g. {'rel': [precision_at(10)]}"
        )
    return specs


def _sort_cols(col: Column, dtype, nullable: bool, name: str) -> list:
    """Flat columns whose ascending lexicographic order (NaN last) is
    Spark's ascending order of ``col``: a struct sorts field by field, and
    a NULL sorts first at every level. Integral values are coalesced so a
    NULL does not turn them into floats on the way to pandas."""
    out = [(~col.isNull()).alias(f"{name}n")] if nullable else []
    if isinstance(dtype, StructType):
        for i, f in enumerate(dtype.fields):
            out += _sort_cols(
                col[f.name], f.dataType, f.nullable, f"{name}_{i}"
            )
    elif isinstance(dtype, IntegralType):
        out.append(F.coalesce(col, F.lit(0).cast(dtype)).alias(name))
    else:
        out.append(col.alias(name))
    return out


def _sweep(
    shards: DataFrame,
    results: DataFrame,
    measures: dict,
    keys: list,
    steps: range,
    order_col: str,
) -> DataFrame:
    """Every measure at every selection depth in ``steps``: one grouped
    map per query.

    Results join the selection (shards ranked below the deepest step
    only), and each query's rows are sorted once by ``order_col``. The
    prefix at step s is the rows whose shard has ``rank + 1 <= s``, kept
    in that order; each measure's closure sees it as an ordered Series. A
    step whose prefix is empty emits no row, and a step that adds no row
    repeats the previous step's values.
    """
    specs = _measure_specs(measures)
    ensure_has_columns(shards, keys + ["rank"])
    data_cols = list(
        dict.fromkeys(
            [rc for rc, _ in specs] + [c for _, m in specs for c in m.input_cols]
        )
    )
    ensure_has_columns(results, keys + [order_col] + data_cols)

    # results may legitimately carry their own `rank` column (the per-shard
    # result rank in the SHARD_RESULTS_SCHEMA contract) — alias the
    # selection rank to avoid the collision
    sel = shards.where(F.col("rank") < steps.stop - 1).select(
        *keys, F.col("rank").alias("_sel_rank")
    )
    joined = results.join(maybe_broadcast(sel), keys, "inner")
    key = joined.schema[order_col]
    sort_cols = _sort_cols(F.col(order_col), key.dataType, key.nullable, "_k")
    frame = joined.select("query", *sort_cols, "_sel_rank", *data_cols)
    sort_names = frame.columns[1 : 1 + len(sort_cols)]
    names = [m.name for _, m in specs]
    schema = ", ".join(
        [f"query {joined.schema['query'].dataType.simpleString()}", "step int"]
        + [f"`{m.name}` {m.type}" for _, m in specs]
    )

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_names, na_position="last", ignore_index=True)
        entry = pdf["_sel_rank"].to_numpy() + 1
        query = pdf["query"].iloc[0]
        cols = {c: pdf[c].to_numpy() for c in data_cols}
        rows, prev_n, values = [], 0, None
        for step in steps:
            mask = entry <= step
            n = int(mask.sum())
            if n == 0:
                continue
            if n != prev_n:
                prefix = {c: pd.Series(v[mask]) for c, v in cols.items()}
                values = [
                    m.fn(prefix[rc], *(prefix[c] for c in m.input_cols))
                    for rc, m in specs
                ]
                prev_n = n
            rows.append((query, step, *values))
        return pd.DataFrame(rows, columns=["query", "step", *names])

    return (
        frame.groupBy("query")
        .applyInPandas(sweep, schema=schema)
        .orderBy("query", "step")
    )


def evaluate_step(
    shards: DataFrame,
    results: DataFrame,
    measures: dict,
    step: int,
    with_buckets: bool = False,
    order_col: str = "global_rank",
) -> DataFrame:
    """Effectiveness at a single selection depth ``step``: the
    :func:`evaluate` sweep run over that one step.

    Parity: reference ``selectivesearch.py:13-29`` — with one deliberate
    divergence, recorded in SURVEY.md §2.4: the reference's
    ``groupby(['query','shard']).apply(lambda g: g[:step])`` is degenerate
    when the shards frame is key-unique (every 1-row group passes for any
    step ≥ 1). We implement the *documented* selective-search semantics:
    at depth ``step``, the top-``step`` shards per query (by the explicit
    selection ``rank``) contribute their results.

    ``shards`` must carry ``rank`` (from :func:`rank_selection` or a loader);
    ``results`` must carry ``order_col`` — the global result order within a
    query — plus the relevance columns named in ``measures``.
    """
    keys = ["query", "shard"] + (["bucket"] if with_buckets else [])
    return _sweep(
        shards, results, measures, keys, range(step, step + 1), order_col
    )


def evaluate(
    shards: DataFrame,
    results: DataFrame,
    measures: dict,
    num_shards: int,
    sort: bool = False,
    num_buckets: int | None = None,
    order_col: str = "global_rank",
) -> DataFrame:
    """Effectiveness at every selection depth 1..num_steps, in one job.

    Parity: reference ``selectivesearch.py:32-73``, fixing two recorded
    quirks: (Q1) ``sort=True`` there is a no-op — here it actually derives
    the selection rank from ``shard_score`` descending (ties by shard[,
    bucket] asc); (Q6) the reference re-runs the whole head+join+agg
    pipeline once per step, O(steps × |data|) — here one shuffle groups
    the joined results by query, each query is sorted once, and a Python
    sweep walks the steps, growing the prefix by one shard (or bucket)
    at a time and calling every measure on it. Output: one row per
    (query, step) with a non-empty prefix — ``query, step`` and the
    measures in dict order — ordered by query, step.

    Scale: every joined row is shuffled once, and a query's rows must fit
    one Python worker (evaluation inputs are per-query top-k lists,
    thousands of rows). The sweep runs one task per query group, so its
    parallelism is bounded by the query count; nothing touches the driver.

    ``order_col`` is only ever used as a SORT key (never arithmetically),
    so it may be a composite ``struct`` column (e.g.
    ``F.struct(-score, docid)``) instead of a precomputed integer rank:
    its fields are flattened into sort columns and each query sorts them
    as Spark sorts the struct (field by field, NULLs first). Prefer that
    at scale: materializing an integer ``global_rank`` via ``row_number``
    over ``Window.partitionBy("query")`` costs a whole window stage.
    """
    keys = ["query", "shard"] + (["bucket"] if num_buckets is not None else [])
    num_steps = num_shards if num_buckets is None else num_shards * num_buckets
    if sort:
        ensure_has_columns(shards, keys + ["shard_score"])
        shards = rank_selection(
            shards, "shard_score", ("query",), tuple(keys[1:]), "rank"
        )
    return _sweep(
        shards, results, measures, keys, range(1, num_steps + 1), order_col
    )
