"""Selective-search engine: selection ranking, shard/bucket selection with
decay, greedy bucket-budget resolution, and the evaluation sweep.

Parity: reference ``selectivesearch.py`` (see SURVEY.md §2.1 F4-F13).
Everything is a pure, lazy DataFrame composition; the only Python that runs
on executors is the Arrow-batched greedy resolver (F12), which is
inherently sequential per query.

Order semantics: the reference leans on implicit pandas row order; here
every ordering is an explicit column. Ties in ranking break by
deterministic key columns (documented per function), replicating pandas
``rank(method='first')`` under the reference's cartesian input order.
"""

from __future__ import annotations

import math
from typing import Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from dataproc_spark.core import (
    ensure_has_columns,
    local_frame,
    maybe_broadcast,
)
from dataproc_spark.measures import Measure, PandasMeasure, as_measure


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

def _split_measures(measures: dict):
    """Normalize the measures dict and split Column measures from
    Series-closure (PandasMeasure) measures. Plain callables — the
    reference's measure style — are auto-wrapped as PandasMeasures."""
    column_ms: list[tuple[str, Measure]] = []
    pandas_ms: list[tuple[str, PandasMeasure]] = []
    for rel_col, ms in measures.items():
        ms = ms if isinstance(ms, (list, tuple)) else [ms]
        for i, m in enumerate(ms):
            m = as_measure(m, rel_hint=f"{rel_col}_m{i}")
            if isinstance(m, Measure):
                column_ms.append((rel_col, m))
            else:
                pandas_ms.append((rel_col, m))
    if not column_ms and not pandas_ms:
        raise ValueError(
            "measures must be non-empty: pass at least one measure per "
            "relevance column, e.g. {'rel': [precision_at(10)]}"
        )
    return column_ms, pandas_ms


def _column_measure_cols(column_ms, rank_col: str):
    return [m.column(rel_col, rank_col) for rel_col, m in column_ms]


def _pandas_measure_frame(
    ranked: DataFrame,
    pandas_ms,
    partition_cols: list[str],
    rank_col: str,
) -> DataFrame:
    """Per-group Series-closure measures via Arrow grouped map: each
    (query[, step]) group's relevance column, in evaluation order, is
    handed to the user closure exactly as pandas would. The order is
    ``rank_col``, the prefix ``row_number`` over ``order_col``, so a
    struct ``order_col`` sorts as Spark sorts it (field by field, nulls
    first) and ties resolve as they do for the Column measures."""
    from pyspark.sql.types import DoubleType

    fields = {f.name: f.dataType for f in ranked.schema.fields}
    out_schema = StructType(
        [StructField(c, fields[c]) for c in partition_cols]
        + [StructField(m.name, DoubleType()) for _, m in pandas_ms]
    )
    specs = [(rel_col, m.name, m.fn) for rel_col, m in pandas_ms]
    part_cols = list(partition_cols)

    def compute(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(rank_col)
        row = {c: [pdf[c].iloc[0]] for c in part_cols}
        for rel_col, name, fn in specs:
            row[name] = [float(fn(pdf[rel_col].reset_index(drop=True)))]
        return pd.DataFrame(row)

    return ranked.groupBy(*part_cols).applyInPandas(compute, schema=out_schema)


def _augment_for_measures(
    ranked: DataFrame,
    measures: dict,
    partition_cols: list[str],
    order_col: str,
) -> DataFrame:
    """Materialize auxiliary window columns some measures require
    (``_hits`` running relevant count, ``_ideal_rn`` ideal ordering rank).

    These windows share the partitioning of the prefix-rank window, so
    Catalyst plans them in the same sort/exchange — no extra shuffle.
    """
    needing = {}
    for rel_col, ms in measures.items():
        ms = ms if isinstance(ms, (list, tuple)) else [ms]
        for m in ms:
            for req in getattr(m, "requires", ()):
                needing.setdefault(req, set()).add(rel_col)
    if not needing:
        return ranked
    for req, rel_cols in needing.items():
        if len(rel_cols) > 1:
            raise NotImplementedError(
                f"{req}-based measures support a single relevance column "
                f"per evaluation, got {sorted(rel_cols)}"
            )
    if "_hits" in needing:
        (rel_col,) = needing["_hits"]
        w = (
            Window.partitionBy(*partition_cols)
            .orderBy(F.col(order_col).asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        # running COUNT of relevant (rel > 0), not a graded sum: _hits
        # feeds AP's precision-at-rank, and precision counts documents —
        # a graded judgment (rel=2) would otherwise count double (r8
        # review finding). Identical under binary relevance.
        ranked = ranked.withColumn(
            "_hits",
            F.sum(
                F.when(F.col(rel_col) > 0, F.lit(1)).otherwise(F.lit(0))
            ).over(w),
        )
    if "_ideal_rn" in needing:
        (rel_col,) = needing["_ideal_rn"]
        w = Window.partitionBy(*partition_cols).orderBy(
            F.col(rel_col).desc(), F.col(order_col).asc()
        )
        ranked = ranked.withColumn("_ideal_rn", F.row_number().over(w))
    return ranked


def _measure_groups(
    ranked: DataFrame,
    measures: dict,
    partition_cols: list[str],
    order_col: str,
) -> DataFrame:
    """Every measure per ``partition_cols`` group of a frame whose
    ``_prefix_rn`` numbers each group's rows by ``order_col``: Column
    measures in one aggregate, Series-closure measures in one grouped
    map, joined on the group keys."""
    column_ms, pandas_ms = _split_measures(measures)
    out = None
    if column_ms:
        grouped: dict = {}
        for rc, m in column_ms:
            grouped.setdefault(rc, []).append(m)
        aug = _augment_for_measures(ranked, grouped, partition_cols, order_col)
        out = aug.groupBy(*partition_cols).agg(
            *_column_measure_cols(column_ms, "_prefix_rn")
        )
    if pandas_ms:
        pframe = _pandas_measure_frame(
            ranked, pandas_ms, partition_cols, "_prefix_rn"
        )
        out = pframe if out is None else out.join(pframe, partition_cols)
    return out


def _measure_input_cols(measures) -> list:
    """Extra input columns declared by the measures themselves (e.g.
    recall_at's total column), for the fail-fast column gates."""
    cols: list = []
    for ms in measures.values():
        ms = ms if isinstance(ms, (list, tuple)) else [ms]
        for m in ms:
            cols.extend(getattr(m, "input_cols", ()))
    return cols


def evaluate_step(
    shards: DataFrame,
    results: DataFrame,
    measures: dict,
    step: int,
    with_buckets: bool = False,
    order_col: str = "global_rank",
) -> DataFrame:
    """Effectiveness at a single selection depth ``step``.

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
    ensure_has_columns(shards, keys + ["rank"])
    ensure_has_columns(
        results,
        keys + [order_col] + list(measures) + _measure_input_cols(measures),
    )
    chosen = shards.where(F.col("rank") < step).select(*keys)
    hits = results.join(maybe_broadcast(chosen), keys, "leftsemi")
    w = Window.partitionBy("query").orderBy(F.col(order_col).asc())
    ranked = hits.withColumn("_prefix_rn", F.row_number().over(w))
    out = _measure_groups(ranked, measures, ["query"], order_col)
    return out.withColumn("step", F.lit(step).cast("int"))


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
    pipeline once per step, O(steps × |data|) — here each joined result row
    is exploded to exactly the steps that include it
    (``sequence(rank+1, num_steps)``), then a single window + aggregation
    partitioned by (query, step) computes every measure at every depth:
    **one shuffle instead of num_steps jobs**, identical output contract.

    Scale: the explode multiplies rows by at most num_steps, but evaluation
    inputs are per-query top-k lists (thousands of rows per query), so the
    exploded size is bounded by |results| × steps — a per-query quantity
    that AQE splits/coalesces well; nothing here touches the driver.

    ``order_col`` is only ever used as a SORT key (never arithmetically),
    so it may be a composite ``struct`` column (e.g.
    ``F.struct(-score, docid)``) instead of a precomputed integer rank.
    Prefer that at scale: materializing an integer ``global_rank`` via
    ``row_number`` over ``Window.partitionBy("query")`` caps that window's
    parallelism at the query count, while the struct key costs nothing —
    the per-(query, step) prefix windows here sort it natively, and
    Series-closure measures see their rows in that same window order.
    """
    keys = ["query", "shard"] + (["bucket"] if num_buckets is not None else [])
    num_steps = num_shards if num_buckets is None else num_shards * num_buckets
    if sort:
        ensure_has_columns(shards, keys + ["shard_score"])
        shards = rank_selection(
            shards, "shard_score", ("query",), tuple(keys[1:]), "rank"
        )
    ensure_has_columns(shards, keys + ["rank"])
    ensure_has_columns(
        results,
        keys + [order_col] + list(measures) + _measure_input_cols(measures),
    )

    # results may legitimately carry their own `rank` column (the per-shard
    # result rank in the SHARD_RESULTS_SCHEMA contract) — alias the selection
    # rank to avoid the collision. Shards ranked beyond the sweep depth are
    # dropped BEFORE the explode: sequence(start, stop) counts *down* when
    # start > stop, so without the filter a rank-7 shard in a 5-step sweep
    # would emit steps [8,7,6,5] — phantom steps plus pollution of step 5.
    sel = (
        shards.where(F.col("rank") < num_steps)
        .select(*keys, F.col("rank").alias("_sel_rank"))
    )
    joined = results.join(maybe_broadcast(sel), keys, "inner")
    exploded = joined.withColumn(
        "step",
        F.explode(
            F.sequence(F.col("_sel_rank").cast("int") + 1, F.lit(int(num_steps)))
        ),
    )
    w = Window.partitionBy("query", "step").orderBy(F.col(order_col).asc())
    ranked = exploded.withColumn("_prefix_rn", F.row_number().over(w))
    out = _measure_groups(ranked, measures, ["query", "step"], order_col)
    return out.orderBy("query", "step")
