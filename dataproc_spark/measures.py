"""IR effectiveness measures as closures over an ordered relevance Series.

Parity: reference ``measures.py:3-5`` defines ``precision_at(k)`` as a
closure over a pandas Series in result order (``s[:k]`` takes the first
k rows positionally). A measure here keeps that contract:
:func:`dataproc_spark.selective.evaluate` sorts each query's results by
its explicit order key once, and at every selection depth calls the
closure on that depth's prefix — the relevance values as a Series with a
RangeIndex, in evaluation order.

The public shape mirrors the reference's ``measures`` dict:
``{relevance_column: [measure, ...]}``; a value is a :class:`Measure` or
a plain callable, which :func:`as_measure` wraps.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import numpy as np


@dataclass(frozen=True)
class Measure:
    """A named scalar over the ordered prefix of a result list.

    ``fn(rel, *inputs)`` receives the prefix's relevance as a
    ``pd.Series`` (RangeIndex, evaluation order, NULL as NaN) plus one
    Series per ``input_cols`` entry, aligned with ``rel``. ``type`` is the
    Spark SQL type of the output column.
    """

    name: str
    fn: Callable
    #: extra INPUT columns the results frame must already carry (e.g.
    #: recall_at's per-query total column) — validated by the evaluate
    #: gates up front, so a missing denominator fails with the module's
    #: uniform 'Column X missing' error
    input_cols: tuple = ()
    type: str = "double"


def as_measure(obj, rel_hint: str = "measure") -> Measure:
    """Coerce a measure spec: a Measure passes through; a plain callable
    (the reference's closure style) wraps into a Measure named after the
    function."""
    if isinstance(obj, Measure):
        return obj
    if callable(obj):
        name = getattr(obj, "__name__", rel_hint)
        if name == "<lambda>":
            name = rel_hint
        return Measure(name, obj)
    raise TypeError(f"not a measure: {obj!r}")


def _hits(rel) -> np.ndarray:
    """Binarized relevance: a row is relevant iff ``rel > 0`` (NULL is
    not). Precision and recall count documents, so a graded judgment
    (rel=2) must not count double (r8 review finding)."""
    return rel.to_numpy(dtype=float, na_value=np.nan) > 0


def _discounts(n: int) -> np.ndarray:
    return 1.0 / np.log2(np.arange(2, n + 2))


def precision_at(k: int, name: str | None = None) -> Measure:
    """P@k — mean relevance over the first k results.

    Matches reference ``measures.py:5`` (``s[:k].sum() / s[:k].count()``):
    the denominator is the number of *present* rows in the prefix, so a
    query with fewer than k results divides by its result count, and
    null relevances are skipped; all-NULL gives NULL.
    """
    def p(rel):
        top = rel[:k]
        n = top.count()
        return top.sum() / n if n else None

    return Measure(name or f"p_{k}", p)


def recall_at(k: int, total_col: str = "num_rel", name: str | None = None) -> Measure:
    """R@k — fraction of all relevant docs retrieved in the first k results.

    Extension beyond the reference (its measure set has only P@k);
    ``total_col`` must hold the per-query total relevant count on each row.
    Relevance is binarized, so graded recall cannot exceed 1.
    Zero-relevant queries score 0.0 instead of NULL.
    """
    def r(rel, total):
        t = total.max()
        return _hits(rel[:k]).sum() / t if t > 0 else 0.0

    return Measure(name or f"r_{k}", r, input_cols=(total_col,))


def num_retrieved(name: str = "num_ret") -> Measure:
    """Count of retrieved results per (query, step)."""
    return Measure(name, len, type="long")


def average_precision(k: int | None = None, name: str | None = None) -> Measure:
    """AP@k — mean over relevant ranks of precision-at-that-rank.

    AP = Σ_{r ≤ k : rel_r > 0} (hits_up_to_r / r) / total_rel, with
    binarized hits, where total_rel counts every relevant doc in the
    prefix — never cut at k (trec_eval semantics): a relevant doc ranked
    below the cutoff must lower AP@k, not shrink its denominator (r8
    review finding). 0.0 when nothing relevant falls inside the cutoff
    or the prefix holds no relevant doc.
    """
    def ap(rel):
        hit = _hits(rel)
        total = hit.sum()
        if not total:
            return 0.0
        top = hit[:k]
        prec = np.cumsum(top) / np.arange(1, len(top) + 1)
        return prec[top].sum() / total

    return Measure(
        # `k is not None`, not truthiness: average_precision(0) must not
        # collide with unbounded AP's name
        name or (f"ap_{k}" if k is not None else "ap"),
        ap,
    )


def ndcg_at(k: int, name: str | None = None) -> Measure:
    """nDCG@k with binary or graded relevance (log2 discount).

    DCG = Σ_{r ≤ k} rel_r / log2(r + 1), NULL terms skipped; the ideal
    DCG ranks the prefix by relevance descending with NULL last. 0.0 when
    the ideal DCG is not positive.
    """
    def ndcg(rel):
        r = rel.to_numpy(dtype=float, na_value=np.nan)
        top = r[:k]
        ideal = -np.sort(-r)[:k]  # descending, NaN (NULL) last
        idcg = np.nansum(ideal * _discounts(len(ideal)))
        if not idcg > 0:
            return 0.0
        return np.nansum(top * _discounts(len(top))) / idcg

    return Measure(name or f"ndcg_{k}", ndcg)
