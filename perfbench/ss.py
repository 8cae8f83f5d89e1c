"""The ``ss_sweep`` workload: a selective-search experiment, op by op.

A user of the paper's pipeline writes per-shard result files, loads the
bucket-level shard scores, then repeatedly selects the top-t shards or
buckets and exports a ``trec_eval`` run, and evaluates P@10, nDCG@10 and
AP at every selection depth. Each of those is one op here; the expected
output of every op is computed independently with pandas/numpy from the
generated files (never with the program's functions) and cached beside
them.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen

NQUERIES, K = 40, 80  # 40 queries x 16 shards x 80 results = 51,200 rows
NSHARDS, NBUCKETS = 16, 4
T_VALUES = (1, 2, 4, 8)  # select(): top-t shards
DECAY_T, DECAY = 4, 0.5  # select_with_decay(): budgets 4, 2, 1, 1 buckets
BUCKET_T = 8  # select_buckets(): 8 buckets per query
CUTOFF = 500  # run-file depth; t=8 selects 640 results per query
TOL = 1e-9


def title(gdocid):
    """The document title the benchmark attaches to results (TREC docno)."""
    return "D" + str(gdocid).zfill(9)


class SsSweep:
    name = "ss_sweep"

    def __init__(self, cache: str, seed: int):
        self.dir, self.gen_s = gen.ss_corpus(cache, seed, NQUERIES, K, NSHARDS, NBUCKETS)
        with open(os.path.join(self.dir, "meta.json")) as f:
            self.queries = json.load(f)["queries"]
        self.expected = _Expected(self.dir, self.queries)
        self.bucket_sel = None

    def ops(self):
        ops = [("ingest", "ingest", self._ingest)]
        for t in T_VALUES:
            ops.append((f"select_t{t}", "select_export", self._select(t)))
        ops.append(("select_decay", "select_export", self._decay))
        ops.append(("select_buckets", "select_export", self._buckets))
        ops.append(("evaluate_shards", "evaluate", self._evaluate(False)))
        ops.append(("evaluate_buckets", "evaluate", self._evaluate(True)))
        return ops

    # -- ops ----------------------------------------------------------------

    def _ingest(self, ctx):
        from dataproc_spark import io

        corpus = ctx.spark.read.parquet(os.path.join(self.dir, "corpus.parquet"))
        base = os.path.join(ctx.run_dir, "run")
        paths = ctx.tr.step("io.write_shard_results", io.write_shard_results,
                            corpus, base, NBUCKETS, action=True)
        self.bucket_sel = ctx.tr.step(
            "io.load_bucket_selection", io.load_bucket_selection, ctx.spark,
            self.queries, NSHARDS, NBUCKETS,
            os.path.join(self.dir, "bucket_scores.csv"),
        )
        return paths

    def _results(self, ctx):
        from pyspark.sql import functions as F
        from dataproc_spark import io

        res = ctx.tr.step("io.load_shard_results", io.load_shard_results,
                          ctx.spark, os.path.join(ctx.run_dir, "run"),
                          NSHARDS, NBUCKETS)
        return res.withColumn("title", F.format_string("D%09d", F.col("gdocid")))

    def _shard_sel(self, ctx):
        from pyspark.sql import functions as F
        from dataproc_spark import selective

        scores = self.bucket_sel.groupBy("query", "shard").agg(
            F.max("shard_score").alias("shard_score"))
        return ctx.tr.step("selective.rank_selection", selective.rank_selection, scores)

    def _export(self, ctx, op_id, frame):
        from dataproc_spark import io

        path = os.path.join(ctx.run_dir, f"{op_id}.trec")
        ctx.tr.step("io.to_trec", io.to_trec, frame, path, CUTOFF, action=True)
        return path

    def _select(self, t):
        def op(ctx):
            from dataproc_spark import selective

            out = ctx.tr.step("selective.select", selective.select,
                              self._shard_sel(ctx), self._results(ctx), t)
            return self._export(ctx, f"select_t{t}", out)

        return op

    def _decay(self, ctx):
        from dataproc_spark import selective

        out = ctx.tr.step("selective.select_with_decay", selective.select_with_decay,
                          self._shard_sel(ctx), self._results(ctx), DECAY_T,
                          DECAY, NBUCKETS)
        return self._export(ctx, "select_decay", out)

    def _buckets(self, ctx):
        from dataproc_spark import selective

        out = ctx.tr.step("selective.select_buckets", selective.select_buckets,
                          self.bucket_sel, self._results(ctx), BUCKET_T, NSHARDS)
        return self._export(ctx, "select_buckets", out)

    def _evaluate(self, buckets: bool):
        def op(ctx):
            from pyspark.sql import functions as F
            from dataproc_spark import measures, selective

            qrels = ctx.spark.read.parquet(os.path.join(self.dir, "qrels.parquet"))
            res = self._results(ctx).join(qrels, ["query", "gdocid"]).withColumn(
                "okey", F.struct((-F.col("score")).alias("s"), F.col("gdocid").alias("d")))
            ms = {"rel": [measures.precision_at(10), measures.ndcg_at(10),
                          measures.average_precision()]}
            sel = self.bucket_sel if buckets else self._shard_sel(ctx)
            out = ctx.tr.step(
                "selective.evaluate", selective.evaluate, sel, res, ms, NSHARDS,
                num_buckets=NBUCKETS if buckets else None, order_col="okey")
            rows = ctx.tr.step("collect", out.collect, action=True, layer="action")
            return [(r["query"], r["step"], r["p_10"], r["ndcg_10"], r["ap"]) for r in rows]

        return op

    # -- checks -------------------------------------------------------------

    def check(self, op_id: str, out) -> str | None:
        """None when ``out`` matches the independent computation, else why not."""
        exp = self.expected
        if op_id == "ingest":
            return _check_ingest(self.dir, out) or _check_bucket_selection(
                self.bucket_sel, exp.bucket_sel)
        if op_id.startswith("select"):
            return _check_trec(out, exp.trec(op_id))
        return _check_eval(out, exp.evaluation(op_id == "evaluate_buckets"))


def _check_ingest(corpus_dir: str, paths: list[str]) -> str | None:
    names = sorted(os.path.basename(p) for p in paths)
    want = sorted(f"run#{s}.results-{NBUCKETS}" for s in range(NSHARDS))
    if names != want:
        return f"wrote {names}, want {want}"
    corpus = pq.read_table(os.path.join(corpus_dir, "corpus.parquet")).to_pandas()
    for p in paths:
        shard = int(os.path.basename(p).split("#")[1].split(".")[0])
        got = pq.read_table(p).to_pandas()
        want_rows = corpus[corpus["shard"] == shard]
        if sorted(got.columns) != sorted(corpus.columns):
            return f"{p}: columns {sorted(got.columns)}"
        cols = list(corpus.columns)
        a = got[cols].sort_values(cols).to_numpy().tolist()
        b = want_rows[cols].sort_values(cols).to_numpy().tolist()
        if a != b:
            return f"{p}: rows differ from shard {shard} of the corpus"
    return None


def _check_bucket_selection(frame, want: pd.DataFrame) -> str | None:
    got = pd.DataFrame(
        [tuple(r) for r in frame.select("query", "shard", "bucket", "shard_score", "rank").collect()],
        columns=["query", "shard", "bucket", "shard_score", "rank"],
    )
    keys = ["query", "shard", "bucket"]
    m = got.merge(want, on=keys, how="outer", suffixes=("", "_w"), indicator=True)
    if len(got) != len(want) or (m["_merge"] != "both").any():
        return f"bucket selection has {len(got)} rows, want {len(want)}"
    if (m["rank"] != m["rank_w"]).any() or not np.allclose(m["shard_score"], m["shard_score_w"]):
        return "bucket selection ranks differ"
    return None


def _check_trec(path: str, want: pd.DataFrame) -> str | None:
    got = pd.read_csv(path, sep="\t", header=None, dtype={2: str}, keep_default_na=False,
                      names=["query", "iter", "title", "rank", "score", "run_id"])
    if (got["iter"] != "Q0").any() or (got["run_id"] != "null").any():
        return "iter/run_id columns are not Q0/null"
    key = got[["query", "rank"]].to_numpy()
    if len(key) and not (np.lexsort((key[:, 1], key[:, 0])) == np.arange(len(key))).all():
        return "run file is not sorted by (query, rank)"
    if len(got) != len(want):
        return f"{len(got)} run lines, want {len(want)}"
    a = got[["query", "title", "rank"]].to_numpy().tolist()
    b = want[["query", "title", "rank"]].to_numpy().tolist()
    if a != b:
        i = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
        return f"run line {i}: {a[i]}, want {b[i]}"
    if not np.allclose(got["score"], want["score"], rtol=0, atol=TOL):
        return "run scores differ"
    return None


def _check_eval(rows, want: pd.DataFrame) -> str | None:
    got = pd.DataFrame(rows, columns=["query", "step", "p_10", "ndcg_10", "ap"])
    got = got.sort_values(["query", "step"]).reset_index(drop=True)
    if len(got) != len(want):
        return f"{len(got)} (query, step) rows, want {len(want)}"
    if (got[["query", "step"]].to_numpy() != want[["query", "step"]].to_numpy()).any():
        return "(query, step) keys differ"
    for col in ("p_10", "ndcg_10", "ap"):
        if not np.allclose(got[col], want[col], rtol=0, atol=TOL):
            return f"{col} differs"
    return None


class _Expected:
    """Independent expected outputs for one corpus, cached beside it."""

    def __init__(self, corpus_dir: str, queries: list[int]):
        self.dir = corpus_dir
        self.queries = queries
        self._corpus = None
        self._bucket_sel = None

    @property
    def corpus(self) -> pd.DataFrame:
        if self._corpus is None:
            c = pq.read_table(os.path.join(self.dir, "corpus.parquet")).to_pandas()
            q = pq.read_table(os.path.join(self.dir, "qrels.parquet")).to_pandas()
            self._corpus = c.merge(q, on=["query", "gdocid"])
        return self._corpus

    @property
    def bucket_sel(self) -> pd.DataFrame:
        """Cartesian (query, shard, bucket) zipped with the CSV by position;
        rank by score descending, ties by position (pandas rank 'first')."""
        if self._bucket_sel is None:
            scores = np.loadtxt(os.path.join(self.dir, "bucket_scores.csv"))
            nq = len(self.queries)
            df = pd.DataFrame({
                "query": np.repeat(self.queries, NSHARDS * NBUCKETS),
                "shard": np.tile(np.repeat(np.arange(NSHARDS), NBUCKETS), nq),
                "bucket": np.tile(np.arange(NBUCKETS), nq * NSHARDS),
                "shard_score": scores,
            })
            df["rank"] = (df.groupby("query")["shard_score"]
                          .rank(method="first", ascending=False).astype(int) - 1)
            self._bucket_sel = df
        return self._bucket_sel

    def shard_sel(self) -> pd.DataFrame:
        s = self.bucket_sel.groupby(["query", "shard"], as_index=False)["shard_score"].max()
        s["rank"] = (s.groupby("query")["shard_score"]
                     .rank(method="first", ascending=False).astype(int) - 1)
        return s

    def _cached(self, name: str, build) -> pd.DataFrame:
        path = os.path.join(self.dir, f"expected-{name}.parquet")
        if not os.path.exists(path):
            tmp = path + ".partial"
            pq.write_table(pa.Table.from_pandas(build(), preserve_index=False), tmp)
            os.replace(tmp, path)
        return pq.read_table(path).to_pandas()

    def selected(self, op_id: str) -> pd.DataFrame:
        c = self.corpus
        if op_id == "select_buckets":
            chosen = _greedy_buckets(self.bucket_sel, BUCKET_T)
            return c.merge(chosen, on=["query", "shard", "bucket"])
        sel = self.shard_sel()
        if op_id == "select_decay":
            budgets, b = [], float(NBUCKETS)
            for _ in range(DECAY_T):
                budgets.append(math.ceil(b))
                b *= DECAY
            sel = sel[sel["rank"] < DECAY_T].copy()
            sel["budget"] = [budgets[r] for r in sel["rank"]]
            m = c.merge(sel[["query", "shard", "budget"]], on=["query", "shard"])
            return m[m["bucket"] < m["budget"]]
        t = int(op_id.removeprefix("select_t"))
        chosen = sel.loc[sel["rank"] < t, ["query", "shard"]]
        return c.merge(chosen, on=["query", "shard"])

    def trec(self, op_id: str) -> pd.DataFrame:
        def build():
            r = self.selected(op_id)[["query", "gdocid", "score"]].copy()
            r["title"] = [title(g) for g in r["gdocid"]]
            r = r.sort_values(["query", "score", "title"], ascending=[True, False, True])
            r["rank"] = r.groupby("query").cumcount()
            r = r[r["rank"] < CUTOFF]
            return r[["query", "title", "rank", "score"]].reset_index(drop=True)

        return self._cached(op_id, build)

    def evaluation(self, buckets: bool) -> pd.DataFrame:
        def build():
            c = self.corpus
            if buckets:
                keys, sel = ["query", "shard", "bucket"], self.bucket_sel
            else:
                keys, sel = ["query", "shard"], self.shard_sel()
            nsteps = NSHARDS * (NBUCKETS if buckets else 1)
            m = c.merge(sel[keys + ["rank"]].rename(columns={"rank": "sel_rank"}), on=keys)
            out = []
            for q, g in m.groupby("query", sort=True):
                g = g.sort_values(["score", "gdocid"], ascending=[False, True])
                rel = g["rel"].to_numpy(float)
                entry = g["sel_rank"].to_numpy() + 1
                for step in range(1, nsteps + 1):
                    r = rel[entry <= step]
                    if len(r):
                        out.append((q, step, *_measures(r)))
            return pd.DataFrame(out, columns=["query", "step", "p_10", "ndcg_10", "ap"])

        return self._cached("evaluate_buckets" if buckets else "evaluate_shards", build)


def _measures(rel: np.ndarray) -> tuple[float, float, float]:
    """P@10, nDCG@10 and AP of one ranked relevance list (trec_eval
    semantics: AP divides by every relevant result in the list)."""
    top = rel[:10]
    p10 = top.mean()
    disc = 1 / np.log2(np.arange(2, 12))
    ideal = np.sort(rel)[::-1][:10]
    idcg = (ideal * disc[: len(ideal)]).sum()
    ndcg = (top * disc[: len(top)]).sum() / idcg if idcg > 0 else 0.0
    hits = np.cumsum(rel > 0)
    nrel = hits[-1]
    ap = ((rel > 0) * hits / np.arange(1, len(rel) + 1)).sum() / nrel if nrel else 0.0
    return float(p10), float(ndcg), float(ap)


def _greedy_buckets(bucket_sel: pd.DataFrame, threshold: int) -> pd.DataFrame:
    """The reference's greedy bucket resolution: walk each query's
    (shard, bucket) rows in rank order; taking bucket b of a shard costs
    every not-yet-taken bucket <= b; skip what does not fit the budget."""
    out = []
    for q, g in bucket_sel.sort_values("rank").groupby("query", sort=False):
        taken = [0] * NSHARDS
        used = 0
        for shard, bucket in zip(g["shard"], g["bucket"]):
            if used == threshold:
                break
            cost = bucket + 1 - taken[shard]
            if cost >= 1 and used + cost <= threshold:
                taken[shard] += cost
                used += cost
        out += [(q, s, b) for s in range(NSHARDS) for b in range(taken[s])]
    return pd.DataFrame(out, columns=["query", "shard", "bucket"])
