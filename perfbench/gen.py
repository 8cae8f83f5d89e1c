"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and parameters and writes
into a cache directory named after both, so a second run with the same
seed reuses the files. A directory is complete once its ``DONE`` marker
exists; a half-written directory is regenerated.

* :func:`star_tables` — a seeded replica of the sf0.1 test tables
  (TESTDATA.md; the ten tables ``dataproc_spark.queries`` reads: TPC-H-ish facts and
  dimensions, ``events``, ``documents``, ``embeddings``), with the same
  schemas, row counts and value domains. ``scale`` > 1 applies the
  key-shifted replication of the 10x scale probe; ``permute`` shuffles
  every fact table's rows by the seed, so a count that depends on input
  order shows up as a failed check.
* :func:`ss_corpus` — a selective-search corpus: per-(query, shard) result
  lists split into buckets, relevance judgments, and the bucket-level
  shard-score CSV, with injected score ties on both.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: row counts of the sf0.1 test tables
SF01_ROWS = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000,
    "orders": 150_000, "lineitem": 600_000, "events": 100_000,
    "documents": 5_000, "embeddings": 2_000,
}
#: fact table -> {column: column whose key range sets the replica offset}
SCALE_SHIFTS = {
    "customer": {"c_custkey": "c_custkey"},
    "orders": {"o_orderkey": "o_orderkey", "o_custkey": "c_custkey"},
    "lineitem": {"l_orderkey": "o_orderkey"},
    "events": {"event_id": "event_id", "user_id": "user_id"},
    "documents": {"doc_id": "doc_id"},
    "embeddings": {"vec_id": "vec_id"},
}
_KEY_TABLE = {
    "c_custkey": "customer", "o_orderkey": "orders", "event_id": "events",
    "user_id": "events", "doc_id": "documents", "vec_id": "embeddings",
}
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_MS_PER_DAY = 86_400_000


def _cached(path: str, build) -> tuple[str, float]:
    """Run ``build(tmp_dir)`` unless ``path`` is already complete; returns
    the path and the seconds spent generating (0.0 on a cache hit)."""
    if os.path.exists(os.path.join(path, "DONE")):
        return path, 0.0
    t0 = time.perf_counter()
    tmp = path + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "DONE"), "w").close()
    os.replace(tmp, path)
    return path, time.perf_counter() - t0


def _dates(rng, n: int, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * _MS_PER_DAY * 1000, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), lengths.sum())
    vocab = np.array(VOCAB, dtype=object)
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(vocab[words[a:b]]) for a, b in zip(bounds[:-1], bounds[1:])]
    # 5% near duplicates (a copy of another document plus one word) and a
    # handful of exact copies, the shapes the dedup gates look for
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    langs = np.array(["en", "zh", "es", "fr", "de"], dtype=object)
    lang = langs[rng.choice(5, n, p=[0.41, 0.15, 0.15, 0.15, 0.14])]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _base_tables(seed: int) -> dict[str, pa.Table]:
    """One sf0.1-shaped copy of every table, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n = SF01_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segments = np.array(
        ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"],
        dtype=object,
    )
    t["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
        "c_mktsegment": pa.array(
            segments[rng.integers(0, 5, n["customer"])], pa.string()
        ),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
    })
    colors = ["red", "hot", "new", "blue", "large", "small", "green", "old"]
    nouns = ["bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "pipe"]
    names = np.array([f"{c} {o}" for c in colors for o in nouns], dtype=object)
    types = np.array(
        ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"],
        dtype=object,
    )
    parts = np.arange(n["part"], dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": parts,
        "p_name": pa.array(names[rng.integers(0, 64, n["part"])], pa.string()),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": pa.array(types[rng.integers(0, 6, n["part"])], pa.string()),
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900 + (parts % 1000) * 0.1, 1),
    })
    statuses = np.array(["P", "O", "F"], dtype=object)
    priorities = np.array(
        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        dtype=object,
    )
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": pa.array(
            statuses[rng.integers(0, 3, n["orders"])], pa.string()
        ),
        "o_totalprice": _money(rng, n["orders"], 1000.0, 500000.0),
        "o_orderdate": _dates(rng, n["orders"], "1995-01-01", "2001-08-01"),
        "o_orderpriority": pa.array(
            priorities[rng.integers(0, 5, n["orders"])], pa.string()
        ),
    })
    m = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, m, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": pa.array(
            np.array(["N", "R", "A"], dtype=object)[rng.integers(0, 3, m)],
            pa.string(),
        ),
        "l_linestatus": pa.array(
            np.array(["F", "O"], dtype=object)[rng.integers(0, 2, m)],
            pa.string(),
        ),
        "l_shipdate": _dates(rng, m, "1995-01-02", "2001-11-04"),
    })
    e = n["events"]
    start_us = np.datetime64("2024-01-01", "us").astype(np.int64)
    span_us = 30 * _MS_PER_DAY * 1000
    kinds = np.array(["signup", "purchase", "view", "click", "error"], dtype=object)
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(
            start_us + np.sort(rng.integers(0, span_us, e)), pa.timestamp("us")
        ),
        "user_id": rng.integers(0, 1500, e),
        "event_type": pa.array(kinds[rng.integers(0, 5, e)], pa.string()),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    t["documents"] = _documents(rng, n["documents"])
    v = n["embeddings"]
    vecs = rng.standard_normal((v, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel(), pa.float32()), 64
        ).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, v).astype(np.int32),
    })
    return t


def _replicate(tables: dict[str, pa.Table], scale: int) -> dict[str, pa.Table]:
    """The 10x scale-probe construction: dimensions verbatim, every fact
    table repeated ``scale`` times with each replica's keys shifted past
    the previous replica's key range."""
    import pyarrow.compute as pc

    offsets = {}
    for col, table in _KEY_TABLE.items():
        offsets[col] = pc.max(tables[table][col]).as_py() + 1
    out = dict(tables)
    for fact, shifts in SCALE_SHIFTS.items():
        base = tables[fact]
        reps = []
        for r in range(scale):
            cols = {}
            for name in base.column_names:
                col = base[name]
                if name in shifts and r > 0:
                    off = pa.scalar(offsets[shifts[name]] * r, type=col.type)
                    col = pc.add(col, off)
                cols[name] = col
            reps.append(pa.table(cols))
        out[fact] = pa.concat_tables(reps)
    return out


def star_tables(root: str, seed: int, scale: int = 1, permute: bool = False):
    """Write the seeded star-schema tables; returns ``(dir, gen_seconds)``."""
    path = os.path.join(root, f"star-s{seed}-x{scale}-p{int(permute)}")

    def build(dst: str) -> None:
        tables = _base_tables(seed)
        if scale > 1:
            tables = _replicate(tables, scale)
        rng = np.random.default_rng([seed, 1])
        for name, table in tables.items():
            if permute and name in SCALE_SHIFTS:
                table = table.take(pa.array(rng.permutation(table.num_rows)))
            # one row group per file like the sf0.1 tables; the replica
            # writes ~24 per file so its scans split into tasks
            rg = max(1, table.num_rows // 24) if scale > 1 else None
            pq.write_table(table, os.path.join(dst, f"{name}.parquet"),
                           row_group_size=rg)

    return _cached(path, build)


def ss_corpus(root: str, seed: int, nqueries: int, k: int,
              nshards: int = 16, nbuckets: int = 4):
    """Write a selective-search corpus; returns ``(dir, gen_seconds)``.

    Files: ``corpus.parquet`` (the shard-results schema, every result of
    every (query, shard) list), ``qrels.parquet`` (query, gdocid, rel),
    ``bucket_scores.csv`` (headerless, one shard score per (query, shard,
    bucket) in query-major cartesian order) and ``meta.json`` (the query
    ids in CSV order and the shape).
    """
    path = os.path.join(
        root, f"ss-s{seed}-q{nqueries}-k{k}-n{nshards}-b{nbuckets}"
    )

    def build(dst: str) -> None:
        rng = np.random.default_rng([seed, 2])
        queries = np.sort(rng.choice(10 * nqueries, nqueries, replace=False))
        n = nqueries * nshards * k
        query = np.repeat(queries, nshards * k).astype(np.int32)
        shard = np.tile(np.repeat(np.arange(nshards), k), nqueries).astype(np.int32)
        ldocid = np.tile(np.arange(k), nqueries * nshards).astype(np.int64)
        ldocid += rng.integers(0, 1000, n) * k
        gdocid = rng.permutation(n).astype(np.int64) + 1_000_000
        # scores on a 0.05 grid, so most results tie another of their
        # query and the tie-breaks of every ranking are exercised
        score = np.round(rng.gamma(2.0, 2.0, n) * 20) / 20
        bucket = rng.choice(nbuckets, n, p=np.linspace(2, 1, nbuckets) /
                            np.linspace(2, 1, nbuckets).sum()).astype(np.int32)
        order = np.lexsort((ldocid, -score, shard, query))
        rank = np.empty(n, np.int32)
        rank[order] = np.tile(np.arange(k, dtype=np.int32), nqueries * nshards)
        pq.write_table(pa.table({
            "query": query, "rank": rank, "ldocid": ldocid, "gdocid": gdocid,
            "score": score, "shard": shard, "bucket": bucket,
        }), os.path.join(dst, "corpus.parquet"))
        # relevance falls with the score, so the measures move with depth
        p_rel = np.clip(score / (score.max() + 1e-9), 0.02, 0.9) ** 2
        rel = (rng.random(n) < p_rel).astype(np.int32)
        pq.write_table(
            pa.table({"query": query, "gdocid": gdocid, "rel": rel}),
            os.path.join(dst, "qrels.parquet"),
        )
        nscores = nqueries * nshards * nbuckets
        bscores = np.round(rng.uniform(0, 10, nscores), 1)
        with open(os.path.join(dst, "bucket_scores.csv"), "w") as f:
            f.write("\n".join(repr(float(s)) for s in bscores) + "\n")
        with open(os.path.join(dst, "meta.json"), "w") as f:
            json.dump({"queries": queries.tolist(), "nshards": nshards,
                       "nbuckets": nbuckets, "k": k}, f)

    return _cached(path, build)
