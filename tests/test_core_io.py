"""Tests for core utilities (cartesian, positional zip) and I/O
(selection loaders, sharded parquet scan, trec sink) — functions the
reference ships untested (SURVEY.md §5)."""

from __future__ import annotations

import os

import pytest

from dataproc_spark.core import IDX, cartesian, ensure_has_columns, read_indexed_csv
from dataproc_spark.io import (
    load_bucket_selection,
    load_shard_results,
    load_shard_selection,
    to_trec,
    trec_frame,
)
from tests.conftest import rows_set


def test_cartesian_two(spark):
    df = cartesian(spark, [[7, 8], range(3)], names=["query", "shard"])
    assert rows_set(df) == {(q, s) for q in (7, 8) for s in range(3)}


def test_cartesian_index_is_query_major(spark):
    df = cartesian(spark, [[7, 8], range(3)], names=["query", "shard"],
                   with_index=True)
    got = {(r[IDX], r.query, r.shard) for r in df.collect()}
    expected = {(i, q, s) for i, (q, s) in
                enumerate((q, s) for q in (7, 8) for s in range(3))}
    assert got == expected


def test_cartesian_three_index(spark):
    df = cartesian(spark, [[0, 1], range(2), range(2)],
                   names=["query", "shard", "bucket"], with_index=True)
    got = {(r[IDX], r.query, r.shard, r.bucket) for r in df.collect()}
    expected = {(i, *t) for i, t in enumerate(
        (q, s, b) for q in (0, 1) for s in range(2) for b in range(2))}
    assert got == expected


def test_cartesian_distributed_path(spark, monkeypatch):
    import dataproc_spark.core as core

    monkeypatch.setattr(core, "_DRIVER_SIDE_LIMIT", 0)
    df = cartesian(spark, [[7, 8], range(3)], names=["query", "shard"],
                   with_index=True)
    got = {(r[IDX], r.query, r.shard) for r in df.collect()}
    expected = {(i, q, s) for i, (q, s) in
                enumerate((q, s) for q in (7, 8) for s in range(3))}
    assert got == expected


def test_cartesian_strings(spark):
    df = cartesian(spark, [["a", "b"], [1]], names=["k", "v"])
    assert rows_set(df) == {("a", 1), ("b", 1)}


def test_ensure_has_columns(spark):
    # ValueError, not AssertionError: a documented divergence from the
    # reference's bare assert, which python -O would strip (r8 review)
    df = spark.createDataFrame([(1,)], schema="a long")
    ensure_has_columns(df, ["a"])
    with pytest.raises(ValueError, match="missing in data frame"):
        ensure_has_columns(df, ["a", "b"])


def test_cartesian_type_inference_from_all_values(spark):
    """Column types come from ALL values, not the first: a leading None
    must not stringify ints, int+float upcasts to double (pandas parity),
    and an incompatible mix is refused loudly (r8 review findings)."""
    from dataproc_spark.core import cartesian as cart

    got = {r.a for r in cart(spark, [[None, 1, 2]], names=["a"]).collect()}
    assert got == {None, 1, 2}
    mixed = cart(spark, [[1, 2.5]], names=["a"])
    assert dict(mixed.dtypes)["a"] == "double"
    assert {r.a for r in mixed.collect()} == {1.0, 2.5}
    with pytest.raises(ValueError, match="incompatible types"):
        cart(spark, [[1, "x"]], names=["a"])
    # all-None range holds NULLs in the default type
    assert [r.a for r in cart(spark, [[None]], names=["a"]).collect()] == [None]


def test_cartesian_empty_ranges_keeps_idx_contract(spark):
    from dataproc_spark.core import IDX as idx_col
    from dataproc_spark.core import cartesian as cart

    out = cart(spark, [], with_index=True)
    assert out.columns == [idx_col] and out.count() == 0
    assert cart(spark, []).columns == []


def test_load_selection_accepts_one_shot_iterables(spark, tmp_path):
    """A generator of query ids must work: cartesian consumes it, so the
    shape guard has to count the materialized ranges, not re-iterate the
    exhausted input (r8 review finding)."""
    from dataproc_spark.io import load_shard_selection

    p = tmp_path / "scores.csv"
    p.write_text("".join(f"{v}.0\n" for v in [3, 1, 2, 9, 5, 4]))
    out = load_shard_selection(spark, (q for q in [7, 8]), 3, str(p))
    got = {(r.query, r.shard, r.rank) for r in out.collect()}
    assert got == {(7, 0, 0), (7, 1, 2), (7, 2, 1),
                   (8, 0, 0), (8, 1, 1), (8, 2, 2)}


def test_cartesian_large_product_parallelizes(spark):
    """The distributed crossJoin path must not materialize the whole
    product in one task: the major range is the stream side and carries
    its partitioning through (r8 review finding)."""
    from pyspark.sql import functions as F

    from dataproc_spark.core import _DRIVER_SIDE_LIMIT, cartesian as cart

    n0 = 600
    n1 = (_DRIVER_SIDE_LIMIT // n0) + 1
    out = cart(spark, [range(n0), range(n1)], names=["a", "b"],
               with_index=True)
    parts = out.select(
        F.spark_partition_id().alias("p")
    ).distinct().count()
    assert parts > 1
    # _idx is still the exact query-major row number
    row = out.where((F.col("a") == 1) & (F.col("b") == 3)).first()
    assert row["_idx"] == 1 * n1 + 3


def test_parse_byte_conf_petabytes():
    from dataproc_spark.core import _parse_byte_conf

    assert _parse_byte_conf("1p") == 1 << 50
    assert _parse_byte_conf("2PB") == 2 << 50


def test_read_indexed_csv(spark, tmp_path):
    p = tmp_path / "scores.csv"
    p.write_text("0.5\n0.9\n0.1\n")
    df = read_indexed_csv(spark, str(p))
    assert rows_set(df) == {(0, 0.5), (1, 0.9), (2, 0.1)}


def test_load_shard_selection(spark, tmp_path):
    # 2 queries x 3 shards, query-major order; per-query rank by score desc
    p = tmp_path / "scores.csv"
    p.write_text("\n".join(["0.3", "0.9", "0.1", "0.5", "0.5", "0.8"]))
    sel = load_shard_selection(spark, [10, 11], 3, str(p))
    got = {(r.query, r.shard, r.shard_score, r.rank) for r in sel.collect()}
    assert got == {
        (10, 0, 0.3, 1), (10, 1, 0.9, 0), (10, 2, 0.1, 2),
        # tie 0.5/0.5 breaks by input order (shard asc) = method='first'
        (11, 0, 0.5, 1), (11, 1, 0.5, 2), (11, 2, 0.8, 0),
    }


def test_load_shard_selection_count_mismatch(spark, tmp_path):
    p = tmp_path / "scores.csv"
    p.write_text("0.1\n0.2\n")
    with pytest.raises(ValueError, match="score file has 2 rows"):
        load_shard_selection(spark, [1], 3, str(p))


def test_load_bucket_selection(spark, tmp_path):
    p = tmp_path / "scores.csv"
    p.write_text("\n".join(str(x) for x in [4.0, 3.0, 2.0, 1.0]))
    sel = load_bucket_selection(spark, [0], 2, 2, str(p))
    got = {(r.query, r.shard, r.bucket, r.rank) for r in sel.collect()}
    assert got == {(0, 0, 0, 0), (0, 0, 1, 1), (0, 1, 0, 2), (0, 1, 1, 3)}


def test_load_shard_results(spark, tmp_path):
    base = str(tmp_path / "run")
    for shard in range(2):
        df = spark.createDataFrame(
            [(0, 0, 1, 1, 0.5, shard, 0)],
            schema="query int, rank int, ldocid long, gdocid long, "
                   "score double, shard int, bucket int",
        )
        df.write.mode("overwrite").parquet(f"{base}#{shard}.results-1")
    out = load_shard_results(spark, base, 2)
    assert out.count() == 2
    assert {r.shard for r in out.collect()} == {0, 1}


def test_trec_frame_and_sink(spark, tmp_path):
    results = spark.createDataFrame(
        [(0, "d1", 1.0), (0, "d2", 3.0), (0, "d3", 2.0),
         (1, "d4", 9.0), (1, "d5", 9.0)],
        schema="query long, title string, score double",
    )
    frame = trec_frame(results, cutoff=2)
    got = {(r.query, r.iter, r.title, r.rank, r.score, r.run_id)
           for r in frame.collect()}
    assert got == {
        (0, "Q0", "d2", 0, 3.0, "null"),
        (0, "Q0", "d3", 1, 2.0, "null"),
        (1, "Q0", "d4", 0, 9.0, "null"),   # tie 9.0/9.0 -> title asc
        (1, "Q0", "d5", 1, 9.0, "null"),
    }
    path = str(tmp_path / "run.trec")
    to_trec(results, path, cutoff=2)
    assert os.path.exists(path)
    lines = [l.split("\t") for l in open(path).read().strip().split("\n")]
    assert len(lines) == 4
    # globally sorted by (query, rank); 6 fixed columns
    assert [l[0] for l in lines] == ["0", "0", "1", "1"]
    assert [l[3] for l in lines] == ["0", "1", "0", "1"]
    assert all(l[1] == "Q0" and l[5] == "null" for l in lines)


# ---------------------------------------------------------------------------
# testdata schema contract
# ---------------------------------------------------------------------------

#: Expected dtype per column for every driver-generated table. `ts`-like
#: columns accept any of the physical types the testdata has shipped
#: (TIMESTAMP(NANOS)-as-long under nanosAsLong, timestamp, timestamp_ntz)
#: because normalize_event_ts projects them all to long nanos; everything
#: else is pinned exactly. The round-4 ns→µs drift went unseen for a full
#: round precisely because no test loaded the real parquet files.
_TESTDATA_CONTRACT = {
    "region": {"r_regionkey": {"int"}, "r_name": {"string"}},
    "nation": {
        "n_nationkey": {"int"},
        "n_name": {"string"},
        "n_regionkey": {"int"},
    },
    "customer": {
        "c_custkey": {"bigint"},
        "c_name": {"string"},
        "c_nationkey": {"int"},
        "c_acctbal": {"double"},
        "c_mktsegment": {"string"},
    },
    "supplier": {
        "s_suppkey": {"bigint"},
        "s_name": {"string"},
        "s_nationkey": {"int"},
        "s_acctbal": {"double"},
    },
    "part": {
        "p_partkey": {"bigint"},
        "p_name": {"string"},
        "p_brand": {"string"},
        "p_type": {"string"},
        "p_size": {"int"},
        "p_retailprice": {"double"},
    },
    "orders": {
        "o_orderkey": {"bigint"},
        "o_custkey": {"bigint"},
        "o_orderstatus": {"string"},
        "o_totalprice": {"double"},
        "o_orderdate": {"timestamp", "timestamp_ntz"},
        "o_orderpriority": {"string"},
    },
    "lineitem": {
        "l_orderkey": {"bigint"},
        "l_partkey": {"bigint"},
        "l_suppkey": {"bigint"},
        "l_linenumber": {"int"},
        "l_quantity": {"double"},
        "l_extendedprice": {"double"},
        "l_discount": {"double"},
        "l_tax": {"double"},
        "l_returnflag": {"string"},
        "l_linestatus": {"string"},
        "l_shipdate": {"timestamp", "timestamp_ntz"},
    },
    "events": {
        "event_id": {"bigint"},
        "ts": {"bigint", "timestamp", "timestamp_ntz"},
        "user_id": {"bigint"},
        "event_type": {"string"},
        "value": {"double"},
        "props": {"string"},
    },
    "documents": {
        "doc_id": {"bigint"},
        "text": {"string"},
        "lang": {"string"},
        "source": {"string"},
        "n_chars": {"bigint"},
    },
    "embeddings": {
        "vec_id": {"bigint"},
        "embedding": {"array<float>"},
        "label": {"int"},
    },
}

_SF_DIR = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")


@pytest.mark.skipif(
    not os.path.isdir(_SF_DIR), reason="driver testdata not present"
)
def test_testdata_schema_contract(spark):
    """Load every real driver-generated table and pin its dtypes — drift
    in the testdata's physical types must fail loudly here, not surface as
    AnalysisExceptions scattered across the registry."""
    for table, expected in _TESTDATA_CONTRACT.items():
        df = spark.read.parquet(f"{_SF_DIR}/{table}.parquet")
        actual = dict(df.dtypes)
        assert set(actual) == set(expected), (
            f"{table}: columns {sorted(actual)} != {sorted(expected)}"
        )
        for col, allowed in expected.items():
            assert actual[col] in allowed, (
                f"{table}.{col}: dtype {actual[col]!r} not in {sorted(allowed)}"
            )


@pytest.mark.skipif(
    not os.path.isdir(_SF_DIR), reason="driver testdata not present"
)
def test_events_ts_normalized_to_long_nanos(spark):
    """The registry's events access path must yield int64 nanos regardless
    of the parquet physical type, matching DuckDB's epoch_ns convention."""
    import duckdb

    from dataproc_spark.queries import _t

    ev = _t(spark, _SF_DIR, "events")
    assert dict(ev.dtypes)["ts"] == "bigint"
    got = [r.ts for r in ev.orderBy("ts").limit(3).collect()]
    want = [
        r[0]
        for r in duckdb.sql(
            "SELECT epoch_ns(ts) AS ns FROM read_parquet("
            f"'{_SF_DIR}/events.parquet') ORDER BY ns LIMIT 3"
        ).fetchall()
    ]
    assert got == want


def test_normalize_event_ts_all_physical_types(spark, tmp_path):
    """normalize_event_ts must yield identical int64 nanos for every
    physical ts type the testdata could ship: long (NANOS-as-long
    passthrough), timestamp[us] without tz (NTZ), and timestamp[us, UTC]
    (LTZ) — the LTZ branch has no testdata coverage otherwise."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dataproc_spark.core import normalize_event_ts

    micros = [1_704_067_200_000_000, 1_704_070_800_123_456]
    want = [m * 1000 for m in micros]

    cases = {
        "long": pa.table({"ts": pa.array(want, pa.int64())}),
        "ntz": pa.table({"ts": pa.array(micros, pa.timestamp("us"))}),
        "ltz": pa.table({"ts": pa.array(micros, pa.timestamp("us", tz="UTC"))}),
    }
    for name, table in cases.items():
        path = str(tmp_path / f"{name}.parquet")
        pq.write_table(table, path)
        df = normalize_event_ts(spark.read.parquet(path))
        assert dict(df.dtypes)["ts"] == "bigint", name
        got = sorted(r.ts for r in df.collect())
        assert got == want, (name, got)


def test_spread_narrow(spark, tmp_path):
    """File-backed narrow inputs respread to defaultParallelism without
    an RDD plan conversion; already-wide scans pass through unchanged."""
    from dataproc_spark.core import spread_narrow

    p = str(tmp_path / "one")
    spark.range(0, 1000).coalesce(1).write.parquet(p)
    one = spark.read.parquet(p)
    par = spark.sparkContext.defaultParallelism
    assert len(one.inputFiles()) == 1
    spreaded = spread_narrow(one)
    assert spreaded.rdd.getNumPartitions() == par
    # derived frame (no input files) falls back to the RDD probe
    from pyspark.sql import functions as F

    derived = one.groupBy((F.col("id") % 5).alias("k")).count()
    assert spread_narrow(derived).count() == 5


def test_load_selection_rejects_misshapen_score_files(spark, tmp_path):
    """Q4 negative contract (SURVEY.md §2.4): the reference silently
    mis-aligns when the score CSV does not match queries × shards; we
    must fail fast — for SHORT, LONG, and EMPTY files — never produce a
    misaligned frame."""
    from dataproc_spark.io import load_bucket_selection, load_shard_selection

    def write(name, lines):
        p = tmp_path / name
        p.write_text("".join(f"{x}\n" for x in lines))
        return str(p)

    # 2 queries x 2 shards = 4 expected rows
    short = write("short.csv", [0.1, 0.2, 0.3])
    with pytest.raises(ValueError, match="3 rows, expected 4"):
        load_shard_selection(spark, [0, 1], 2, short)
    long = write("long.csv", [0.1, 0.2, 0.3, 0.4, 0.5])
    with pytest.raises(ValueError, match="5 rows, expected 4"):
        load_shard_selection(spark, [0, 1], 2, long)
    empty = write("empty.csv", [])
    with pytest.raises(ValueError, match="0 rows, expected 4"):
        load_shard_selection(spark, [0, 1], 2, empty)
    # bucket variant: 1 query x 2 shards x 3 buckets = 6
    with pytest.raises(ValueError, match="5 rows, expected 6"):
        load_bucket_selection(spark, [0], 2, 3, long)


def test_load_selection_reordered_file_changes_ranks(spark, tmp_path):
    """A REORDERED score file of the right length cannot be detected by
    the cardinality guard — document the contract positively: scores
    bind to the cartesian order (query-major), so permuting the file
    permutes which shard gets which score deterministically."""
    from dataproc_spark.io import load_shard_selection

    p = tmp_path / "s.csv"
    p.write_text("0.9\n0.1\n")
    sel = {(r.query, r.shard): r.rank
           for r in load_shard_selection(spark, [7], 2, str(p)).collect()}
    assert sel == {(7, 0): 0, (7, 1): 1}
    p.write_text("0.1\n0.9\n")
    sel2 = {(r.query, r.shard): r.rank
            for r in load_shard_selection(spark, [7], 2, str(p)).collect()}
    assert sel2 == {(7, 0): 1, (7, 1): 0}


def test_release_cache_on_gc_refcounts_shared_plans(spark):
    """A dying first result must NOT evict the cache of a LIVE second
    call of the same operator: unpersist() drops the CacheManager entry
    by canonicalized-plan equality, so the pins are reference-counted
    per canonical plan (r16 opt — every repeated in-session call used to
    recompute its 'persisted' subtree once per downstream branch)."""
    import gc

    from dataproc_spark.core import cache_store, release_cache_on_gc

    base = spark.range(100).selectExpr("id", "id * 2 as v")

    def one():
        cached = base.groupBy((base.id % 10).alias("k")).count().persist()
        out = cached.selectExpr("k", "count as c")
        return release_cache_on_gc(out, cached), cached

    r1, c1 = one()
    r1.count()
    r2, c2 = one()
    del r1
    gc.collect()
    # first result died; the shared canonical-plan cache must survive
    assert c2.storageLevel.useMemory, "live second pin lost its cache"
    del r2
    gc.collect()
    assert not c2.storageLevel.useMemory, "last pin failed to unpersist"
    _, entries = cache_store(spark)
    assert not any(
        isinstance(v, int) for v in entries.values()
    ), "pin counters leaked"


def test_release_cache_on_gc_concurrent_pins_of_one_plan(spark):
    """Threads registering and dropping pinned results of ONE plan at
    the same time must leave no pin count and no cache entry behind:
    the count is updated under the store's lock, and only the release
    that takes it to zero unpersists."""
    import gc
    import threading

    from dataproc_spark.core import cache_store, release_cache_on_gc

    cm = spark._jsparkSession.sharedState().cacheManager()
    base = spark.range(50).selectExpr("id % 5 as k")

    def plan():
        return base.groupBy("k").count()

    key = plan().semanticHash()
    start = threading.Barrier(6)
    errors = []

    def worker():
        try:
            start.wait()
            held = []
            for i in range(12):
                cached = plan().persist()
                held.append(release_cache_on_gc(cached.select("k"), cached))
                if i % 3 == 2:
                    held.clear()  # drop while other threads register
        except Exception as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    threads = [threading.Thread(target=worker) for _ in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    gc.collect()
    assert not errors, errors
    _, entries = cache_store(spark)
    assert entries.get(key, 0) == 0, "pin count leaked"
    assert cm.lookupCachedData(plan()._jdf).isEmpty(), "cache entry leaked"


def test_release_cache_on_gc_distinct_wide_plans_both_released(spark):
    """Two DISTINCT persisted 30-column plans that differ only after
    field 25 must keep separate pin counters: the plan string truncates
    at spark.sql.debug.maxToStringFields (default 25), and a shared
    counter left one of the two caches pinned after both results died."""
    import gc

    from pyspark.sql import functions as F

    from dataproc_spark.core import release_cache_on_gc

    cm = spark._jsparkSession.sharedState().cacheManager()

    def wide(bump):
        cached = spark.range(3).select(*[
            (F.col("id") + (bump if i == 28 else i)).alias(f"c{i}")
            for i in range(30)
        ]).persist()
        return release_cache_on_gc(cached.select("c0", "c28"), cached), cached

    r1, c1 = wide(1000)
    r2, c2 = wide(2000)
    assert r1.collect() != r2.collect()
    for c in (c1, c2):
        assert not cm.lookupCachedData(c._jdf).isEmpty()
    del r1, r2
    gc.collect()
    for c in (c1, c2):
        assert cm.lookupCachedData(c._jdf).isEmpty(), "a wide plan's cache leaked"
