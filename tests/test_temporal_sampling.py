"""Unit tests for the r2 operators: as-of join, deterministic sampling,
portable simhash/minhash hash families, repetition signals."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from dataproc_spark.temporal import asof_join
from dataproc_spark.extensions import dedup, sampling, textstats


# ---------------------------------------------------------------------------
# asof_join
# ---------------------------------------------------------------------------


@pytest.fixture()
def trades_quotes(spark):
    trades = spark.createDataFrame(
        [(1, 100, "t1"), (1, 205, "t2"), (2, 50, "t3"), (3, 10, "t4")],
        schema="user_id long, ts long, trade string",
    )
    quotes = spark.createDataFrame(
        [(1, 90, 9.0), (1, 200, 20.0), (1, 205, 21.0), (2, 60, 6.0)],
        schema="user_id long, ts long, px double",
    )
    return trades, quotes


def test_asof_basic(spark, trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(trades, quotes, on="ts", by="user_id")
    got = {r.trade: (r.ts_asof, r.px_asof) for r in out.collect()}
    assert got == {
        "t1": (90, 9.0),     # most recent quote before 100
        "t2": (205, 21.0),   # exact-ts quote matches (allow_exact)
        "t3": (None, None),  # user 2's only quote is later
        "t4": (None, None),  # user 3 has no quotes at all
    }
    # left rows and columns preserved
    assert out.count() == trades.count()
    assert out.columns == ["user_id", "ts", "trade", "ts_asof", "px_asof"]


def test_asof_strict(spark, trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(trades, quotes, on="ts", by="user_id", allow_exact=False)
    got = {r.trade: r.ts_asof for r in out.collect()}
    # t2 at ts=205 must now take the ts=200 quote, not the exact-ts one
    assert got["t2"] == 200
    assert got["t1"] == 90


def test_asof_right_cols_subset(spark, trades_quotes):
    trades, quotes = trades_quotes
    out = asof_join(
        trades, quotes.withColumn("junk", F.lit(1)),
        on="ts", by="user_id", right_cols=["px"],
    )
    assert "junk_asof" not in out.columns and "px_asof" in out.columns


def test_asof_plan_is_single_shuffle_no_nested_loop(spark, trades_quotes):
    trades, quotes = trades_quotes
    plan = asof_join(trades, quotes)._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# sampling
# ---------------------------------------------------------------------------


def _md5_hex8(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()[:8]


def test_hash_hex_matches_python_md5(spark):
    df = spark.createDataFrame([(7,), (42,)], schema="id long")
    got = {
        r.id: r.h
        for r in df.select("id", sampling.hash_hex("id", "s").alias("h")).collect()
    }
    assert got == {7: _md5_hex8("7#s"), 42: _md5_hex8("42#s")}


def test_frac_to_hex():
    assert sampling.frac_to_hex(0.0) == "00000000"
    # 'g' sorts above every hex char — the 9-char '100000000' would sort
    # BELOW almost all 8-char hashes and silently keep ~1/16 of rows
    assert sampling.frac_to_hex(1.0) == "g"
    assert sampling.frac_to_hex(0.5) == "80000000"
    assert sampling.frac_to_hex(0.8) == "cccccccc"
    with pytest.raises(ValueError):
        sampling.frac_to_hex(1.5)


def test_hash_split_partitions_every_row_and_is_stable(spark):
    df = spark.createDataFrame([(i,) for i in range(500)], schema="doc_id long")
    out = sampling.hash_split(df, "doc_id", "salt1")
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 500
    assert set(counts) <= {"train", "val", "test"}
    assert counts["train"] > counts.get("val", 0)
    # growth stability: the 500-row prefix of a 1000-row corpus assigns
    # identically (property RNG-based splitting does not have)
    big = sampling.hash_split(
        spark.createDataFrame([(i,) for i in range(1000)], schema="doc_id long"),
        "doc_id", "salt1",
    )
    small_map = {r.doc_id: r.split for r in out.collect()}
    big_map = {r.doc_id: r.split for r in big.collect()}
    assert all(big_map[d] == s for d, s in small_map.items())


def test_hash_split_rejects_bad_weights(spark):
    df = spark.createDataFrame([(1,)], schema="doc_id long")
    with pytest.raises(ValueError):
        sampling.hash_split(df, "doc_id", "s", weights=[("a", 0.5), ("b", 0.1)])


def test_deterministic_sample_reproducible(spark):
    df = spark.createDataFrame([(i,) for i in range(2000)], schema="doc_id long")
    s1 = sorted(r.doc_id for r in sampling.deterministic_sample(df, "doc_id", "x", 0.1).collect())
    s2 = sorted(r.doc_id for r in sampling.deterministic_sample(
        df.repartition(7), "doc_id", "x", 0.1).collect())
    assert s1 == s2 and 100 < len(s1) < 320  # ~10% of 2000, partition-independent


def test_stratified_sample_exact_k(spark):
    rows = [(i, "a" if i % 2 else "b") for i in range(100)] + [(100, "c")]
    df = spark.createDataFrame(rows, schema="doc_id long, g string")
    out = sampling.stratified_sample(df, ["g"], k=3, id_col="doc_id", salt="s")
    counts = {r.g: r.n for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts == {"a": 3, "b": 3, "c": 1}  # min(k, |stratum|)


# ---------------------------------------------------------------------------
# portable hash families
# ---------------------------------------------------------------------------


def test_portable_simhash_matches_python_reference(spark):
    """Fingerprints must equal an independent pure-Python md5_32 simhash."""
    texts = ["the cat sat on the mat", "a b a b a b", "solo"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               schema="doc_id long, text string")
    got = {
        r.doc_id: r.simhash
        for r in dedup.simhash_frame(df, bits=32, token_hash="md5_32").collect()
    }

    def py_simhash(text: str) -> int:
        toks = [t for t in text.split() if t]
        counts = [0] * 32
        for t in toks:
            h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
            for b in range(32):
                counts[b] += 1 if (h >> b) & 1 else -1
        return sum(1 << b for b in range(32) if counts[b] > 0)

    assert got == {i: py_simhash(t) for i, t in enumerate(texts)}


def test_portable_simhash_rejects_wide_bits(spark):
    with pytest.raises(ValueError):
        dedup.simhash(F.col("x"), bits=48, token_hash="md5_32")
    with pytest.raises(ValueError):
        dedup.simhash(F.col("x"), bits=32, token_hash="sha999")


def test_minhash_families_are_independent(spark):
    """Regression: a binary-arity lambda once collapsed every xxhash64
    'family' into one expression (the index column shadowed the family
    index) — signatures were 32 copies of the same min-hash."""
    df = spark.createDataFrame(
        [(1, "w x y z q r s t u v")], schema="doc_id long, text string"
    )
    sig = dedup.minhash_frame(df, num_hashes=8, shingle_size=2).collect()[0]["_sig"]
    assert len(set(sig)) > 1, "all hash families produced the same value"


def test_minhash_sig_arrow_expr_parity(spark):
    """The xxhash64 signature is pinned BIT-FOR-BIT to its definition:
    family ``i`` of a document is ``min_s xxhash64(lit(s), lit(i))``
    over its distinct shingles, each hash evaluated per shingle and
    reduced in Python — across unicode text, single-shingle docs,
    repeated shingles, and string ids. A family collapse (the
    binary-arity lambda bug) or drift would silently change LSH
    candidates (and so every minhash gate's row count)."""
    rows = [
        ("a", "héllo wörld ünïcode héllo wörld"),
        ("b", "x y"),
        ("c", ("tok " * 40).strip()),
        ("d", "a b c d e f g h"),
        ("e", None),
        ("f", "short"),
    ]
    df = spark.createDataFrame(rows, schema="doc_id string, text string")
    for nh, ss in ((8, 2), (32, 3), (3, 1)):
        got = {
            r["doc_id"]: (list(r["_shingles"]), list(r["_sig"]))
            for r in dedup.minhash_frame(
                df, num_hashes=nh, shingle_size=ss
            ).collect()
        }
        want_sh = {}
        for doc_id, text in rows:
            toks = (text or "").split()
            if len(toks) < ss:
                continue
            grams = [" ".join(toks[j:j + ss])
                     for j in range(len(toks) - ss + 1)]
            want_sh[doc_id] = list(dict.fromkeys(grams))
        cells = sorted({g for sh in want_sh.values() for g in sh})
        h = spark.range(1).select(*[
            F.xxhash64(F.lit(g), F.lit(i)).alias(f"h{k}_{i}")
            for k, g in enumerate(cells) for i in range(nh)
        ]).first()
        hv = {(g, i): h[f"h{k}_{i}"]
              for k, g in enumerate(cells) for i in range(nh)}
        want = {
            d: (sh, [min(hv[(g, i)] for g in sh) for i in range(nh)])
            for d, sh in want_sh.items()
        }
        assert got == want, f"signature drift at nh={nh} ss={ss}"
        assert any(len(set(sig)) > 1 for _, sig in want.values())


def test_portable_minhash_signature_matches_python(spark):
    df = spark.createDataFrame([(1, "a b c d")], schema="doc_id long, text string")
    sig = dedup.minhash_frame(
        df, num_hashes=4, shingle_size=2, portable=True
    ).collect()[0]["_sig"]
    sh = ["a b", "b c", "c d"]
    expected = [
        min(hashlib.md5(f"{s}#{i}".encode()).hexdigest() for s in sh)
        for i in range(4)
    ]
    assert sig == expected


# ---------------------------------------------------------------------------
# repetition features
# ---------------------------------------------------------------------------


def test_repetition_features_fixture(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a a"),        # all dup tokens; top bigram 'a a' = 3/3
            (2, "w x y z"),        # no repetition
            (3, "one"),            # too short for bigrams
            (4, ""),               # empty
        ],
        schema="doc_id long, text string",
    )
    got = {
        r.doc_id: (r.dup_token_m, r.top_bigram_m)
        for r in textstats.repetition_features(df).collect()
    }
    assert got == {
        1: (750, 1000),  # 3 of 4 tokens are repeats; 'a a' is every bigram
        2: (0, 333),     # 3 distinct bigrams, top covers 1 of 3 → 1000//3
        3: (0, 0),
        4: (0, 0),
    }


def test_repetition_distinct_bigrams(spark):
    df = spark.createDataFrame([(2, "w x y z")], schema="doc_id long, text string")
    r = textstats.repetition_features(df).collect()[0]
    assert (r.dup_token_m, r.top_bigram_m) == (0, 333)


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------


def test_pack_greedy_fixture(spark):
    from dataproc_spark.extensions import packing

    df = spark.createDataFrame(
        [(1, "a", 400), (2, "a", 500), (3, "a", 200), (4, "a", 1500),
         (5, "a", 100), (6, "b", 999)],
        schema="doc_id long, source string, n_chars long",
    )
    out = packing.pack_greedy(df, size_col="n_chars", budget=1000)
    got = {r.doc_id: r.bin_id for r in out.collect()}
    # a: 400+500=900 | 200 then 1500 overflows -> oversized row alone | 100
    assert got == {1: 0, 2: 0, 3: 1, 4: 2, 5: 3, 6: 0}


def test_pack_greedy_partition_independent(spark):
    from dataproc_spark.extensions import packing

    rows = [(i, f"s{i % 3}", 100 + (i * 37) % 400) for i in range(60)]
    df = spark.createDataFrame(rows, schema="doc_id long, source string, n_chars long")
    a = {r.doc_id: r.bin_id for r in
         packing.pack_greedy(df, "n_chars", 700).collect()}
    b = {r.doc_id: r.bin_id for r in
         packing.pack_greedy(df.repartition(13), "n_chars", 700).collect()}
    assert a == b


def test_pack_greedy_rejects_bad_budget(spark):
    from dataproc_spark.extensions import packing

    df = spark.createDataFrame([(1, "a", 10)], schema="doc_id long, source string, n_chars long")
    with pytest.raises(ValueError):
        packing.pack_greedy(df, "n_chars", 0)


def test_tfidf_rank_prefers_rare_terms(spark):
    df = spark.createDataFrame(
        [(1, "common rare rare"), (2, "common x"), (3, "common y")],
        schema="doc_id long, text string",
    )
    out = textstats.tfidf_top_terms(df, k=1)
    top = {r.doc_id: r.term for r in out.collect()}
    # 'common' has df=3; each doc's distinctive term has df=1
    assert top == {1: "rare", 2: "x", 3: "y"}


# ---------------------------------------------------------------------------
# interval_join / mixture_sample
# ---------------------------------------------------------------------------


def test_interval_join_semantics(spark):
    from dataproc_spark.temporal import interval_join

    pts = spark.createDataFrame(
        [(1, 50), (2, 100), (3, 199), (4, 200), (5, 250)],
        schema="pid long, ts long",
    )
    ivals = spark.createDataFrame(
        [(10, 100, 200), (11, 240, 260)], schema="iid long, start long, end long"
    )
    out = interval_join(pts, ivals, bucket_ns=64)
    got = {(r.pid, r.iid) for r in out.collect()}
    # start inclusive, end exclusive; intervals span multiple buckets
    assert got == {(2, 10), (3, 10), (5, 11)}


def test_interval_join_no_nested_loop(spark):
    from dataproc_spark.temporal import interval_join

    pts = spark.createDataFrame([(1, 50)], schema="pid long, ts long")
    ivals = spark.createDataFrame([(10, 0, 100)], schema="iid long, start long, end long")
    plan = interval_join(pts, ivals)._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_interval_join_by_keys(spark):
    from dataproc_spark.temporal import interval_join

    pts = spark.createDataFrame([(1, "u", 150), (2, "w", 150)],
                                schema="pid long, k string, ts long")
    ivals = spark.createDataFrame([(10, "u", 100, 200)],
                                  schema="iid long, k string, start long, end long")
    out = interval_join(pts, ivals, by=["k"], bucket_ns=1000)
    assert {(r.pid, r.iid) for r in out.select("pid", "iid").collect()} == {(1, 10)}


def test_interval_join_ns_epoch_exact_above_2_53(spark):
    """Bucket ids must come from 64-bit integer math: ns epochs (~1.7e18)
    are above 2^53, so a double division inside the bucket expression
    rounds the numerator and floors points into the WRONG bucket — the
    equi-join then silently drops true (point, interval) matches. This
    pins bucket_ns=1000 (not a power of two) at boundary-straddling
    timestamps; the double-division implementation fails it."""
    from dataproc_spark.temporal import interval_join

    base = 1_700_000_000_123_456_000  # multiple of 1000 → a bucket boundary
    offs = [-1001, -1000, -999, -501, -1, 0, 1, 499, 999, 1000, 1001, 2499]
    pts_rows = [(i, base + o) for i, o in enumerate(offs)]
    ival_rows = [
        (100, base, base + 1000),          # exactly one bucket
        (101, base - 1000, base),          # the bucket just below
        (102, base + 500, base + 2500),    # straddles three buckets
        (103, base - 499, base + 501),     # straddles the base boundary
    ]
    pts = spark.createDataFrame(pts_rows, schema="pid long, ts long")
    ivals = spark.createDataFrame(
        ival_rows, schema="iid long, start long, end long"
    )
    got = {
        (r.pid, r.iid)
        for r in interval_join(pts, ivals, bucket_ns=1000).collect()
    }
    want = {
        (pid, iid)
        for pid, ts in pts_rows
        for iid, s, e in ival_rows
        if s <= ts < e
    }
    assert got == want


def test_interval_join_rejects_bk_clash(spark):
    from dataproc_spark.temporal import interval_join

    pts = spark.createDataFrame([(1, 50, 0)], schema="pid long, ts long, _bk long")
    ivals = spark.createDataFrame(
        [(10, 0, 100)], schema="iid long, start long, end long"
    )
    with pytest.raises(ValueError, match="_bk"):
        interval_join(pts, ivals)
    with pytest.raises(ValueError, match="_bk"):
        interval_join(
            ivals.selectExpr("iid as pid", "start as ts"),
            ivals.withColumn("_bk", F.lit(0)),
        )


def test_asof_rejects_internal_column_clash(spark, trades_quotes):
    trades, quotes = trades_quotes
    with pytest.raises(ValueError, match="_side"):
        asof_join(trades.withColumn("_side", F.lit(9)), quotes)
    with pytest.raises(ValueError, match="_r"):
        asof_join(trades.withColumn("_r", F.lit(9)), quotes)


def test_mixture_sample_rates(spark):
    rows = [(i, "a" if i < 1000 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows, schema="doc_id long, g string")
    out = sampling.mixture_sample(
        df, {"a": 1.0, "b": 0.2}, group_col="g", id_col="doc_id", salt="m"
    )
    counts = {r.g: r.n for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts["a"] == 1000            # fraction 1.0 keeps everything
    assert 120 < counts["b"] < 300        # ~20% of 1000
    # default 0.0 drops unknown groups entirely
    out2 = sampling.mixture_sample(
        df, {"a": 0.5}, group_col="g", id_col="doc_id", salt="m"
    )
    assert out2.where(F.col("g") == "b").count() == 0


def test_asof_rejects_column_clash(spark, trades_quotes):
    trades, quotes = trades_quotes
    with pytest.raises(ValueError, match="suffix"):
        asof_join(trades.withColumn("px_asof", F.lit(0)), quotes)


def test_interval_join_single_key_copy(spark):
    from dataproc_spark.temporal import interval_join

    pts = spark.createDataFrame([(1, "u", 150)], schema="pid long, k string, ts long")
    ivals = spark.createDataFrame([(10, "u", 100, 200)],
                                  schema="iid long, k string, start long, end long")
    out = interval_join(pts, ivals, by=["k"], bucket_ns=1000)
    assert out.columns.count("k") == 1


def test_pack_greedy_null_sizes_raise(spark):
    from dataproc_spark.extensions import packing

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", None)], schema="doc_id long, source string, n_chars long"
    )
    with pytest.raises(Exception, match="null"):
        packing.pack_greedy(df, "n_chars", 100).collect()


# ---------------------------------------------------------------------------
# review regressions: torn rows, null-on leak, malformed intervals,
# packing tie determinism
# ---------------------------------------------------------------------------


def test_asof_carries_rows_atomically(spark):
    # a null right-side value must stay null in the match, not be filled
    # from an OLDER right row (per-column last(ignorenulls) tearing)
    right = spark.createDataFrame(
        [(1, 100, 10, 3.0), (1, 200, 5, None)],
        schema="k int, ts long, click_id int, v double",
    )
    left = spark.createDataFrame([(1, 300)], schema="k int, ts long")
    [r] = asof_join(left, right, on="ts", by="k").collect()
    assert (r.ts_asof, r.click_id_asof, r.v_asof) == (200, 5, None)


def test_asof_ignores_null_right_timestamps(spark):
    # a right row with a null `on` sorts first under asc ordering; it must
    # be dropped, not leak its values into every left row of the key
    right = spark.createDataFrame(
        [(1, None, 99, 9.0), (1, 100, 10, 3.0)],
        schema="k int, ts long, click_id int, v double",
    )
    left = spark.createDataFrame([(1, 50), (1, 300)], schema="k int, ts long")
    got = {r.ts: r for r in asof_join(left, right, on="ts", by="k").collect()}
    assert got[50].click_id_asof is None  # no prior right row at all
    assert got[300].click_id_asof == 10


def test_interval_join_malformed_interval_matches_nothing(spark):
    # end <= start must yield zero buckets, not a huge descending
    # sequence(a, b) explosion (~472k rows per bad interval)
    from dataproc_spark.temporal import interval_join

    iv = spark.createDataFrame(
        [(1, 1_700_000_000_000_000_000, 0), (1, 0, 7_200_000_000_000)],
        schema="k int, start long, end long",
    )
    pts = spark.createDataFrame([(1, 500)], schema="k int, ts long")
    rows = interval_join(pts, iv, by=["k"]).collect()
    assert len(rows) == 1 and rows[0]["end"] == 7_200_000_000_000


def test_pack_greedy_rejects_ambiguous_ties(spark):
    # duplicate (order_col, size_col) keys would make bins depend on the
    # shuffle-dependent arrival order the stable sort preserves
    from dataproc_spark.extensions import packing

    df = spark.createDataFrame(
        [(7, "g", 5, "a"), (7, "g", 5, "b"), (8, "g", 3, "c")],
        schema="doc_id long, source string, n_chars long, payload string",
    )
    with pytest.raises(Exception, match="partition-order-dependent"):
        packing.pack_greedy(df, "n_chars", 10).collect()
    # a tie-break column restoring a total order makes it deterministic
    out = packing.pack_greedy(
        df, "n_chars", 10, tie_break_cols=("payload",)
    ).collect()
    assert {(r.payload, r.bin_id) for r in out} == {("a", 0), ("b", 0), ("c", 1)}


# ---------------------------------------------------------------------------
# temperature_mixture / group_percentile
# ---------------------------------------------------------------------------


def test_temperature_mixture_hits_group_targets(spark):
    """Per-group output counts land within 1 row of target = B*w_g//W for
    each group, and repeats carry distinct 0-based epoch indexes."""
    import math

    rows = [(i, "big") for i in range(400)] + [(1000 + i, "small") for i in range(16)]
    df = spark.createDataFrame(rows, schema="doc_id long, source string")
    budget = 200
    out = sampling.temperature_mixture(
        df, group_col="source", id_col="doc_id", salt="s1", budget_rows=budget
    ).toPandas()
    w = {"big": math.isqrt(400), "small": math.isqrt(16)}  # 20, 4
    tw = sum(w.values())
    for g, wg in w.items():
        target = budget * wg // tw
        got = (out.source == g).sum()
        # copies are exact; the fractional remainder is a hash draw with
        # expectation equal to the remainder — the draw over n rows can
        # deviate, but copies*n <= got always holds
        n_g = 400 if g == "big" else 16
        assert got >= (target // n_g) * n_g
        assert abs(got - target) <= max(10, n_g // 3)
    # small group (n=16, target=33) must upsample: every row appears >= 2x
    small = out[out.source == "small"]
    assert small.groupby("doc_id").size().min() >= 2
    # epochs are dense 0..k-1 per doc
    for _, grp in out.groupby("doc_id"):
        assert sorted(grp.epoch) == list(range(len(grp)))


def test_temperature_mixture_deterministic_and_append_stable(spark):
    df = spark.createDataFrame(
        [(i, "a" if i % 3 else "b") for i in range(90)],
        schema="doc_id long, source string",
    )
    a = sampling.temperature_mixture(df, "source", "doc_id", "s", 45).toPandas()
    b = sampling.temperature_mixture(df, "source", "doc_id", "s", 45).toPandas()
    key = lambda d: sorted(map(tuple, d[["doc_id", "epoch"]].values.tolist()))
    assert key(a) == key(b)


def test_group_percentile_bounds_and_ties(spark):
    from dataproc_spark.extensions.analytics import group_percentile

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "a", 20), (4, "a", 40), (5, "b", 7)],
        schema="doc_id long, g string, score long",
    )
    out = group_percentile(df, ["g"], "score", ["doc_id"]).toPandas()
    got = dict(zip(out.doc_id, out.permille))
    # group a: ranks 1..4 over ties broken by doc_id -> 0, 333, 666, 1000
    assert got[1] == 0 and got[2] == 333 and got[3] == 666 and got[4] == 1000
    # singleton group: (1-1)*1000 div max(0,1) = 0
    assert got[5] == 0
