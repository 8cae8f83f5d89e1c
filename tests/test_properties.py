"""Property-based tests: random small inputs, Spark operators vs an
independent Python model of the documented semantics (SURVEY.md §2.1).

The models are written from the semantic spec (top-t semi-join; decayed
bucket budgets; greedy budget walk), not from either implementation, so
they arbitrate both. Example counts are small — each example is a real
Spark job.
"""

from __future__ import annotations

import math

from hypothesis import given, settings, strategies as st

from dataproc_spark.selective import (
    decayed_buckets,
    resolve_bucket_selection,
    select,
    select_with_decay,
)


def _mk_results(spark, rows):
    return spark.createDataFrame(
        rows, schema="query long, shard long, bucket long, score double"
    )


def _mk_selection(spark, ranks):
    return spark.createDataFrame(
        [(q, s, r) for (q, s), r in ranks.items()],
        schema="query long, shard long, rank long",
    )


@st.composite
def scenario(draw):
    n_queries = draw(st.integers(1, 3))
    n_shards = draw(st.integers(1, 4))
    n_buckets = draw(st.integers(1, 3))
    rows = []
    for q in range(n_queries):
        n_rows = draw(st.integers(0, 6))
        for _ in range(n_rows):
            rows.append(
                (
                    q,
                    draw(st.integers(0, n_shards - 1)),
                    draw(st.integers(0, n_buckets - 1)),
                    float(draw(st.integers(0, 20))),
                )
            )
    ranks = {}
    for q in range(n_queries):
        perm = draw(st.permutations(list(range(n_shards))))
        for s, r in zip(range(n_shards), perm):
            ranks[(q, s)] = r
    t = draw(st.integers(1, n_shards + 1))
    return rows, ranks, t, n_shards, n_buckets


@settings(max_examples=12, deadline=None)
@given(scenario())
def test_select_matches_model(spark, sc):
    rows, ranks, t, _, _ = sc
    # select keeps matching result rows as a multiset
    from collections import Counter

    got_rows = [
        tuple(r)
        for r in select(
            _mk_selection(spark, ranks), _mk_results(spark, rows), t
        ).collect()
    ]
    want_rows = [row for row in rows if ranks[(row[0], row[1])] < t]
    assert Counter(got_rows) == Counter(want_rows)


@settings(max_examples=10, deadline=None)
@given(scenario(), st.sampled_from([0.3, 0.5, 0.8, 1.0]))
def test_select_with_decay_matches_model(spark, sc, decay):
    rows, ranks, t, n_shards, n_buckets = sc
    got = [
        tuple(r)
        for r in select_with_decay(
            _mk_selection(spark, ranks), _mk_results(spark, rows), t, decay
        ).collect()
    ]
    if decay == 1.0:
        want = [row for row in rows if ranks[(row[0], row[1])] < t]
    else:
        max_bucket = max((b for (_, _, b, _) in rows), default=None)
        if max_bucket is None:
            want = []
        else:
            budgets = decayed_buckets(max_bucket + 1, t, decay)
            want = [
                (q, s, b, sco)
                for (q, s, b, sco) in rows
                if ranks[(q, s)] < t and b < budgets[ranks[(q, s)]]
            ]
    from collections import Counter

    assert Counter(got) == Counter(want)


def _greedy_model(bucket_rows, threshold, num_shards):
    """Greedy budget walk per the reference spec (selectivesearch.py:160-181)."""
    out = set()
    by_query = {}
    for (q, s, b, r) in bucket_rows:
        by_query.setdefault(q, []).append((r, s, b))
    for q, items in by_query.items():
        selected = [0] * num_shards
        used = 0
        for r, s, b in sorted(items):
            if used == threshold:
                break
            cost = b + 1 - selected[s]
            if cost < 1:
                continue
            if used + cost <= threshold:
                selected[s] += cost
                used += cost
        for s, n in enumerate(selected):
            for b in range(n):
                out.add((q, s, b))
    return out


@st.composite
def bucket_scenario(draw):
    n_queries = draw(st.integers(1, 3))
    n_shards = draw(st.integers(1, 3))
    n_buckets = draw(st.integers(1, 3))
    rows = []
    for q in range(n_queries):
        cells = [(s, b) for s in range(n_shards) for b in range(n_buckets)]
        perm = draw(st.permutations(list(range(len(cells)))))
        for (s, b), r in zip(cells, perm):
            rows.append((q, s, b, r))
    threshold = draw(st.integers(1, n_shards * n_buckets))
    return rows, threshold, n_shards


@settings(max_examples=10, deadline=None)
@given(bucket_scenario())
def test_resolve_buckets_matches_model(spark, sc):
    rows, threshold, n_shards = sc
    sel = spark.createDataFrame(
        rows, schema="query long, shard long, bucket long, rank long"
    )
    got = {tuple(r) for r in resolve_bucket_selection(sel, threshold).collect()}
    assert got == _greedy_model(rows, threshold, n_shards)


def test_decayed_buckets_properties():
    # monotone non-increasing, positive, first = ceil(num_buckets)
    for nb in (1, 2, 7, 10):
        for t in (1, 3, 6):
            for d in (0.1, 0.5, 0.9, 1.0):
                seq = decayed_buckets(nb, t, d)
                assert len(seq) == t
                assert seq[0] == math.ceil(nb)
                assert all(a >= b for a, b in zip(seq, seq[1:]))
                assert all(x >= 1 for x in seq)


def _evaluate_model(shard_ranks, result_rows, k, num_steps):
    """Independent model of the evaluation sweep: at step s, results from
    shards ranked < s, ordered by the key (a, gr) as Spark orders a
    struct (NULL a first). Relevance may be NULL (an unjudged result).
    P@k = mean non-NULL rel over the first k rows (NULL when none);
    AP@k divides by every relevant (rel > 0) row in the prefix; nDCG@k's
    ideal order is rel descending with NULL last."""
    out = {}
    queries = {r[0] for r in result_rows} | {q for (q, _) in shard_ranks}
    for q in queries:
        for step in range(1, num_steps + 1):
            hits = sorted(
                ((a is not None, a or 0, gr), rel)
                for (qq, s, a, gr, rel) in result_rows
                if qq == q and shard_ranks.get((qq, s), 10**9) < step
            )
            if not hits:
                continue  # groupBy emits no row for empty selections
            rels = [rel for (_, rel) in hits]
            judged = [r for r in rels[:k] if r is not None]
            p = sum(judged) / len(judged) if judged else None
            relevant = [r is not None and r > 0 for r in rels]
            ap, seen = 0.0, 0
            for i, hit in enumerate(relevant[:k]):
                seen += hit
                ap += seen / (i + 1) if hit else 0.0
            ap = ap / sum(relevant) if any(relevant) else 0.0

            def dcg(rs):
                return sum(r / math.log2(i + 2)
                           for i, r in enumerate(rs[:k]) if r is not None)

            ideal = sorted(rels, key=lambda r: (r is None, -(r or 0)))
            idcg = dcg(ideal)
            ndcg = dcg(rels) / idcg if idcg > 0 else 0.0
            out[(q, step)] = (p, len(hits), ap, ndcg)
    return out


@st.composite
def eval_scenario(draw):
    n_queries = draw(st.integers(1, 3))
    n_shards = draw(st.integers(2, 4))
    shard_ranks = {}
    for q in range(n_queries):
        perm = draw(st.permutations(list(range(n_shards))))
        for s, r in zip(range(n_shards), perm):
            shard_ranks[(q, s)] = r
    rows = []
    gr = 0
    for q in range(n_queries):
        n = draw(st.integers(0, 8))
        for i in range(n):
            gr += 1
            rows.append(
                (q, draw(st.integers(0, n_shards - 1)),
                 draw(st.sampled_from([None, 0, 1])), gr,
                 draw(st.sampled_from([None, 0, 1, 2])))
            )
    num_steps = draw(st.integers(1, n_shards))
    return shard_ranks, rows, num_steps


@settings(max_examples=10, deadline=None)
@given(eval_scenario(), st.sampled_from([2, 5]))
def test_evaluate_sweep_matches_model(spark, sc, k):
    from pyspark.sql import functions as F

    from dataproc_spark.measures import (
        average_precision,
        ndcg_at,
        num_retrieved,
        precision_at,
    )
    from dataproc_spark.selective import evaluate

    shard_ranks, rows, num_steps = sc
    shards = spark.createDataFrame(
        [(q, s, r) for (q, s), r in shard_ranks.items()],
        schema="query long, shard long, rank long",
    )
    # the order key is a struct whose first field may be NULL; `gr`
    # makes the order total
    results = spark.createDataFrame(
        rows, schema="query long, shard long, a long, gr long, rel int"
    ).select("query", "shard", F.struct("a", "gr").alias("key"), "rel")
    out = evaluate(
        shards, results,
        {"rel": [precision_at(k, name="p"), num_retrieved(),
                 average_precision(k, name="ap"), ndcg_at(k, name="ndcg")]},
        num_shards=num_steps, order_col="key",
    )
    got = {(r.query, r.step): (r.p, r.num_ret, r.ap, r.ndcg)
           for r in out.collect()}
    want = _evaluate_model(shard_ranks, rows, k, num_steps)
    assert set(got) == set(want)
    for key in want:
        g, w = got[key], want[key]
        assert g[1] == w[1], (key, g, w)
        assert (g[0] is None) == (w[0] is None), (key, g, w)
        for gv, wv in zip(g[:1] + g[2:], w[:1] + w[2:]):
            if wv is not None:
                assert abs(gv - wv) < 1e-12, (key, g, w)


# ---------------------------------------------------------------------------
# r2 operators vs independent models
# ---------------------------------------------------------------------------


@st.composite
def asof_scenario(draw):
    n_keys = draw(st.integers(1, 3))
    lefts, rights = [], []
    lid = 0
    for k in range(n_keys):
        for _ in range(draw(st.integers(0, 5))):
            lefts.append((k, draw(st.integers(0, 50)), lid)); lid += 1
        for _ in range(draw(st.integers(0, 5))):
            rights.append((k, draw(st.integers(0, 50))))
    # dedupe right (key, ts) — ties there are documented as arbitrary
    rights = sorted({(k, t) for k, t in rights})
    return lefts, rights


@given(asof_scenario())
@settings(max_examples=12, deadline=None)
def test_asof_join_matches_python_model(spark, scn):
    from dataproc_spark.temporal import asof_join

    lefts, rights = scn
    if not lefts or not rights:
        return
    ldf = spark.createDataFrame(lefts, schema="k long, ts long, lid long")
    rdf = spark.createDataFrame(
        [(k, t, float(t)) for k, t in rights], schema="k long, ts long, v double"
    )
    out = asof_join(ldf, rdf, on="ts", by="k")
    got = {r.lid: r.ts_asof for r in out.collect()}

    def model(k, ts):
        cands = [t for (rk, t) in rights if rk == k and t <= ts]
        return max(cands) if cands else None

    assert got == {lid: model(k, ts) for k, ts, lid in lefts}


@given(st.lists(st.integers(1, 30), min_size=0, max_size=12),
       st.integers(10, 40))
@settings(max_examples=12, deadline=None)
def test_pack_greedy_matches_python_model(spark, sizes, budget):
    from dataproc_spark.extensions import packing

    if not sizes:
        return
    rows = [(i, "g", s) for i, s in enumerate(sizes)]
    df = spark.createDataFrame(rows, schema="doc_id long, source string, n_chars long")
    got = {r.doc_id: r.bin_id
           for r in packing.pack_greedy(df, "n_chars", budget).collect()}

    bins, acc, bid = {}, 0, 0
    for i, s in enumerate(sizes):
        if acc > 0 and acc + s > budget:
            bid, acc = bid + 1, 0
        acc += s
        bins[i] = bid
    assert got == bins
    # invariant: no bin exceeds budget unless it holds a single oversized row
    from collections import Counter, defaultdict
    fill = defaultdict(int); members = Counter()
    for i, s in enumerate(sizes):
        fill[got[i]] += s; members[got[i]] += 1
    for b, tot in fill.items():
        assert tot <= budget or members[b] == 1


# ---------------------------------------------------------------------------
# corpus shaping vs python models
# ---------------------------------------------------------------------------

_WORDS = st.lists(
    st.text(alphabet="abcxyz", min_size=1, max_size=4), min_size=0, max_size=30
)


@given(st.lists(_WORDS, min_size=1, max_size=5), st.integers(1, 7))
@settings(max_examples=10, deadline=None)
def test_chunk_documents_matches_python_model(spark, docs, k):
    from dataproc_spark.extensions import corpus

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        schema="doc_id long, text string",
    )
    got = {
        (r.doc_id, r.chunk_id): (r.chunk_text, r.n_tokens)
        for r in corpus.chunk_documents(df, chunk_tokens=k).collect()
    }
    expect = {}
    for i, ws in enumerate(docs):
        for c in range((len(ws) + k - 1) // k):
            part = ws[c * k : (c + 1) * k]
            expect[(i, c)] = (" ".join(part), len(part))
    assert got == expect


@given(st.lists(_WORDS, min_size=1, max_size=4))
@settings(max_examples=10, deadline=None)
def test_inverted_index_matches_python_model(spark, docs):
    from collections import defaultdict

    from dataproc_spark.extensions import corpus

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        schema="doc_id long, text string",
    )
    got = {
        (r.term, r.doc_id): (r.tf, r.positions)
        for r in corpus.inverted_index(df).collect()
    }
    expect = {}
    for i, ws in enumerate(docs):
        pos = defaultdict(list)
        for p, w in enumerate(ws):
            pos[w].append(p)
        for w, ps in pos.items():
            expect[(w, i)] = (len(ps), ",".join(str(p) for p in ps))
    assert got == expect


@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=8),
        min_size=1,
        max_size=6,
    ),
    st.integers(1, 3),
    st.integers(2, 3),
)
@settings(max_examples=10, deadline=None)
def test_remove_repeated_spans_matches_python_model(spark, docs, n, min_df):
    """Tiny vocabulary forces cross-document n-gram overlap; the model
    recomputes covered positions independently of the relational plan."""
    from dataproc_spark.extensions.corpus import remove_repeated_spans

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        schema="doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_removed, r.text_clean)
        for r in remove_repeated_spans(df, n=n, min_df=min_df).collect()
    }

    grams: dict[str, set[int]] = {}
    for i, ws in enumerate(docs):
        for p in range(len(ws) - n + 1):
            grams.setdefault(" ".join(ws[p : p + n]), set()).add(i)
    hot = {g for g, owners in grams.items() if len(owners) >= min_df}
    expect = {}
    for i, ws in enumerate(docs):
        covered = set()
        for p in range(len(ws) - n + 1):
            if " ".join(ws[p : p + n]) in hot:
                covered.update(range(p, p + n))
        kept = [w for j, w in enumerate(ws) if j not in covered]
        expect[i] = (len(covered), " ".join(kept))
    assert got == expect


@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),                      # user
            st.integers(0, 50),                     # ts
            st.sampled_from(["view", "click", "purchase", "other"]),
        ),
        min_size=0,
        max_size=25,
    )
)
@settings(max_examples=10, deadline=None)
def test_funnel_matches_python_model(spark, events):
    from dataproc_spark.extensions.analytics import funnel

    df = spark.createDataFrame(
        [(u, t, e) for u, t, e in events] or [(99, 0, "noop")],
        schema="user_id long, ts long, event_type string",
    )
    got = {
        r.user_id: (r.t_view, r.t_click, r.t_purchase, r.steps)
        for r in funnel(df, steps=("view", "click", "purchase")).collect()
    }
    expect = {}
    users = {u for u, _, _ in events}
    for u in users:
        mine = [(t, e) for uu, t, e in events if uu == u]
        tv = min((t for t, e in mine if e == "view"), default=None)
        if tv is None:
            continue
        tc = min((t for t, e in mine if e == "click" and t > tv), default=None)
        tp = (
            min((t for t, e in mine if e == "purchase" and t > tc), default=None)
            if tc is not None
            else None
        )
        expect[u] = (tv, tc, tp, 1 + (tc is not None) + (tp is not None))
    assert got == expect


@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),                      # user
            st.integers(-20, 20),                   # ts (pre-1970 included)
            st.sampled_from(["signup", "view"]),
        ),
        min_size=0,
        max_size=25,
    ),
    st.sampled_from([3, 5]),
)
@settings(max_examples=10, deadline=None)
def test_retention_matrix_matches_python_model(spark, events, period):
    from dataproc_spark.extensions.analytics import retention_matrix

    df = spark.createDataFrame(
        [(u, t, e) for u, t, e in events] or [(99, 0, "noop")],
        schema="user_id long, ts long, event_type string",
    )
    got = {
        (r.cohort_period, r.period_offset): r.n_users
        for r in retention_matrix(df, "signup", period).collect()
    }
    import math

    expect: dict = {}
    users = {u for u, _, _ in events}
    for u in users:
        mine = [(t, e) for uu, t, e in events if uu == u]
        signups = [math.floor(t / period) for t, e in mine if e == "signup"]
        if not signups:
            continue
        cw = min(signups)
        for w in {math.floor(t / period) for t, _ in mine}:
            if w >= cw:
                k = (cw, w - cw)
                expect[k] = expect.get(k, 0) + 1
    assert got == expect


@given(
    st.lists(
        st.tuples(st.integers(1, 9), st.integers(0, 4)),  # (weight, score)
        min_size=0,
        max_size=20,
    ),
    st.integers(0, 40),
)
@settings(max_examples=10, deadline=None)
def test_select_under_budget_matches_python_model(spark, items, budget):
    """The histogram decomposition must reproduce the one-window
    cumulative-prefix semantics exactly, including ties and zero-weight
    rows."""
    from dataproc_spark.extensions.analytics import select_under_budget

    df = spark.createDataFrame(
        [(i, w, s) for i, (w, s) in enumerate(items)] or [(0, 1, 0)],
        schema="doc_id long, n_tokens long, score_m long",
    )
    rows = [(i, w, s) for i, (w, s) in enumerate(items)] or [(0, 1, 0)]
    cum, expect = 0, {}
    for i, w, s in sorted(rows, key=lambda r: (-r[2], r[0])):
        cum += w
        if cum <= budget:
            expect[i] = (s, w, cum)
    got = {
        r.doc_id: (r.score_m, r.n_tokens, r.cum_weight)
        for r in select_under_budget(df, budget).collect()
    }
    assert got == expect


@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=6),
        min_size=1,
        max_size=5,
    ),
    st.integers(2, 3),
)
@settings(max_examples=10, deadline=None)
def test_rare_bigram_stats_matches_python_model(spark, docs, min_df):
    from dataproc_spark.extensions.textstats import rare_bigram_stats

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        schema="doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_bigrams, r.n_rare, r.novelty_m)
        for r in rare_bigram_stats(df, min_df=min_df).collect()
    }
    owners: dict[str, set[int]] = {}
    per_doc: dict[int, set[str]] = {}
    for i, ws in enumerate(docs):
        bgs = {" ".join(ws[p : p + 2]) for p in range(len(ws) - 1)}
        if bgs:
            per_doc[i] = bgs
            for g in bgs:
                owners.setdefault(g, set()).add(i)
    expect = {}
    for i, bgs in per_doc.items():
        rare = sum(1 for g in bgs if len(owners[g]) < min_df)
        expect[i] = (len(bgs), rare, rare * 1000 // len(bgs))
    assert got == expect


@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),       # user
            st.integers(-15, 15),    # ts (pre-1970 included)
            st.integers(-5, 5),      # value
        ),
        min_size=0,
        max_size=20,
    ),
    st.sampled_from([3, 4]),
)
@settings(max_examples=10, deadline=None)
def test_resample_ffill_matches_python_model(spark, events, bucket):
    import math

    from dataproc_spark.extensions.analytics import resample_ffill

    rows = [(u, t, i, v) for i, (u, t, v) in enumerate(events)] or [
        (99, 0, 0, 0)
    ]
    df = spark.createDataFrame(
        rows, schema="user_id long, ts long, event_id long, value_c long"
    )
    got = {
        (r.user_id, r.bucket_id): (r.value_c, r.filled)
        for r in resample_ffill(df, bucket_ns=bucket).collect()
    }
    expect = {}
    for u in {r[0] for r in rows}:
        mine = [(t, e, v) for uu, t, e, v in rows if uu == u]
        per_bucket = {}
        for t, e, v in mine:
            bk = math.floor(t / bucket)
            cur = per_bucket.get(bk)
            if cur is None or (t, e) > cur[0]:
                per_bucket[bk] = ((t, e), v)
        last = None
        for bk in range(min(per_bucket), max(per_bucket) + 1):
            if bk in per_bucket:
                last = per_bucket[bk][1]
                expect[(u, bk)] = (last, 0)
            else:
                expect[(u, bk)] = (last, 1)
    assert got == expect


@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),     # user
            st.integers(0, 20),    # ts (collisions likely)
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=15,
    )
)
@settings(max_examples=10, deadline=None)
def test_ordered_collect_matches_python_model(spark, events):
    """user_event_sequences' ordering contract: struct array_sort must
    equal an explicit (ts, event_id) sort even under ts collisions."""
    from dataproc_spark import queries as Q

    rows = [(u, t, i, e) for i, (u, t, e) in enumerate(events)]
    df = spark.createDataFrame(
        rows, schema="user_id long, ts long, event_id long, event_type string"
    )
    import pyspark.sql.functions as F

    collected = (
        df.select(
            "user_id",
            F.struct("ts", "event_id", "event_type").alias("e"),
        )
        .groupBy("user_id")
        .agg(F.array_sort(F.collect_list("e")).alias("seq"))
        .select(
            "user_id",
            F.array_join(
                F.transform("seq", lambda e: e.getField("event_type")), ">"
            ).alias("trajectory"),
        )
    )
    got = {r.user_id: r.trajectory for r in collected.collect()}
    expect = {}
    for u in {r[0] for r in rows}:
        mine = sorted(
            [(t, i, e) for uu, t, i, e in rows if uu == u]
        )
        expect[u] = ">".join(e for _, _, e in mine)
    assert got == expect


@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),     # user
            st.integers(0, 10),    # ts (collisions likely)
            st.integers(-3, 3),    # value
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=10, deadline=None)
def test_scd2_history_matches_python_model(spark, events):
    from dataproc_spark.extensions.analytics import scd2_history

    rows = [(u, t, i, v) for i, (u, t, v) in enumerate(events)]
    df = spark.createDataFrame(
        rows, schema="user_id long, ts long, event_id long, value_c long"
    )
    got = {
        r.event_id: (r.user_id, r.valid_from, r.value_c, r.valid_to,
                     r.is_current)
        for r in scd2_history(df).collect()
    }
    expect = {}
    for u in {r[0] for r in rows}:
        mine = sorted((t, i, v) for uu, t, i, v in rows if uu == u)
        for idx, (t, i, v) in enumerate(mine):
            nxt = mine[idx + 1][0] if idx + 1 < len(mine) else None
            expect[i] = (u, t, v, nxt, 1 if nxt is None else 0)
    assert got == expect


# ---------------------------------------------------------------------------
# apply_changelog / temperature_mixture vs independent Python models
# ---------------------------------------------------------------------------


@given(
    st.lists(st.tuples(st.integers(0, 8), st.integers(0, 50),
                       st.integers(0, 999)), min_size=0, max_size=12),
    st.lists(st.tuples(st.integers(0, 8), st.integers(0, 50),
                       st.booleans(), st.integers(0, 999)),
             min_size=0, max_size=15, unique_by=lambda t: (t[0], t[1])),
)
@settings(max_examples=12, deadline=None)
def test_apply_changelog_matches_python_model(spark, snap_rows, chg_rows):
    """Model: latest change per key under (ts desc, eid desc) wins; D
    deletes, U upserts; untouched snapshot keys carry over. Snapshot is
    key-unique by construction (latest-wins pre-compaction)."""
    from dataproc_spark.extensions.analytics import apply_changelog

    snap = {}
    for u, ts, v in snap_rows:
        if u not in snap or ts > snap[u][0]:
            snap[u] = (ts, v)
    snap_list = [(u, ts, v) for u, (ts, v) in snap.items()]
    chg_list = [(u, ts, i, "D" if d else "U", v)
                for i, (u, ts, d, v) in enumerate(chg_rows)]

    latest = {}
    for u, ts, eid, op, v in chg_list:
        if u not in latest or (ts, eid) > (latest[u][0], latest[u][1]):
            latest[u] = (ts, eid, op, v)
    expect = {(u, ts, v) for u, (ts, v) in snap.items() if u not in latest}
    expect |= {(u, ts, v) for u, (ts, eid, op, v) in latest.items()
               if op == "U"}

    sdf = spark.createDataFrame(
        snap_list or [(None, None, None)],
        schema="user_id long, ts long, value_c long",
    ).where("user_id IS NOT NULL")
    cdf = spark.createDataFrame(
        chg_list or [(None, None, None, None, None)],
        schema="user_id long, ts long, event_id long, op string, value_c long",
    ).where("user_id IS NOT NULL")
    out = apply_changelog(sdf, cdf)
    got = {(r.user_id, r.ts, r.value_c) for r in out.collect()}
    assert got == expect


@given(st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=40),
       st.integers(1, 120))
@settings(max_examples=10, deadline=None)
def test_temperature_mixture_matches_python_model(spark, groups, budget):
    """Model: w_g = isqrt(n_g), target_g = budget*w_g // W, copies plus a
    md5-draw fractional remainder, epochs 0..k-1."""
    import hashlib

    from dataproc_spark.extensions import sampling

    rows = [(i, g) for i, g in enumerate(groups)]
    df = spark.createDataFrame(rows, schema="doc_id long, source string")
    out = sampling.temperature_mixture(
        df, group_col="source", id_col="doc_id", salt="pm", budget_rows=budget
    )
    got = sorted((r.doc_id, r.epoch) for r in out.collect())

    n = {}
    for _, g in rows:
        n[g] = n.get(g, 0) + 1
    w = {g: math.isqrt(c) for g, c in n.items()}
    tw = sum(w.values())
    expect = []
    m = 16 ** 8
    for i, g in rows:
        target = budget * w[g] // tw
        copies = target // n[g]
        rem = (m * (target - copies * n[g])) // n[g]
        draw = int(hashlib.md5(f"{i}#pm".encode()).hexdigest()[:8], 16)
        k = copies + (1 if draw < rem else 0)
        expect += [(i, e) for e in range(k)]
    assert got == sorted(expect)


@given(
    st.lists(
        st.lists(st.floats(-1, 1, allow_nan=False, width=32),
                 min_size=3, max_size=3),
        min_size=3, max_size=14,
    ),
    st.integers(2, 3),
)
@settings(max_examples=8, deadline=None)
def test_embed_kmeans_matches_python_model(spark, vecs, k):
    """Independent numpy Lloyd model with the documented rules: quantize
    round-half-up x1000, smallest-id seeds, argmin squared L2 with ties
    to the smallest cid, integer-mean (truncating div) updates, empty
    clusters dropped, 2 iterations."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from dataproc_spark.extensions.simsearch import embed_kmeans

    k = min(k, len(vecs))
    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    got = {r.vec_id: r.cluster for r in embed_kmeans(df, k=k, iters=2).collect()}

    def q(x):
        # Spark F.round = HALF_UP on the double value of the float32
        return int(Decimal(float(np.float32(x)) * 1000).quantize(
            Decimal(1), rounding=ROUND_HALF_UP))

    qv = {i: np.array([q(x) for x in v], dtype=object) for i, v in rows}
    cents = {cid: qv[i] for cid, i in enumerate(sorted(qv)[:k])}

    def assign(c):
        out = {}
        for i, v in qv.items():
            best = min(
                ((int(((v - cv) ** 2).sum()), cid) for cid, cv in c.items())
            )
            out[i] = best[1]
        return out

    for _ in range(2):
        a = assign(cents)
        nxt = {}
        for cid in set(a.values()):
            members = [qv[i] for i, c in a.items() if c == cid]
            s = np.sum(members, axis=0)
            n = len(members)
            # truncating integer div toward zero, matching SQL `div`
            nxt[cid] = np.array(
                [int(x) // n if x >= 0 else -((-int(x)) // n) for x in s],
                dtype=object,
            )
        cents = nxt
    want = assign(cents)
    assert got == want


# --- r7 operator wave vs independent Python models -------------------------

_ITEMS = st.sampled_from(["a", "b", "c", "d", "e"])


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 3), _ITEMS),
                min_size=0, max_size=20),
       st.integers(1, 3))
def test_co_occurrence_matches_python_model(spark, rows, min_support):
    from collections import Counter
    from itertools import combinations

    from dataproc_spark.extensions.analytics import co_occurrence

    if not rows:
        return
    df = spark.createDataFrame(rows, "g long, i string")
    got = {(r.item_a, r.item_b): r.support
           for r in co_occurrence(df, "g", "i",
                                  min_support=min_support).collect()}
    baskets = {}
    for g, i in rows:
        baskets.setdefault(g, set()).add(i)
    model = Counter()
    for items in baskets.values():
        for a, b in combinations(sorted(items), 2):
            model[(a, b)] += 1
    expect = {p: c for p, c in model.items() if c >= min_support}
    assert got == expect


@settings(max_examples=10, deadline=None)
@given(st.lists(st.lists(_ITEMS, min_size=1, max_size=6),
                min_size=1, max_size=6),
       st.integers(1, 4))
def test_vocab_coverage_matches_python_model(spark, docs, vocab_size):
    from collections import Counter

    from dataproc_spark.extensions.textstats import vocab_coverage

    rows = [(i, " ".join(toks), f"s{i % 2}") for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: (r.n_tokens, r.n_oov, r.oov_m)
           for r in vocab_coverage(df, vocab_size=vocab_size).collect()}
    counts = Counter(t for toks in docs for t in toks)
    vocab = set(
        t for t, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        [:vocab_size]
    )
    model = {}
    for i, toks in enumerate(docs):
        src = f"s{i % 2}"
        n, oov = model.get(src, (0, 0))
        model[src] = (n + len(toks), oov + sum(t not in vocab for t in toks))
    expect = {s: (n, o, o * 1000 // n) for s, (n, o) in model.items()}
    assert got == expect


@settings(max_examples=10, deadline=None)
@given(st.lists(st.text(alphabet="ab", min_size=3, max_size=5),
                min_size=0, max_size=10),
       st.integers(0, 2))
def test_fuzzy_join_blocked_matches_python_model(spark, names, max_dist):
    from pyspark.sql import functions as F

    from dataproc_spark.extensions.linkage import fuzzy_join_blocked

    if not names:
        return
    rows = [(i, n) for i, n in enumerate(names)]
    df = spark.createDataFrame(rows, "id long, name string")
    out = fuzzy_join_blocked(
        df, df, key_col="name", block=F.expr("substring(name, 1, 1)"),
        max_dist=max_dist, id_col="id",
    )
    got = {(r.id_a, r.id_b): r.dist for r in out.collect()}

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    expect = {}
    for i, a in rows:
        for j, b in rows:
            if i < j and a[:1] == b[:1] and lev(a, b) <= max_dist:
                expect[(i, j)] = lev(a, b)
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(st.lists(st.lists(st.integers(-3, 3), min_size=2, max_size=2),
                min_size=3, max_size=8))
def test_hard_negatives_matches_python_model(spark, vecs):
    from pyspark.sql import functions as F

    from dataproc_spark.extensions.simsearch import hard_negatives

    rows = [(i, i % 2, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    out = hard_negatives(df, df.where(F.col("vec_id") == 0)).collect()
    # both sides quantize per-coordinate to round(x*1000) longs
    scored = [
        (i, i % 2,
         sum(round(a * 1000) * round(b * 1000)
             for a, b in zip(vecs[0], vecs[i])))
        for i in range(1, len(vecs))
    ]
    pos = [s for s in scored if s[1] == 0]
    neg = [s for s in scored if s[1] == 1]
    if not pos or not neg:
        assert out == []
        return
    best_pos = min(pos, key=lambda s: (-s[2], s[0]))
    best_neg = min(neg, key=lambda s: (-s[2], s[0]))
    assert len(out) == 1
    r = out[0]
    assert (r.qid, r.pos_id, r.pos_dot, r.neg_id, r.neg_dot) == (
        0, best_pos[0], best_pos[2], best_neg[0], best_neg[2]
    )


@settings(max_examples=10, deadline=None)
@given(st.lists(st.lists(_ITEMS, min_size=0, max_size=8),
                min_size=1, max_size=5),
       st.integers(1, 3))
def test_ngram_containment_matches_python_model(spark, docs, min_shared):
    from dataproc_spark.extensions.dedup import ngram_containment_pairs

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b): (r.shared, r.containment_m)
           for r in ngram_containment_pairs(
               df, n=2, min_shared=min_shared, containment_threshold_m=0
           ).collect()}

    def grams(toks):
        return {" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)}

    sets = {i: grams(t) for i, t in enumerate(docs)}
    expect = {}
    for i, a in sets.items():
        for j, b in sets.items():
            if i == j or not a:
                continue
            shared = len(a & b)
            if shared >= min_shared:
                expect[(i, j)] = (shared, shared * 1000 // len(a))
    assert got == expect


# ---------------------------------------------------------------------------
# canonical_url vs a STRUCTURAL model: URLs are generated from components
# (scheme, host, path segments, query params, fragment) and the expected
# canonical form is computed from those components semantically — lowercase
# scheme/host, path kept verbatim, tracking params dropped from the param
# LIST, fragment dropped, trailing slash trimmed — never by replaying the
# operator's regexes, so the test arbitrates the rewrite chain.
# ---------------------------------------------------------------------------

_SCHEMES = ["http", "HTTPS", "https", "HTTP"]
#: authorities include case-sensitive userinfo (user:pass@) — the case
#: of the credential must survive while the host lowers (r8 follow-up)
_HOSTS = ["Site.COM", "a.b.site.co.uk", "x.io", "WWW.Example.ORG",
          "TokenA@API.site.com", "User:PW@Site.COM"]
#: segments include RFC 3986 sub-delim shapes that LOOK like tracking
#: params — they must survive untouched (r8 review finding)
_SEGMENTS = ["a", "Page", "b.c", "dl&ref=home", "x&utm_source=t", "p1"]
_PARAM_NAMES = ["id", "q", "next", "page",
                "utm_source", "gclid", "fbclid", "ref"]
#: values may contain '?' (data) and may END in '/' (the trailing-slash
#: strip is scoped to the path — r8 follow-up) but never '&'/'#'
_PARAM_VALUES = ["5", "x?y", "B", "fe?ed", "z", "", "/home/", "a/"]
_TRACKING = {"utm_source", "utm_medium", "utm_campaign", "utm_term",
             "utm_content", "gclid", "fbclid", "ref"}


@st.composite
def _url_scenario(draw):
    scheme = draw(st.sampled_from(_SCHEMES))
    host = draw(st.sampled_from(_HOSTS))
    segs = draw(st.lists(st.sampled_from(_SEGMENTS), min_size=0, max_size=3))
    trailing = draw(st.booleans())
    params = draw(st.lists(
        st.tuples(st.sampled_from(_PARAM_NAMES),
                  st.sampled_from(_PARAM_VALUES)),
        min_size=0, max_size=4))
    fragment = draw(st.sampled_from([None, "frag", "x?y&ref=z"]))
    return scheme, host, segs, trailing, params, fragment


def _build_url(scheme, host, segs, trailing, params, fragment):
    url = f"{scheme}://{host}"
    if segs:
        url += "/" + "/".join(segs)
    if trailing:
        url += "/"
    if params:
        url += "?" + "&".join(f"{n}={v}" for n, v in params)
    if fragment is not None:
        url += "#" + fragment
    return url


def _expected_canonical(scheme, host, segs, trailing, params, fragment):
    # scheme and host:port lower; userinfo (up to the LAST @) verbatim
    userinfo, _, hostport = host.rpartition("@")
    out = f"{scheme}://".lower() + (
        f"{userinfo}@{hostport.lower()}" if userinfo else hostport.lower()
    )
    path = "/" + "/".join(segs) if segs else ""
    if trailing:
        path += "/"
    # fragment always dropped; ONE trailing slash trimmed off the PATH
    # (never off a query value — the query is reattached after)
    if path.endswith("/"):
        path = path[:-1]
    out += path
    kept = [(n, v) for n, v in params if n not in _TRACKING]
    if kept:
        out += "?" + "&".join(f"{n}={v}" for n, v in kept)
    return out


@settings(max_examples=12, deadline=None)
@given(st.lists(_url_scenario(), min_size=1, max_size=25))
def test_canonical_url_matches_structural_model(spark, scenarios):
    from pyspark.sql import functions as F

    from dataproc_spark.extensions.web import canonical_url

    rows = [(i, _build_url(*sc)) for i, sc in enumerate(scenarios)]
    df = spark.createDataFrame(rows, "i long, url string")
    got = {r.i: r.c
           for r in df.withColumn("c", canonical_url()).collect()}
    want = {i: _expected_canonical(*sc) for i, sc in enumerate(scenarios)}
    assert got == want


# ---------------------------------------------------------------------------
# extract_text vs a STRUCTURAL model: HTML is generated from typed parts
# (text runs, entities, comments, script/style blocks, tags) and the
# expected plain text is derived from each part's documented semantics —
# comment/script/style/tag → one space, entity → its decoded char, text
# kept — then ASCII-whitespace-collapsed. Never by replaying the regexes.
# ---------------------------------------------------------------------------

_TEXT_RUNS = ["hello", "a b", "1,2.3", "x!", "p q r", "tab\there", "nl\nrun",
              # after an &amp; part this composes "&lt;x" — pinning
              # decode-ONCE semantics (the decoded & must not cascade)
              "lt;x"]
_ENTITIES = [("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
             ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")]
_SCRIPT_BODIES = ["if (a < b && c > 1) { x = \"&amp;\"; }", "var y = 'z';", ""]
_COMMENT_BODIES = ["crawl 17", "todo: <script> later", ""]
_TAGS = ["b", "p", "a href=\"x\"", "div class='c'"]


@st.composite
def _html_part(draw):
    kind = draw(st.sampled_from(
        ["text", "entity", "comment", "script", "style", "tagpair", "bare"]))
    if kind == "text":
        t = draw(st.sampled_from(_TEXT_RUNS))
        return t, t
    if kind == "entity":
        raw, decoded = draw(st.sampled_from(_ENTITIES))
        return raw, decoded
    if kind == "comment":
        return f"<!--{draw(st.sampled_from(_COMMENT_BODIES))}-->", " "
    if kind == "script":
        return f"<script>{draw(st.sampled_from(_SCRIPT_BODIES))}</script>", " "
    if kind == "style":
        return "<style>p { color: red; }</style>", " "
    if kind == "tagpair":
        tag = draw(st.sampled_from(_TAGS))
        inner = draw(st.sampled_from(_TEXT_RUNS))
        name = tag.split(" ")[0]
        return f"<{tag}>{inner}</{name}>", f" {inner} "
    return "<br>", " "


def _collapse(s):
    import re

    return re.sub(r"[ \t\r\n]+", " ", s).strip()


@settings(max_examples=12, deadline=None)
@given(st.lists(st.lists(_html_part(), min_size=0, max_size=8),
                min_size=1, max_size=20))
def test_extract_text_matches_structural_model(spark, docs):
    from pyspark.sql import functions as F

    from dataproc_spark.extensions.web import extract_text

    rows = [
        (i,
         "<html><body>" + "".join(raw for raw, _ in parts) + "</body></html>",
         _collapse(" " + "".join(exp for _, exp in parts) + " "))
        for i, parts in enumerate(docs)
    ]
    df = spark.createDataFrame(
        [(i, h) for i, h, _ in rows], "i long, html string"
    )
    got = {r.i: r.p
           for r in df.withColumn("p", extract_text()).collect()}
    want = {i: exp for i, _, exp in rows}
    assert got == want


# --- RP-LSH vs an independent Python model ----------------------------------


@given(
    st.lists(
        st.lists(st.integers(-2000, 2000), min_size=4, max_size=4),
        min_size=2, max_size=12, unique_by=tuple,
    ),
    st.sampled_from([(4, 2), (8, 2), (8, 4)]),
    st.integers(-2_000_000, 2_000_000),
)
@settings(max_examples=10, deadline=None)
def test_rp_lsh_matches_python_model(spark, ivecs, pb, threshold):
    """Independent model of the full pipeline: md5 ±1 planes, sign bits
    (dot >= 0 -> 1), MSB-first band keys, >=1 shared band -> candidate,
    exact integer dot >= threshold -> pair. Integer-valued float inputs
    keep quantize exact (x*1000 on values representable in float32)."""
    from dataproc_spark.extensions.simsearch import rp_lsh_near_dup, rp_planes

    n_planes, band_bits = pb
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(ivecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = sorted(
        (r["id_a"], r["id_b"], r["dot_q"])
        for r in rp_lsh_near_dup(
            df, threshold, dim=4, n_planes=n_planes, band_bits=band_bits,
        ).collect()
    )

    planes = rp_planes(n_planes, 4)
    qv = {i: [x * 1000 for x in v] for i, v in enumerate(ivecs)}

    def bands(v):
        bits = [
            1 if sum(a * b for a, b in zip(v, pl)) >= 0 else 0
            for pl in planes
        ]
        return {
            (j, tuple(bits[j * band_bits:(j + 1) * band_bits]))
            for j in range(n_planes // band_bits)
        }

    bset = {i: bands(v) for i, v in qv.items()}
    want = sorted(
        (a, b, sum(x * y for x, y in zip(qv[a], qv[b])))
        for a in qv for b in qv
        if a < b and bset[a] & bset[b]
        and sum(x * y for x, y in zip(qv[a], qv[b])) >= threshold
    )
    assert got == want


# ---------------------------------------------------------------------------
# r9: JPEG codec properties (pure Python — no Spark session needed)
# ---------------------------------------------------------------------------


@settings(max_examples=25, deadline=None)
@given(
    st.integers(1, 4),  # block grid width
    st.integers(1, 3),  # block grid height
    st.integers(0, 2**32 - 1),  # pixel seed
    st.sampled_from([1, 2, 4, 8]),  # power-of-two quant
)
def test_jpeg_block_constant_roundtrip_exact(wb, hb, seed, quant):
    """ANY 8×8-aligned block-constant grayscale image round-trips
    bit-exactly at power-of-two quant ≤ 8 (a constant block's FDCT is
    DC-only and 8·(v−128) divides exactly) — the invariant the
    multimodal_jpeg oracle rests on."""
    import numpy as np

    from dataproc_spark.extensions.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(seed % (2**32))
    blocks = rng.randint(0, 256, size=(hb, wb))
    img = np.kron(blocks, np.ones((8, 8), dtype=int)).astype(np.uint8)
    w, h, c, out = decode_jpeg(encode_jpeg(img, quant=quant))
    assert (w, h, c) == (wb * 8, hb * 8, 1)
    assert np.array_equal(out[:, :, 0], img)


@settings(max_examples=20, deadline=None)
@given(
    st.integers(1, 40),   # width (any, incl. non-multiples of 8)
    st.integers(1, 24),   # height
    st.integers(0, 2**32 - 1),
)
def test_jpeg_arbitrary_gray_bounded_error_at_unit_quant(w, h, seed):
    """ANY grayscale image at quant=1 decodes within ±2 of the source
    (DCT round-trip error bound with unit quantization), dimensions
    crop exactly, and the header walk agrees with the decode."""
    import numpy as np

    from dataproc_spark.extensions.jpeg import (
        decode_jpeg,
        encode_jpeg,
        parse_jpeg_meta,
    )

    rng = np.random.RandomState(seed % (2**32))
    img = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
    buf = encode_jpeg(img, quant=1)
    meta = parse_jpeg_meta(buf)
    dw, dh, c, out = decode_jpeg(buf)
    assert (dw, dh, c) == (w, h, 1)
    assert meta["width"] == w and meta["height"] == h
    assert int(np.abs(out[:, :, 0].astype(int) - img.astype(int)).max()) <= 2


@settings(max_examples=15, deadline=None)
@given(st.binary(min_size=0, max_size=64))
def test_jpeg_garbage_bytes_always_valueerror(junk):
    """Arbitrary bytes — including ones starting with valid SOI — must
    raise ValueError from both entry points, never struct.error or
    IndexError (the per-row quarantine contract, r9 review finding).
    decode_jpeg can NEVER succeed on ≤66 bytes of junk (a full scan
    needs SOF+DHT+DQT+SOS); parse_jpeg_meta could in principle hit a
    crafted complete SOF, so its success branch asserts the typed meta
    contract instead of being vacuously permissive (r9 review follow-up:
    the first draft's try/except-pass never asserted the raise)."""
    import pytest as _pytest

    from dataproc_spark.extensions.jpeg import decode_jpeg, parse_jpeg_meta

    for payload in (junk, b"\xFF\xD8" + junk):
        with _pytest.raises(ValueError):
            decode_jpeg(payload)
        try:
            meta = parse_jpeg_meta(payload)
        except ValueError:
            continue
        assert isinstance(meta["width"], int) and isinstance(
            meta["progressive"], bool
        )


# ---------------------------------------------------------------------------
# r10: HTTP envelope / body codec properties (pure functions — no Spark
# jobs, so example counts can be generous)
# ---------------------------------------------------------------------------


@given(
    body=st.binary(max_size=200),
    sizes=st.lists(st.integers(1, 40), max_size=6),
    ext=st.booleans(),
)
@settings(max_examples=200, deadline=None)
def test_chunked_framing_roundtrip(body, sizes, ext):
    """Any chunk-size partition of any byte string dechunks back to the
    original — framing is pure transport."""
    from dataproc_spark.extensions.warc import dechunk_http_body

    out = bytearray()
    pos = 0
    for n in sizes:
        piece = body[pos:pos + n]
        if not piece:
            break
        tag = b";x=1" if ext else b""
        out += ("%x" % len(piece)).encode() + tag + b"\r\n" + piece + b"\r\n"
        pos += len(piece)
    rest = body[pos:]
    if rest:
        out += ("%X" % len(rest)).encode() + b"\r\n" + rest + b"\r\n"
    out += b"0\r\n\r\n"
    assert dechunk_http_body(bytes(out)) == body


@given(
    body=st.binary(max_size=300),
    coding=st.sampled_from(["identity", "gzip", "x-gzip", "deflate",
                            "deflate_raw", None]),
)
@settings(max_examples=200, deadline=None)
def test_content_encoding_roundtrip(body, coding):
    """encode→decode is the identity for every supported coding,
    including the raw-deflate variant servers actually send."""
    import gzip as _gzip
    import zlib

    from dataproc_spark.extensions.warc import decode_content_encoding

    if coding in ("gzip", "x-gzip"):
        wire = _gzip.compress(body, mtime=0)
    elif coding == "deflate":
        wire = zlib.compress(body)
    elif coding == "deflate_raw":
        co = zlib.compressobj(wbits=-15)
        wire = co.compress(body) + co.flush()
        coding = "deflate"
    else:
        wire = body
    assert decode_content_encoding(wire, coding) == body


@given(
    status=st.integers(100, 599),
    n_headers=st.integers(0, 5),
    body=st.binary(max_size=120),
    crlf=st.booleans(),
)
@settings(max_examples=200, deadline=None)
def test_http_envelope_split_roundtrip(status, n_headers, body, crlf):
    """Building an envelope from clean parts and splitting it recovers
    status, every header (lowercased), and the body byte-for-byte —
    regardless of line-ending style and of CRLFCRLF sequences inside
    the body (the r10 terminator-order fix)."""
    from dataproc_spark.extensions.warc import split_http_envelope

    nl = "\r\n" if crlf else "\n"
    headers = {f"x-h{i}": f"v{i} {status}" for i in range(n_headers)}
    head = f"HTTP/1.1 {status} Reason Text{nl}" + "".join(
        f"X-H{i}: v{i} {status}{nl}" for i in range(n_headers)
    )
    wire = head.encode("ascii") + nl.encode("ascii") * 1 + body
    # the blank line: one extra newline terminates the header block
    wire = head.encode("ascii") + nl.encode("ascii") + body
    s, h, b = split_http_envelope(wire, "application/http; msgtype=response")
    assert s == status
    assert h == headers
    assert b == body


def _model_shared_spans(tok_a, tok_b, min_tokens):
    """Independent O(n²) model of 'maximal shared token spans': every
    (i, j) where a maximal common run starts, with its length — written
    from the definition, not from either implementation."""
    out = set()
    for i in range(len(tok_a)):
        for j in range(len(tok_b)):
            if tok_a[i] != tok_b[j]:
                continue
            if i > 0 and j > 0 and tok_a[i - 1] == tok_b[j - 1]:
                continue  # not a run start
            n = 0
            while (
                i + n < len(tok_a)
                and j + n < len(tok_b)
                and tok_a[i + n] == tok_b[j + n]
            ):
                n += 1
            if n >= min_tokens:
                out.add((i, j, n))
    return out


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abc"), min_size=0, max_size=14),
        min_size=2,
        max_size=4,
    ),
    min_tokens=st.integers(4, 6),
)
@settings(max_examples=12, deadline=None)
def test_cross_doc_spans_matches_bruteforce_model(spark, docs, min_tokens):
    """cross_doc_spans (anchor join + diagonal islands, k=3) must equal
    the brute-force definition of maximal shared spans on tiny random
    corpora — every pair, every offset, every length, nothing extra."""
    from dataproc_spark.extensions.dedup import cross_doc_spans

    rows = [(i, " ".join(t)) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.start_a, r.start_b, r.n_tokens)
        for r in cross_doc_spans(df, k=3, min_tokens=min_tokens).collect()
    }
    want = set()
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            for i, j, n in _model_shared_spans(docs[a], docs[b], min_tokens):
                want.add((a, b, i, j, n))
    assert got == want


#: charsets that can encode any text drawn from their own alphabet —
#: (python codec for synthesis, label the wire declares)
_CS_CASES = [
    ("cp1251", "windows-1251",
     "абвгдежзиклмно АБВГД 0123 .,!? "),
    ("koi8_r", "koi8-r", "пристанище КОД тест 987 "),
    ("shift_jis", "shift_jis", "日本語のテスト カタカナ 012 "),
    ("cp1252", "iso-8859-1", "café déjà vu € £ 42 "),  # WHATWG override
    ("gbk", "gb2312", "中文测试 编码 314 "),
    ("utf-8", "utf-8", "mixed ascii и 中 é 55 "),
]


@given(
    case=st.sampled_from(_CS_CASES),
    n=st.integers(0, 60),
    seed=st.integers(0, 10**6),
    via_meta=st.booleans(),
)
@settings(max_examples=200, deadline=None)
def test_charset_declared_roundtrip(case, n, seed, via_meta):
    """encode(text, cs) then decode_body_text with the charset declared
    (header param or <meta> prescan) is the identity for every charset
    in the supported family — including the labels whose WHATWG mapping
    differs from their literal codec."""
    import random

    from dataproc_spark.extensions.warc import decode_body_text

    codec, label, alphabet = case
    rng = random.Random(seed)
    text = "".join(rng.choice(alphabet) for _ in range(n))
    if via_meta:
        page = f'<meta charset="{label}">{text}'
        body, ct = page.encode(codec), "text/html"
        expect = page
    else:
        body, ct = text.encode(codec), f"text/html; charset={label}"
        expect = text
    assert decode_body_text(body, ct) == expect


from dataproc_spark.extensions.web import HTML_ENTITIES_FAST as _ENT_FAST


@given(
    words=st.lists(
        st.sampled_from(
            [ent for ent, _ in _ENT_FAST]
            + ["plain", "text&co", " ", "x=1", "&amp;lt;", "&#x43F;",
               "&#1087;", "&unknown;"]
        ),
        max_size=12,
    ),
)
@settings(max_examples=200, deadline=None)
def test_unescape_full_matches_stdlib(words):
    """full-mode kernel == stdlib html.unescape on arbitrary entity
    soup (incl. numerics and unknown refs), and the fast JVM table is
    consistent with the stdlib on its own subset by construction."""
    import html

    from dataproc_spark.extensions.web import HTML_ENTITIES_FAST

    s = "".join(words)
    want = html.unescape(s)
    # the fast table IS the stdlib's mapping on its subset
    for ent, ch in HTML_ENTITIES_FAST:
        assert html.unescape(ent) == ch
    # kernel parity: the full-mode UDF wraps html.unescape directly, so
    # the property pins the oracle-side expectation builders too
    from dataproc_spark.queries.web import _ENT_CLEAN, _ENT_RAW

    for raw, clean in zip(_ENT_RAW, _ENT_CLEAN):
        assert html.unescape(raw) == clean
    assert isinstance(want, str)


@given(
    sizes=st.lists(st.integers(0, 30), min_size=1, max_size=5),
    codings=st.lists(
        st.sampled_from(["gzip", "deflate", "identity"]),
        min_size=1, max_size=3,
    ),
)
@settings(max_examples=150, deadline=None)
def test_chained_coding_roundtrip(sizes, codings):
    """Applying a coding CHAIN in order and declaring it as the RFC
    9110 comma list decodes back to the original, for any chain drawn
    from the pure-stdlib codings."""
    import gzip as _gzip
    import zlib

    from dataproc_spark.extensions.warc import decode_content_encoding

    body = bytes(sizes) * 7
    wire = body
    for c in codings:  # apply in order, as a server stack would
        if c == "gzip":
            wire = _gzip.compress(wire, mtime=0)
        elif c == "deflate":
            wire = zlib.compress(wire)
    assert decode_content_encoding(wire, ", ".join(codings)) == body


@given(
    rules=st.lists(
        st.tuples(
            st.booleans(),
            st.text(alphabet="ab5*", min_size=0, max_size=4),
            st.booleans(),  # trailing $
        ),
        max_size=6,
    ),
    path_parts=st.lists(st.sampled_from(["a", "b", "5", "ab", "a5"]),
                        max_size=4),
    dup_group=st.booleans(),
)
@settings(max_examples=300, deadline=None)
def test_robots_first_match_equals_best_match(rules, path_parts, dup_group):
    """parse_robots pre-sorts rules so FIRST-match == the RFC's
    best-match evaluation (longest specificity, Allow on ties) — checked
    against an evaluator built INDEPENDENTLY from the original rule
    strings: its own regex translation (not the LIKE patterns) and its
    own specificity measure (``len(rule)``, the RFC/Google full-octet
    length — the r11 draft reused parse_robots' own spec values, which
    is why it couldn't catch the stripped-wildcard measure; r11 advice
    finding). Duplicate User-agent groups must merge before either
    evaluation."""
    import re as _re

    from dataproc_spark.extensions.web import parse_robots

    lines = ["User-agent: *"]
    body = []
    originals = []  # (allow, raw rule string) in file order
    for allow, frag, anchored in rules:
        rule = "/" + frag + ("$" if anchored else "")
        body.append(("Allow: " if allow else "Disallow: ") + rule)
        originals.append((allow, rule))
    if dup_group and body:
        # split rules across two '*' groups — they must merge
        mid = len(body) // 2
        lines += body[:mid] + ["", "User-agent: *"] + body[mid:]
    else:
        lines += body
    parsed = parse_robots("\n".join(lines))
    path = "/" + "/".join(path_parts)

    def like_match(pat: str) -> bool:
        # independent LIKE evaluator: translate to an anchored regex
        rx = ""
        i = 0
        while i < len(pat):
            c = pat[i]
            if c == "\\":
                rx += _re.escape(pat[i + 1])
                i += 2
                continue
            rx += ".*" if c == "%" else (
                "." if c == "_" else _re.escape(c))
            i += 1
        return _re.fullmatch(rx, path) is not None

    def rule_match(rule: str) -> bool:
        # independent RULE evaluator, straight from RFC 9309 syntax
        anchored = rule.endswith("$")
        core = rule[:-1] if anchored else rule
        rx = ".*".join(_re.escape(part) for part in core.split("*"))
        if not anchored:
            rx += ".*"
        return _re.fullmatch(rx, path) is not None

    # first-match over the pre-sorted list (what robots_allowed does)
    first = next(
        (allow for allow, pat, _spec in parsed if like_match(pat)), True)
    # independent best-match over the ORIGINAL rules: score every
    # match by full octet length, pick max (spec, allow)
    scored = [(len(rule), allow) for allow, rule in originals
              if rule_match(rule)]
    best = max(scored)[1] if scored else True
    assert first == best
