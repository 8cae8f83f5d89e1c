"""Unit tests for the extension operators (dedup, simsearch, textstats,
multimodal plumbing, sessionization) on small hand-built frames."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataproc_spark.extensions import dedup, multimodal, simsearch, streaming, textstats
from tests.conftest import rows_set


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different content entirely unrelated words here"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    ]
    return spark.createDataFrame(rows, schema="doc_id long, text string")


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs)
    got = rows_set(out, ["doc_id", "n_copies"])
    assert got == {(1, 2), (2, 1), (3, 1)}


def test_shingles_and_tokens(spark):
    df = spark.createDataFrame([("a b  c d",)], schema="text string")
    toks = df.select(dedup.tokens("text").alias("t")).first()["t"]
    assert toks == ["a", "b", "c", "d"]
    sh = df.select(dedup.shingles(dedup.tokens("text"), 2).alias("s")).first()["s"]
    assert sh == ["a b", "b c", "c d"]


def test_minhash_finds_near_dups(docs):
    pairs = dedup.minhash_dedup_pairs(
        docs, num_hashes=32, bands=16, shingle_size=2, threshold=0.5
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # 1-4 identical (jaccard 1.0); 1-2 and 2-4 differ by one word
    assert (1, 4) in got
    assert (1, 2) in got or (2, 4) in got
    # unrelated doc never pairs
    assert not any(3 in p for p in got)


def test_minhash_jaccard_exact_for_identical(docs):
    pairs = dedup.minhash_dedup_pairs(
        docs, num_hashes=32, bands=16, shingle_size=2, threshold=0.5
    )
    j = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert j[(1, 4)] == 1.0


def test_simhash_near_pairs(docs):
    pairs = dedup.simhash_near_pairs(docs, bits=32, bands=4, max_hamming=0)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 4) in got  # identical docs -> identical fingerprints
    assert not any(3 in p for p in got)


def test_simhash_rejects_max_hamming_beyond_pigeonhole(docs):
    """max_hamming > bands-1 would silently lose pairs that differ in
    every band (the pigeonhole guarantee only covers bands-1); the
    operator refuses loudly instead (r8 review finding)."""
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_near_pairs(docs, bits=32, bands=4, max_hamming=4)
    # the boundary itself is legal
    dedup.simhash_near_pairs(docs, bits=32, bands=4, max_hamming=3)


def test_quantize_and_dot(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, -0.5],), ([0.5, -1.0, 2.0],)], schema="v array<float>"
    )
    q = df.select(simsearch.quantize("v", 10).alias("q"))
    vals = [r.q for r in q.collect()]
    assert vals == [[10, 20, -5], [5, -10, 20]]
    two = df.agg(F.collect_list("v").alias("vs")).select(
        simsearch.dot_q(
            simsearch.quantize(F.col("vs")[0], 10),
            simsearch.quantize(F.col("vs")[1], 10),
        ).alias("d")
    )
    # [10,20,-5]·[5,-10,20] = 50 - 200 - 100 = -250
    assert two.first()["d"] == -250


def test_cosine_matches_numpy(spark):
    import numpy as np

    a = [0.1, 0.5, -0.3]
    b = [0.4, -0.2, 0.9]
    df = spark.createDataFrame([(a, b)], schema="a array<float>, b array<float>")
    got = df.select(simsearch.cosine("a", "b").alias("c")).first()["c"]
    af = np.array(a, dtype="float32").astype("float64")
    bf = np.array(b, dtype="float32").astype("float64")
    want = float(af @ bf / (np.linalg.norm(af) * np.linalg.norm(bf)))
    assert abs(got - want) < 1e-12


def test_brute_force_topk(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 1.0]),
        (3, [-1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    out = simsearch.brute_force_topk(emb, emb.where(F.col("vec_id") == 0), k=2)
    got = [(r.vec_id, r.rnk) for r in out.orderBy("rnk").collect()]
    assert got == [(1, 1), (2, 2)]  # closest first; self excluded


def test_bucketed_topk_restricts_to_bucket(spark):
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.9, 0.1], 0),
        (2, [1.0, 0.01], 1),  # better match but different bucket
    ]
    emb = spark.createDataFrame(
        rows, schema="vec_id long, embedding array<float>, label int"
    )
    out = simsearch.bucketed_topk(emb, emb.where(F.col("vec_id") == 0), k=5)
    got = {r.vec_id for r in out.collect()}
    assert got == {1}


def test_predicted_lang(spark):
    """Trigram-profile language ID (r9): all four profiled languages,
    plus the adversarial arms — short strings, NULL, non-Latin script,
    Latin gibberish, and a mixed-script sentence — must be deterministic
    and never crash."""
    rows = [
        (1, "this is the house and the garden of the king"),
        (2, "das ist der hund und die katze und der vogel"),
        (3, "le chien et le chat sont dans la maison que nous avons"),
        (4, "el perro y el gato que viven en la casa de los reyes"),
        (5, "ab"),                        # too short for any trigram
        (6, None),                        # NULL text
        (7, "全部都是中文字符没有任何拉丁字母"),  # Han script (r10: profiled)
        (8, "kwyjibo zzyzx qwfp vvkj"),   # Latin gibberish
        (9, "the king said 你好 and the queen of the castle agreed"),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    out = df.select("doc_id", textstats.predicted_lang("text").alias("p"))
    got = dict((r.doc_id, r.p) for r in out.collect())
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "fr"
    assert got[4] == "es"
    assert got[5] == "und"
    assert got[6] == "und"
    assert got[7] == "zh"   # r9 said 'und'; the r10 zh profile claims it
    assert got[8] == "und"
    assert got[9] == "en"  # mixed-script: Latin trigrams still decide
    # map-only (no Exchange); the projection itself is interpreted (HOF
    # scopes — Spark's higher-order functions are codegen-fallback) but
    # the normalization chain and each 30-term score expression appear
    # exactly ONCE in the plan via the two nested binding scopes (the
    # inlined forms measured 4×/10× slower at sf0.1 — r9 probes)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert plan.count("regexp_replace") == 1, "normalization must bind once"


def test_predicted_lang_non_latin_and_scripts(spark):
    """r10 non-Latin language ID + Unicode script detection: pure
    ru/ar/zh/ja texts, adversarial MIXED-script arms (Latin lead-in, a
    zh/ja kanji-vs-kana fight, Cyrillic-vs-Latin near-tie), and the
    dominant_script argmax incl. the 'none' and profile-less-script
    cases."""
    from dataproc_spark.extensions.textstats import (
        dominant_script,
        predicted_lang,
    )
    from dataproc_spark.queries.documents import (
        _LANG_MIXED_PREFIX,
        _LANG_SNIPPETS,
    )

    rows = [
        (1, "в москве и на неве что ни год то новые дома и не только"),
        (2, "هذا النص في اللغة العربية من الاختبار على البيانات"),
        (3, "这是一个很大的测试我们有很多的数据和人在这里"),
        (4, "これは日本語のテストですたくさんのデータがあります"),
        # Latin lead-in, longer non-Latin tail: non-Latin must win
        # (the gate's own adversarial arm, via the shared constants)
        (5, _LANG_MIXED_PREFIX + _LANG_SNIPPETS["ru"]),
        # kanji-heavy Japanese: kana particles must still beat the zh
        # single-character profile
        (6, "日本語の文書でも漢字が多いのです"),
        # script without a profile → lang und, script detected
        (7, "한국어 텍스트는 아직 프로파일이 없다"),
        (8, "1234 5678 %% !!"),            # no scripted chars at all
        (9, None),
    ]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    out = df.select(
        "doc_id",
        predicted_lang("text").alias("p"),
        dominant_script("text").alias("s"),
    )
    got = {r.doc_id: (r.p, r.s) for r in out.collect()}
    assert got[1] == ("ru", "cyrillic")
    assert got[2] == ("ar", "arabic")
    assert got[3] == ("zh", "han")
    assert got[4] == ("ja", "kana")
    assert got[5] == ("ru", "cyrillic")
    assert got[6][0] == "ja"          # kana particles decide
    assert got[7] == ("und", "hangul")
    assert got[8] == ("und", "none")
    assert got[9] == ("und", "none")
    # Latin documents never shift to the new profiles (they score 0)
    lat = df.where(F.col("doc_id") <= 0)  # empty frame, just compile
    _ = lat.select(predicted_lang("text")).collect()


def test_quality_features(spark):
    df = spark.createDataFrame([(1, "ab cd 12")], schema="doc_id long, text string")
    row = textstats.quality_features(df).first()
    assert row.n_tokens == 3
    assert row.n_chars_m == 8
    # (8 - 3 + 1) * 100 / 3 = 200
    assert row.mean_tok_len_c == 200
    # 2 digits / 8 chars -> 250
    assert row.digit_ratio_m == 250


def test_doc_fingerprint_normalizes(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other")],
        schema="doc_id long, text string",
    )
    out = df.select(textstats.doc_fingerprint("text").alias("fp"))
    fps = [r.fp for r in out.collect()]
    assert fps[0] == fps[1] != fps[2]


def test_multimodal_decode_plumbing(docs):
    media = multimodal.attach_payload(docs)
    feats = multimodal.decode_image_features(media)
    rows = {r.media_id: r for r in feats.collect()}
    assert set(rows) == {1, 2, 3, 4}
    text1 = "the quick brown fox jumps over the lazy dog"
    assert rows[1].n_bytes == len(text1.encode())
    assert rows[1].byte_sum == sum(text1.encode())
    assert rows[1].width == rows[1].n_bytes % 512


def test_multimodal_real_decode_rejects_unknown_formats(docs):
    # raw text bytes are not a PNG/PPM payload: the real decoder must
    # fail loudly, not fabricate stats
    media = multimodal.attach_payload(docs)
    feats = multimodal.decode_image_features(media, real_decode=True)
    with pytest.raises(Exception, match="unknown image format"):
        feats.collect()


def test_png_ppm_codec_roundtrip():
    """Pure-codec check, no Spark: encode_png/encode_ppm → decode must be
    bit-exact for every supported channel count, and the decoder must
    reconstruct scanlines under ALL FIVE PNG filter types (a hand-built
    PNG forward-filters one line per type)."""
    import struct
    import zlib

    import numpy as np

    rng = np.random.RandomState(7)
    for c in (1, 2, 3, 4):
        a = rng.randint(0, 256, size=(11, 17, c)).astype(np.uint8)
        w, h, cc, back = multimodal._decode_image_bytes(multimodal.encode_png(a))
        assert (w, h, cc) == (17, 11, c)
        assert np.array_equal(back, a)
    a = rng.randint(0, 256, size=(9, 5, 3)).astype(np.uint8)
    w, h, cc, back = multimodal._decode_image_bytes(multimodal.encode_ppm(a))
    assert (w, h, cc) == (5, 9, 3) and np.array_equal(back, a)

    arr = rng.randint(0, 256, size=(5, 8, 3)).astype(np.uint8)
    stride, bpp = 8 * 3, 3
    lines = arr.reshape(5, stride).astype(np.int32)
    raw = b""
    prior = np.zeros(stride, dtype=np.int32)
    for y, f in enumerate([0, 1, 2, 3, 4]):
        line, filt = lines[y], np.zeros(stride, dtype=np.int32)
        for x in range(stride):
            left = line[x - bpp] if x >= bpp else 0
            up, ul = prior[x], (prior[x - bpp] if x >= bpp else 0)
            if f == 0:
                pred = 0
            elif f == 1:
                pred = left
            elif f == 2:
                pred = up
            elif f == 3:
                pred = (left + up) // 2
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (
                    up if pb <= pc else ul
                )
            filt[x] = (line[x] - pred) & 0xFF
        raw += bytes([f]) + bytes(filt.astype(np.uint8))
        prior = line

    def chunk(t, d):
        crc = zlib.crc32(t + d) & 0xFFFFFFFF
        return struct.pack(">I", len(d)) + t + d + struct.pack(">I", crc)

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 8, 5, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    _, _, _, back = multimodal._decode_image_bytes(png)
    assert np.array_equal(back, arr)


def test_multimodal_real_decode_stats(spark):
    """End to end on Spark: synthesize real PNG/PPM payloads on one Arrow
    stage, decode on another, and the pixel stats must equal the
    arithmetic ground truth."""
    import numpy as np

    ids = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    media = multimodal.synthesize_images(ids)
    got = {r.media_id: r for r in multimodal.decode_image_stats(media).collect()}
    assert set(got) == set(range(40))
    for i in range(40):
        w, h = 4 + i % 13, 3 + i % 7
        px = (i * 31 + np.arange(h * w * 3, dtype=np.int64)) % 256
        r = got[i]
        assert (r.width, r.height, r.channels) == (w, h, 3)
        assert r.n_pixels == w * h
        assert r.pixel_sum == int(px.sum())
        assert r.pixel_min == int(px.min())
        assert r.pixel_max == int(px.max())
    # real_decode=True in the feature stage now uses the same decoder
    feats = {
        r.media_id: r
        for r in multimodal.decode_image_features(
            media, real_decode=True
        ).collect()
    }
    assert feats[3].width == 4 + 3 % 13 and feats[3].height == 3 + 3 % 7


def test_frame_sample(docs):
    media = multimodal.attach_payload(docs.where(F.col("doc_id") == 1))
    out = multimodal.frame_sample(media, every_n_bytes=16)
    offs = sorted(r.frame_offset for r in out.collect())
    n = len("the quick brown fox jumps over the lazy dog".encode())
    assert offs == list(range(0, n, 16))


def test_sessionize(spark):
    m = 60_000_000_000  # 1 minute in ns
    rows = [
        (1, 100, 0 * m),
        (2, 100, 10 * m),
        (3, 100, 50 * m),   # 40-min gap -> new session
        (4, 200, 0 * m),
    ]
    ev = spark.createDataFrame(rows, schema="event_id long, user_id long, ts long")
    stats = streaming.session_stats(ev, gap_minutes=30)
    got = {
        (r.user_id, r.n_sessions, r.max_session_events, r.n_events_total)
        for r in stats.collect()
    }
    assert got == {(100, 2, 2, 3), (200, 1, 1, 1)}


def test_connected_components_chain(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], schema="id_a long, id_b long"
    )
    comps = dedup.connected_components(pairs)
    got = {(r.node, r.component) for r in comps.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_dedup_keep_representatives(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 7)], schema="doc_id long, text string"
    )
    # {1,2,3} one cluster via transitivity, {5,6} another, 4 unpaired
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], schema="id_a long, id_b long"
    )
    kept = dedup.dedup_keep_representatives(docs, pairs)
    assert {r.doc_id for r in kept.collect()} == {1, 4, 5}


def test_minhash_to_clusters_end_to_end(docs):
    pairs = dedup.minhash_dedup_pairs(
        docs, num_hashes=32, bands=16, shingle_size=2, threshold=0.5
    )
    kept = dedup.dedup_keep_representatives(docs, pairs)
    ids = {r.doc_id for r in kept.collect()}
    # docs 1/2/4 are one near-dup cluster (1 kept); 3 is unrelated
    assert 3 in ids and 1 in ids
    assert 4 not in ids


# ---------------------------------------------------------------------------
# corpus: chunking, deterministic shuffle, inverted index
# ---------------------------------------------------------------------------


def test_chunk_documents_boundaries(spark):
    from dataproc_spark.extensions import corpus

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x"), (3, "   ")],
        schema="doc_id long, text string",
    )
    rows = {
        (r.doc_id, r.chunk_id): (r.chunk_text, r.n_tokens)
        for r in corpus.chunk_documents(df, chunk_tokens=2).collect()
    }
    assert rows == {
        (1, 0): ("a b", 2),
        (1, 1): ("c d", 2),
        (1, 2): ("e", 1),  # short final chunk kept
        (2, 0): ("x", 1),
        # doc 3 (no tokens) yields no chunks
    }
    with pytest.raises(ValueError, match="chunk_tokens"):
        corpus.chunk_documents(df, chunk_tokens=0)


def test_shuffle_order_partition_independent(spark):
    from dataproc_spark.extensions import corpus

    rows = [(i, f"s{i % 3}") for i in range(100)]
    df = spark.createDataFrame(rows, schema="doc_id long, source string")
    a = {
        r.doc_id: (r.shard, r.pos)
        for r in corpus.shuffle_order(df.repartition(1)).collect()
    }
    b = {
        r.doc_id: (r.shard, r.pos)
        for r in corpus.shuffle_order(df.repartition(7, "source")).collect()
    }
    assert a == b  # coordinates derive from content hash, not layout
    # per-shard positions are contiguous 0..n-1
    from collections import defaultdict

    by_shard = defaultdict(list)
    for shard, pos in a.values():
        by_shard[shard].append(pos)
    for shard, ps in by_shard.items():
        assert sorted(ps) == list(range(len(ps)))
    # different salt => different permutation
    c = {
        r.doc_id: (r.shard, r.pos)
        for r in corpus.shuffle_order(df, salt="epoch1").collect()
    }
    assert c != a


def test_shuffle_order_rejects_bad_shard_count(spark):
    from dataproc_spark.extensions import corpus

    df = spark.createDataFrame([(1, "a")], schema="doc_id long, source string")
    with pytest.raises(ValueError, match="n_shards"):
        corpus.shuffle_order(df, n_shards=10)


def test_inverted_index_positions(spark):
    from dataproc_spark.extensions import corpus

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog")],
        schema="doc_id long, text string",
    )
    idx = {
        (r.term, r.doc_id): (r.tf, r.positions)
        for r in corpus.inverted_index(df).collect()
    }
    assert idx[("the", 1)] == (2, "0,4")
    assert idx[("cat", 1)] == (1, "1")
    assert idx[("the", 2)] == (1, "0")
    only_repeats = {
        (r.term, r.doc_id)
        for r in corpus.inverted_index(df, min_tf=2).collect()
    }
    assert only_repeats == {("the", 1)}


def test_redact_pii_semantics(spark):
    from dataproc_spark.extensions import corpus

    df = spark.createDataFrame(
        [
            (1, "mail a.b@c.org and 10.0.0.1 and 123-456-7890 x"),
            (2, "clean text only"),
            (3, "ssn 123 45 6789 and card 4111-1111-1111-1111"),
        ],
        schema="doc_id long, text string",
    )
    got = {r.doc_id: r for r in corpus.redact_pii(df).collect()}
    assert got[1].text == "mail <EMAIL> and <IP> and <NUM> x"
    assert (got[1].n_emails, got[1].n_ips, got[1].n_numruns) == (1, 1, 1)
    assert got[2].text == "clean text only"
    assert (got[2].n_emails, got[2].n_ips, got[2].n_numruns) == (0, 0, 0)
    assert got[3].text == "ssn <NUM> and card <NUM>"
    assert got[3].n_numruns == 2
    # out_col keeps the original column
    kept = corpus.redact_pii(df, out_col="scrubbed").collect()
    assert {r.text for r in kept} >= {"clean text only"}
    assert all(hasattr(r, "scrubbed") for r in kept)


def test_pagerank_matches_python_model(spark):
    from collections import defaultdict

    from dataproc_spark.extensions import graph

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")]
    df = spark.createDataFrame(edges, schema="src string, dst string")
    n_iter, scale, num, den = 4, 1_000_000, 85, 100
    got = {r.node: r.rank for r in graph.pagerank(df, n_iter=n_iter).collect()}

    nodes = sorted({x for e in edges for x in e})
    deg = defaultdict(int)
    for s, _ in set(edges):
        deg[s] += 1
    rank = {n: scale for n in nodes}
    base = (scale * (den - num)) // den
    for _ in range(n_iter):
        s = defaultdict(int)
        for a, b in set(edges):
            s[b] += rank[a] // deg[a]
        rank = {n: base + (s[n] * num) // den for n in nodes}
    assert got == rank
    # d has no in-edges: floor(0.15 * scale) exactly
    assert got["d"] == base


def test_pagerank_duplicate_edges_count_once(spark):
    from dataproc_spark.extensions import graph

    once = spark.createDataFrame(
        [("a", "b"), ("b", "a")], schema="src string, dst string"
    )
    dup = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("b", "a")], schema="src string, dst string"
    )
    r1 = {r.node: r.rank for r in graph.pagerank(once, n_iter=3).collect()}
    r2 = {r.node: r.rank for r in graph.pagerank(dup, n_iter=3).collect()}
    assert r1 == r2


def test_connected_components_empty_pairs(spark):
    # max over an empty frame is None — must read as "converged", not
    # loop to max_iter and raise
    from dataproc_spark.extensions import dedup as _dedup

    empty = spark.createDataFrame([], schema="id_a long, id_b long")
    assert _dedup.connected_components(empty).count() == 0


def test_shuffle_order_rejects_column_clash(spark):
    from dataproc_spark.extensions import corpus

    df = spark.createDataFrame([(1, 0)], schema="doc_id long, pos long")
    with pytest.raises(ValueError, match="overwrite existing"):
        corpus.shuffle_order(df)


def test_count_min_never_undercounts(spark):
    from collections import Counter

    from dataproc_spark.extensions import approx

    vals = ["a"] * 7 + ["b"] * 3 + ["c"] * 5 + [f"x{i}" for i in range(40)]
    df = spark.createDataFrame([(v,) for v in vals], schema="token string")
    exact = Counter(vals)

    # narrow sketch: collisions likely — estimates must only inflate
    sk = approx.count_min_sketch(df, "token", depth=3, width=8)
    items = spark.createDataFrame(
        [(t,) for t in exact], schema="token string"
    )
    est = {
        r.token: r.est
        for r in approx.count_min_estimate(
            sk, items, "token", depth=3, width=8
        ).collect()
    }
    assert all(est[t] >= n for t, n in exact.items())

    # wide sketch: no collisions at this cardinality — estimates exact
    sk2 = approx.count_min_sketch(df, "token", depth=4, width=4096)
    est2 = {
        r.token: r.est
        for r in approx.count_min_estimate(
            sk2, items, "token", depth=4, width=4096
        ).collect()
    }
    assert est2 == dict(exact)


def test_bloom_no_false_negatives(spark):
    from dataproc_spark.extensions import approx

    members = [f"m{i}" for i in range(50)]
    others = [f"z{i}" for i in range(200)]
    mdf = spark.createDataFrame([(v,) for v in members], schema="v string")
    bloom = approx.bloom_build(mdf, "v", m_bits=1024, k=3)
    probe = spark.createDataFrame(
        [(v,) for v in members + others], schema="v string"
    )
    got = {
        r.v: r.may_contain
        for r in approx.bloom_may_contain(
            bloom, probe, "v", m_bits=1024, k=3
        ).collect()
    }
    assert all(got[v] for v in members)  # never a false negative
    fp = sum(got[v] for v in others)
    assert fp < len(others) * 0.2  # ~ (1-e^{-150/1024})^3 ≈ 0.25%


def test_remove_repeated_spans(spark):
    from dataproc_spark.extensions.corpus import remove_repeated_spans

    docs = spark.createDataFrame(
        [
            (1, "COPYRIGHT NOTICE applies here alpha beta gamma"),
            (2, "COPYRIGHT NOTICE applies here delta"),
            (3, "totally unique words only"),
            (4, "x y"),  # shorter than n: must pass through untouched
            (5, ""),
        ],
        schema="doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_removed, r.text_clean)
        for r in remove_repeated_spans(docs, n=3, min_df=2).collect()
    }
    # "COPYRIGHT NOTICE applies here" = two overlapping shared 3-grams
    # covering 4 positions in both docs; unique tails survive
    assert got[1] == (4, "alpha beta gamma")
    assert got[2] == (4, "delta")
    assert got[3] == (0, "totally unique words only")
    assert got[4] == (0, "x y")
    assert got[5] == (0, "")


def test_remove_repeated_spans_fully_covered_doc(spark):
    from dataproc_spark.extensions.corpus import remove_repeated_spans

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], schema="doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_removed, r.text_clean)
        for r in remove_repeated_spans(docs, n=3, min_df=2).collect()
    }
    assert got == {1: (3, ""), 2: (3, "")}


def test_remove_repeated_spans_validates_args(spark):
    from dataproc_spark.extensions.corpus import remove_repeated_spans

    docs = spark.createDataFrame([(1, "a")], schema="doc_id long, text string")
    with pytest.raises(ValueError):
        remove_repeated_spans(docs, n=0)
    with pytest.raises(ValueError):
        remove_repeated_spans(docs, min_df=1)


def test_embed_kmeans_converges_on_separated_clusters(spark):
    """Two well-separated blobs: every point lands with its blob's seed,
    and the result is stable across re-runs (deterministic init, ties)."""
    from dataproc_spark.extensions.simsearch import embed_kmeans

    rows = [(i, [10.0 + 0.001 * i, 0.0]) for i in range(6)] + [
        (100 + i, [0.0, 10.0 + 0.001 * i]) for i in range(6)
    ]
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    out = embed_kmeans(df, k=2, iters=2).toPandas()
    by_cluster = out.groupby("cluster").vec_id.apply(set).to_dict()
    # both seeds start in the left blob; after the updates the two blobs
    # must separate exactly (which cid gets which blob is data-driven)
    assert sorted(by_cluster.values(), key=min) == [
        set(range(6)), {100 + i for i in range(6)}
    ]
    again = embed_kmeans(df, k=2, iters=2).toPandas()
    assert sorted(map(tuple, out.values.tolist())) == sorted(
        map(tuple, again.values.tolist())
    )


def test_embed_kmeans_drops_empty_clusters(spark):
    """A seed that captures no points after reassignment disappears; the
    survivor set keeps its original cids."""
    from dataproc_spark.extensions.simsearch import embed_kmeans

    # duplicate seed vectors (vecs 0 and 1 identical): every point's
    # argmin TIES between cid 0 and cid 1 and the pinned tie-break
    # assigns the smallest cid, so cluster 1 captures nothing and MUST
    # be dropped — this actually exercises the drop path (the earlier
    # fixture kept both clusters alive, covering nothing — r7 review)
    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 0.0]),
            (3, [2.0, 0.0])]
    df = spark.createDataFrame(rows, schema="vec_id long, embedding array<float>")
    out = embed_kmeans(df, k=2, iters=2).toPandas()
    assert set(out.cluster) == {0}  # cluster 1 emptied and disappeared
    assert len(out) == 4


def _pq_quantize(x):
    """``simsearch.quantize`` on one float32 element: HALF_UP rounding of
    the float32's double value × 1000."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    return int(Decimal(float(np.float32(x)) * 1000).quantize(
        Decimal(1), rounding=ROUND_HALF_UP))


def _pq_nearest(xs, book):
    """Argmin squared L2 over a {code: centroid} book, ties → smallest
    code."""
    return min(
        (sum((a - b) ** 2 for a, b in zip(xs, cv)), code)
        for code, cv in book.items()
    )[1]


def _pq_model(rows, m, codes, iters):
    """Independent per-subspace integer Lloyd model of ``pq_train`` +
    ``pq_encode``: seeds are the ``codes`` smallest ids' quantized
    subvectors (code = rank in id order), assignment is argmin squared
    L2 with ties to the smallest code, updates are the element-wise
    mean truncated toward zero, and codes that capture nothing drop.
    Returns (sorted codebook list, {id: codes})."""
    qv = {i: [_pq_quantize(x) for x in v] for i, v in rows}
    sd = len(next(iter(qv.values()))) // m
    sub_of = {i: [v[s * sd:(s + 1) * sd] for s in range(m)]
              for i, v in qv.items()}
    books = [
        {c: sub_of[i][s] for c, i in enumerate(sorted(qv)[:codes])}
        for s in range(m)
    ]
    for _ in range(iters):
        nxt = []
        for s, book in enumerate(books):
            members = {}
            for i in qv:
                members.setdefault(
                    _pq_nearest(sub_of[i][s], book), []
                ).append(sub_of[i][s])
            nxt.append({
                c: [
                    (abs(t) // len(vs)) * (1 if t >= 0 else -1)
                    for t in (sum(col) for col in zip(*vs))
                ]
                for c, vs in members.items()
            })
        books = nxt
    cb = sorted((s, c, v) for s, book in enumerate(books)
                for c, v in book.items())
    enc = {i: [_pq_nearest(sub_of[i][s], books[s]) for s in range(m)]
           for i in qv}
    return cb, enc


def test_pq_train_encode_known_geometry(spark):
    """r15 PQ: on two dims split into m=2 subspaces with well-separated
    values per subspace, the trained codebook converges to the exact
    integer means and every vector encodes to its subspace blob — both
    equal to the independent integer Lloyd model (``_pq_model``)."""
    import pytest as _pytest

    from dataproc_spark.extensions import simsearch

    # sub 0 (dim 0): blob around 0 for ids 0-2, around 10 for ids 3-5
    # sub 1 (dim 1): blob around 0 for even ids, around 6 for odd
    rows = [(i, [float(10 if i >= 3 else 0) + (0.001 * i),
                 float(6 if i % 2 else 0)]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb_a = simsearch.pq_train(df, m=2, codes=2, iters=2)
    want_cb, want_codes = _pq_model(rows, m=2, codes=2, iters=2)
    assert [(s, c, [int(x) for x in v]) for s, c, v in cb_a] == want_cb
    # sub 0: codes from seeds (ids 0, 1) — both near 0, so one empties
    # unless the far blob recaptures; sub 1: seeds 0 (even, 0) and
    # 1 (odd, 6000) — exact integer means
    by_sub = {}
    for s, c, v in cb_a:
        by_sub.setdefault(s, {})[c] = v
    assert by_sub[1][0] == [0] and by_sub[1][1] == [6000]
    codes_a = {r.vec_id: list(r.codes)
               for r in simsearch.pq_encode(df, cb_a).collect()}
    assert codes_a == want_codes
    assert all(codes_a[i][1] == (1 if i % 2 else 0) for i in range(6))
    # geometry violations raise, never mis-slice
    with _pytest.raises(ValueError, match="multiple"):
        simsearch.pq_train(df, m=3, codes=2)
    bad = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0])], "vec_id long, embedding array<float>")
    with _pytest.raises(Exception, match="pq_encode: expected 2-dim"):
        simsearch.pq_encode(bad, cb_a).collect()


def test_pq_adc_topk_exact_on_centroids(spark):
    """r15 ADC: vectors sitting exactly ON distinct codebook centroids
    have ADC distance equal to the true squared L2 between centroid
    tuples — verified against a hand computation, with rank tie-break
    id ASC and exclude_self honored."""
    from pyspark.sql import functions as F

    from dataproc_spark.extensions import simsearch

    # 4 vectors in 2 dims, m=2/codes=2: ids 0,1 define the seeds
    rows = [(0, [0.0, 0.0]), (1, [4.0, 2.0]), (2, [0.0, 2.0]),
            (3, [4.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = simsearch.pq_train(df, m=2, codes=2, iters=2)
    codes = simsearch.pq_encode(df, cb)
    q = df.where(F.col("vec_id") == 0)
    got = {(r.qid, r.id): (r.d_adc, r.rank)
           for r in simsearch.pq_adc_topk(q, codes, cb, k=4).collect()}
    # centroids: sub0 {0, 4000}, sub1 {0, 2000}; vec 2 -> (0, 2000):
    # d = 2000^2; vec 3 -> (4000, 0): d = 4000^2; vec 1 -> both far
    assert got[(0, 2)] == (2000 * 2000, 1)
    assert got[(0, 3)] == (4000 * 4000, 2)
    assert got[(0, 1)] == (4000 * 4000 + 2000 * 2000, 3)
    assert (0, 0) not in got  # exclude_self
    both = simsearch.pq_adc_topk(q, codes, cb, k=4, exclude_self=False)
    assert {(r.qid, r.id) for r in both.collect()} == {
        (0, 0), (0, 1), (0, 2), (0, 3)}


def test_resize_image_stats_known_upsample(spark):
    """2x1 RGB image upsampled to 4x2 by NN: each source pixel repeats
    2x2, so the sum is exactly 4x the original and min/max are
    preserved."""
    import numpy as np

    from dataproc_spark.extensions.multimodal import (
        encode_ppm,
        resize_image_stats,
    )

    arr = np.array([[[0, 10, 20], [30, 40, 250]]], dtype=np.uint8)  # 1x2x3
    media = spark.createDataFrame(
        [(1, encode_ppm(arr))], schema="media_id long, payload binary"
    )
    row = resize_image_stats(media, width=4, height=2).collect()[0]
    assert (row.width, row.height, row.channels) == (4, 2, 3)
    assert row.pixel_sum == int(arr.astype(int).sum()) * 4
    assert (row.pixel_min, row.pixel_max) == (0, 250)


def test_bpe_learn_merges_known_corpus(spark):
    """'low low lower' — pair (l,o) dominates (freq 3), then (lo,w)
    (freq 3 after merge 1), then (low, e) vs others: 'low' completes
    first; ties break lexicographically."""
    from dataproc_spark.extensions.textstats import bpe_learn_merges

    df = spark.createDataFrame(
        [(1, "low low lower"), (2, "low")], schema="doc_id long, text string"
    )
    merges = bpe_learn_merges(df, n_merges=3)
    assert merges[0] == (0, "l", "o", 4)
    assert merges[1] == (1, "lo", "w", 4)
    # after 'low': remaining pairs are (low,e) x1 and (e,r) x1 -> tie,
    # lexicographic: ('e','r') < ('low','e')
    assert merges[2] == (2, "e", "r", 1)


def test_bpe_learn_merges_single_char_words(spark):
    """Single-symbol words carry no pairs (the sequence(1,0) descending
    trap) and an exhausted corpus stops early."""
    from dataproc_spark.extensions.textstats import bpe_learn_merges

    df = spark.createDataFrame(
        [(1, "a b a ab")], schema="doc_id long, text string"
    )
    merges = bpe_learn_merges(df, n_merges=5)
    assert merges == [(0, "a", "b", 1)]


def test_quality_constraints_detect_violations(spark):
    from dataproc_spark.extensions.quality import (
        check_in_range,
        check_references,
        check_unique,
        validate_constraints,
    )

    fact = spark.createDataFrame(
        [(1, 10, 5), (1, 11, 60), (2, 99, None), (3, 10, 7)],
        schema="k long, ref long, v long",
    )
    dim = spark.createDataFrame([(10,), (11,)], schema="d long")
    out = validate_constraints([
        check_unique(fact, ["k"]),
        check_in_range(fact, "v", 1, 50),
        check_references(fact, "ref", dim, "d"),
    ])
    got = dict((r.rule, r.violations) for r in out.collect())
    assert got == {
        "unique(k)": 2,               # both rows of the duplicated key
        "range(v, 1, 50)": 2,         # 60 out of range + the null
        "references(ref)": 1,         # ref=99 unmatched
    }


def test_profile_table_stats(spark):
    from dataproc_spark.extensions.quality import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b")], schema="k long, s string"
    )
    out = {r.column: r for r in profile_table(df, ["k", "s"]).collect()}
    assert out["k"].n_rows == 3 and out["k"].n_null == 0
    assert out["k"].n_distinct == 2
    assert (out["k"].min_value, out["k"].max_value) == ("1", "2")
    assert out["s"].n_null == 1 and out["s"].n_distinct == 2


def test_triangle_count_known_graph(spark):
    """K4 minus one edge: two triangles sharing an edge; the nodes on
    the shared edge sit in both."""
    from dataproc_spark.extensions.graph import triangle_count

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (1, 4), (2, 4),  # K4 minus (3,4)
         (2, 1)],                                  # reversed dup collapses
        schema="src long, dst long",
    )
    got = {r.node: r.n_triangles for r in triangle_count(edges).collect()}
    assert got == {1: 2, 2: 2, 3: 1, 4: 1}


def test_bpe_learn_merges_adjacent_pair_semantics(spark):
    """Pinned divergence from canonical BPE: in 'abab' the two (a,b)
    occurrences share a delimiter space, so the non-overlapping replace
    merges only the first; the residual pair re-learns as rule 1 with
    the leftover count. (Canonical greedy BPE would merge both in round
    one — the documented cross-engine trade.)"""
    from dataproc_spark.extensions.textstats import bpe_learn_merges

    df = spark.createDataFrame([(1, "abab")], schema="doc_id long, text string")
    merges = bpe_learn_merges(df, n_merges=2)
    assert merges[0] == (0, "a", "b", 2)   # pre-merge pair count
    assert merges[1] == (1, "a", "b", 1)   # the survivor re-learns


# --- r7 pipeline-operator wave --------------------------------------------

def test_co_occurrence_counts_and_topn(spark):
    from dataproc_spark.extensions.analytics import co_occurrence

    rows = [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"),
            (3, "a"), (3, "b"), (3, "b")]  # dup (3,b) must not inflate
    df = spark.createDataFrame(rows, "g long, i string")
    got = {(r.item_a, r.item_b): r.support
           for r in co_occurrence(df, "g", "i", min_support=1).collect()}
    assert got == {("a", "b"): 3, ("a", "c"): 1, ("b", "c"): 1}
    top = co_occurrence(df, "g", "i", min_support=1, top_n=1).collect()
    assert [(r.item_a, r.item_b, r.support) for r in top] == [("a", "b", 3)]


def test_vocab_coverage_oov_permille(spark):
    from dataproc_spark.extensions.textstats import vocab_coverage

    docs = spark.createDataFrame(
        [(1, "the the the cat", "a"), (2, "the dog runs far", "b")],
        "doc_id long, text string, source string",
    )
    # vocab_size=1 -> vocabulary = {'the'} (count 4, highest)
    got = {r.source: (r.n_tokens, r.n_oov, r.oov_m)
           for r in vocab_coverage(docs, vocab_size=1).collect()}
    assert got == {"a": (4, 1, 250), "b": (4, 3, 750)}


def test_fuzzy_join_blocked_self_pairs(spark):
    from pyspark.sql import functions as F

    from dataproc_spark.extensions.linkage import fuzzy_join_blocked

    df = spark.createDataFrame(
        [(1, "alpha-01"), (2, "alpha-02"), (3, "alpha-99"), (4, "beta-01")],
        "id long, name string",
    )
    out = fuzzy_join_blocked(
        df, df, key_col="name", block=F.expr("substring(name, 1, 5)"),
        max_dist=1, id_col="id",
    )
    got = {(r.id_a, r.id_b): r.dist for r in out.collect()}
    # 01~02 dist 1; 01~99 and 02~99 dist 2 (dropped); beta in another block
    assert got == {(1, 2): 1}


def test_hard_negatives_exact(spark):
    from pyspark.sql import functions as F

    from dataproc_spark.extensions.simsearch import hard_negatives

    emb = spark.createDataFrame(
        [(0, 0, [1.0, 0.0]),      # query, label 0
         (1, 0, [0.9, 0.1]),      # best same-label
         (2, 0, [0.5, 0.5]),
         (3, 1, [0.8, 0.2]),      # best different-label
         (4, 1, [0.0, 1.0])],
        "vec_id long, label int, embedding array<double>",
    )
    out = hard_negatives(emb, emb.where(F.col("vec_id") == 0)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.qid, r.pos_id, r.neg_id) == (0, 1, 3)
    assert r.pos_dot == 900 * 1000 and r.neg_dot == 800 * 1000


def test_ngram_containment_asymmetric(spark):
    from dataproc_spark.extensions.dedup import ngram_containment_pairs

    short = "alpha beta gamma delta"          # 2 distinct 3-grams
    long_ = short + " epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, short), (2, long_)], "doc_id long, text string"
    )
    got = {(r.id_a, r.id_b): r.containment_m
           for r in ngram_containment_pairs(
               docs, n=3, min_shared=2, containment_threshold_m=500
           ).collect()}
    # doc1 fully inside doc2 -> containment 1000; reverse is 2/8 = 250
    assert got == {(1, 2): 1000}


# ---------------------------------------------------------------------------
# URL / domain curation (extensions.web)
# ---------------------------------------------------------------------------


def test_host_and_registered_domain(spark):
    from dataproc_spark.extensions import web

    df = spark.createDataFrame(
        [(1, "https://www.Site.COM/p/1?x=1"),
         (2, "http://a.b.site.co.uk/deep/path"),
         (3, "https://cdn.assets.site9.io/p/3"),
         (4, "https://localhost/x"),
         (5, "not a url")],
        schema="doc_id long, url string",
    )
    out = {r.doc_id: (r.host, r.domain)
           for r in web.with_domain(df).collect()}
    assert out[1] == ("www.site.com", "site.com")
    assert out[2] == ("a.b.site.co.uk", "site.co.uk")
    assert out[3] == ("cdn.assets.site9.io", "site9.io")
    # bare single-label host maps to itself
    assert out[4] == ("localhost", "localhost")
    # unparseable URL -> NULL host; domain falls through to NULL too
    assert out[5] == (None, None)


def test_cap_per_domain_salted_matches_exact(spark):
    """The two-phase salted cap must return exactly the single-phase
    result (phase 1 only drops rows the exact cap would also drop),
    including under a heavily skewed domain."""
    from dataproc_spark.extensions import web

    rows = [(i, "big.com", i % 17) for i in range(200)]
    rows += [(1000 + i, f"tail{i}.org", i) for i in range(20)]
    df = spark.createDataFrame(rows, schema="doc_id long, domain string, n_chars long")
    plain = web.cap_per_domain(df, cap=5, order_by=["n_chars", "doc_id"])
    salted = web.cap_per_domain(
        df, cap=5, order_by=["n_chars", "doc_id"], salts=8
    )
    assert rows_set(plain) == rows_set(salted)
    got = rows_set(plain)
    assert sum(1 for r in got if r[1] == "big.com") == 5
    with pytest.raises(ValueError, match="cap must be >= 1"):
        web.cap_per_domain(df, cap=0)


def test_domain_mixture_integer_shares(spark):
    from dataproc_spark.extensions import web

    df = spark.createDataFrame(
        [(1, "a.com", 30), (2, "a.com", 30), (3, "b.org", 40)],
        schema="doc_id long, domain string, n_chars long",
    )
    out = {r.domain: (r.n_docs, r.weight, r.share_bps)
           for r in web.domain_mixture(df, weight_col="n_chars").collect()}
    assert out == {"a.com": (2, 60, 6000), "b.org": (1, 40, 4000)}
    # doc-count weighting when no weight column is given
    out2 = {r.domain: r.share_bps
            for r in web.domain_mixture(df).collect()}
    assert out2 == {"a.com": 6666, "b.org": 3333}


# ---------------------------------------------------------------------------
# BPE apply pass (textstats.bpe_apply)
# ---------------------------------------------------------------------------


def _bpe_model_count(text, merges):
    """Plain-Python BPE apply over words: words split on Java's ASCII
    \\s class, one symbol per character, then for each rule in rank order
    merge adjacent ``(a, b)`` pairs left to right without overlap. A
    merge's right neighbour never starts the next merge — in the
    trainer's sentinel-space string the two matches would share a space
    (``bpe_learn_merges``' documented adjacent-repeat divergence)."""
    import re

    if not text:
        return 0
    total = 0
    for w in re.split(r"[ \t\n\x0b\f\r]+", text):
        if not w:
            continue
        syms = list(w)
        for _rank, a, b, _freq in sorted(merges):
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == (a, b):
                    out.append(a + b)
                    out.extend(syms[i + 2:i + 3])
                    i += 3
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        total += len(syms)
    return total


def test_bpe_apply_matches_python_model(spark):
    """Learned-token counts equal the plain-Python word model; counts
    with 0 merges equal the character-symbol count; every merge round
    only shrinks counts; a 1,000-rule table (plan depth no longer grows
    with the rule count) runs and matches the model."""
    df = spark.createDataFrame(
        [(1, "low low lower"), (2, "low"), (3, ""), (4, None)],
        schema="doc_id long, text string",
    )
    merges = textstats.bpe_learn_merges(df, n_merges=2)
    # 'l o' is the most frequent pair (freq 4: low x3 + lower)
    assert (merges[0][1], merges[0][2]) == ("l", "o")

    zero = {r.doc_id: r.n_bpe_tokens
            for r in textstats.bpe_apply(df, []).collect()}
    # no merges -> one symbol per character (whitespace excluded)
    assert zero == {1: 11, 2: 3, 3: 0, 4: 0}

    got = {r.doc_id: r.n_bpe_tokens
           for r in textstats.bpe_apply(df, merges).collect()}
    assert all(got[d] <= zero[d] for d in got)
    # merges: (l,o) then (lo,w) -> 'low' is ONE token, 'lower' is lo w e r
    # after rank0 -> low e r after rank1: 1 + 2 = 3 symbols
    assert got == {1: 1 + 1 + 3, 2: 1, 3: 0, 4: 0}
    texts = dict(df.collect())
    assert got == {d: _bpe_model_count(t, merges) for d, t in texts.items()}

    # 1,000 rules over a 4-letter alphabet: each rule merges two symbols
    # already in the pool, so long merge chains really fire; passed in
    # shuffled order to exercise the rank sort
    import random

    rng = random.Random(7)
    pool, big = list("abcd"), []
    for rank in range(1000):
        a, b = rng.choice(pool), rng.choice(pool[:8] + pool[-8:])
        big.append((rank, a, b, 1))
        if len(a + b) <= 12:
            pool.append(a + b)
    rng.shuffle(big)
    words = [
        "".join(rng.choice("abcd") for _ in range(rng.randint(1, 30)))
        for _ in range(300)
    ]
    corpus = [
        (i, " ".join(words[j] for j in rng.sample(range(300), 12)))
        for i in range(40)
    ] + [(40, "abab abab\taaaa"), (41, None)]
    cdf = spark.createDataFrame(corpus, schema="doc_id long, text string")
    got = {r.doc_id: r.n_bpe_tokens
           for r in textstats.bpe_apply(cdf, big).collect()}
    want = {d: _bpe_model_count(t, big) for d, t in corpus}
    assert got == want
    zero_big = {d: _bpe_model_count(t, []) for d, t in corpus}
    assert sum(want.values()) < sum(zero_big.values())  # rules fired


def test_bpe_arrow_parity_on_unicode_whitespace_and_replacement(spark):
    """The Arrow kernel splits with Java's ASCII \\s semantics — U+00A0 is
    NOT a word boundary, so 'a\\u00a0b' is ONE 3-char word — and it
    REPLACES a pre-existing out_col instead of crashing on a duplicate
    field."""
    df = spark.createDataFrame(
        [(1, "a\u00a0b"), (2, "a b"), (3, "x\u2028y z")],
        schema="doc_id long, text string",
    )
    got = {r.doc_id: r.n_bpe_tokens
           for r in textstats.bpe_apply(df, []).collect()}
    assert got == {1: 3, 2: 2, 3: 4}

    # re-running the pass over a frame that already carries the column
    stale = df.withColumn("n_bpe_tokens", F.lit(-1).cast("long"))
    rerun = textstats.bpe_apply(stale, [])
    assert rerun.columns == stale.columns
    assert {r.doc_id: r.n_bpe_tokens for r in rerun.collect()} == got


def test_bpe_apply_counts_bounded_by_surrogates(spark):
    """Budget-parity invariant vs the two surrogates (r7 VERDICT task 4
    done-criterion): for ANY merge table, the learned-BPE count of a doc
    sits between its whitespace word count (every word fully merged —
    the floor) and its non-whitespace character count (zero merges — the
    ceiling). Budgeting on n_bpe_tokens is therefore never looser than
    word-count budgeting and never exceeds char-count budgeting."""
    rows = [(1, "low low lower"), (2, "a"), (3, ""), (4, None),
            (5, "the quick brown fox"), (6, "aaaa bb aaaa bb aaaa")]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    for n_merges in (0, 2, 5):
        merges = textstats.bpe_learn_merges(df, n_merges=n_merges)
        out = textstats.bpe_apply(df, merges).withColumn(
            "n_words",
            F.coalesce(textstats.token_count(), F.lit(0)).cast("long"),
        ).withColumn(
            "n_chars_nw",
            F.coalesce(
                F.length(F.regexp_replace("text", r"\s", "")), F.lit(0)
            ).cast("long"),
        )
        bad = out.where(
            (F.col("n_bpe_tokens") < F.col("n_words"))
            | (F.col("n_bpe_tokens") > F.col("n_chars_nw"))
        ).count()
        assert bad == 0, f"bounds violated at n_merges={n_merges}"


def test_bpe_apply_rebases_token_budget(spark):
    """select_under_budget consumes learned-BPE counts directly (the
    weight-column-generic seam the apply pass exists to feed)."""
    from dataproc_spark.extensions.analytics import select_under_budget

    df = spark.createDataFrame(
        [(1, "aa aa aa"), (2, "bb"), (3, "cc cc")],
        schema="doc_id long, text string",
    )
    merges = textstats.bpe_learn_merges(df, n_merges=1)
    feats = textstats.bpe_apply(df, merges).withColumn(
        "score_m", F.lit(1000) - F.col("doc_id")
    )
    kept = select_under_budget(
        feats, budget=5, weight_col="n_bpe_tokens"
    )
    # the single learned merge is (a,a): doc1 'aa aa aa' -> 3 tokens,
    # doc2 'bb' -> 2 (unmerged), doc3 'cc cc' -> 4; score order is
    # doc1, doc2, doc3 -> 3 + 2 fit the budget, adding doc3 breaks 5
    assert {r.doc_id for r in kept.collect()} == {1, 2}


def test_canonical_url_rewrites(spark):
    """Every rewrite rule: scheme/host case, fragment, tracking params
    at head/middle/tail, emptied query, trailing slash — and meaningful
    params / path case are preserved."""
    from dataproc_spark.extensions import web

    cases = {
        "HTTPS://Site.COM/Page/1?utm_source=x&id=5":
            "https://site.com/Page/1?id=5",
        "https://site.com/a?id=5&fbclid=abc#frag":
            "https://site.com/a?id=5",
        "https://site.com/a?ref=z": "https://site.com/a",
        "https://site.com/a?utm_source=x&utm_medium=y&gclid=1":
            "https://site.com/a",
        "https://site.com/a/": "https://site.com/a",
        "https://site.com/a?id=5&q=B": "https://site.com/a?id=5&q=B",
        "https://site.com/a": "https://site.com/a",
        # '&ref=' in a PATH segment is data (RFC 3986 sub-delim), not a
        # tracking param — the r8 review found it being stripped
        "https://site.com/dl&ref=home?id=5":
            "https://site.com/dl&ref=home?id=5",
        # a '?' inside a query VALUE is data; only the real tracking
        # param goes
        "https://site.com/a?next=x?y&gclid=g":
            "https://site.com/a?next=x?y",
        # a tracking param whose VALUE contains '?' strips entirely
        "https://site.com/a?utm_source=fe?ed&id=1":
            "https://site.com/a?id=1",
    }
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(cases)], schema="i long, url string"
    )
    got = {r.url: r.c
           for r in df.withColumn("c", web.canonical_url()).collect()}
    assert got == cases

    # dedup: decorated variants of one page collapse to the min id
    dups = spark.createDataFrame(
        [(3, "https://site.com/a?utm_source=x&id=5"),
         (1, "HTTPS://site.com/a?id=5#frag"),
         (2, "https://other.com/b")],
        schema="doc_id long, url string",
    )
    kept = {(r.doc_id, r.canonical_url)
            for r in web.dedup_by_url(dups).collect()}
    assert kept == {(1, "https://site.com/a?id=5"),
                    (2, "https://other.com/b")}


def test_web_order_keys_put_nulls_last(spark):
    """NULL order keys must not win: Spark's asc() default is NULLS
    FIRST, so an unscored (NULL-quality) document would beat every real
    row in both the per-domain cap and the URL dedup (r8 review
    finding). Both operators order NULLS LAST."""
    from dataproc_spark.extensions import web

    df = spark.createDataFrame(
        [(1, "a.com", None), (2, "a.com", 10), (3, "a.com", 20),
         (4, "b.org", None)],
        schema="doc_id long, domain string, quality long",
    )
    capped = web.cap_per_domain(df, cap=2, order_by=["quality", "doc_id"])
    assert {r.doc_id for r in capped.collect()} == {2, 3, 4}
    # salted two-phase path must agree (xxhash64 over a NULL key still
    # salts deterministically)
    salted = web.cap_per_domain(
        df, cap=2, order_by=["quality", "doc_id"], salts=4
    )
    assert rows_set(capped) == rows_set(salted)

    dups = spark.createDataFrame(
        [(1, "https://site.com/a", None), (2, "https://site.com/a", 5)],
        schema="doc_id long, url string, quality long",
    )
    kept = web.dedup_by_url(dups, order_by=["quality", "doc_id"])
    assert [r.doc_id for r in kept.collect()] == [2]


def test_bigram_lm_counts_and_surprisal(spark):
    """Hand-checkable LM: corpus 'a b a b a c' x2 docs -> bigrams per doc
    {ab, ba, ab, ba, ac}; across 2 docs ab=4, ba=4, ac=2. min_count=3
    keeps ab/ba only, so cnt1(a)=4 (ac cut), cnt1(b)=4."""
    docs = spark.createDataFrame(
        [(1, "a b a b a c"), (2, "a b a b a c"), (3, "x")],
        "doc_id long, text string",
    )
    lm = textstats.bigram_lm_counts(docs, min_count=3)
    got = {(r.w1, r.w2): (r.cnt2, r.cnt1) for r in lm.collect()}
    assert got == {("a", "b"): (4, 4), ("b", "a"): (4, 4)}

    out = textstats.lm_surprisal(docs, lm, oov_surprise_m=9_000_000)
    by_id = {r.doc_id: (r.n_bigrams, r.n_oov, r.avg_surprise_m) for r in out.collect()}
    # per doc: ab,ba,ab,ba known (surprise 4*1e6 div 4 = 1e6 each),
    # ac OOV (9e6) -> avg = (4*1e6 + 9e6) div 5 = 2_600_000
    assert by_id == {1: (5, 1, 2_600_000), 2: (5, 1, 2_600_000)}
    # doc 3 has < 2 tokens -> excluded entirely


def test_bigram_lm_counts_rejects_bad_min_count(spark):
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="min_count"):
        textstats.bigram_lm_counts(docs, min_count=0)


def test_extract_text_html(spark):
    from dataproc_spark.extensions.web import extract_text

    df = spark.createDataFrame(
        [
            (1, "<html><!-- c --><head><style>p{a:b}</style>"
                "<script>if (a<b && c>1) { x=\"y\"; }</script></head>"
                "<body><h1>T &amp; U</h1>\n<p>hello   world</p></body></html>"),
            # escaped markup in user text must survive as text, not strip
            (2, "<p>use &lt;script&gt; tags &#39;wisely&#39;&nbsp;ok</p>"),
        ],
        "id long, html string",
    )
    got = {r.id: r.plain
           for r in df.select("id", extract_text("html").alias("plain")).collect()}
    assert got == {
        1: "T & U hello world",
        2: "use <script> tags 'wisely' ok",
    }


def test_remove_contaminated_spans(spark):
    from dataproc_spark.extensions.corpus import remove_contaminated_spans

    train = spark.createDataFrame(
        [
            (1, "a b c d e f"),        # contains eval gram "b c d"
            (2, "x y z w"),            # clean
            (3, "b c d b c d g"),      # two overlapping hits
            (4, None),                 # NULL text passes through
        ],
        "doc_id long, text string",
    )
    evalset = spark.createDataFrame(
        [(100, "q b c d r")], "doc_id long, text string"
    )
    out = remove_contaminated_spans(train, evalset, n=3)
    got = {r.doc_id: (r.n_removed, r.text_clean) for r in out.collect()}
    assert got == {
        1: (3, "a e f"),
        2: (0, "x y z w"),
        # positions 0..5 covered (grams at 0 and 3), token 6 survives
        3: (6, "g"),
        4: (0, None),
    }


def test_wav_codec_roundtrip_and_rejections():
    """Pure-codec check, no Spark: encode_wav → _decode_wav_bytes must be
    bit-exact (mono and stereo), the chunk walk must skip unknown chunks
    honoring the RIFF odd-size pad byte, and malformed payloads (non-PCM
    format tag, truncated data, missing chunks) must fail loudly."""
    import struct

    import numpy as np

    rng = np.random.RandomState(11)
    for channels in (1, 2):
        samples = rng.randint(-30000, 30000, size=60 * channels).astype(
            np.int16
        )
        buf = multimodal.encode_wav(samples, 16000, channels)
        rate, c, back = multimodal._decode_wav_bytes(buf)
        assert (rate, c) == (16000, channels)
        assert np.array_equal(back, samples)

    # odd-sized LIST chunk + pad byte between WAVE and fmt
    samples = np.arange(-5, 5, dtype=np.int16)
    buf = multimodal.encode_wav(samples, 8000, 1)
    junk = b"LIST" + struct.pack("<I", 5) + b"INFOZ" + b"\x00"
    spliced = buf[:12] + junk + buf[12:]
    spliced = b"RIFF" + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    rate, c, back = multimodal._decode_wav_bytes(spliced)
    assert rate == 8000 and c == 1 and np.array_equal(back, samples)

    with pytest.raises(ValueError, match="not a RIFF/WAVE"):
        multimodal._decode_wav_bytes(b"OggS" + bytes(40))
    with pytest.raises(ValueError, match="only PCM 16-bit"):
        bad = buf.replace(
            struct.pack("<HH", 1, 1), struct.pack("<HH", 3, 1), 1
        )
        multimodal._decode_wav_bytes(bad)
    with pytest.raises(ValueError, match="truncated|exceeds"):
        multimodal._decode_wav_bytes(buf[:-4])
    with pytest.raises(ValueError, match="multiple of channels"):
        multimodal.encode_wav(np.zeros(5, np.int16), 8000, 2)


def test_audio_synthesize_decode_stats(spark):
    """End-to-end Arrow path: synthesize_audio → decode_audio_stats must
    reproduce the synthesis arithmetic exactly, including the LIST-chunk
    ids (multiples of 5) and both channel layouts."""
    df = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    out = multimodal.decode_audio_stats(multimodal.synthesize_audio(df))
    rows = {r.media_id: r for r in out.collect()}
    assert set(rows) == set(range(12))
    for i in range(12):
        r = rows[i]
        channels = 1 + i % 2
        n_frames = 32 + i % 41
        vals = [
            ((i * 37 + k * 13) % 4001) - 2000
            for k in range(n_frames * channels)
        ]
        assert r.sample_rate == 8000 * (1 + i % 3)
        assert r.channels == channels
        assert r.n_frames == n_frames
        assert r.duration_ms == n_frames * 1000 // r.sample_rate
        assert r.sample_sum == sum(vals)
        assert r.sample_min == min(vals)
        assert r.sample_max == max(vals)
        assert r.energy == sum(v * v for v in vals)


def test_audio_stats_skips_null_payloads(spark):
    media = spark.createDataFrame(
        [(1, None), (2, multimodal.encode_wav([3, -3], 8000, 1))],
        "media_id long, payload binary",
    )
    rows = multimodal.decode_audio_stats(media).collect()
    assert [r.media_id for r in rows] == [2]
    assert rows[0].n_frames == 2 and rows[0].energy == 18


def test_normalize_text_nfc(spark):
    """NFC must compose combining marks (with canonical reordering),
    map singletons, pass NULL through, and leave composed text alone."""
    from dataproc_spark.extensions import corpus

    rows = [
        (0, "Cafe\u0301"),           # e + combining acute
        (1, "\u212b"),               # ANGSTROM SIGN
        (2, "e\u0301\u0323"),        # marks in non-canonical order
        (3, "d\u00e9j\u00e0"),       # already composed
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = corpus.normalize_text(df, out_col="norm")
    got = {r.doc_id: r.norm for r in out.collect()}
    assert got[0] == "Caf\u00e9"
    assert got[1] == "\u00c5"
    assert got[2] == "\u1eb9\u0301"
    assert got[3] == "d\u00e9j\u00e0"
    assert got[4] is None

    # NFKC collapses compatibility characters NFC must preserve
    liga = spark.createDataFrame([(0, "\ufb01le")], "doc_id long, text string")
    assert (
        corpus.normalize_text(liga, form="NFKC").collect()[0].text == "file"
    )
    assert (
        corpus.normalize_text(liga, form="NFC").collect()[0].text
        == "\ufb01le"
    )

    with pytest.raises(ValueError, match="form must be one of"):
        corpus.normalize_text(df, form="nfc")
    with pytest.raises(ValueError, match="duplicate existing column"):
        corpus.normalize_text(df.withColumn("norm", F.lit("x")), out_col="norm")


def test_wav_decode_rejects_zero_sample_rate():
    import struct

    buf = multimodal.encode_wav([1, 2], 8000, 1)
    bad = buf.replace(struct.pack("<I", 8000), struct.pack("<I", 0), 1)
    with pytest.raises(ValueError, match="inconsistent fmt"):
        multimodal._decode_wav_bytes(bad)


def test_normalize_text_rejects_non_string_column(spark):
    from dataproc_spark.extensions import corpus

    df = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="requires a string column"):
        corpus.normalize_text(df, col="doc_id", out_col="norm")


def test_rp_planes_deterministic_and_rademacher():
    from dataproc_spark.extensions import simsearch

    p1 = simsearch.rp_planes(4, 8)
    p2 = simsearch.rp_planes(4, 8)
    assert p1 == p2
    assert all(c in (-1, 1) for row in p1 for c in row)
    # a different seed gives a different plane set
    assert simsearch.rp_planes(4, 8, seed="other") != p1
    with pytest.raises(ValueError, match=">= 1"):
        simsearch.rp_planes(0, 8)


def test_rp_lsh_finds_planted_near_dup(spark):
    from dataproc_spark.extensions import simsearch

    # two near-identical vectors among orthogonal-ish distractors; the
    # python model below PROVES at least one band collides for this
    # plane set (they do not agree on all 16 bits — plane 5's dot is 0
    # for base and -10 for twin), so the test stays honest if the seed
    # or plane derivation ever changes
    base = [1.0, 0.5, -0.25, 0.75]
    twin = [1.0, 0.5, -0.25, 0.74]

    def bands_of(vec, planes, band_bits=4):
        q = [round(x * 1000) for x in vec]
        bits = [
            1 if sum(a * b for a, b in zip(q, pl)) >= 0 else 0
            for pl in planes
        ]
        return {
            (j, tuple(bits[j * band_bits:(j + 1) * band_bits]))
            for j in range(len(planes) // band_bits)
        }
    planes = simsearch.rp_planes(16, 4)
    shared = bands_of(base, planes) & bands_of(twin, planes)
    assert shared, "test precondition: the planted pair must share a band"
    rows = [
        (1, base), (2, twin),
        (3, [-1.0, 2.0, 0.0, -0.5]), (4, [0.0, -1.0, 1.0, 2.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = simsearch.rp_lsh_near_dup(
        df, threshold_dot_q=1_000_000, dim=4, n_planes=16, band_bits=4
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (1, 2) in pairs
    got = next(r for r in out if (r["id_a"], r["id_b"]) == (1, 2))
    # exact integer dot of the quantized (x1000) vectors
    assert got["dot_q"] == (1000 * 1000 + 500 * 500
                            + (-250) * (-250) + 750 * 740)


def test_rp_lsh_identical_vectors_always_collide(spark):
    from dataproc_spark.extensions import simsearch

    v = [0.3, -0.9, 0.1, 0.7, -0.2, 0.5, 0.0, -0.4]
    df = spark.createDataFrame(
        [(10, v), (20, list(v))], "vec_id long, embedding array<float>"
    )
    out = simsearch.rp_lsh_near_dup(
        df, threshold_dot_q=0, dim=8, n_planes=8, band_bits=2
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in out] == [(10, 20)]


def test_rp_lsh_parameter_guards(spark):
    from dataproc_spark.extensions import simsearch

    df = spark.createDataFrame([(1, [1.0, 2.0])],
                               "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="must divide n_planes"):
        simsearch.rp_lsh_near_dup(df, 0, dim=2, n_planes=16, band_bits=5)
    with pytest.raises(ValueError, match="band_bits must be >= 1"):
        simsearch.rp_lsh_near_dup(df, 0, dim=2, n_planes=16, band_bits=0)
    # wrong-length vectors raise instead of silently nulling out
    with pytest.raises(Exception, match="expected 3-dim"):
        simsearch.rp_lsh_near_dup(
            df, 0, dim=3, n_planes=4, band_bits=2
        ).collect()


def test_rp_lsh_rejects_null_vectors_and_elements(spark):
    from dataproc_spark.extensions import simsearch

    # a NULL element would NaN-cast to garbage band keys — a silent
    # escape, so it raises
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, None]), (3, [2.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(Exception, match="no NULL elements"):
        simsearch.rp_lsh_near_dup(
            df, 0, dim=2, n_planes=4, band_bits=2
        ).collect()
    null_vec = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="size=NULL"):
        simsearch.rp_lsh_near_dup(
            null_vec, 0, dim=2, n_planes=4, band_bits=2
        ).collect()


def test_rp_lsh_matches_numpy_model_on_embeddings(spark):
    """The full rp-LSH pipeline on the sf0.001 embedding fixture equals
    an independent numpy model: md5 ±1 planes, sign bits (dot >= 0),
    one candidate per pair sharing any band key, exact integer dot >=
    threshold."""
    import numpy as np

    from dataproc_spark.extensions import simsearch

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    kw = dict(threshold_dot_q=250_000, dim=64, n_planes=16, band_bits=4)
    got = sorted(
        (r["id_a"], r["id_b"], r["dot_q"])
        for r in simsearch.rp_lsh_near_dup(emb, **kw).collect()
    )

    q = {
        r["vec_id"]: list(r["q"])
        for r in emb.select(
            "vec_id", simsearch.quantize("embedding").alias("q")
        ).collect()
    }
    ids = np.array(sorted(q), dtype=np.int64)
    v = np.array([q[i] for i in ids], dtype=np.int64)
    planes = np.array(simsearch.rp_planes(16, 64), dtype=np.int64)
    keys = ((v @ planes.T) >= 0).reshape(len(ids), 4, 4)
    share = np.zeros((len(ids), len(ids)), dtype=bool)
    for j in range(4):
        share |= (keys[:, None, j, :] == keys[None, :, j, :]).all(axis=2)
    dots = v @ v.T
    ii, jj = np.nonzero(
        share & (dots >= kw["threshold_dot_q"])
        & (ids[None, :] > ids[:, None])
    )
    want = sorted(
        (int(ids[a]), int(ids[b]), int(dots[a, b])) for a, b in zip(ii, jj)
    )
    assert got == want
    assert len(want) > 0


def test_exact_dedup_null_texts_are_not_duplicates(spark):
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "same"), (4, "same")],
        "doc_id long, text string",
    )
    got = sorted(
        (r["doc_id"], r["n_copies"]) for r in dedup.exact_dedup(df).collect()
    )
    # each NULL-text doc survives alone; the real dup pair collapses
    assert got == [(1, 1), (2, 1), (3, 2)]


def test_dedup_by_url_null_urls_all_survive(spark):
    from dataproc_spark.extensions import web

    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "https://x.com/a"),
         (4, "https://x.com/a#frag")],
        "doc_id long, url string",
    )
    got = sorted(r["doc_id"] for r in web.dedup_by_url(df).collect())
    assert got == [1, 2, 3]
    with pytest.raises(ValueError, match="clobber"):
        web.dedup_by_url(df.withColumn("_rn", F.lit(1)))


def test_cap_per_domain_null_domains_uncapped(spark):
    from dataproc_spark.extensions import web

    rows = [(i, None) for i in range(10)] + [(100 + i, "x.com")
                                             for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    for salts in (0, 4):
        got = web.cap_per_domain(df, cap=2, salts=salts)
        ids = sorted(r["doc_id"] for r in got.collect())
        # all 10 NULL-domain docs survive; x.com capped to 2
        assert ids == list(range(10)) + [100, 101], (salts, ids)
    with pytest.raises(ValueError, match="clobber"):
        web.cap_per_domain(df.withColumn("_salt", F.lit(1)), cap=2)


def test_canonical_url_userinfo_and_query_slash(spark):
    from dataproc_spark.extensions import web

    df = spark.createDataFrame(
        [
            (1, "HTTPS://TokenA@API.site.com/x"),
            (2, "https://x.com/p?next=/home/"),
            (3, "https://x.com/a/?q=1"),
        ],
        "i long, url string",
    )
    got = {r["i"]: r["c"]
           for r in df.withColumn("c", web.canonical_url()).collect()}
    assert got[1] == "https://TokenA@api.site.com/x"  # credential case kept
    assert got[2] == "https://x.com/p?next=/home/"    # query value intact
    assert got[3] == "https://x.com/a?q=1"            # path slash stripped


def test_jaccard_threshold_rounds_not_truncates(spark):
    # int(0.043 * 10000) == 429 under float truncation; the cutoff must
    # be 430 so a pair at jaccard_m=429 (true J < 0.043) is excluded
    a = ["w1", "w2", "w3"]
    docs = spark.createDataFrame(
        [(1, " ".join(a * 40)), (2, " ".join(a * 40))],
        "doc_id long, text string",
    )
    # identical docs: jaccard_m = 10000 regardless — just pin the plan
    # builds with a rounded literal by checking the boundary filter value
    out = dedup.minhash_dedup_pairs(
        docs, threshold=0.043, scale_m=10_000, shingle_size=2
    )
    plan = out._jdf.queryExecution().analyzed().toString()
    # pin the full cast literal — a bare '429 not in plan' false-
    # positives once Catalyst expression ids (#429) reach that number in
    # a long-lived test session, and the analyzed filter prints as
    # '>= cast(N as bigint)'
    assert "cast(430 as bigint)" in plan
    assert "cast(429 as bigint)" not in plan


def test_simhash_bands_must_divide_bits(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="must divide bits"):
        dedup.simhash_near_pairs(docs, bits=32, bands=33, max_hamming=3)


def test_minhash_validates_bands_before_persist(spark):
    docs = spark.createDataFrame([(1, "a b c d e f")],
                                 "doc_id long, text string")
    store = spark.sparkContext._jsc.sc().getPersistentRDDs()
    before = store.size()
    with pytest.raises(ValueError, match="must divide"):
        dedup.minhash_dedup_pairs(docs, num_hashes=64, bands=10)
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == before


def test_span_removal_handles_null_and_duplicate_ids(spark):
    from dataproc_spark.extensions import corpus

    evalset = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
    train = spark.createDataFrame(
        [
            (None, "a x y z b"),   # NULL id: the cut must still apply
            (7, "x y z tail"),     # duplicate id, contaminated
            (7, "clean words only more"),  # duplicate id, clean
        ],
        "doc_id long, text string",
    )
    out = corpus.remove_contaminated_spans(train, evalset).collect()
    by_text = {r["text_clean"]: r for r in out}
    assert by_text["a b"]["n_removed"] == 3  # NULL-id row was cut
    assert by_text["tail"]["n_removed"] == 3
    # the clean duplicate-id row must NOT inherit the other row's cuts
    assert by_text["clean words only more"]["n_removed"] == 0


def test_inverted_index_rejects_null_ids(spark):
    from dataproc_spark.extensions import corpus

    df = spark.createDataFrame([(None, "a b")], "doc_id long, text string")
    with pytest.raises(Exception, match="NULL doc_id"):
        corpus.inverted_index(df).collect()


def test_corpus_diff_null_id_single_verdict(spark):
    from dataproc_spark.extensions import corpus

    old = spark.createDataFrame([(None, "same"), (1, "a")],
                                "doc_id long, text string")
    new = spark.createDataFrame([(None, "same"), (2, "b")],
                                "doc_id long, text string")
    got = sorted(
        ((r["doc_id"], r["status"]) for r in corpus.corpus_diff(old, new).collect()),
        key=lambda t: (t[0] is None, t[0]),
    )
    assert got == [(1, "removed"), (2, "added"), (None, "unchanged")]


def test_repetition_features_per_row_with_duplicate_ids(spark):
    from dataproc_spark.extensions import textstats

    df = spark.createDataFrame(
        [(1, "a b"), (1, "a b"), (2, "c d c d c e")],
        "doc_id long, text string",
    )
    rows = textstats.repetition_features(df).collect()
    vals = sorted((r["doc_id"], r["top_bigram_m"]) for r in rows)
    # duplicate-id rows each score their OWN text: 'a b' has one bigram
    # occurring once -> 1000 permille of (n-1)=1; never a merged 2000.
    # 'c d c d c e': bigrams [c d, d c, c d, d c, c e] -> top 'c d'=2 of
    # 5 -> 400
    assert vals == [(1, 1000), (1, 1000), (2, 400)]
    with pytest.raises(ValueError, match="clobber"):
        textstats.repetition_features(df.withColumn("dup_token_m", F.lit(1)))
    with pytest.raises(ValueError, match="clobber"):
        textstats.quality_features(df.withColumn("n_tokens", F.lit(1)))


def test_image_features_null_payload_alignment(spark):
    """A NULL payload in a batch must not misalign the surviving rows
    (pandas index union after notna() produced NaN media_ids)."""
    buf = multimodal.encode_png(__import__("numpy").zeros((2, 2), "uint8"))
    df = spark.createDataFrame(
        [(1, bytearray(buf)), (2, None), (3, bytearray(buf))],
        "media_id long, payload binary",
    )
    for real in (False, True):
        rows = multimodal.decode_image_features(df, real_decode=real) \
            .orderBy("media_id").collect()
        assert [r.media_id for r in rows] == [1, 3], real
        assert all(r.n_bytes == len(buf) for r in rows)
        if real:
            assert all(r.width == 2 and r.height == 2 for r in rows)


def test_encode_png_and_resize_guards(spark):
    import numpy as np

    with pytest.raises(ValueError, match="encode_png expects"):
        multimodal.encode_png(np.zeros((2, 2, 5), np.uint8))
    with pytest.raises(ValueError, match=">= 1"):
        multimodal.resize_image_stats(
            spark.createDataFrame([(1, None)], "media_id long, payload binary"),
            width=0,
        )


def test_extract_text_keeps_custom_elements(spark):
    from dataproc_spark.extensions.web import extract_text

    df = spark.createDataFrame(
        [(1, "<html><style-guide>Intro</style-guide><p>body</p>"
             "<style>.a{}</style><script-tpl>Keep</script-tpl>"
             "<script>x=1</script></html>")],
        "i long, html string",
    )
    got = df.withColumn("t", extract_text()).first()["t"]
    assert got == "Intro body Keep"


def test_registered_domain_case_insensitive(spark):
    from dataproc_spark.extensions.web import registered_domain

    df = spark.createDataFrame(
        [("Example.CO.UK",), ("A.B.Site.co.uk",)], "host string"
    )
    got = [r.d for r in df.select(registered_domain("host").alias("d")).collect()]
    assert got == ["example.co.uk", "site.co.uk"]


def test_domain_mixture_zero_total(spark):
    from dataproc_spark.extensions.web import domain_mixture

    df = spark.createDataFrame(
        [("a.com", 0), ("b.com", 0)], "domain string, n_tokens long"
    )
    got = {r.domain: r.share_bps
           for r in domain_mixture(df, weight_col="n_tokens").collect()}
    assert got == {"a.com": 0, "b.com": 0}


def test_psl_registered_domain_rule_families(spark):
    """PSL algorithm over the pinned snapshot: exact, wildcard, exception,
    default-rule, private-section, 4-label wildcard, case-fold, NULL, and
    the host==public-suffix closure convention."""
    from dataproc_spark.extensions.psl import registered_domain_psl

    cases = [
        ("www.site.co.uk", "site.co.uk"),
        ("a.b.site.com", "site.com"),
        ("x.city.kawasaki.jp", "city.kawasaki.jp"),      # exception
        ("shop.foo.kawasaki.jp", "shop.foo.kawasaki.jp"),  # wildcard
        ("foo.kawasaki.jp", "foo.kawasaki.jp"),          # host IS suffix
        ("foo.www.ck", "www.ck"),                        # exception deep
        ("foo.bar.ck", "foo.bar.ck"),                    # *.ck
        ("app.github.io", "app.github.io"),              # private section
        ("x.y.compute.amazonaws.com", "x.y.compute.amazonaws.com"),
        ("WWW.Site.COM", "site.com"),                    # case-fold
        ("localhost", "localhost"),                      # bare label
        (None, None),                                    # NULL host
        # r10 full-list families:
        ("x.shop.公司.cn", "shop.公司.cn"),                # IDN registry
        ("www.school.k12.ca.us", "school.k12.ca.us"),    # US locality
        ("a.k12.zz", "k12.zz"),                          # default rule
        ("docs.proj.pages.dev", "proj.pages.dev"),       # new private
        ("a.b.s3.dualstack.us-east-1.amazonaws.com",     # depth-5 exact
         "b.s3.dualstack.us-east-1.amazonaws.com"),
        ("blog.blogspot.co.uk", "blog.blogspot.co.uk"),  # 3-label private
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(cases)], "id long, host string"
    )
    got = {r.id: r.domain for r in registered_domain_psl(df).collect()}
    for i, (h, want) in enumerate(cases):
        assert got[i] == want, (h, want, got[i])


def test_psl_plan_is_broadcast_only(spark):
    """The rollup must compile to broadcast hash joins with no data
    shuffle on the host side (the 100 TB contract)."""
    from dataproc_spark.extensions.psl import registered_domain_psl

    df = spark.createDataFrame([(1, "a.b.co.uk")], "id long, host string")
    plan = (
        registered_domain_psl(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # every Exchange is a broadcast build, never a hash repartition
    import re

    assert not re.search(r"Exchange hashpartitioning", plan), plan


def test_psl_clobber_guard_and_custom_rules(spark):
    from dataproc_spark.extensions.psl import (
        parse_rules,
        registered_domain_psl,
    )
    import pytest as _pytest

    df = spark.createDataFrame([(1, "a.b.c", "x")],
                               "id long, host string, domain string")
    with _pytest.raises(ValueError, match="clobber"):
        registered_domain_psl(df)
    # caller-supplied rule set (the full-PSL seam): swap rules, same plan
    df2 = spark.createDataFrame([(1, "a.b.custom.tld")],
                                "id long, host string")
    got = registered_domain_psl(
        df2, rules=["custom.tld"]
    ).collect()[0].domain
    assert got == "b.custom.tld"
    with _pytest.raises(ValueError, match="exception and wildcard"):
        parse_rules(["!*.bad"])
    with _pytest.raises(ValueError, match="empty"):
        parse_rules(["// comment only"])


def test_with_domain_psl_optin(spark):
    from dataproc_spark.extensions.web import with_domain

    df = spark.createDataFrame(
        [(1, "https://x.city.kawasaki.jp/p"),
         (2, "https://deep.sub.site.co.uk/q")],
        "id long, url string",
    )
    got = {r.id: r.domain for r in with_domain(df, psl=True).collect()}
    assert got[1] == "city.kawasaki.jp"      # exception rule applied
    assert got[2] == "site.co.uk"
    # heuristic fallback unchanged
    old = {r.id: r.domain for r in with_domain(df).collect()}
    assert old[2] == "site.co.uk"


def test_jpeg_roundtrip_exact_and_bounded():
    """Baseline JPEG codec: block-constant gray at power-of-two quant is
    bit-exact; gradients and RGB 4:4:4 are bounded-error; odd dims crop."""
    import numpy as np

    from dataproc_spark.extensions.jpeg import (
        decode_jpeg,
        encode_jpeg,
        parse_jpeg_meta,
    )

    rng = np.random.RandomState(7)
    blocks = rng.randint(0, 256, size=(3, 4))
    img = np.kron(blocks, np.ones((8, 8), dtype=int)).astype(np.uint8)
    for q in (1, 2, 4, 8):
        w, h, c, out = decode_jpeg(encode_jpeg(img, quant=q))
        assert (w, h, c) == (32, 24, 1)
        assert np.array_equal(out[:, :, 0], img), f"quant={q} not exact"
    meta = parse_jpeg_meta(encode_jpeg(img, quant=1))
    assert meta == {"width": 32, "height": 24, "channels": 1,
                    "progressive": False, "precision": 8}
    # gradient: bounded error at quant=1
    g = np.tile(np.arange(64, dtype=np.uint8) * 4, (16, 1))
    _, _, _, og = decode_jpeg(encode_jpeg(g, quant=1))
    assert np.abs(og[:, :, 0].astype(int) - g.astype(int)).max() <= 2
    # RGB 4:4:4 constant blocks: color transform rounding only
    rgbb = rng.randint(16, 240, size=(2, 3, 3))
    rgb = np.kron(
        rgbb.transpose(2, 0, 1), np.ones((8, 8), dtype=int)
    ).transpose(1, 2, 0).astype(np.uint8)
    w3, h3, c3, o3 = decode_jpeg(encode_jpeg(rgb, quant=1))
    assert (w3, h3, c3) == (24, 16, 3)
    assert np.abs(o3.astype(int) - rgb.astype(int)).max() <= 3
    # non-multiple-of-8 dims: encoder pads, decoder crops
    odd = rng.randint(0, 256, size=(13, 21)).astype(np.uint8)
    w4, h4, _, _ = decode_jpeg(encode_jpeg(odd, quant=2))
    assert (w4, h4) == (21, 13)


def test_jpeg_error_arms_and_progressive_meta():
    import numpy as np
    import pytest as _pytest

    from dataproc_spark.extensions.jpeg import (
        decode_jpeg,
        encode_jpeg,
        parse_jpeg_meta,
    )

    with _pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x00\x01\x02")
    with _pytest.raises(ValueError, match="missing SOF"):
        parse_jpeg_meta(b"\xFF\xD8\xFF\xD9")
    buf = bytearray(
        encode_jpeg(np.zeros((8, 8), dtype=np.uint8), quant=1)
    )
    idx = bytes(buf).find(b"\xFF\xC0")
    buf[idx + 1] = 0xC2  # flip SOF0 -> SOF2 (claims progressive)
    assert parse_jpeg_meta(bytes(buf))["progressive"] is True
    # r10: the decoder now TAKES the progressive path — and must reject
    # this stream, whose baseline full-band scan header (Ss=0, Se=63)
    # is invalid in a progressive frame
    with _pytest.raises(ValueError, match="spectral selection"):
        decode_jpeg(bytes(buf))
    # a non-progressive SOF2-family marker (arithmetic SOF10) still
    # refuses loudly with the marker named
    buf[idx + 1] = 0xCA
    with _pytest.raises(ValueError, match="0xFFCA"):
        decode_jpeg(bytes(buf))
    with _pytest.raises(ValueError, match="quant"):
        encode_jpeg(np.zeros((8, 8), dtype=np.uint8), quant=0)
    with _pytest.raises(ValueError, match="expects"):
        encode_jpeg(np.zeros((8, 8, 2), dtype=np.uint8))


def test_jpeg_spark_stages(spark):
    """synthesize_jpegs -> decode_image_stats and the header-only
    jpeg_meta stage agree on dimensions; non-JPEG and NULL payloads are
    skipped by jpeg_meta, not fatal."""
    from dataproc_spark.extensions.multimodal import (
        decode_image_stats,
        jpeg_meta,
        synthesize_jpegs,
    )

    docs = spark.range(0, 12).withColumnRenamed("id", "doc_id")
    media = synthesize_jpegs(docs)
    stats = {r.media_id: r for r in decode_image_stats(media).collect()}
    meta = {r.media_id: r for r in jpeg_meta(media).collect()}
    assert set(stats) == set(meta) == set(range(12))
    for i in range(12):
        assert stats[i].width == meta[i].width == 8 * (2 + i % 3)
        assert stats[i].height == meta[i].height == 8 * (1 + i % 2)
        assert stats[i].channels == meta[i].channels == 1
        assert meta[i].progressive is False
    mixed = spark.createDataFrame(
        [(1, None), (2, b"not a jpeg")],
        "media_id long, payload binary",
    )
    assert jpeg_meta(mixed).count() == 0


def test_extract_main_text_drops_boilerplate(spark):
    """Block-density filter: nav/sidebar/footer and long-but-link-dense
    blocks drop; heading + running-text paragraphs (incl. one with a
    low-density inline link and an entity) survive."""
    from pyspark.sql import functions as F

    from dataproc_spark.extensions.web import extract_main_text

    html = (
        '<html><body>'
        '<nav><a href="/">Home</a> <a href="/a">About</a></nav>'
        '<div><ul><li><a href="/1">Link one</a></li></ul></div>'
        '<div><h1>Doc &amp; principal content heading here</h1>'
        '<p>This paragraph is the real body of the page, long enough '
        'to clear the minimum and free of links.</p>'
        '<p>See <a href="/r">one reference</a> amid plain running text '
        'that satisfies the link-density rule comfortably.</p></div>'
        '<div><ul>'
        '<li><a href="/r1">A very long related article title one</a></li>'
        '<li><a href="/r2">A very long related article title two</a></li>'
        '<li><a href="/r3">A very long related article title three</a></li>'
        '</ul></div>'
        '<footer>Copyright <a href="/t">Terms</a></footer></body></html>'
    )
    df = spark.createDataFrame([(1, html)], "id long, html string")
    main = df.select(extract_main_text("html").alias("m")).collect()[0].m
    assert "real body of the page" in main
    assert "one reference" in main
    assert "Doc & principal content heading" in main
    for boiler in ("Home", "Link one", "related article title", "Terms"):
        assert boiler not in main, boiler


def test_extract_main_text_params_and_plan(spark):
    from pyspark.sql import functions as F
    import pytest as _pytest

    from dataproc_spark.extensions.web import extract_main_text

    with _pytest.raises(ValueError, match="min_chars"):
        extract_main_text("html", min_chars=0)
    with _pytest.raises(ValueError, match="min_chars"):
        extract_main_text("html", max_link_pct=101)
    df = spark.createDataFrame(
        [(1, "<p>short</p><p>a block long enough to clear a tiny "
             "threshold</p>")],
        "id long, html string",
    )
    # min_chars raised: both blocks drop -> empty string, never NULL
    got = df.select(
        extract_main_text("html", min_chars=500).alias("m")
    ).collect()[0].m
    assert got == ""
    # the whole pass is one map-side projection: no exchange in the plan
    plan = (
        df.select(extract_main_text("html").alias("m"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_ivf_index_roundtrip_bit_exact(spark, tmp_path):
    """write_ivf_index(exact) -> read -> probe must equal the in-memory
    ivf_exact_topk pipeline bit-for-bit."""
    import random

    from dataproc_spark.extensions import simsearch

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], i % 3)
        for i in range(60)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    idx = str(tmp_path / "ivf")
    meta = simsearch.write_ivf_index(emb, idx, cell_col="label")
    assert meta["kind"] == "exact" and meta["n_cells"] == 3
    queries = emb.where("vec_id % 10 = 0")
    got = sorted(
        tuple(r) for r in simsearch.ivf_index_topk(
            spark, idx, queries, k=4, n_probe=2
        ).collect()
    )
    want = sorted(
        tuple(r) for r in simsearch.ivf_exact_topk(
            emb, queries, k=4, n_probe=2
        ).collect()
    )
    assert got == want and len(got) > 0


def test_ivf_index_format_guard_and_kmeans_kind(spark, tmp_path):
    from dataproc_spark.extensions import simsearch
    import pytest as _pytest
    import random

    # not-an-index path: unrelated parquet must fail loudly
    junk = str(tmp_path / "junk")
    spark.range(3).write.parquet(junk + "/meta")
    with _pytest.raises(ValueError, match="not an IVF index"):
        simsearch.read_ivf_index(spark, junk)
    with _pytest.raises(ValueError, match="not an IVF index"):
        simsearch.read_ivf_index(spark, str(tmp_path / "absent"))
    # KMeans flavor: real quantizer, probe path runs end-to-end
    rng = random.Random(3)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(6)], 0) for i in range(40)],
        "vec_id long, embedding array<float>, label int",
    )
    idx = str(tmp_path / "km")
    meta = simsearch.write_ivf_index(emb, idx, cells=4)
    assert meta["kind"] == "kmeans"
    out = simsearch.ivf_index_topk(
        spark, idx, emb.where("vec_id % 20 = 0"), k=3, n_probe=2
    ).collect()
    assert len(out) > 0 and all(r.rnk <= 3 for r in out)


def test_ivf_index_rejects_null_cells(spark, tmp_path):
    """A NULL cell would land in the Hive default partition and never
    match a probe — must raise per row, not silently strand vectors."""
    import pytest as _pytest

    from dataproc_spark.extensions import simsearch

    emb = spark.createDataFrame(
        [(1, [0.1, 0.2], 0), (2, [0.3, 0.4], None)],
        "vec_id long, embedding array<float>, label int",
    )
    with _pytest.raises(Exception, match="unsearchable"):
        simsearch.write_ivf_index(emb, str(tmp_path / "x"), cell_col="label")


def test_psl_rejects_duplicate_rules():
    import pytest as _pytest

    from dataproc_spark.extensions.psl import parse_rules

    with _pytest.raises(ValueError, match="duplicate"):
        parse_rules(["co.uk", "com.au", "co.uk"])


def test_extract_main_text_null_html_is_null(spark):
    from dataproc_spark.extensions.web import extract_main_text

    df = spark.createDataFrame([(1, None)], "id long, html string")
    assert df.select(
        extract_main_text("html").alias("m")
    ).collect()[0].m is None


def test_ivf_index_rejects_non_integral_cells(spark, tmp_path):
    """String/float cell columns must be rejected at build time: a
    string aborts mid-build under ANSI (or NULLs out silently under
    non-ANSI) and floats merge distinct cells via the int cast the old
    code applied (r9 review finding)."""
    import pytest as _pytest

    from dataproc_spark.extensions import simsearch

    for schema, val in (
        ("vec_id long, embedding array<float>, label string", "a"),
        ("vec_id long, embedding array<float>, label double", 1.2),
    ):
        emb = spark.createDataFrame([(1, [0.1, 0.2], val)], schema)
        with _pytest.raises(ValueError, match="integral type"):
            simsearch.write_ivf_index(
                emb, str(tmp_path / "t"), cell_col="label"
            )


def test_jpeg_malformed_streams_raise_valueerror_and_meta_skips(spark):
    """Truncated scans/segments raise ValueError (never struct.error /
    IndexError), T.81 fill bytes before markers parse, and jpeg_meta
    skips malformed payloads instead of aborting the job (r9 review
    findings)."""
    import numpy as np
    import pytest as _pytest

    from dataproc_spark.extensions.jpeg import (
        decode_jpeg,
        encode_jpeg,
        parse_jpeg_meta,
    )
    from dataproc_spark.extensions.multimodal import jpeg_meta

    buf = encode_jpeg(np.full((8, 8), 9, dtype=np.uint8), quant=1)
    for bad in (buf[:-4], buf[:20], b"\xFF\xD8\xFF\xC0\x00\x11\x08"):
        with _pytest.raises(ValueError):
            decode_jpeg(bad)
    with _pytest.raises(ValueError):
        parse_jpeg_meta(b"\xFF\xD8\xFF\xC0\x00\x11\x08")
    # fill byte before the SOF marker (T.81 B.1.1.2) must parse
    filled = buf[:2] + b"\xFF" + buf[2:]
    assert parse_jpeg_meta(filled)["width"] == 8
    assert decode_jpeg(filled)[3][0, 0, 0] == 9
    # job-level skip contract: truncated payload emits no row, no crash
    media = spark.createDataFrame(
        [(1, bytearray(buf)), (2, bytearray(b"\xFF\xD8\xFF\xC0\x00\x11\x08")),
         (3, None)],
        "media_id long, payload binary",
    )
    got = jpeg_meta(media).collect()
    assert [r.media_id for r in got] == [1]


def test_psl_matches_independent_python_resolver(spark):
    """Cross-check registered_domain_psl against a THIRD implementation:
    a direct pure-Python transcription of the publicsuffix.org algorithm
    (labels suffix-match, '*' consumes one label, exceptions prevail and
    drop their leftmost label, default rule '*'), over randomized hosts
    mixing snapshot rule families with junk labels."""
    import random

    from dataproc_spark.extensions.psl import (
        PSL_SNAPSHOT_RULES,
        parse_rules,
        registered_domain_psl,
    )

    rules = parse_rules()

    def py_regdom(host):
        labs = host.lower().split(".")
        exc_k = std_k = None
        for text, k, is_wild, is_exc in rules:
            rl = text.split(".")
            if k > len(labs):
                continue
            tail = labs[-k:]
            ok = all(r == "*" or r == t for r, t in zip(rl, tail))
            if not ok:
                continue
            if is_exc:
                exc_k = max(exc_k or 0, k)
            else:
                std_k = max(std_k or 0, k)
        ps = (exc_k - 1) if exc_k else (std_k if std_k else 1)
        m = min(len(labs), ps + 1)
        return ".".join(labs[-m:])

    rng = random.Random(42)
    suffix_pool = [
        "co.uk", "kawasaki.jp", "city.kawasaki.jp", "ck", "www.ck",
        "github.io", "compute.amazonaws.com", "com", "io", "jp",
        "gov.uk", "k12.zz", "example",
    ]
    label_pool = ["www", "a", "shop", "x9", "deep", "city"]
    hosts = []
    for _ in range(200):
        depth = rng.randint(0, 3)
        prefix = [rng.choice(label_pool) for _ in range(depth)]
        hosts.append(".".join(prefix + [rng.choice(suffix_pool)]))
    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(hosts)], "id long, host string"
    )
    got = {r.id: r.domain for r in registered_domain_psl(df).collect()}
    for i, h in enumerate(hosts):
        assert got[i] == py_regdom(h), (h, py_regdom(h), got[i])


def test_warc_roundtrip_and_contracts(spark, tmp_path):
    """WARC sink+source: payload-identity roundtrip, type filtering,
    uncompressed shards, and the malformed-shard fail-loud/skip choice."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from dataproc_spark.extensions import warc

    docs = spark.createDataFrame(
        [(i, f"https://s{i % 3}.com/p/{i}",
          bytes([i % 256]) * (i + 1),
          "request" if i % 4 == 0 else "response")
         for i in range(20)],
        "doc_id long, target_uri string, payload binary, wtype string",
    ).repartition(3)
    out = str(tmp_path / "w")
    warc.write_warc_shards(docs, out, type_col="wtype")
    assert len(os.listdir(out)) == 3
    back = warc.read_warc(spark, out)  # default: responses only
    rows = {r.target_uri: r for r in back.collect()}
    assert len(rows) == 15
    assert bytes(rows["https://s1.com/p/1"].payload) == b"\x01\x01"
    assert all(
        r.content_length == len(bytes(r.payload)) for r in rows.values()
    )
    assert warc.read_warc(spark, out, warc_types=None).count() == 20
    # malformed shard: loud by default, skippable explicitly
    bad = str(tmp_path / "bad")
    os.makedirs(bad)
    with open(os.path.join(bad, "x.warc"), "wb") as fh:
        fh.write(b"NOT A WARC")
    with _pytest.raises(Exception, match="expected record header"):
        warc.read_warc(spark, bad).count()
    assert warc.read_warc(spark, bad, skip_malformed=True).count() == 0
    # pure-codec guards
    with _pytest.raises(ValueError, match="Content-Length"):
        warc.encode_warc_record({"Content-Length": 5}, b"x")
    with _pytest.raises(ValueError, match="line break"):
        warc.encode_warc_record({"WARC-Type": "a\nb"}, b"x")
    with _pytest.raises(ValueError, match="truncated payload"):
        warc.decode_warc_bytes(
            b"WARC/1.0\r\nContent-Length: 99\r\n\r\nshort"
        )


def test_warc_review_fixes(spark, tmp_path):
    """r9 review batch: negative Content-Length fails loudly (once
    looped forever), header-NAME injection rejected, duplicate/NULL
    first-URIs across partitions don't clobber shards (partition-id
    naming), and the streaming iterator matches the eager decode."""
    import os

    import pytest as _pytest

    from dataproc_spark.extensions import warc

    with _pytest.raises(ValueError, match="negative Content-Length"):
        warc.decode_warc_bytes(b"WARC/1.0\r\nContent-Length: -33\r\n\r\n")
    with _pytest.raises(ValueError, match="invalid WARC header name"):
        warc.encode_warc_record({"X\r\nInjected": "v"}, b"")
    with _pytest.raises(ValueError, match="invalid WARC header name"):
        warc.encode_warc_record({"a:b": "v"}, b"")
    # every partition shares the SAME first URI — the old first-URI-hash
    # shard name collided and silently dropped partitions
    docs = spark.createDataFrame(
        [(i, "https://dup.com/same", b"p%d" % i) for i in range(12)],
        "doc_id long, target_uri string, payload binary",
    ).repartition(4)
    out = str(tmp_path / "dup")
    warc.write_warc_shards(docs, out)
    assert len(os.listdir(out)) == 4
    assert warc.read_warc(spark, out).count() == 12
    # streaming iterator == eager list on a multi-record gzip shard
    shard = open(os.path.join(out, sorted(os.listdir(out))[0]), "rb").read()
    assert list(warc.iter_warc_records(shard)) == warc.decode_warc_bytes(shard)


def test_warc_http_envelope_split(spark, tmp_path):
    """r10: application/http payloads split into status/headers/body;
    non-HTTP and malformed envelopes fall back to body=payload with
    NULL status; NULL URIs fail loudly; custom open_fn injects the
    writer target."""
    import os

    import pytest as _pytest

    from dataproc_spark.extensions import warc

    env = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
        b"X-Dup: a\r\nX-Dup: b\r\n\r\n<html>hi</html>"
    )
    # pure splitter: full envelope, duplicate-header join, LF-only arm
    s, h, b = warc.split_http_envelope(env, "application/http; msgtype=response")
    assert (s, b) == (200, b"<html>hi</html>")
    assert h["content-type"] == "text/html; charset=utf-8"
    assert h["x-dup"] == "a, b"  # RFC 9110 list combination
    s, h, b = warc.split_http_envelope(
        b"HTTP/1.0 404 Not Found\n\ngone", "application/http"
    )
    assert (s, h, b) == (404, {}, b"gone")
    # RFC 7230 obs-fold: a SP/HTAB continuation line extends the
    # previous header's value (old crawl archives still carry these)
    s, h, b = warc.split_http_envelope(
        b"HTTP/1.1 200 OK\r\nX-Long: first part\r\n\tsecond part\r\n\r\nB",
        "application/http",
    )
    assert (s, b) == (200, b"B") and h["x-long"] == "first part second part"
    # a LEADING fold (no header to continue) is malformed -> fallback
    bad_fold = b"HTTP/1.1 200 OK\r\n  orphan\r\n\r\nB"
    assert warc.split_http_envelope(bad_fold, "application/http") == (
        None, None, bad_fold,
    )
    # an all-whitespace fold line adds nothing (no trailing space)
    s, h, b = warc.split_http_envelope(
        b"HTTP/1.1 200 OK\r\nX-A: v\r\n \r\n\r\nB", "application/http"
    )
    assert (s, h["x-a"], b) == (200, "v", b"B")
    # r10 review fix: an LF-terminated envelope whose BODY contains
    # \r\n\r\n must split at its own (earlier) LFLF blank line
    s, h, b = warc.split_http_envelope(
        b"HTTP/1.1 200 OK\nContent-Type: text/html\n\n<p>a\r\n\r\nrest",
        "application/http",
    )
    assert s == 200 and b == b"<p>a\r\n\r\nrest"
    assert h["content-type"] == "text/html"
    # non-HTTP content type: untouched
    assert warc.split_http_envelope(env, "text/html") == (None, None, env)
    # claimed http but no HTTP/ prefix (no-envelope arm)
    assert warc.split_http_envelope(b"<html>", "application/http") == (
        None, None, b"<html>",
    )
    # claimed http, HTTP/ prefix, but malformed (non-integer status)
    bad = b"HTTP/1.1 OK\r\n\r\ntail"
    assert warc.split_http_envelope(bad, "application/http") == (
        None, None, bad,
    )
    # end-to-end through the sink+source: envelope and bare rows
    docs = spark.createDataFrame(
        [(0, "https://a.com/0", env), (1, "https://a.com/1", b"<html>raw")],
        "doc_id long, target_uri string, payload binary",
    ).coalesce(1)
    out = str(tmp_path / "http")
    warc.write_warc_shards(docs, out)
    rows = {
        r.target_uri: r for r in warc.read_warc(spark, out).collect()
    }
    r0, r1 = rows["https://a.com/0"], rows["https://a.com/1"]
    assert r0.http_status == 200
    assert r0.http_content_type == "text/html; charset=utf-8"
    assert r0.http_headers["x-dup"] == "a, b"
    assert bytes(r0.body) == b"<html>hi</html>"
    assert bytes(r0.payload) == env  # raw payload still intact
    assert r1.http_status is None and bytes(r1.body) == b"<html>raw"
    # honest content-type declaration disables the split entirely
    out2 = str(tmp_path / "bare")
    warc.write_warc_shards(docs, out2, content_type="text/html")
    assert all(
        r.http_status is None and bytes(r.body) == bytes(r.payload)
        for r in warc.read_warc(spark, out2).collect()
    )
    # NULL URI: loud, not str(None) — and the aborted partition leaves
    # NO shard at a final name (posix default writes .inprogress and
    # renames only on success; r10 review fix)
    nulls = spark.createDataFrame(
        [("https://ok.com/1", b"a"), (None, b"x")],
        "target_uri string, payload binary",
    ).coalesce(1)
    ndir = str(tmp_path / "n")
    with _pytest.raises(Exception, match="NULL 'target_uri'"):
        warc.write_warc_shards(nulls, ndir)
    assert not [f for f in os.listdir(ndir) if f.endswith((".warc", ".warc.gz"))]
    # a crash-orphaned .inprogress temp must never ingest as a shard
    # (the read glob matches exact extensions only)
    orphan_dir = str(tmp_path / "orphan")
    os.makedirs(orphan_dir)
    with open(os.path.join(orphan_dir, "s.warc.gz.inprogress"), "wb") as fh:
        fh.write(b"half a shard")
    assert warc.read_warc(spark, orphan_dir, skip_malformed=True).count() == 0
    import pyspark

    try:
        n = warc.read_warc(spark, orphan_dir).count()
    except pyspark.errors.AnalysisException:
        n = 0  # an all-filtered dir may read as pathless — also fine
    assert n == 0
    # injectable writer target: posix opener with a suffix twist proves
    # the iterator body goes through open_fn, not open()
    out3 = str(tmp_path / "custom")
    os.makedirs(out3)

    def opener(path):
        return open(path + ".custom", "wb")

    warc.write_warc_shards(docs, out3, open_fn=opener)
    names = sorted(os.listdir(out3))
    assert names and all(n.endswith(".warc.gz.custom") for n in names)


def test_cross_doc_spans(spark):
    """r10 cross-document exact substring dedup: maximal spans, exact
    offsets, threshold filter, same-diagonal split islands, identical
    whole docs, max_df stop-gram cut, and parameter validation."""
    import pytest as _pytest

    from dataproc_spark.extensions.dedup import cross_doc_spans

    shared = " ".join(f"w{i}" for i in range(25))
    rows = [
        (1, "alpha beta " + shared + " gamma"),
        (2, "x " + shared + " y z q"),
        (3, "unrelated text with none of the shared words at all " * 3),
        (4, shared),
        (5, "alpha beta " + shared + " gamma"),  # identical to doc 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): (r.start_a, r.start_b, r.n_tokens)
        for r in cross_doc_spans(df, k=8, min_tokens=20).collect()
    }
    assert got[(1, 2)] == (2, 1, 25)
    assert got[(1, 4)] == (2, 0, 25)
    assert got[(1, 5)] == (0, 0, 28)  # identical docs → whole-doc span
    assert got[(4, 5)] == (0, 2, 25)
    assert not any(3 in p for p in got), "doc 3 shares nothing"
    # threshold boundary: a 19-token share is invisible at min 20
    s19 = " ".join(f"v{i}" for i in range(19))
    df2 = spark.createDataFrame(
        [(1, "a " + s19), (2, s19 + " b")], "doc_id long, text string"
    )
    assert cross_doc_spans(df2, k=8, min_tokens=20).count() == 0
    assert cross_doc_spans(df2, k=8, min_tokens=19).count() == 1
    # two islands on the same diagonal stay two spans (the gap breaks
    # the run even though pos_a - pos_b is constant throughout)
    mid = " ".join(f"m{i}" for i in range(22))
    df3 = spark.createDataFrame(
        [(1, mid + " DIFF1 " + mid.replace("m", "n")),
         (2, mid + " DIFF2 " + mid.replace("m", "n"))],
        "doc_id long, text string",
    )
    r3 = sorted(
        cross_doc_spans(df3, k=8, min_tokens=20).collect(),
        key=lambda r: r.start_a,
    )
    assert [x.n_tokens for x in r3] == [22, 22]
    assert r3[1].start_a == 23 and r3[1].start_b == 23
    # max_df: a gram in every doc is cut BEFORE the join; spans only
    # split/shorten, never appear (here the pair vanishes entirely)
    many = [(i, "c " * i + shared) for i in range(1, 6)]
    dfm = spark.createDataFrame(many, "doc_id long, text string")
    full = cross_doc_spans(dfm, k=8, min_tokens=20).count()
    cut = cross_doc_spans(dfm, k=8, min_tokens=20, max_df=3).count()
    assert full == 10 and cut == 0
    with _pytest.raises(ValueError, match="min_tokens"):
        cross_doc_spans(df, k=8, min_tokens=7)
    with _pytest.raises(ValueError, match="k >= 2"):
        cross_doc_spans(df, k=1, min_tokens=20)


def test_jpeg_progressive_codec():
    """r10 progressive (SOF2) decode: both scan scripts (spectral
    selection only; + successive approximation) must reconstruct the
    SAME pixels as the baseline encoding of the same array — the
    quantized coefficients are mode-independent — across shapes,
    channel counts, and quants, including multi-block EOB runs
    (all-zero AC bands) and refinement scans with newly-nonzero
    coefficients."""
    import numpy as np

    from dataproc_spark.extensions.jpeg import (
        decode_jpeg,
        encode_jpeg,
        parse_jpeg_meta,
    )

    rng = np.random.RandomState(7)
    for trial in range(10):
        h, w = int(rng.randint(1, 30)), int(rng.randint(1, 30))
        ncomp = int(rng.choice([1, 3]))
        arr = rng.randint(
            0, 256, (h, w) if ncomp == 1 else (h, w, 3)
        ).astype(np.uint8)
        quant = int(rng.choice([1, 2, 8, 16, 50]))
        base = decode_jpeg(encode_jpeg(arr, quant=quant))
        for succ in (False, True):
            payload = encode_jpeg(
                arr, quant=quant, progressive=True, successive=succ
            )
            meta = parse_jpeg_meta(payload)
            assert meta["progressive"] and (meta["width"], meta["height"]) == (w, h)
            prog = decode_jpeg(payload)
            assert (base[3] == prog[3]).all(), (trial, h, w, ncomp, quant, succ)
    # bit-exact arm: block-constant gray at power-of-two quant decodes
    # to the source pixels exactly through BOTH progressive scripts
    blocks = np.kron(
        np.array([[7, 200], [13, 99]]), np.ones((8, 8), dtype=int)
    ).astype(np.uint8)
    for succ in (False, True):
        _w, _h, _c, px = decode_jpeg(
            encode_jpeg(blocks, quant=2, progressive=True, successive=succ)
        )
        assert (px[:, :, 0] == blocks).all()
    # flat image: AC bands are all zero, so the AC scans are a single
    # multi-block EOB run — the decoder's EOBRUN>1 path
    flat = np.full((24, 24), 130, dtype=np.uint8)
    _w, _h, _c, px = decode_jpeg(encode_jpeg(flat, quant=1, progressive=True))
    assert (px[:, :, 0] == flat).all()


def test_jpeg_decode_accept_surface():
    """decode_jpeg's accept surface: 2x2 chroma sampling decodes on the
    baseline and the progressive path; a 3x3 sampling factor and a
    stream with no SOF raise ValueError, so a payload outside the
    surface quarantines instead of decoding."""
    import numpy as np
    import pytest as _pytest

    from dataproc_spark.extensions.jpeg import decode_jpeg, encode_jpeg

    img = np.kron(
        np.array([[[7, 90, 200], [200, 30, 60]],
                  [[50, 50, 50], [255, 0, 128]]]),
        np.ones((16, 16, 1), dtype=int),
    ).astype(np.uint8)
    full = decode_jpeg(encode_jpeg(img, quant=1))
    for prog in (False, True):
        pay = bytearray(encode_jpeg(img, quant=1, subsampling="420",
                                    progressive=prog))
        sof = bytes(pay).find(b"\xFF\xC2" if prog else b"\xFF\xC0")
        assert pay[sof + 11] == 0x22  # luma 2x2: 4:2:0
        w, h, c, px = decode_jpeg(bytes(pay))
        # MCU-aligned constant color regions survive 4:2:0 exactly
        assert (w, h, c) == full[:3] and (px == full[3]).all()
        pay[sof + 11] = 0x33
        with _pytest.raises(ValueError, match="sampling factor"):
            decode_jpeg(bytes(pay))
    with _pytest.raises(ValueError, match="SOF"):
        decode_jpeg(b"\xFF\xD8\xFF\xD9")


def test_cut_token_spans(spark):
    """r10 surgical span cut (cross_doc_spans' consumer): overlapping
    ranges union, multiple docs, pass-through for docs with no cuts,
    NULL text, and composition with the detector (keep-first policy:
    cutting id_b's reported ranges makes the pair undetectable)."""
    from dataproc_spark.extensions.dedup import (
        cross_doc_spans,
        cut_token_spans,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "x y z"), (3, None)],
        "doc_id long, text string",
    )
    cuts = spark.createDataFrame(
        [(1, 2, 3), (1, 4, 2), (2, 0, 1)],  # 2..4 and 4..5 overlap
        "doc_id long, start long, n_tokens long",
    )
    got = {r.doc_id: r.text_cut for r in cut_token_spans(docs, cuts).collect()}
    assert got == {1: "a b g h", 2: "y z", 3: None}  # NULL stays NULL
    # composition: detect -> cut id_b's ranges -> re-detect finds nothing
    shared = " ".join(f"w{i}" for i in range(25))
    corpus = spark.createDataFrame(
        [(1, "alpha beta " + shared), (2, "x " + shared + " tail")],
        "doc_id long, text string",
    )
    spans = cross_doc_spans(corpus, k=8, min_tokens=20)
    cut_list = spans.select(
        F.col("id_b").alias("doc_id"),
        F.col("start_b").alias("start"),
        "n_tokens",
    )
    cleaned = cut_token_spans(corpus, cut_list).select(
        "doc_id", F.col("text_cut").alias("text")
    )
    assert cross_doc_spans(cleaned, k=8, min_tokens=20).count() == 0
    # doc 1 (the keeper, id_a) is untouched
    kept = {r.doc_id: r.text for r in cleaned.collect()}
    assert kept[1] == "alpha beta " + shared
    assert kept[2] == "x tail"


def test_warc_decoded_body(spark):
    """r10b HTTP body decode: chunked framing, gzip and raw/zlib
    deflate content-codings, chained chunked+gzip, identity
    passthrough for header-less (non-HTTP) records, and the
    fail-loud-vs-null per-row choice."""
    import gzip as _gzip
    import zlib

    import pytest as _pytest

    from dataproc_spark.extensions import warc

    gz = _gzip.compress(b"gzip text", mtime=0)
    framed_gz = ("%x" % len(gz)).encode() + b"\r\n" + gz + b"\r\n0\r\n\r\n"
    co = zlib.compressobj(wbits=-15)
    raw_deflate = co.compress(b"raw deflate") + co.flush()
    rows = [
        (0, b"plain", None),
        (1, gz, {"content-encoding": "gzip"}),
        (2, b"4\r\nWiki\r\n5\r\npedia\r\n0\r\n\r\n",
         {"transfer-encoding": "chunked"}),
        (3, framed_gz,
         {"transfer-encoding": "chunked", "content-encoding": "gzip"}),
        (4, zlib.compress(b"zlib deflate"), {"content-encoding": "deflate"}),
        (5, raw_deflate, {"content-encoding": "deflate"}),
        (6, None, None),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, body binary, http_headers map<string,string>"
    )
    got = {
        r.doc_id: (bytes(r.d) if r.d is not None else None)
        for r in df.select(
            "doc_id", warc.decoded_body("body", "http_headers").alias("d")
        ).collect()
    }
    assert got == {
        0: b"plain", 1: b"gzip text", 2: b"Wikipedia",
        3: b"gzip text", 4: b"zlib deflate", 5: b"raw deflate", 6: None,
    }
    # bad rows: loud by default, NULL on request (quarantine routing)
    bad = spark.createDataFrame(
        [(1, b"not gzip", {"content-encoding": "gzip"}), (2, b"ok", None)],
        "doc_id long, body binary, http_headers map<string,string>",
    )
    with _pytest.raises(Exception, match="bad gzip"):
        bad.select(warc.decoded_body("body", "http_headers")).collect()
    got2 = {
        r.doc_id: (bytes(r.d) if r.d is not None else None)
        for r in bad.select(
            "doc_id",
            warc.decoded_body("body", "http_headers", on_error="null")
            .alias("d"),
        ).collect()
    }
    assert got2 == {1: None, 2: b"ok"}
    # genuinely unknown codings are loud, never silent
    with _pytest.raises(ValueError, match="unsupported Content-Encoding"):
        warc.decode_content_encoding(b"x", "zstd")
    with _pytest.raises(ValueError, match="on_error"):
        warc.decoded_body("body", "http_headers", on_error="skip")


def test_http_codec_hostile_inputs():
    """r11 ADVICE regressions: (a) a NEGATIVE hex chunk size ('-6')
    must raise, not move ``pos`` backwards and loop forever (Python's
    int(x, 16) accepts '-6'/'+6'/'1_0'); (b) a TRUNCATED gzip body
    raises EOFError, which must map into the ValueError quarantine
    contract so on_error='null' can catch it."""
    import gzip
    import zlib as _zlib

    import pytest as _pytest

    from dataproc_spark.extensions import warc

    # (a) hostile chunk-size tokens — every non-1*HEXDIG form rejected
    for evil in (b"1\r\nA\r\n-6\r\n", b"+2\r\nAB\r\n0\r\n\r\n",
                 b"1_0\r\n" + b"x" * 16 + b"\r\n0\r\n\r\n",
                 b"\r\nA\r\n0\r\n\r\n", b"0x4\r\nWiki\r\n0\r\n\r\n"):
        with _pytest.raises(ValueError, match="chunk size"):
            warc.dechunk_http_body(evil)
    # well-formed framing still decodes (guard didn't over-tighten)
    assert warc.dechunk_http_body(
        b"4;ext=1\r\nWiki\r\n0\r\n\r\n") == b"Wiki"
    # (b) truncated gzip → ValueError, and NULL under on_error='null'
    trunc = gzip.compress(b"hello world", mtime=0)[:-4]
    with _pytest.raises(ValueError, match="bad gzip"):
        warc.decode_content_encoding(trunc, "gzip")
    # corrupt deflate stream inside an intact gzip header → zlib.error
    corrupt = bytearray(gzip.compress(b"hello world" * 4, mtime=0))
    corrupt[15] ^= 0xFF
    with _pytest.raises(ValueError, match="bad gzip"):
        warc.decode_content_encoding(bytes(corrupt), "gzip")
    assert _zlib  # imported for parity with the deflate contract


def test_jpeg_progressive_decoder_only_paths():
    """Hand-assembled SOF2 stream exercising the scan shapes our own
    encoder never emits: a NON-INTERLEAVED (ns=1) DC first scan, a DC
    refinement, an AC first scan whose trailing EOB merges into a
    multi-block EOBRUN, and — the key one — an AC REFINEMENT scan that
    OPENS with a cross-block EOBRUN carrying a correction bit for the
    first block's nonzero-history coefficient. Final coefficients are
    fixed by construction (block1 zz=[8,3,…], block2 zz=[16,…], quant
    1), so the decode is checked against an independent numpy IDCT."""
    import struct

    import numpy as np

    from dataproc_spark.extensions.jpeg import (
        _AC_BITS_PROG,
        _AC_SYMBOLS_PROG,
        _BitWriter,
        _DC_BITS,
        _DC_SYMBOLS,
        _ZIGZAG,
        _canonical_codes,
        _dct_matrix,
        decode_jpeg,
        parse_jpeg_meta,
    )

    dc = _canonical_codes(_DC_BITS, _DC_SYMBOLS)
    ac = _canonical_codes(_AC_BITS_PROG, _AC_SYMBOLS_PROG)

    def seg(marker, payload):
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    def sos(comps, ss, se, ah, al):
        body = bytes([len(comps)]) + b"".join(
            struct.pack(">BB", c, 0) for c in comps
        ) + bytes([ss, se, (ah << 4) | al])
        return seg(0xDA, body)

    out = bytearray(b"\xFF\xD8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0]) + bytes([1] * 64))
    out += seg(0xC2, struct.pack(">BHHB", 8, 8, 16, 1)
               + struct.pack(">BBB", 1, 0x11, 0))
    out += seg(0xC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_SYMBOLS))
    out += seg(0xC4, bytes([0x10]) + bytes(_AC_BITS_PROG)
               + bytes(_AC_SYMBOLS_PROG))
    # DC first, ns=1, Al=1: DCs 8,16 -> 4,8 at Al=1, diffs 4,4
    bw = _BitWriter()
    for diff in (4, 4):
        t = diff.bit_length()
        code, ln = dc[t]
        bw.write(code, ln)
        bw.write(diff, t)
    out += sos([1], 0, 0, 0, 1) + bw.flush()
    # DC refinement: both low bits 0
    bw = _BitWriter()
    bw.write(0, 1)
    bw.write(0, 1)
    out += sos([1], 0, 0, 1, 0) + bw.flush()
    # AC first, Al=1: block1 AC[1] -> 1 (positive), then EOBRUN=2
    bw = _BitWriter()
    code, ln = ac[0x01]
    bw.write(code, ln)
    bw.write(1, 1)
    code, ln = ac[0x10]
    bw.write(code, ln)
    bw.write(0, 1)
    out += sos([1], 1, 63, 0, 1) + bw.flush()
    # AC refinement OPENING with EOBRUN=2 + block1's correction bit
    bw = _BitWriter()
    code, ln = ac[0x10]
    bw.write(code, ln)
    bw.write(0, 1)
    bw.write(1, 1)
    out += sos([1], 1, 63, 1, 0) + bw.flush()
    out += b"\xFF\xD9"
    payload = bytes(out)

    meta = parse_jpeg_meta(payload)
    assert meta["progressive"] and (meta["width"], meta["height"]) == (16, 8)
    w, h, c, px = decode_jpeg(payload)
    assert (w, h, c) == (16, 8, 1)
    A = _dct_matrix()
    exp = np.zeros((8, 16))
    for bi, zz in enumerate([(8, 3), (16,)]):
        coef = np.zeros(64)
        for i, v in enumerate(zz):
            coef[_ZIGZAG[i]] = v
        exp[:, bi * 8:bi * 8 + 8] = A.T @ coef.reshape(8, 8) @ A
    exp = np.clip(np.round(exp + 128.0), 0, 255).astype(np.uint8)
    assert (px[:, :, 0] == exp).all()

    # split-SPECTRAL-band variant: the same coefficients delivered as
    # band (1..1) then band (2..63) with per-band EOB runs — spectral
    # selection proper, which the fixed encoder script also never emits
    out2 = bytearray(bytes(out[: out.index(b"\xFF\xDA")]))
    bw = _BitWriter()
    for diff in (8, 8):  # DC first at Al=0 this time
        t = diff.bit_length()
        code, ln = dc[t]
        bw.write(code, ln)
        bw.write(diff, t)
    out2 += sos([1], 0, 0, 0, 0) + bw.flush()
    bw = _BitWriter()
    code, ln = ac[0x02]  # band (1,1): AC[1] = 3 (size 2) in block 1
    bw.write(code, ln)
    bw.write(3, 2)
    code, ln = ac[0x00]  # block 2: EOB within the 1-wide band
    bw.write(code, ln)
    out2 += sos([1], 1, 1, 0, 0) + bw.flush()
    bw = _BitWriter()
    code, ln = ac[0x10]  # band (2,63): both blocks empty, EOBRUN=2
    bw.write(code, ln)
    bw.write(0, 1)
    out2 += sos([1], 2, 63, 0, 0) + bw.flush()
    out2 += b"\xFF\xD9"
    w2, h2, c2, px2 = decode_jpeg(bytes(out2))
    assert (px2[:, :, 0] == exp).all()


def test_jpeg_restart_markers():
    """r10b baseline restart intervals: DRI + RSTn roundtrip equals the
    restart-free encoding across shapes/quants (incl. >8 restarts — the
    modulo-8 sequence wrap), out-of-sequence markers are loud, and
    progressive encoding refuses the param."""
    import numpy as np
    import pytest as _pytest

    from dataproc_spark.extensions.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(11)
    for _ in range(6):
        h, w = int(rng.randint(1, 40)), int(rng.randint(1, 40))
        ncomp = int(rng.choice([1, 3]))
        arr = rng.randint(
            0, 256, (h, w) if ncomp == 1 else (h, w, 3)
        ).astype(np.uint8)
        quant = int(rng.choice([1, 4, 40]))
        ri = int(rng.choice([1, 2, 5]))
        plain = decode_jpeg(encode_jpeg(arr, quant=quant))
        withrst = decode_jpeg(
            encode_jpeg(arr, quant=quant, restart_interval=ri)
        )
        assert (plain[3] == withrst[3]).all()
    big = rng.randint(0, 256, (8, 8 * 24)).astype(np.uint8)  # 24 MCUs
    a = decode_jpeg(encode_jpeg(big, quant=2))
    pay = encode_jpeg(big, quant=2, restart_interval=2)  # 11 RSTs: wraps
    b = decode_jpeg(pay)
    assert (a[3] == b[3]).all()
    bad = bytearray(pay)
    i = bytes(bad).find(b"\xFF\xD0")
    bad[i + 1] = 0xD5
    with _pytest.raises(ValueError, match="out of sequence"):
        decode_jpeg(bytes(bad))
    # r11: restart intervals now carry through the PROGRESSIVE path too
    pp = encode_jpeg(big, quant=2, progressive=True, restart_interval=2)
    assert b"\xFF\xDD" in pp and b"\xFF\xD0" in pp
    assert (decode_jpeg(pp)[3] == a[3]).all()
    badp = bytearray(pp)
    j = bytes(badp).find(b"\xFF\xD0")
    badp[j + 1] = 0xD4
    with _pytest.raises(ValueError, match="out of sequence"):
        decode_jpeg(bytes(badp))
    with _pytest.raises(ValueError, match="restart_interval"):
        encode_jpeg(big, restart_interval=0)


def test_jpeg_chroma_subsampling():
    """r10b baseline 4:2:0 / 4:2:2: on block-constant color regions the
    subsampled decode EQUALS the 4:4:4 decode exactly (constant boxes
    average to themselves, replication restores them), including odd
    dimensions and combined with restart markers; random images match
    an independent numpy model of the subsample pipeline within DCT
    quant-1 rounding; gray/progressive inputs refuse the parameter."""
    import numpy as np
    import pytest as _pytest

    from dataproc_spark.extensions.jpeg import (
        decode_jpeg,
        encode_jpeg,
        parse_jpeg_meta,
    )

    blocks = np.zeros((16, 32, 3), dtype=np.uint8)
    blocks[:, :16] = (200, 30, 90)
    blocks[:, 16:] = (12, 240, 77)
    ref = decode_jpeg(encode_jpeg(blocks, quant=1))[3]
    for sub in ("420", "422"):
        pay = encode_jpeg(blocks, quant=1, subsampling=sub)
        meta = parse_jpeg_meta(pay)
        assert (meta["width"], meta["height"], meta["channels"]) == (32, 16, 3)
        assert (decode_jpeg(pay)[3] == ref).all()
    odd = np.full((9, 17, 3), (66, 150, 201), dtype=np.uint8)
    ref_o = decode_jpeg(encode_jpeg(odd, quant=1))[3]
    for sub in ("420", "422"):
        px = decode_jpeg(encode_jpeg(odd, quant=1, subsampling=sub))[3]
        assert px.shape == (9, 17, 3) and (px == ref_o).all()
    # restart markers interleave at MCU (multi-block) granularity
    big = np.zeros((16, 96, 3), dtype=np.uint8)
    for i in range(6):
        big[:, i * 16:(i + 1) * 16] = ((i * 40) % 256, (i * 77) % 256, 13)
    p0 = decode_jpeg(encode_jpeg(big, quant=1, subsampling="420"))[3]
    p2 = decode_jpeg(
        encode_jpeg(big, quant=1, subsampling="420", restart_interval=2)
    )[3]
    assert (p0 == p2).all()
    # random images vs an independent numpy model of the pipeline
    rng = np.random.RandomState(3)
    for _ in range(3):
        h, w = int(rng.randint(2, 40)), int(rng.randint(2, 40))
        img = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        for sub, (hs, vs) in (("420", (2, 2)), ("422", (2, 1))):
            got = decode_jpeg(
                encode_jpeg(img, quant=1, subsampling=sub)
            )[3].astype(float)
            rgb = img.astype(float)
            r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
            y = np.clip(np.round(.299 * r + .587 * g + .114 * b), 0, 255)
            cb = np.clip(
                np.round(-.168736 * r - .331264 * g + .5 * b + 128), 0, 255)
            cr = np.clip(
                np.round(.5 * r - .418688 * g - .081312 * b + 128), 0, 255)
            ch, cw = -(-h // vs), -(-w // hs)

            def down(p):
                pad = np.pad(
                    p, ((0, ch * vs - h), (0, cw * hs - w)), mode="edge"
                )
                return np.clip(np.round(
                    pad.reshape(ch, vs, cw, hs).mean(axis=(1, 3))), 0, 255)

            cbu = np.repeat(np.repeat(down(cb), vs, 0), hs, 1)[:h, :w]
            cru = np.repeat(np.repeat(down(cr), vs, 0), hs, 1)[:h, :w]
            exp = np.clip(np.round(np.stack([
                y + 1.402 * (cru - 128),
                y - .344136 * (cbu - 128) - .714136 * (cru - 128),
                y + 1.772 * (cbu - 128),
            ], -1)), 0, 255)
            assert np.abs(got - exp).max() <= 4, sub
    with _pytest.raises(ValueError, match="RGB"):
        encode_jpeg(np.zeros((8, 8), dtype=np.uint8), subsampling="420")
    with _pytest.raises(ValueError, match="subsampling"):
        encode_jpeg(blocks, subsampling="411")


def test_jpeg_progressive_restart_subsampling():
    """r11: the one documented r10 JPEG gap — DRI/RSTn and 4:2:0/4:2:2
    on the PROGRESSIVE (SOF2) path. The quantized coefficients are
    scan-script-independent by construction, so (a) progressive ==
    baseline pixels at equal subsampling, (b) restart markers never
    change pixels, and (c) successive approximation composes with
    both."""
    import numpy as np
    import pytest as _pytest

    from dataproc_spark.extensions.jpeg import (
        decode_jpeg,
        encode_jpeg,
        parse_jpeg_meta,
    )

    rng = np.random.RandomState(29)
    for _ in range(5):
        h, w = int(rng.randint(2, 50)), int(rng.randint(2, 50))
        img = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        q = int(rng.choice([1, 4, 16]))
        ri = int(rng.choice([1, 3, 7]))
        succ = bool(rng.randint(2))
        for sub in ("420", "422"):
            ref = decode_jpeg(encode_jpeg(img, quant=q, subsampling=sub))[3]
            pay = encode_jpeg(
                img, quant=q, progressive=True, subsampling=sub,
                successive=succ, restart_interval=ri,
            )
            assert (decode_jpeg(pay)[3] == ref).all(), (h, w, q, ri, sub)
            meta = parse_jpeg_meta(pay)
            assert meta["width"] == w and meta["height"] == h
    # odd dims force the MCU-padded-vs-true-grid asymmetry: the AC scans
    # cover fewer blocks than the interleaved DC scan (T.81 A.2)
    odd = rng.randint(0, 256, (9, 25, 3)).astype(np.uint8)
    for sub in ("420", "422"):
        a = decode_jpeg(encode_jpeg(odd, quant=1, subsampling=sub))[3]
        b = decode_jpeg(
            encode_jpeg(odd, quant=1, progressive=True, subsampling=sub,
                        successive=True, restart_interval=2)
        )[3]
        assert (a == b).all()
    # gray progressive restarts (single component, non-interleaved DC)
    g = rng.randint(0, 256, (17, 41)).astype(np.uint8)
    p = decode_jpeg(encode_jpeg(g, quant=2, progressive=True))[3]
    r = decode_jpeg(
        encode_jpeg(g, quant=2, progressive=True, restart_interval=4)
    )[3]
    assert (p == r).all()


def test_body_text_charset_column(spark):
    """r11 charset-aware decode as a Column: header charset, WHATWG
    latin-1→cp1252 override, meta prescan, BOM precedence over a lying
    header, the mojibake trap under both on_error modes, NULL body
    passthrough, and the undeclared UTF-8-replace fallback."""
    import pytest as _pytest

    from dataproc_spark.extensions import warc

    rows = [
        (0, "привет".encode("cp1251"), "text/html; charset=windows-1251"),
        (1, b"\x80cheap", "text/html; charset=latin-1"),  # 0x80 = € in 1252
        (2, '<meta charset="koi8-r">да'.encode("koi8-r"), "text/html"),
        (3, "﻿bom wins".encode("utf-8"),
         "text/html; charset=windows-1251"),
        (4, "ловушка".encode("cp1251"), "text/html; charset=utf-8"),
        (5, None, "text/html"),
        (6, "тест".encode("cp1251"), None),  # nothing declared anywhere
    ]
    df = spark.createDataFrame(rows, "i long, body binary, ct string")
    got = {
        r.i: r.t
        for r in df.select(
            "i", warc.body_text("body", "ct", on_error="null").alias("t")
        ).collect()
    }
    assert got[0] == "привет"
    assert got[1] == "€cheap"
    assert got[2] == '<meta charset="koi8-r">да'
    assert got[3] == "bom wins"
    assert got[4] is None  # declared-utf-8 violation quarantined
    assert got[5] is None  # NULL body stays NULL
    assert got[6] == "тест".encode("cp1251").decode("utf-8", "replace")
    with _pytest.raises(Exception, match="does not decode as declared"):
        df.select(warc.body_text("body", "ct")).collect()
    with _pytest.raises(ValueError, match="on_error"):
        warc.body_text("body", "ct", on_error="skip")


def test_brotli_seam(monkeypatch):
    """r11 brotli content-coding: absent-lib path quarantines with a
    ValueError (never a silent passthrough of compressed bytes), the
    wired path routes through the module's decompress, and decoder
    errors map into the quarantine contract. The real lib, when
    installed, must roundtrip."""
    import pytest as _pytest

    from dataproc_spark.extensions import warc

    monkeypatch.setattr(warc, "_brotli_module", lambda: None)
    with _pytest.raises(ValueError, match="no brotli decoder"):
        warc.decode_content_encoding(b"\x0b\x01\x80hi\x03", "br")

    class _FakeBrotli:
        @staticmethod
        def decompress(b):
            if b == b"magic":
                return b"decoded!"
            raise RuntimeError("corrupt stream")

    monkeypatch.setattr(warc, "_brotli_module", lambda: _FakeBrotli)
    assert warc.decode_content_encoding(b"magic", "br") == b"decoded!"
    with _pytest.raises(ValueError, match="bad brotli body"):
        warc.decode_content_encoding(b"junk", "br")

    monkeypatch.undo()
    real = warc._brotli_module()
    if real is None:
        _pytest.skip("brotli not installed — real-roundtrip arm skipped")
    wire = real.compress(b"hello brotli " * 10)
    assert warc.decode_content_encoding(wire, "br") == b"hello brotli " * 10


def test_charset_resolution_edges():
    """Label normalization: quotes/case/space, WHATWG legacy overrides
    (gb2312→gbk, euc-kr→cp949, ascii→cp1252), unknown labels raise, and
    the content-type parameter parser handles quoted values and missing
    params."""
    import pytest as _pytest

    from dataproc_spark.extensions import warc

    assert warc.resolve_charset('  "UTF-8" ') == "utf-8"
    assert warc.resolve_charset("GB2312") == "gbk"
    assert warc.resolve_charset("EUC-KR") == "cp949"
    assert warc.resolve_charset("ascii") == "cp1252"
    assert warc.resolve_charset("tis-620") == "cp874"
    for bad in ("klingon-1", "", "   "):
        with _pytest.raises(ValueError):
            warc.resolve_charset(bad)
    assert warc.charset_of_content_type(
        'text/html; boundary=x; charset="Shift_JIS"') == "Shift_JIS"
    assert warc.charset_of_content_type("text/html") is None
    assert warc.charset_of_content_type(None) is None
    # prescan: only the first KiB is examined (HTML5 prescan bound)
    far = b" " * 2000 + b'<meta charset="koi8-r">'
    assert warc.sniff_meta_charset(far) is None
    assert warc.sniff_meta_charset(
        b'<META HTTP-EQUIV="Content-Type" '
        b'CONTENT="text/html; charset=windows-1251">') == "windows-1251"


def test_resolve_revisits(spark, tmp_path):
    """r11 WARC revisit records: write a mixed response/revisit archive
    (extra_headers emits revisit headers only where non-NULL), read it
    back with both types, resolve — revisits graft the donor response's
    body; duplicate-stored content picks the min-record-id donor and
    must NOT fan out; orphan digests resolve to NULL (or drop);
    on_missing validates."""
    import pytest as _pytest

    from dataproc_spark.extensions import warc

    rows = [
        # two responses with IDENTICAL content (same digest) — donor
        # dedup must keep exactly one, the min record id
        ("https://a.com/1", b"<html>same</html>", "response", "sha1:X",
         None, None),
        ("https://a.com/2", b"<html>same</html>", "response", "sha1:X",
         None, None),
        ("https://a.com/3", b"<html>other</html>", "response", "sha1:Y",
         None, None),
        ("https://a.com/1b", b"", "revisit", "sha1:X",
         "<urn:uuid:ref1>", "https://a.com/1"),
        ("https://a.com/3b", b"", "revisit", "sha1:Y",
         "<urn:uuid:ref3>", "https://a.com/3"),
        ("https://a.com/gone", b"", "revisit", "sha1:ZZZ",
         "<urn:uuid:refz>", "https://a.com/zzz"),
    ]
    src = spark.createDataFrame(
        rows,
        "target_uri string, payload binary, wtype string, digest string, "
        "refers_to string, refers_to_uri string",
    )
    out = str(tmp_path / "rev")
    warc.write_warc_shards(
        src.coalesce(1), out, type_col="wtype", content_type="text/html",
        extra_headers={
            "WARC-Payload-Digest": "digest",
            "WARC-Refers-To": "refers_to",
            "WARC-Refers-To-Target-URI": "refers_to_uri",
        },
    )
    recs = warc.read_warc(spark, out, warc_types=("response", "revisit"))
    # the revisit columns roundtrip; responses carry NULL refers_to
    byuri = {r.target_uri: r for r in recs.collect()}
    assert byuri["https://a.com/1b"].refers_to == "<urn:uuid:ref1>"
    assert byuri["https://a.com/1b"].refers_to_uri == "https://a.com/1"
    assert byuri["https://a.com/1b"].payload_digest == "sha1:X"
    assert byuri["https://a.com/1"].refers_to is None
    res = {r.target_uri: r for r in warc.resolve_revisits(recs).collect()}
    assert len(res) == 6  # 3 responses + 3 revisits, no fan-out
    assert res["https://a.com/1b"].is_revisit
    assert bytes(res["https://a.com/1b"].body) == b"<html>same</html>"
    # min-record-id donor: record ids are md5(type ':' uri)-derived —
    # the r15 derivation that keeps a response and its request for the
    # same URI distinct (ISO 28500 uniqueness)
    import hashlib as _hl

    want = min(
        f"<urn:uuid:{_hl.md5(('response:' + u).encode()).hexdigest()}>"
        for u in ("https://a.com/1", "https://a.com/2")
    )
    assert res["https://a.com/1b"].source_record_id == want
    assert bytes(res["https://a.com/3b"].body) == b"<html>other</html>"
    assert res["https://a.com/gone"].body is None  # orphan → quarantine
    assert res["https://a.com/gone"].source_record_id is None
    assert not res["https://a.com/1"].is_revisit
    assert res["https://a.com/1"].source_record_id is None
    dropped = warc.resolve_revisits(recs, on_missing="drop").collect()
    assert len(dropped) == 5
    with _pytest.raises(ValueError, match="on_missing"):
        warc.resolve_revisits(recs, on_missing="fail")
    # extra_headers values go through the line-break injection guard
    evil = spark.createDataFrame(
        [("https://a.com/x", b"b", "response", "sha1:A\r\nWARC-Type: evil")],
        "target_uri string, payload binary, wtype string, digest string",
    )
    with _pytest.raises(Exception, match="line break"):
        warc.write_warc_shards(
            evil, str(tmp_path / "evil"), type_col="wtype",
            extra_headers={"WARC-Payload-Digest": "digest"},
        )


def test_meta_prescan_attribute_aware():
    """r11 review regression: the prescan must honor ONLY a real
    ``charset`` attribute or an http-equiv Content-Type ``content``
    parameter — 'charset=' inside any other attribute's value (og:
    description text, refresh URLs, JSON that merely contains '<meta')
    must not match, and commented-out metas must not win."""
    from dataproc_spark.extensions.warc import (
        decode_body_text,
        sniff_meta_charset,
    )

    page = (
        '<html><head><meta property="og:description" '
        'content="served with charset=koi8-r for legacy"></head>'
        "привет</html>"
    ).encode("utf-8")
    assert sniff_meta_charset(page) is None
    assert "привет" in decode_body_text(page, "text/html")  # stays UTF-8
    page2 = (
        '<meta property="x" content="...charset=utf-42...">'
        '<meta charset="utf-8">проверка'
    ).encode("utf-8")
    assert sniff_meta_charset(page2) == "utf-8"
    assert sniff_meta_charset(
        b'<meta content="text/html; charset=gbk" http-equiv=content-type>'
    ) == "gbk"
    assert sniff_meta_charset(
        b'<meta http-equiv=refresh content="0; url=a?charset=koi8-r">'
    ) is None
    assert sniff_meta_charset(
        b"<!-- <meta charset=koi8-r> --><meta charset=utf-8>"
    ) == "utf-8"
    assert sniff_meta_charset(
        b'{"html": "<meta x=1>", "note": "charset=latin-1"}'
    ) is None


def test_charset_advice_fixes():
    """r12 (r11 advice findings): UTF-32 BOMs outrank the UTF-16
    prefix-match, the meta prescan skips '>' inside quoted attribute
    values, and the legacy START-form ``content="charset=..."`` (no
    media type) parses."""
    import pytest as _pytest

    from dataproc_spark.extensions.warc import (
        charset_of_content_type,
        decode_body_text,
        sniff_meta_charset,
    )

    # UTF-32LE: \xff\xfe\x00\x00 must NOT be eaten as a UTF-16LE BOM
    # (that decode "succeeds" with NUL-interleaved text)
    b32le = b"\xff\xfe\x00\x00" + "страница".encode("utf-32-le")
    assert decode_body_text(b32le, None) == "страница"
    assert "\x00" not in decode_body_text(b32le, "text/html")
    b32be = b"\x00\x00\xfe\xff" + "page".encode("utf-32-be")
    assert decode_body_text(b32be, None) == "page"
    # the ambiguous LE prefix: bytes that violate UTF-32 fall back to
    # the WHATWG UTF-16LE reading (r12 second-review refinement) —
    # here U+0000 U+FFFF U+FFFF, valid UTF-16, so no quarantine
    assert decode_body_text(
        b"\xff\xfe\x00\x00" + b"\xff\xff\xff\xff", None
    ) == "\x00￿￿"
    # UTF-16LE text NOT starting with NUL still routes to UTF-16
    b16 = b"\xff\xfe" + "привет".encode("utf-16-le")
    assert decode_body_text(b16, None) == "привет"

    # quoted '>' before the declaration must not truncate the tag scan
    assert sniff_meta_charset(
        b'<meta content="a > b; charset=koi8-r" http-equiv=content-type>'
    ) == "koi8-r"
    # ...including when an earlier attribute holds the quoted '>'
    assert sniff_meta_charset(
        b'<meta data-x="a > b" http-equiv=content-type '
        b'content="charset=koi8-r">'
    ) == "koi8-r"
    # an apostrophe inside a BARE token is not a value quote — the
    # terminator scan must not swallow the rest of the head
    assert sniff_meta_charset(
        b"<meta data-x=it's charset=utf-8><p>charset=koi8-r</p>"
    ) == "utf-8"
    # unterminated quoted value: no tag end inside the window
    assert sniff_meta_charset(b'<meta charset="utf-8 <p>x</p>') is None

    # START-form charset parameter (HTML5 meta extraction legacy form)
    assert charset_of_content_type("charset=koi8-r") == "koi8-r"
    assert charset_of_content_type(" charset=UTF-8") == "UTF-8"
    assert charset_of_content_type("not-a-charset=x") is None
    assert sniff_meta_charset(
        b'<meta http-equiv=content-type content="charset=gbk">'
    ) == "gbk"


def test_chained_content_codings():
    """RFC 9110 §8.4: a Content-Encoding LIST names codings in the
    order applied, so they decode in reverse; identity members are
    no-ops, case/space-insensitive, and an unknown member anywhere in
    the list still quarantines."""
    import gzip as _gz
    import zlib as _zl

    import pytest as _pytest

    from dataproc_spark.extensions.warc import decode_content_encoding

    wire = _zl.compress(_gz.compress(b"chained payload", mtime=0))
    assert decode_content_encoding(wire, "gzip, deflate") == b"chained payload"
    wire2 = _gz.compress(_zl.compress(b"other order"), mtime=0)
    assert decode_content_encoding(wire2, "deflate , GZIP") == b"other order"
    assert decode_content_encoding(
        _gz.compress(b"x", mtime=0), "identity, gzip, identity") == b"x"
    with _pytest.raises(ValueError, match="zstd"):
        decode_content_encoding(b"z", "gzip, zstd")
    assert decode_content_encoding(b"q", "") == b"q"


def test_unescape_html_modes(spark):
    """r11 entity decode: full mode == stdlib html.unescape (numeric,
    hex, unknown-preserved, NBSP→U+00A0), fast JVM mode equals full on
    the fast subset incl. the double-escape trap, NULLs pass through,
    and mode validates."""
    import html as _html

    import pytest as _pytest

    from dataproc_spark.extensions import web as webx

    rows = [
        (0, "Tom &amp; Jerry &lt;tag&gt; &quot;q&quot; &rsquo;s"),
        (1, "double &amp;lt; must stay literal"),
        (2, "caf&eacute; &nbsp;pad &hellip; &copy;"),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "i long, t string")
    fast = {r.i: r.c for r in df.select(
        "i", webx.unescape_html("t", mode="fast").alias("c")).collect()}
    full = {r.i: r.c for r in df.select(
        "i", webx.unescape_html("t", mode="full").alias("c")).collect()}
    for i, t in rows:
        want = None if t is None else _html.unescape(t)
        assert full[i] == want, (i, full[i], want)
        assert fast[i] == want, (i, fast[i], want)  # fast subset only
    assert fast[1] == "double &lt; must stay literal"
    # numeric/hex forms are full-mode-only; fast leaves them visible
    num = spark.createDataFrame([(0, "x &#1087;&#x43F; y")], "i long, t string")
    got_fast = num.select(webx.unescape_html("t").alias("c")).collect()[0].c
    got_full = num.select(
        webx.unescape_html("t", mode="full").alias("c")).collect()[0].c
    assert got_fast == "x &#1087;&#x43F; y" and got_full == "x пп y"
    with _pytest.raises(ValueError, match="mode"):
        webx.unescape_html("t", mode="auto")


def test_jpeg_progressive_subsampled_decoder_only():
    """r11 decoder-ONLY geometry check: hand-assembled 4:2:0 SOF2
    streams (not produced by our encoder), verified against an
    independent numpy model of the block layout + YCbCr math. This is
    the one failure mode the roundtrip tests CANNOT catch: if encoder
    and decoder shared the same wrong grid walk, coefficients would
    land in the same wrong blocks and every roundtrip would still
    pass — only a stream assembled from the spec exposes it.

    Geometry under test (w=24, h=16, Y 2x2 / Cb 1x1 / Cr 1x1):
    mcu grid 2x1; Y padded block grid 4x2 (8 blocks) vs TRUE grid 3x2
    (6 blocks) — the T.81 A.2 asymmetry. Stream A codes DC interleaved
    (all 8 Y blocks in MCU order: padded indices 0,1,4,5 then 2,3,6,7)
    with a restart after MCU 1; stream B codes DC NON-interleaved per
    component (Y walks true-grid blocks at padded indices 0,1,2,4,5,6
    — stride bw_pad=4, skipping the padding column) with a restart
    mid-scan. Both must reconstruct the same pixels."""
    import struct

    import numpy as np

    from dataproc_spark.extensions.jpeg import (
        _BitWriter,
        _canonical_codes,
        _category,
        _DC_BITS,
        _DC_SYMBOLS,
        decode_jpeg,
        parse_jpeg_meta,
    )

    w, h = 24, 16
    # distinct constant value per TRUE Y block; padding col replicates
    yv = [[40, 90, 140], [200, 15, 230]]  # [by][bx], true grid 2x3
    cbv, crv = 100, 170  # constant chroma planes (one value per block)

    def seg(marker, payload):
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    dc_codes = _canonical_codes(_DC_BITS, _DC_SYMBOLS)

    def write_dc(bw, prev, v):
        # DC-only block: category + diff bits, nothing else in Ss=0 scan
        diff = v - prev
        t = _category(diff) if diff else 0
        code, ln = dc_codes[t]
        bw.write(code, ln)
        if t:
            bw.write(diff if diff > 0 else diff + (1 << t) - 1, t)
        return v

    def dcval(px):  # quant 1: DC coefficient of a constant block
        return 8 * (px - 128)

    def header(parts):
        out = bytearray(b"\xFF\xD8")
        out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        out += seg(0xDB, bytes([0]) + bytes([1] * 64))  # quant 1 flat
        sof = struct.pack(">BHHB", 8, h, w, 3)
        sof += struct.pack(">BBB", 1, 0x22, 0)  # Y 2x2
        sof += struct.pack(">BBB", 2, 0x11, 0)  # Cb
        sof += struct.pack(">BBB", 3, 0x11, 0)  # Cr
        out += seg(0xC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_SYMBOLS))
        out += seg(0xC2, sof)
        for p in parts:
            out += p
        out += b"\xFF\xD9"
        return bytes(out)

    def sos(comp_ids, ss, se, ah, al):
        body = bytes([len(comp_ids)]) + b"".join(
            struct.pack(">BB", cid, 0x00) for cid in comp_ids
        ) + bytes([ss, se, (ah << 4) | al])
        return seg(0xDA, body)

    # --- stream A: interleaved DC scan, restart after each MCU (ri=1)
    bw = _BitWriter()
    prev = {1: 0, 2: 0, 3: 0}
    for mc in (0, 1):  # MCU column (1 MCU row)
        if mc == 1:
            bw.restart_marker(0)
            prev = {1: 0, 2: 0, 3: 0}
        for v_ in (0, 1):  # Y: 2x2 blocks per MCU, raster within MCU
            for u in (0, 1):
                bx = mc * 2 + u
                px = yv[v_][min(bx, 2)]  # padding col replicates bx=2
                prev[1] = write_dc(bw, prev[1], dcval(px))
        prev[2] = write_dc(bw, prev[2], dcval(cbv))
        prev[3] = write_dc(bw, prev[3], dcval(crv))
    stream_a = header([
        seg(0xDD, struct.pack(">H", 1)),
        sos([1, 2, 3], 0, 0, 0, 0) + bw.flush(),
    ])

    # --- stream B: non-interleaved DC scans (ns=1 each), Y with ri=2
    parts = [seg(0xDD, struct.pack(">H", 2))]
    bw = _BitWriter()
    prev_y = 0
    n = 0
    rst = 0
    for by in (0, 1):
        for bx in (0, 1, 2):  # TRUE grid only — padding col NOT coded
            if n and n % 2 == 0:
                bw.restart_marker(rst)
                rst += 1
                prev_y = 0
            prev_y = write_dc(bw, prev_y, dcval(yv[by][bx]))
            n += 1
    parts.append(sos([1], 0, 0, 0, 0) + bw.flush())
    for cid, cv in ((2, cbv), (3, crv)):
        bw = _BitWriter()
        prev_c = 0
        for _ in range(2):  # chroma true grid: 2x1 blocks
            prev_c = write_dc(bw, prev_c, dcval(cv))
        parts.append(sos([cid], 0, 0, 0, 0) + bw.flush())
    stream_b = header(parts)

    # --- independent expected-pixel model (geometry + YCbCr math)
    ymat = np.zeros((h, w))
    for by in (0, 1):
        for bx in (0, 1, 2):
            ymat[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] = yv[by][bx]
    cb = np.full((h, w), float(cbv))  # constant chroma, replication-free
    cr = np.full((h, w), float(crv))
    exp = np.clip(np.round(np.stack([
        ymat + 1.402 * (cr - 128.0),
        ymat - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0),
        ymat + 1.772 * (cb - 128.0),
    ], axis=-1)), 0, 255).astype(np.uint8)

    for name, stream in (("interleaved", stream_a), ("non-interleaved",
                                                     stream_b)):
        meta = parse_jpeg_meta(stream)
        assert (meta["width"], meta["height"]) == (w, h), name
        assert meta["progressive"], name
        got = decode_jpeg(stream)
        assert got[:3] == (w, h, 3), name
        assert (got[3] == exp).all(), (
            name, np.abs(got[3].astype(int) - exp.astype(int)).max())


def test_robots_filtering(spark):
    """r11 robots.txt family: RFC 9309 group selection (most-specific
    agent token, * fallback), longest-match priority with Allow winning
    ties, wildcard/anchor translation with LIKE-metachar escaping,
    query excluded from matching, rule-less and robots-less hosts
    default to allowed."""
    from dataproc_spark.extensions import web as webx

    # pure parser: priority order + group selection + empty Disallow
    assert webx.parse_robots(
        "User-agent: *\nDisallow: /p/\nAllow: /p/2\n"
    ) == [(True, "/p/2%", 4), (False, "/p/%", 3)]
    two_groups = (
        "User-agent: goodbot\nDisallow: /\n\n"
        "User-agent: *\nDisallow: /p/*5$\nAllow: /p/15\n"
    )
    # r12: specificity is the FULL rule length (wildcards + '$'
    # included, Google-parser parity), so the anchored wildcard
    # Disallow (len('/p/*5$') = 6) now outranks Allow /p/15 (5) — the
    # r11 stripped measure scored them 4 vs 5 and let Allow win
    assert webx.parse_robots(two_groups) == [
        (False, "/p/%5", 6), (True, "/p/15%", 5)]
    assert webx.parse_robots(two_groups, agent="GoodBot/1.2") == [
        (False, "/%", 1)]
    assert webx.parse_robots("User-agent: *\nDisallow:\n# allow-all") == []
    assert webx.robots_like_pattern("/50%_off") == ("/50\\%\\_off%", 8)
    # the advice finding's exact example: 'Allow: /p*' (3 octets, '*'
    # counted) ties 'Disallow: /pa' (3) on path '/pa' → Allow wins;
    # the stripped measure scored 2 < 3 and blocked
    assert webx.parse_robots(
        "User-agent: *\nAllow: /p*\nDisallow: /pa\n"
    ) == [(True, "/p%%", 3), (False, "/pa%", 3)]
    # RFC 9309 §2.2.1: groups sharing an agent token MERGE — the
    # second 'User-agent: *' block's rules must not be dropped
    assert webx.parse_robots(
        "User-agent: *\nDisallow: /a\n\nUser-agent: *\nDisallow: /b\n"
    ) == [(False, "/a%", 2), (False, "/b%", 2)]

    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /p/\nAllow: /p/2\n"),
         ("b.com", two_groups),
         ("c.com", "User-agent: *\nDisallow:\n")],
        "host string, robots_txt string",
    )
    rules = webx.robots_rules_frame(robots)
    urls = spark.createDataFrame(
        [(0, "a.com", "https://a.com/p/25?x=1"),
         (1, "a.com", "https://a.com/p/9"),
         (2, "b.com", "https://b.com/p/25"),
         (3, "b.com", "https://b.com/p/155"),  # *5$ (6) outranks /p/15 (5)
         (4, "b.com", "https://b.com/p/3"),
         (5, "c.com", "https://c.com/anything"),
         (6, "d.com", "https://d.com/no-robots-host"),
         (7, "b.com", "https://b.com/p/25?q=5"),  # query NOT matched
         # RFC 9309 §2.2.2: empty path matches as '/', and the scheme
         # class is case-insensitive — neither may bypass a Disallow
         (8, "e.com", "https://e.com"),
         (9, "e.com", "HTTPS://e.com/secret")],
        "i long, host string, url string",
    )
    rules = webx.robots_rules_frame(robots.union(spark.createDataFrame(
        [("e.com", "User-agent: *\nDisallow: /\n")],
        "host string, robots_txt string",
    )))
    got = {r.i: r.allowed
           for r in webx.robots_allowed(urls, rules).collect()}
    assert got == {0: True, 1: False, 2: False, 3: False, 4: True,
                   5: True, 6: True, 7: False, 8: False, 9: False}
    # plan contract: rules broadcast, URL side map-only (no shuffle).
    # dedup_texts=False isolates the URL side — the r13 distinct-text
    # dedup legitimately adds DIMENSION-side exchanges (distinct +
    # text re-join), which live inside the broadcast subtree.
    rules_flat = webx.robots_rules_frame(robots, dedup_texts=False)
    plan = (webx.robots_allowed(urls, rules_flat)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("BroadcastHashJoin") == 1
    assert plan.count("Exchange") == plan.count("BroadcastExchange")


def test_robots_dedup_and_politeness(spark):
    """r13: (a) the distinct-text parse path returns the same rules as
    per-host parsing, keeps NULL-text hosts, and its optimized plan
    aggregates on the text before the Python kernel (parse work
    bounded by distinct files); (b) Crawl-delay/Request-rate surface
    with the same agent-group selection as the path rules."""
    from dataproc_spark.extensions import web as webx

    shared = "User-agent: *\nCrawl-delay: 2.5\nDisallow: /private/\n"
    robots = spark.createDataFrame(
        [("a.com", shared), ("b.a.com", shared), ("c.a.com", shared),
         ("solo.com", "User-agent: bot\nCrawl-delay: 7\n"
                      "Request-rate: 1/5\nDisallow: /x\n\n"
                      "User-agent: *\nCrawl-delay: 1\nDisallow: /y\n"),
         ("null.com", None)],
        "host string, robots_txt string",
    )
    dd = {r.host: r.rules for r in
          webx.robots_rules_frame(robots).collect()}
    flat = {r.host: r.rules for r in
            webx.robots_rules_frame(robots, dedup_texts=False).collect()}
    assert dd == flat and len(dd) == 5
    assert dd["a.com"] == dd["b.a.com"] == dd["c.a.com"]
    assert dd["null.com"] is None
    # the kernel input is the DISTINCT text set: the optimized plan
    # shows an Aggregate (the distinct) feeding the Arrow stage
    opt = (webx.robots_rules_frame(robots)
           ._jdf.queryExecution().optimizedPlan().toString())
    assert "Deduplicate" in opt or "Aggregate" in opt

    # politeness columns, per agent group
    pol = {r.host: (r.crawl_delay, r.request_rate) for r in
           webx.robots_rules_frame(
               robots, with_politeness=True).collect()}
    assert pol["a.com"] == (2.5, None)
    assert pol["solo.com"] == (1.0, None)       # '*' group for '*'
    assert pol["null.com"] == (None, None)
    polbot = {r.host: (r.crawl_delay, r.request_rate) for r in
              webx.robots_rules_frame(
                  robots, agent="MegaBot/2.0 (bot)",
                  with_politeness=True).collect()}
    assert polbot["solo.com"] == (7.0, "1/5")   # 'bot' group wins
    # python-level helpers agree
    assert webx.robots_crawl_delay(shared) == 2.5
    assert webx.robots_request_rate(shared) is None
    assert webx.robots_crawl_delay(
        "User-agent: *\nCrawl-delay: nonsense\nDisallow: /a\n") is None
    assert webx.robots_crawl_delay(
        "User-agent: *\nCrawl-delay: -3\nDisallow: /a\n") is None


def test_wet_sink_roundtrip(spark, tmp_path):
    """r11 WET conversion records: text sinks as text/plain UTF-8
    conversion records with an optional WARC-Refers-To pointer and
    reads back identically (incl. non-ASCII); read_wet filters to
    conversion records only (a mixed archive's responses don't leak
    in); refers_to is absent when not provided."""
    from dataproc_spark.extensions import warc

    src = spark.createDataFrame(
        [("https://a.com/1", "plain text", "<urn:uuid:s1>"),
         ("https://a.com/2", "тест 中文 é", "<urn:uuid:s2>")],
        "target_uri string, wet_text string, source_id string",
    )
    out = str(tmp_path / "wet")
    warc.write_wet_shards(
        src.coalesce(1), out, text_col="wet_text", refers_to_col="source_id"
    )
    back = {r.target_uri: r for r in warc.read_wet(spark, out).collect()}
    assert back["https://a.com/1"].wet_text == "plain text"
    assert back["https://a.com/2"].wet_text == "тест 中文 é"
    assert back["https://a.com/1"].refers_to == "<urn:uuid:s1>"
    assert back["https://a.com/1"].warc_type == "conversion"
    assert back["https://a.com/1"].content_type == (
        "text/plain; charset=utf-8")
    # no refers column: header simply absent, column NULL
    out2 = str(tmp_path / "wet2")
    warc.write_wet_shards(
        src.select("target_uri", "wet_text").coalesce(1), out2,
        text_col="wet_text",
    )
    r2 = warc.read_wet(spark, out2).collect()[0]
    assert r2.refers_to is None
    # a raw archive's response records never leak into read_wet
    raw = str(tmp_path / "raw")
    warc.write_warc_shards(
        src.select(
            "target_uri", F.encode("wet_text", "UTF-8").alias("payload")
        ).coalesce(1),
        raw, content_type="text/html",
    )
    assert warc.read_wet(spark, raw).count() == 0


def test_detect_charset_fallback(spark):
    """r11 opt-in detection for UNDECLARED legacy pages: confident
    calls for the dominant encodings (incl. the koi8-vs-cp1251 case
    swap and the kana-vs-hanzi signature), honest None on thin or
    ambiguous evidence, and the body_text wiring — default OFF keeps
    U+FFFD replacement, ON recovers the text."""
    from dataproc_spark.extensions import warc

    ru = "ещё один длинный русский абзац о погоде и природе"
    assert warc.detect_charset(ru.encode("cp1251")) == "cp1251"
    assert warc.detect_charset(
        "пристанище кода и текста в кои-восемь".encode("koi8_r")
    ) == "koi8-r"
    assert warc.detect_charset(
        "これはもう一つの日本語の文章です".encode("shift_jis")
    ) == "shift_jis"
    assert warc.detect_charset(
        "这是另一个用于检测的中文句子，包含更多的汉字内容".encode("gbk")
    ) == "gbk"
    assert warc.detect_charset(
        "café déjà vu naïve résumé éclair".encode("cp1252")) == "cp1252"
    assert warc.detect_charset("utf-8 текст".encode("utf-8")) == "utf-8"
    assert warc.detect_charset(b"plain ascii") is None
    assert warc.detect_charset(b"\x01\x02\x03\x04") is None
    # decode_body_text wiring: declared charsets unaffected; undeclared
    # pages recover with the flag and replace without it
    body = ru.encode("cp1251")
    assert warc.decode_body_text(body, "text/html",
                                 detect_fallback=True) == ru
    assert "�" in warc.decode_body_text(body, "text/html")
    # a declaration still outranks detection (and stays strict)
    assert warc.decode_body_text(
        body, "text/html; charset=windows-1251", detect_fallback=True
    ) == ru
    # Column wiring
    df = spark.createDataFrame(
        [(0, body, "text/html")], "i long, body binary, ct string")
    got_on = df.select(
        warc.body_text("body", "ct", detect_fallback=True).alias("t")
    ).collect()[0].t
    got_off = df.select(
        warc.body_text("body", "ct").alias("t")).collect()[0].t
    assert got_on == ru and "�" in got_off


def test_surt_key_and_cdx_index(spark, tmp_path):
    """r12 CDX family: SURT canonicalization edges (leading-www strip
    only, fragment drop, empty path → '/', query sort, ?-drop on empty
    query) and the cdx_index projection incl. the filename column the
    oracle gate can't pin (shard names follow partitioning)."""
    from dataproc_spark.extensions import cdx as cdxx
    from dataproc_spark.extensions import warc as warcx

    urls = spark.createDataFrame(
        [("https://www.Example.co.uk/A/b?b=2&a=1#frag",),
         ("http://example.com",),
         ("https://cdn.www.site.com/x",),
         ("HTTPS://WWW.SITE.ORG/?Z=1",),
         ("https://site.io/p?",)],
        "url string",
    )
    got = [r.k for r in urls.select(
        cdxx.surt_key("url").alias("k")).collect()]
    assert got == [
        "uk,co,example)/a/b?a=1&b=2",   # www stripped, query sorted
        "com,example)/",                # empty path → '/'
        "com,site,www,cdn)/x",          # non-leading www SURVIVES
        "org,site)/?z=1",               # case folded everywhere
        "io,site)/p",                   # empty query drops its '?'
    ]

    src = spark.createDataFrame(
        [("https://www.a.com/1",
          b"HTTP/1.1 200 OK\r\nContent-Type: text/html; x=y\r\n\r\nhi"),
         ("https://b.org/2?b=2&a=1", b"<bare>raw</bare>")],
        "target_uri string, payload binary",
    ).repartition(1)
    out = str(tmp_path / "cdx")
    warcx.write_warc_shards(src, out)
    rows = {r.url: r for r in cdxx.cdx_index(
        warcx.read_warc(spark, out)).collect()}
    import hashlib

    a = rows["https://www.a.com/1"]
    assert a.urlkey == "com,a)/1"
    assert a.ts == "20260101000000" and len(a.ts) == 14
    assert a.mime == "text/html" and a.status == 200
    assert a.digest == hashlib.sha256(b"hi").hexdigest()
    assert a.length == 2
    assert a.filename.startswith("shard-") and a.filename.endswith(
        ".warc.gz") and "/" not in a.filename
    b = rows["https://b.org/2?b=2&a=1"]
    assert b.urlkey == "org,b)/2?a=1&b=2"
    assert b.mime is None and b.status is None
    assert b.digest == hashlib.sha256(b"<bare>raw</bare>").hexdigest()
    assert b.length == len(b"<bare>raw</bare>")
    # plan contract: the index is a map-only projection of the reader —
    # no shuffle anywhere
    plan = (cdxx.cdx_index(warcx.read_warc(spark, out))
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_drop_repeated_lines(spark):
    """r12 CCNet-style line cut: df counting is per DISTINCT doc (a
    line twice in one doc counts once), whitespace-only lines are
    exempt, order and within-doc duplicates of kept lines survive,
    NULL text normalizes to '', and the plan never shuffles bodies
    (only hash/pos columns reach an Exchange)."""
    from dataproc_spark.extensions import dedup as ddp

    docs = spark.createDataFrame(
        [(1, "alpha\nFOOT\n\nalpha\nmine1"),
         (2, "FOOT\nmine2\n   \nmine2"),
         (3, "mine3\nFOOT"),
         (4, None),
         (5, "alpha\nlast")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in ddp.drop_repeated_lines(
        docs, min_docs=2).collect()}
    # FOOT df=3 cut; alpha df=2 (doc 1 has it twice — still one doc,
    # but docs 1+5 make df=2) cut; blanks exempt; minN unique kept
    assert out[1].text_clean == "\nmine1"
    assert out[1].n_lines_dropped == 3  # FOOT + alpha×2
    assert out[2].text_clean == "mine2\n   \nmine2"
    assert out[2].n_lines_dropped == 1
    assert out[3].text_clean == "mine3" and out[3].n_lines_dropped == 1
    assert out[4].text_clean == "" and out[4].n_lines_dropped == 0
    assert out[5].text_clean == "last" and out[5].n_lines_dropped == 1
    # min_docs above any df: nothing cut, text reassembles verbatim
    none_cut = {r.doc_id: r for r in ddp.drop_repeated_lines(
        docs, min_docs=9).collect()}
    assert none_cut[1].text_clean == "alpha\nFOOT\n\nalpha\nmine1"
    assert all(r.n_lines_dropped == 0 for r in none_cut.values())
    # column-clash guard
    import pytest as _pytest
    with _pytest.raises(ValueError, match="clobber"):
        ddp.drop_repeated_lines(docs.withColumn("text_clean", F.lit("")))
    # min_docs < 2 would cut EVERY non-blank line (r12 advice fix)
    with _pytest.raises(ValueError, match="min_docs"):
        ddp.drop_repeated_lines(docs, min_docs=1)
    with _pytest.raises(ValueError, match="min_docs"):
        ddp.drop_repeated_lines(docs, min_docs=0)


def test_sniffed_mime(spark):
    """r12 WHATWG-core MIME sniff: HTML tag scan (BOM/whitespace/case),
    magic signatures, RIFF containers, ftyp, UTF-16 BOMs → text/plain,
    binary-byte fallback, NULL passthrough — and the plan is a single
    map-only projection (no Exchange, no Python)."""
    import gzip as _gzip

    from dataproc_spark.extensions.sniff import sniffed_mime

    rows = [
        (0, b"<!DOCTYPE html><p>x</p>", "text/html"),
        (1, b"\xef\xbb\xbf  \n\t<HTML><body>", "text/html"),
        (2, b"  <script>alert(1)</script>", "text/html"),
        (3, b'<?xml version="1.0"?><r/>', "text/xml"),
        (4, b"\x89PNG\r\n\x1a\n1234", "image/png"),
        (5, b"GIF89a;;;", "image/gif"),
        (6, b"\xff\xd8\xff\xe0JFIF", "image/jpeg"),
        (7, b"%PDF-1.7 ...", "application/pdf"),
        (8, _gzip.compress(b"x", mtime=0), "application/gzip"),
        (9, b"PK\x03\x04zipzip", "application/zip"),
        (10, b"RIFF\x10\x00\x00\x00WAVEfmt ", "audio/wave"),
        (11, b"RIFF\x10\x00\x00\x00WEBPVP8 ", "image/webp"),
        # payload must be at least box-size (24) long — the r12 box
        # validation rejects truncated ftyp prefixes — AND carry 'mp4'
        # in the major or a compatible brand (r12 advice fix): isom
        # major qualifies via the 'mp42' compatible slot at offset 16
        # layout: size + 'ftyp' + major 'isom' + minor VERSION (the
        # brand scan skips bytes 12-15) + compatible brands from 16
        (12, b"\x00\x00\x00\x18ftypisom" + b"\x00\x00\x02\x00"
         + b"mp42avc1", "video/mp4"),
        (13, b"\xff\xfeh\x00i\x00", "text/plain"),      # UTF-16LE BOM
        (14, b"plain old prose, no magic", "text/plain"),
        (15, b"almost text\x00but a NUL", "application/octet-stream"),
        (16, b"ID3\x04tag", "audio/mpeg"),
        (17, b"\x1aE\xdf\xa3webm", "video/webm"),
        (18, None, None),
        # '<a>'-ish needs the tag TERMINATED by space/'>' — '<abc' is
        # not an HTML sniff hit, falls through to text
        (19, b"<abc whatever", "text/plain"),
        # major brand 'mp42' starts with 'mp4' — minimal 12-byte box
        (20, b"\x00\x00\x00\x0cftypmp42", "video/mp4"),
        # HEIC/AVIF/M4A: a valid ftyp box WITHOUT any mp4 brand must
        # NOT sniff video/mp4 (WHATWG brand check; r12 advice fix) —
        # these fall to the binary-byte scan
        (21, b"\x00\x00\x00\x18ftypheic" + b"mif1heic",
         "application/octet-stream"),
        (22, b"\x00\x00\x00\x10ftypM4A " + b"M4A ",
         "application/octet-stream"),
        # the spec's tag-terminating byte is SPACE or '>' ONLY: '<p\t'
        # must not sniff as HTML (r12 advice fix)
        (23, b"<p\tnot html by the spec", "text/plain"),
        (24, b"<p>but this is</p>", "text/html"),
    ]
    df = spark.createDataFrame(
        [(i, p) for i, p, _ in rows], "i long, payload binary"
    )
    got = {r.i: r.m for r in df.select(
        "i", sniffed_mime("payload").alias("m")).collect()}
    for i, _, want in rows:
        assert got[i] == want, (i, got[i], want)
    plan = (df.select(sniffed_mime("payload").alias("m"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Python" not in plan


def test_sitemap_entries(spark):
    """r12 sitemap parsing: urlset + sitemapindex kinds, entity
    unescape (all five XML entities, &amp; last), missing children →
    NULL, priority double cast, attribute-carrying tags, the
    <url>-vs-<urlset> name-boundary trap, malformed/empty inputs seed
    nothing, and the plan is shuffle-free."""
    from dataproc_spark.extensions import web as webx

    xmls = [
        # attrs on urlset AND url; entities in loc; index pointer too
        (1, '<?xml version="1.0"?>'
            '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
            '<url data-x="1"><loc> https://a.com/?x=&lt;&gt;&quot;'
            "&apos;&amp;amp; </loc>"
            "<lastmod>2026-02-03</lastmod><priority>0.8</priority></url>"
            "<sitemap><loc>https://a.com/s1.xml</loc>"
            "<lastmod>2026-01-01</lastmod></sitemap></urlset>"),
        (2, "<urlset><url><loc>https://b.org/p</loc>"
            "<changefreq>daily</changefreq></url></urlset>"),
        (3, "not xml at all"),
        (4, None),
    ]
    df = spark.createDataFrame(xmls, "doc_id long, sitemap_xml string")
    rows = sorted(
        webx.sitemap_entries(df).collect(),
        key=lambda r: (r.doc_id, r.kind, r.pos),
    )
    # pos is global over (url entries, then index pointers)
    assert [(r.doc_id, r.pos, r.kind) for r in rows] == [
        (1, 1, "sitemap"), (1, 0, "url"), (2, 0, "url")]
    by = {(r.doc_id, r.kind): r for r in rows}
    u1 = by[(1, "url")]
    # &amp;amp; decodes to the literal '&amp;' (single-pass, amp last)
    assert u1.loc == "https://a.com/?x=<>\"'&amp;"
    assert u1.lastmod == "2026-02-03" and u1.priority == 0.8
    assert u1.changefreq is None
    s1 = by[(1, "sitemap")]
    assert s1.loc == "https://a.com/s1.xml" and s1.lastmod == "2026-01-01"
    assert s1.priority is None and s1.changefreq is None
    u2 = by[(2, "url")]
    assert u2.changefreq == "daily" and u2.lastmod is None
    assert u2.priority is None
    plan = (webx.sitemap_entries(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Python" not in plan


def test_extract_links_and_resolve(spark):
    """r12 web graph: href extraction (quote forms, attribute
    boundaries, document order, fragment-only exclusion) and RFC 3986
    resolution incl. EXACT remove_dot_segments (trailing-slash rule,
    root clamp) — plan shuffle-free."""
    from dataproc_spark.extensions import web as webx

    base = "https://www.ex.com/a/b/page.html?q=0"
    html = (
        '<p><a href="https://abs.org/x#f">1</a>'
        "<a href='//cdn.net/y'>2</a>"
        "<a href=/root/z?k=1#frag>3</a>"
        '<a class="big" href="../up/./c.html">4</a>'
        '<a href="?page=2">5</a>'
        '<a href="#self">never</a>'
        '<a href="sub/">6</a>'
        '<a data-href="https://not-a-link.example/">x</a>'
        '<A HREF="UPPER.html">7</A></p>'
    )
    df = spark.createDataFrame([(1, base, html)],
                               "doc_id long, url string, html string")
    rows = sorted(webx.extract_links(df).collect(),
                  key=lambda r: r.link_pos)
    assert [r.link_url for r in rows] == [
        "https://abs.org/x",            # absolute, fragment dropped
        "https://cdn.net/y",            # protocol-relative
        "https://www.ex.com/root/z?k=1",
        "https://www.ex.com/a/up/c.html",
        "https://www.ex.com/a/b/page.html?page=2",
        "https://www.ex.com/a/b/sub/",
        "https://www.ex.com/a/b/UPPER.html",
    ]
    assert [r.href for r in rows] == [
        "https://abs.org/x#f", "//cdn.net/y", "/root/z?k=1#frag",
        "../up/./c.html", "?page=2", "sub/", "UPPER.html"]

    # remove_dot_segments edges through resolve_url
    one = spark.range(1)
    def res(b, r):
        return one.select(webx.resolve_url(
            F.lit(b), F.lit(r)).alias("u")).collect()[0].u
    assert res(base, "../../..") == "https://www.ex.com/"      # root clamp
    assert res(base, "../x/..") == "https://www.ex.com/a/"     # trailing /
    assert res(base, ".") == "https://www.ex.com/a/b/"
    assert res(base, "") == base                              # empty → base
    assert res(base, "mailto:a@b.c") == "mailto:a@b.c"
    assert res("https://h.io", "x") == "https://h.io/x"       # empty b path

    plan = (webx.extract_links(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Python" not in plan


def test_extract_links_rel_and_base(spark):
    """r13: rel attribute capture (before/after href, quoted/bare,
    multi-token, absent → NULL) and <base href> handling (absolute
    base, relative base resolved against the page URL, base ignored
    for absolute links, honor_base=False opt-out, first base wins)."""
    from dataproc_spark.extensions import web as webx

    page = "https://www.ex.com/a/b/page.html"
    rows = [
        # rel after href, quoted; second anchor rel-less
        (1, page, '<a href="/x" rel="nofollow">1</a><a href="/y">2</a>'),
        # rel BEFORE href, bare value; multi-token quoted rel
        (2, page, "<a rel=ugc href=/x>1</a>"
                  "<a rel='ugc sponsored' href='/y'>2</a>"),
        # absolute base: relative links resolve against it, and the
        # root-relative link against ITS origin
        (3, page, '<base href="https://cdn.ex.net/static/">'
                  '<a href="img.png">1</a><a href="/r">2</a>'),
        # relative base resolves against the page URL first
        (4, page, "<base href=/newroot/><a href='p.html'>1</a>"),
        # base never touches absolute links; first base WITH HREF wins
        # (a leading href-less <base target> must not shadow it)
        (5, page, '<base target="_blank">'
                  '<base href="https://one.ex/d/">'
                  '<base href="https://two.ex/e/">'
                  '<a href="https://abs.org/z">1</a><a href="q">2</a>'),
        # rel on a tag whose earlier attribute QUOTES a rel-like token
        (6, page, '<a title="rel=fake" href="/x" rel=real>1</a>'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, html string")
    got = {(r.doc_id, r.link_pos): r for r in
           webx.extract_links(df).collect()}
    assert got[(1, 0)].rel == "nofollow" and got[(1, 1)].rel is None
    assert got[(2, 0)].rel == "ugc"
    assert got[(2, 1)].rel == "ugc sponsored"
    assert got[(3, 0)].link_url == "https://cdn.ex.net/static/img.png"
    assert got[(3, 1)].link_url == "https://cdn.ex.net/r"
    assert got[(4, 0)].link_url == "https://www.ex.com/newroot/p.html"
    assert got[(5, 0)].link_url == "https://abs.org/z"
    assert got[(5, 1)].link_url == "https://one.ex/d/q"
    assert got[(6, 0)].rel == "real"
    # opt-out: resolve against the page URL regardless of base tags
    raw = {(r.doc_id, r.link_pos): r.link_url for r in
           webx.extract_links(df, honor_base=False).collect()}
    assert raw[(3, 0)] == "https://www.ex.com/a/b/img.png"
    assert raw[(4, 0)] == "https://www.ex.com/a/b/p.html"
    # still shuffle-free, still no Python
    plan = (webx.extract_links(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Python" not in plan


def test_write_sorted_cdx(spark, tmp_path):
    """r13 sorted-CDX writer: part files cover DISJOINT (urlkey, ts)
    ranges, rows are sorted within each file (min/max stats make range
    scans file-skipping), and the roundtrip loses nothing."""
    import glob

    import pyarrow.parquet as pq

    from dataproc_spark.extensions import cdx as cdxx

    rows = [(f"com,h{i % 7})/p/{i}", f"202601010000{i % 60:02d}",
             f"https://h{i % 7}.com/p/{i}", i) for i in range(200)]
    idx = spark.createDataFrame(
        rows, "urlkey string, ts string, url string, length long")
    out = str(tmp_path / "cdx")
    cdxx.write_sorted_cdx(idx, out, n_files=4)
    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) >= 2
    ranges = []
    for f in files:
        t = pq.read_table(f, columns=["urlkey", "ts"])
        keys = list(zip(t.column("urlkey").to_pylist(),
                        t.column("ts").to_pylist()))
        if not keys:
            continue
        assert keys == sorted(keys), f"{f} not sorted within file"
        ranges.append((keys[0], keys[-1]))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo, "file key ranges overlap"
    back = spark.read.parquet(out)
    assert back.count() == 200
    assert {r.urlkey for r in back.select("urlkey").collect()} == {
        k for k, *_ in rows}


def test_write_sorted_cdx_keeps_caller_cache(spark, tmp_path):
    """A caller-persisted index is still cached after the write (the
    writer only releases a persist it made itself), and the written
    files are the same as for an uncached index."""
    import glob

    import pyarrow.parquet as pq
    from pyspark import StorageLevel

    from dataproc_spark.extensions import cdx as cdxx

    rows = [(f"com,h{i % 7})/p/{i}", f"202601010000{i % 60:02d}",
             f"https://h{i % 7}.com/p/{i}", i) for i in range(200)]
    schema = "urlkey string, ts string, url string, length long"

    def files_of(out):
        return [pq.read_table(f).to_pylist()
                for f in sorted(glob.glob(out + "/part-*.parquet"))]

    plain = str(tmp_path / "plain")
    cdxx.write_sorted_cdx(spark.createDataFrame(rows, schema), plain,
                          n_files=4)
    idx = spark.createDataFrame(rows, schema).persist()
    idx.count()
    cached = str(tmp_path / "cached")
    cdxx.write_sorted_cdx(idx, cached, n_files=4)
    assert idx.storageLevel != StorageLevel.NONE, "caller cache dropped"
    assert files_of(cached) == files_of(plain)
    idx.unpersist()


def test_zipnum_index_prunes_files(spark, tmp_path):
    """r14 ZipNum-style secondary index: the pruned reader plans ONLY
    the files whose key range can match a probe (fewer inputFiles),
    lookup results are identical to the full scan, and zero survivors
    still yield the miss rows downstream."""
    from dataproc_spark.extensions import cdx as cdxx

    idx = spark.range(400).select(
        F.concat(F.lit("com,site"), (F.col("id") % 37).cast("string"),
                 F.lit(")/p/"), F.col("id").cast("string"))
        .alias("urlkey"),
        F.lit("20240101000000").alias("ts"),
        F.concat(F.lit("http://site"), (F.col("id") % 37).cast("string"),
                 F.lit(".com/p/"), F.col("id").cast("string"))
        .alias("url"),
        F.col("id").cast("long").alias("length"),
    )
    out = str(tmp_path / "cdx")
    cdxx.write_sorted_cdx(idx, out, n_files=8)
    cdxx.write_zipnum_index(spark, out)
    probes = spark.createDataFrame(
        [("http://site5.com/p/5", "20240102000000"),
         ("http://never.example/", "20240101000000")],
        "url string, ts string",
    )
    pruned = cdxx.load_cdx_pruned(spark, out, probes)
    assert len(pruned.inputFiles()) < len(
        spark.read.parquet(out).inputFiles())
    got = sorted(map(str, cdxx.cdx_closest(pruned, probes).collect()))
    full = sorted(map(str, cdxx.cdx_closest(
        spark.read.parquet(out), probes).collect()))
    assert got == full and len(got) == 2
    # the sidecar is invisible to a plain scan of the index dir
    assert spark.read.parquet(out).count() == 400
    # zero survivors: empty frame with the index schema, misses intact
    p2 = spark.createDataFrame([("http://zz.zz/", "20240101000000")],
                               "url string, ts string")
    empty = cdxx.load_cdx_pruned(spark, out, p2)
    assert empty.count() == 0 and empty.schema == pruned.schema
    rows2 = cdxx.cdx_closest(empty, p2).collect()
    assert len(rows2) == 1 and rows2[0].cdx_url is None


def test_host_link_graph(spark):
    """r13 host-graph rollup: per-host-pair totals vs followed counts
    (token-exact rel matching — substrings and case variants handled),
    self-edge and NULL-host drops, include_self opt-in, and a
    single-exchange plan."""
    from dataproc_spark.extensions import web as webx

    links = spark.createDataFrame(
        [("https://a.ex/1", "https://b.ex/x", None),
         ("https://a.ex/2", "https://b.ex/y", "NoFollow"),   # case
         ("https://a.ex/3", "https://b.ex/z", "nofollowme"),  # decoy
         ("https://a.ex/4", "https://b.ex/w", "ugc author"),
         ("https://a.ex/5", "https://a.ex/self", None),
         ("https://a.ex/6", "not a url", None),
         ("https://a.ex/7", "https://c.ex/q", "sponsored nofollow")],
        "url string, link_url string, rel string",
    )
    got = {(r.src_host, r.dst_host): (r.n_links, r.n_followed)
           for r in webx.host_link_graph(links).collect()}
    assert got == {("a.ex", "b.ex"): (4, 2), ("a.ex", "c.ex"): (1, 0)}
    with_self = {(r.src_host, r.dst_host): (r.n_links, r.n_followed)
                 for r in webx.host_link_graph(
                     links, include_self=True).collect()}
    assert with_self[("a.ex", "a.ex")] == (1, 1)
    plan = (webx.host_link_graph(links)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") == 1 and "Python" not in plan


def test_extract_links_anchor_text(spark):
    """r14 anchor-text capture: entity decode via the fast chain,
    nested-tag strip, image-only and dangling anchors -> NULL, the
    browser auto-close rule at the next anchor open, and exact
    alignment when a FILTERED (fragment-only) anchor sits between
    kept ones (the raw_pos contract)."""
    from dataproc_spark.extensions import web as webx

    html = (
        '<a href="/1">first &amp; best</a>'
        '<a href="#frag">skipped anchor text</a>'
        '<a href="/2">x<i>em</i>z</a>'
        '<a href="/3"><img src="i.jpg"></a>'
        '<a href="/4">dangling never closes'
        '<a href="/5"> spaced\t&nbsp;out </a> tail'
        '<a href="/6"></a>'
    )
    df = spark.createDataFrame(
        [(1, "https://h.ex/", html)],
        "doc_id long, url string, html string",
    )
    got = {r.href: r.anchor_text
           for r in webx.extract_links(df).collect()}
    assert got == {
        "/1": "first & best",
        "/2": "x em z",            # nested <i> strips to a space
        "/3": None,                # image-only
        "/4": None,                # dangling: auto-closed by /5, no </a>
        "/5": "spaced \xa0out",    # &nbsp; -> U+00A0 (fast-chain parity)
        "/6": None,                # empty text
    }
    # opt-out skips the column entirely
    cols = webx.extract_links(df, with_anchor_text=False).columns
    assert "anchor_text" not in cols


def test_extract_links_anchor_text_plan_cost(spark):
    """r14 plan audit: the text walk is evaluated ONCE per page BELOW
    the explode (zip_with — the generator input array carries the
    text), and with_anchor_text=False removes the walk entirely (the
    host-graph path's cost contract)."""
    from dataproc_spark.extensions import web as webx

    df = spark.createDataFrame(
        [(1, "https://h.ex/", '<a href="/1">t</a>')],
        "doc_id long, url string, html string",
    )
    full = (webx.extract_links(df)
            ._jdf.queryExecution().executedPlan().toString())
    # the close-tag extract lives in the pre-explode child (below the
    # Generate node in the printed top-down tree) — TWICE, because the
    # carried-base zip_with's size(links) child duplicates the walk
    # expression (accepted: the walk is ~10% of the base prescan it
    # saves per link row, SCALE.md r14). Post-explode occurrences = 0.
    pat = "(?is)^(.*?)</a"
    assert full.count(pat) == 2
    assert full.index(pat) > full.index("Generate")
    off = (webx.extract_links(df, with_anchor_text=False)
           ._jdf.queryExecution().executedPlan().toString())
    assert pat not in off and "anchor_text" not in off
    assert "Exchange" not in off and "Python" not in off


def test_anchor_text_rollup(spark):
    """r14 inbound anchor rollup: rel spam exclusion (token-exact),
    NULL-text edges count in n_links but never rank, count-DESC /
    text-ASC tie-breaks, k cap, text truncation, and the two-exchange
    plan (pair count + rank window; the final rollup reuses the
    window's partitioning)."""
    import pytest as _pytest

    from dataproc_spark.extensions import web as webx

    links = spark.createDataFrame(
        [("u1", "home", None), ("u1", "home", None),
         ("u1", "Home Page", None), ("u1", None, None),
         ("u1", "spam!", "ugc nofollow"),
         ("u1", "about", None), ("u1", "blog", None),
         ("u2", None, None), ("u2", None, "sponsored")],
        "link_url string, anchor_text string, rel string",
    )
    out = {r.link_url: r for r in
           webx.anchor_text_rollup(links, k=2).collect()}
    r1 = out["u1"]
    assert (r1.n_links, r1.n_anchored) == (6, 5)
    assert [(a.anchor_text, a.n) for a in r1.top_anchors] == [
        ("home", 2), ("Home Page", 1)]  # tie: 'H' < 'a' binary asc
    r2 = out["u2"]
    assert (r2.n_links, r2.n_anchored) == (1, 0)
    assert list(r2.top_anchors) == []
    # truncation collapses long-tail texts before counting
    long = spark.createDataFrame(
        [("u", "prefix-aaaa", None), ("u", "prefix-bbbb", None)],
        "link_url string, anchor_text string, rel string",
    )
    t = webx.anchor_text_rollup(long, k=1, max_text_len=6).collect()[0]
    assert [(a.anchor_text, a.n) for a in t.top_anchors] == [("prefix", 2)]
    with _pytest.raises(ValueError, match="k must be"):
        webx.anchor_text_rollup(links, k=0)
    plan = (webx.anchor_text_rollup(links)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") == 2 and "Python" not in plan


def test_extract_images_and_figcaption(spark):
    """r14 image extraction: quote-aware src/alt walk (data-src decoy
    rejected), absent-alt NULL vs empty-alt '' distinction, entity
    decode, base-href resolution, and figure/figcaption association
    (caption before or after the img, imgs outside figures NULL)."""
    from dataproc_spark.extensions import web as webx

    html = (
        '<img src="https://cdn.com/abs.jpg" alt="A &amp; B">'
        '<img src="rel.png">'
        '<img src="/root.gif" alt="">'
        '<img data-src="decoy.jpg" alt="nope">'
        '<figure class="f"><img src="fig1.jpg" alt="inner">'
        '<figcaption>Cap <b>one</b> &amp; only</figcaption></figure>'
        'text<figure><figcaption>pre-cap</figcaption>'
        '<img src="fig2.jpg"/></figure>'
        '<img src="after.jpg" alt="outside">'
    )
    df = spark.createDataFrame(
        [(1, "https://s.com/a/p.html", html),
         (2, "https://s.com/b.html",
          '<base href="https://b.example/x/">'
          '<img src="based.jpg" alt="based">'),
         (3, "https://s.com/c.html", None)],
        "doc_id int, url string, html string",
    )
    rows = {(r.doc_id, r.img_pos): r
            for r in webx.extract_images(df).collect()}
    assert len(rows) == 7
    assert rows[(1, 0)].img_url == "https://cdn.com/abs.jpg"
    assert rows[(1, 0)].alt == "A & B"
    assert rows[(1, 1)].alt is None            # absent attribute
    assert rows[(1, 2)].alt == ""              # present but empty
    assert rows[(1, 3)].figcaption == "Cap one & only"
    assert rows[(1, 4)].figcaption == "pre-cap"  # caption before img
    assert rows[(1, 5)].figcaption is None     # outside any figure
    assert rows[(1, 1)].img_url == "https://s.com/a/rel.png"
    assert rows[(2, 0)].img_url == "https://b.example/x/based.jpg"
    plan = (webx.extract_images(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Python" not in plan
    # figcaption arm off: no column, no figure walk
    off = webx.extract_images(df, with_figcaption=False)
    assert "figcaption" not in off.columns
    p2 = off._jdf.queryExecution().executedPlan().toString()
    assert "figcaption" not in p2


def test_image_text_pairs(spark):
    """r14 pairing: figcaption outranks alt, empty alt never captions,
    require_caption filters, media collision guard raises, and the
    join pairs by resolved URL."""
    import pytest as _pytest

    from dataproc_spark.extensions import web as webx

    imgs = spark.createDataFrame(
        [("https://m/1.jpg", "alt one", None),
         ("https://m/2.jpg", "ignored", "cap two"),
         ("https://m/3.jpg", "", None),
         ("https://m/4.jpg", None, None)],
        "img_url string, alt string, figcaption string",
    )
    media = spark.createDataFrame(
        [("https://m/1.jpg", 10), ("https://m/2.jpg", 20),
         ("https://m/3.jpg", 30), ("https://m/4.jpg", 40),
         ("https://m/unreferenced.jpg", 50)],
        "url string, payload_len long",
    )
    got = {r.img_url: (r.caption, r.payload_len)
           for r in webx.image_text_pairs(imgs, media).collect()}
    assert got == {"https://m/1.jpg": ("alt one", 10),
                   "https://m/2.jpg": ("cap two", 20)}
    all_rows = webx.image_text_pairs(
        imgs, media, require_caption=False).count()
    assert all_rows == 4
    clash = media.withColumnRenamed("payload_len", "alt")
    with _pytest.raises(ValueError, match="collide"):
        webx.image_text_pairs(imgs, clash)
    no_cap_cols = imgs.select("img_url")
    with _pytest.raises(ValueError, match="caption"):
        webx.image_text_pairs(no_cap_cols, media)


def test_classify_hashed_linear_scorer(spark):
    """r14 hashed-ngram scorer: term frequency kept, per-arity salts,
    NULL/empty docs score 0 on every label, n_feats-scaled bias, and
    deterministic argmax tie-break (label ASC)."""
    import pytest as _pytest

    from dataproc_spark.extensions import classify

    N = 64
    docs = spark.createDataFrame(
        [(1, "ham ham spam"), (2, ""), (3, None), (4, "one")],
        "doc_id long, text string",
    )
    b = {r.g: r.b for r in spark.createDataFrame(
        [("ham",), ("spam",), ("ham ham",), ("ham spam",)], "g string"
    ).select("g", classify.hashed_ngram_buckets("g", N).alias("bs"))
        .select("g", F.element_at("bs", -1).alias("b")).collect()}
    # element_at(-1): for 'ham' the only (unigram) bucket; for the
    # two-word grams the bigram bucket
    weights = spark.createDataFrame(
        [("a", b["ham"], 10), ("a", b["ham spam"], 100),
         ("b", b["spam"], 10)],
        "label string, bucket long, w long",
    )
    scores = {(r.doc_id, r.label): (r.n_feats, r.score)
              for r in classify.score_documents(
                  docs, weights, n_buckets=N, bias={"b": 1}).collect()}
    # doc 1 feats: ham,ham,spam + bigrams (ham ham),(ham spam) -> 5
    assert scores[(1, "a")] == (5, 2 * 10 + 100)
    assert scores[(1, "b")] == (5, 10 + 5 * 1)
    for d in (2, 3):
        assert scores[(d, "a")] == (0, 0) and scores[(d, "b")] == (0, 0)
    assert scores[(4, "a")] == (1, 0) and scores[(4, "b")] == (1, 1)
    pred = {r.doc_id: r.label for r in classify.predict_label(
        classify.score_documents(docs, weights, n_buckets=N)
    ).collect()}
    assert pred[1] == "a"
    assert pred[2] == "a"  # 0-0 tie -> label ASC
    with _pytest.raises(ValueError, match="n_buckets"):
        classify.hashed_ngram_buckets("text", 0)
    # unigrams-only arm
    one = spark.createDataFrame([("x y",)], "text string")
    n_uni = one.select(F.size(classify.hashed_ngram_buckets(
        "text", N, bigrams=False)).alias("n")).collect()[0].n
    assert n_uni == 2
    # the xxhash64 fast path: same feature COUNTS, different buckets,
    # bounded to [0, N); explicit labels skip the weights distinct
    xs = one.select(classify.hashed_ngram_buckets(
        "text", N, hash_fn="xxhash64").alias("b")).collect()[0].b
    assert len(xs) == 3 and all(0 <= v < N for v in xs)
    with _pytest.raises(ValueError, match="hash_fn"):
        classify.hashed_ngram_buckets("text", N, hash_fn="sha1")
    xx = {(r.doc_id, r.label): r.n_feats
          for r in classify.score_documents(
              docs, weights, n_buckets=N, hash_fn="xxhash64",
              labels=["a", "b"]).collect()}
    assert xx[(1, "a")] == 5 and len(xx) == 8


def test_classify_hash_fn_parity(spark):
    """r15 (r14 advice item 6): the xxhash64 production path and the
    oracle-portable md5 default must agree END-TO-END under a model
    trained and exported for EACH hash — identical (doc, label) keys,
    identical n_feats, identical scores, identical argmax. Scores (not
    just argmax) are comparable because the NB dot depends only on
    per-gram counts while the hashed vocabulary is collision-free —
    pinned here with n_buckets=2^30 over a few-hundred-gram fixture —
    so the fast path cannot silently drift from the one DuckDB
    replays."""
    from dataproc_spark.extensions import classify

    rows = []
    for i in range(120):
        lab = ("spam", "ham", "eggs")[i % 3]
        words = [f"w{(i * 7 + j) % 23}" for j in range(5)] + [lab] * (1 + i % 3)
        rows.append((i, lab, " ".join(words)))
    train = spark.createDataFrame(
        rows, "doc_id long, label string, text string")
    held = spark.createDataFrame(
        [(i, f"{('spam', 'ham', 'eggs')[i % 3]} "
             + " ".join(f"w{(i * 5 + j) % 23}" for j in range(4)))
         for i in range(40)],
        "doc_id long, text string")

    N = 1 << 30
    out = {}
    for hf in ("md5", "xxhash64"):
        w_plan, b, p = classify.train_nb_weights(
            train, n_buckets=N, hash_fn=hf)
        # export-shaped materialization, as a pipeline would persist it
        weights = spark.createDataFrame(
            w_plan.collect(), "label string, bucket long, w long")
        scores = classify.score_documents(
            held, weights, n_buckets=N, bias=b, intercept=p,
            labels=sorted(b), hash_fn=hf)
        out[hf] = (
            {(r.doc_id, r.label): (r.n_feats, r.score)
             for r in scores.collect()},
            {r.doc_id: r.label
             for r in classify.predict_label(scores).collect()},
        )
    md5_scores, md5_pred = out["md5"]
    xx_scores, xx_pred = out["xxhash64"]
    assert set(md5_scores) == set(xx_scores)  # row count + key parity
    assert md5_scores == xx_scores            # n_feats AND exact dots
    assert md5_pred == xx_pred                # argmax stability
    # not vacuous: the model actually separates the classes
    assert {md5_pred[i] for i in range(40)} == {"spam", "ham", "eggs"}
    assert all(md5_pred[i] == ("spam", "ham", "eggs")[i % 3]
               for i in range(40))


def test_classify_fasttext_seam():
    """The real-model seam raises ImportError eagerly when fasttext is
    absent (this container), pointing at the engine-half substitute."""
    import pytest as _pytest

    from dataproc_spark.extensions import classify

    if classify._fasttext is not None:  # pragma: no cover
        _pytest.skip("fasttext installed - seam exercised for real")
    with _pytest.raises(ImportError, match="score_documents"):
        classify.fasttext_predict(None, "/nonexistent.bin")


def test_split_http_envelope_request_line():
    """r14 request envelopes: the request line lands under the
    :method/:path/:version pseudo-keys, repeated headers still join,
    and non-envelope lookalikes stay opaque."""
    from dataproc_spark.extensions.warc import split_http_envelope

    req = (b"GET /p?a=1 HTTP/1.1\r\nHost: h\r\nAccept: a/b\r\n"
           b"Accept: c/d\r\n\r\n")
    s, h, b = split_http_envelope(req, "application/http; msgtype=request")
    assert s is None and b == b""
    assert (h[":method"], h[":path"], h[":version"]) == (
        "GET", "/p?a=1", "HTTP/1.1")
    assert h["accept"] == "a/b, c/d"
    s2, h2, b2 = split_http_envelope(
        b"POST /f HTTP/1.1\r\nHost: x\r\n\r\nBODY",
        "application/http")
    assert (s2, h2[":method"], b2) == (None, "POST", b"BODY")
    # lookalikes: 2-part first line, non-token method, no HTTP/ suffix
    for payload in (b"GET /x\r\n\r\nrest",
                    b"HELLO world wide\r\n\r\nrest",
                    b"A(B) /x HTTP/1.1\r\n\r\nrest"):
        assert split_http_envelope(payload, "application/http") == (
            None, None, payload)
    # responses unchanged
    ok = b"HTTP/1.1 404 NF\r\nX: y\r\n\r\nB"
    assert split_http_envelope(ok, "application/http") == (
        404, {"x": "y"}, b"B")


def test_pair_requests_roundtrip(spark, tmp_path):
    """r14 WARC-Concurrent-To pairing: write both record types, read
    back, pair — unpaired responses survive the left join with NULL
    request columns, inner join drops them."""
    import hashlib

    from dataproc_spark.extensions import warc as warcx

    rows = []
    for i in range(4):
        url = f"https://s.com/p{i}"
        resp = (f"HTTP/1.1 200 OK\r\n\r\n<html>{i}</html>").encode()
        rid = hashlib.md5(("response:" + url).encode()).hexdigest()
        rows.append((url, bytearray(resp), "response", None))
        if i != 0:  # p0 has no captured request
            reqp = (f"GET /p{i} HTTP/1.1\r\nHost: s\r\n\r\n").encode()
            rows.append((url, bytearray(reqp), "request",
                         f"<urn:uuid:{rid}>"))
    df = spark.createDataFrame(
        rows, "target_uri string, payload binary, wtype string, cto string"
    )
    d = str(tmp_path / "shards")
    warcx.write_warc_shards(df.repartition(2), d, type_col="wtype",
                            extra_headers={"WARC-Concurrent-To": "cto"})
    back = warcx.read_warc(spark, d, warc_types=None)
    inner = {r.target_uri: r for r in warcx.pair_requests(back).collect()}
    assert sorted(inner) == [f"https://s.com/p{i}" for i in (1, 2, 3)]
    assert inner["https://s.com/p1"].req_method == "GET"
    assert ":method" not in (inner["https://s.com/p1"].req_headers or {})
    outer = {r.target_uri: r.req_method for r in
             warcx.pair_requests(back, keep_unpaired=True).collect()}
    assert len(outer) == 4 and outer["https://s.com/p0"] is None


def test_revisit_schedule_arms(spark):
    """r14 recrawl estimation: never-changed backoff, change-rate
    division, single-capture default, zero-span default, NULL-digest
    transition semantics, and power-of-two clamping."""
    import pytest as _pytest

    from dataproc_spark.extensions import cdx as cdxx

    rows = [
        ("a", "20240101000000", "d1"), ("a", "20240102000000", "d1"),
        ("a", "20240103000000", "d1"),
        ("b", "20240101000000", "x1"), ("b", "20240101010000", "x2"),
        ("b", "20240101020000", "x3"),
        ("c", "20240101000000", "z"),
        ("d", "20240101000000", "p"), ("d", "20240101000000", "q"),
        ("e", "20240101000000", None), ("e", "20240102000000", None),
        ("e", "20240103000000", "v"),
    ]
    idx = spark.createDataFrame(rows,
                                "urlkey string, ts string, digest string")
    got = {r.urlkey: r for r in cdxx.revisit_schedule(idx).collect()}
    assert (got["a"].n_changes, got["a"].span_s,
            got["a"].revisit_s) == (0, 172800, 524288)  # 2*span -> pow2
    assert (got["b"].n_changes, got["b"].revisit_s) == (2, 4096)  # clamp
    assert got["c"].revisit_s == 524288                 # single default
    assert got["d"].revisit_s == 524288                 # zero span
    assert (got["e"].n_changes, got["e"].revisit_s) == (1, 262144)
    with _pytest.raises(ValueError, match="min_interval_s"):
        cdxx.revisit_schedule(idx, min_interval_s=0)
    plan = (cdxx.revisit_schedule(idx)
            ._jdf.queryExecution().executedPlan().toString())
    assert len([ln for ln in plan.splitlines()
                if "Exchange hashpartitioning" in ln]) == 1


def test_dhash_pure_function():
    """r14 perceptual hash: integer luma/box-mean pipeline, strict
    comparison bits, brightness-shift invariance, resize over a larger
    frame, signed-64 packing, and the quarantine raises."""
    import numpy as np
    import pytest as _pytest

    from dataproc_spark.extensions.imagehash import dhash_of

    # 9x8 gray identity grid: row r has cells [r*11 + c*17 mod 200]
    r = np.arange(8).reshape(-1, 1)
    c = np.arange(9).reshape(1, -1)
    v = ((r * 11 + c * 17) % 200).astype("uint8")[:, :, None]
    h1 = dhash_of(9, 8, 1, v)
    # expected bits from the same arithmetic
    exp = 0
    for rr in range(8):
        for cc in range(8):
            a = (rr * 11 + cc * 17) % 200
            b = (rr * 11 + (cc + 1) * 17) % 200
            if a > b:
                exp |= 1 << (rr * 8 + cc)
    if exp >= 1 << 63:
        exp -= 1 << 64
    assert h1 == exp
    # brightness shift (no wrap) leaves every comparison unchanged
    h2 = dhash_of(9, 8, 1, np.clip(v.astype(int) + 30, 0, 255)
                  .astype("uint8"))
    assert h2 == h1
    # RGB with R=G=B == gray (luma identity)
    rgb = np.repeat(v, 3, axis=2)
    assert dhash_of(9, 8, 3, rgb) == h1
    # 2x upscale (nearest, exact boxes) hashes identically
    big = np.kron(v[:, :, 0], np.ones((2, 2), dtype=np.uint8))[:, :, None]
    assert dhash_of(18, 16, 1, big) == h1
    with _pytest.raises(ValueError, match="smaller"):
        dhash_of(4, 4, 1, np.zeros((4, 4, 1), "uint8"))
    with _pytest.raises(ValueError, match="channel"):
        dhash_of(9, 8, 2, np.zeros((8, 9, 2), "uint8"))


def test_image_dhash_quarantine_and_near_dup(spark):
    """r14 image fingerprint stage: per-row quarantine (corrupt bytes
    and NULL payloads route, never abort), JPEG payloads hash through
    the in-repo codec, and the banded near-dup join finds exact dups
    at hamming 0."""
    import numpy as np

    from dataproc_spark.extensions import imagehash
    from dataproc_spark.extensions.jpeg import encode_jpeg
    from dataproc_spark.extensions.multimodal import encode_ppm

    v = ((np.arange(8).reshape(-1, 1) * 29
          + np.arange(9).reshape(1, -1) * 13) % 211).astype("uint8")
    ppm = encode_ppm(np.repeat(v[:, :, None], 3, axis=2))
    # a JPEG of constant 8x8 blocks (16x16) decodes bit-exactly
    blocks = np.kron(np.array([[10, 200], [200, 10]], dtype=np.uint8),
                     np.ones((8, 8), dtype=np.uint8))[:, :, None]
    jpg = encode_jpeg(blocks)
    rows = [(1, bytearray(ppm)), (2, bytearray(ppm)),
            (3, bytearray(jpg)), (4, bytearray(b"not an image")),
            (5, None)]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    fps = {r.media_id: r for r in
           imagehash.image_dhash(media).collect()}
    assert fps[1].dhash == fps[2].dhash and fps[1].error is None
    assert fps[3].dhash is not None and fps[3].width == 16
    assert fps[4].dhash is None and fps[4].error
    assert fps[5].error == "null_payload"
    pairs = imagehash.image_near_dup(media).collect()
    assert {(p.id_a, p.id_b, p.hamming) for p in pairs} >= {(1, 2, 0)}


def test_banded_hamming_pairs_validation(spark):
    """The generic banding core keeps the pigeonhole guards."""
    import pytest as _pytest

    from dataproc_spark.extensions.dedup import banded_hamming_pairs

    fps = spark.createDataFrame([(1, 5)], "id long, fp long")
    with _pytest.raises(ValueError, match="pigeonhole"):
        banded_hamming_pairs(fps, "id", "fp", bits=64, bands=4,
                             max_hamming=5)
    with _pytest.raises(ValueError, match="divide"):
        banded_hamming_pairs(fps, "id", "fp", bits=64, bands=7,
                             max_hamming=3)


def test_wat_enriched_anchors_images(spark, tmp_path):
    """r14 WAT enrichment: anchors index-aligned with links (nulls
    preserved through the JSON roundtrip), images with the
    figcaption-over-alt caption rule, and the no-html guard."""
    import pytest as _pytest

    from dataproc_spark.extensions import warc as warcx

    html = ('<a href="/a">first</a>'
            '<a href="/b"><img data-src="x"></a>'   # image-only -> NULL
            '<a href="/c">third</a>'
            '<img src="i.jpg" alt="pic">'
            '<figure><img src="f.png" alt="shadowed">'
            '<figcaption>cap</figcaption></figure>')
    df = spark.createDataFrame(
        [("https://s.com/p", html, 200, "text/html")],
        "target_uri string, html string, http_status int, "
        "http_content_type string",
    )
    d = str(tmp_path / "wat")
    warcx.write_wat_shards(df, d, html_col="html",
                           with_anchors=True, with_images=True)
    row = warcx.read_wat(spark, d).collect()[0]
    assert row.wat_links == ["https://s.com/a", "https://s.com/b",
                             "https://s.com/c"]
    assert row.wat_anchors == ["first", None, "third"]
    assert [(i.url, i.caption) for i in row.wat_images] == [
        ("https://s.com/i.jpg", "pic"), ("https://s.com/f.png", "cap")]
    # plain WAT reads back with the new fields NULL (schema compat)
    d2 = str(tmp_path / "wat2")
    warcx.write_wat_shards(df, d2, html_col="html")
    row2 = warcx.read_wat(spark, d2).collect()[0]
    assert row2.wat_anchors is None and row2.wat_images is None
    with _pytest.raises(ValueError, match="html_col"):
        warcx.write_wat_shards(df, d, with_images=True)


def test_recrawl_due(spark):
    """r14 recrawl queue: age/permille arithmetic against the asof
    cut, the >= 1000 due rule, future captures surfacing as negative
    age (Spark div truncates toward zero — pinned), and the asof
    format guard."""
    import pytest as _pytest

    from dataproc_spark.extensions import cdx as cdxx

    rows = [
        # changed hourly; last capture 2h before asof; interval 4096
        ("a", "20240101000000", "x1"), ("a", "20240101010000", "x2"),
        ("a", "20240101020000", "x3"),
        # single capture exactly at asof - default/2 -> not due
        ("b", "20240103235959", "z"),
        # FUTURE capture (index ahead of asof)
        ("c", "20240105000000", "f"),
    ]
    idx = spark.createDataFrame(rows,
                                "urlkey string, ts string, digest string")
    out = {r.urlkey: r for r in
           cdxx.recrawl_due(idx, asof="20240101040000").collect()}
    a = out["a"]
    assert (a.revisit_s, a.last_ts) == (4096, "20240101020000")
    assert a.age_s == 7200
    assert a.due_permille == 7200 * 1000 // 4096 and a.due
    b = out["b"]
    assert b.age_s < 0 or not b.due  # before asof? ts is 3 days LATER
    c = out["c"]
    assert c.age_s == -331200 and not c.due
    # Spark div truncates TOWARD ZERO on the negative arm (floor would
    # give -632) — pinned so a floor-div refactor can't slip through
    assert c.due_permille == -631
    with _pytest.raises(ValueError, match="14-digit"):
        cdxx.recrawl_due(idx, asof="2024")


def test_audio_envelope_hash(spark, tmp_path):
    """r14 audio fingerprint: integer mono/abs/window pipeline, gain
    invariance, stereo mixdown, quarantine routing, and exact-dup
    pairs through the shared banding core."""
    import numpy as np
    import pytest as _pytest

    from dataproc_spark.extensions import imagehash
    from dataproc_spark.extensions.multimodal import encode_wav

    s1 = ((np.arange(130) * 37) % 1000 - 500).astype("int16")
    h1 = imagehash.envelope_hash_of(8000, 1, s1)
    # doubling the gain flips no comparison
    assert imagehash.envelope_hash_of(8000, 1,
                                      (s1 * 2).astype("int16")) == h1
    # stereo with L == R mixes down to the same envelope
    stereo = np.repeat(s1, 2).astype("int16")
    assert imagehash.envelope_hash_of(8000, 2, stereo) == h1
    with _pytest.raises(ValueError, match="shorter"):
        imagehash.envelope_hash_of(8000, 1, np.zeros(10, "int16"))
    media = spark.createDataFrame(
        [(1, bytearray(encode_wav(s1, 8000))),
         (2, bytearray(encode_wav(s1, 8000))),
         (3, bytearray(b"not a wav")),
         (4, None)],
        "media_id long, payload binary",
    )
    fps = {r.media_id: r for r in
           imagehash.audio_envelope_hash(media).collect()}
    assert fps[1].ahash == h1 and fps[1].n_frames == 130
    assert fps[3].ahash is None and fps[3].error
    assert fps[4].error == "null_payload"
    pairs = {(p.id_a, p.id_b, p.hamming)
             for p in imagehash.audio_near_dup(media).collect()}
    assert (1, 2, 0) in pairs


def test_warc_offsets_sidecar(spark, tmp_path):
    """r14 byte-offset sidecar: every (offset, length) slices the
    shard back to exactly ONE re-parsable record — gzip members and
    raw records alike — and the sidecar never ingests as a shard."""
    from dataproc_spark.extensions import warc as warcx

    rows = [(f"https://s.com/p{i}",
             bytearray(f"<html>{i}</html>".encode())) for i in range(6)]
    df = spark.createDataFrame(rows, "target_uri string, payload binary")
    for compress in (False, True):
        d = str(tmp_path / f"sh{int(compress)}")
        warcx.write_warc_shards(df.repartition(2), d, compress=compress,
                                content_type="text/html",
                                offsets_sidecar=True)
        idx = warcx.read_warc_offsets(spark, d).collect()
        assert len(idx) == 6
        import os

        for r in idx:
            buf = open(os.path.join(d, r.shard), "rb").read()
            unit = buf[r.offset:r.offset + r.length]
            recs = warcx.decode_warc_bytes(unit)
            assert len(recs) == 1
            assert recs[0]["target_uri"] == r.target_uri
        assert warcx.read_warc(spark, d, warc_types=None).count() == 6


def test_pdf_text_pure_core():
    """r13 PDF text extraction, pure core (no Spark): Tj / ' / \" / TJ
    shows, paren escapes + octal + nesting + line continuation, hex
    strings (odd-padded, whitespace-tolerant), FlateDecode via stdlib
    zlib, foreign-filter streams skipped, quarantine codes, and the
    builder's escape being the parser's exact inverse."""
    import pytest as _pytest

    from dataproc_spark.extensions.pdf import (
        build_simple_pdf, escape_pdf_string, pdf_text_of,
    )

    def pure(cs, flate=False):
        return pdf_text_of(build_simple_pdf(cs, flate=flate),
                           engine="pure")

    assert pure(b"BT (Hi) Tj ET") == ("Hi", None)
    assert pure(b"BT (Hi) Tj ET", flate=True) == ("Hi", None)
    # escapes: named, octal (1-3 digits), nested balanced parens,
    # backslash-newline continuation
    cs_esc = (b"BT (a\\(b\\)c \\101 \\12 ((x)) d\\\ne) Tj ET")
    assert pure(cs_esc) == ("a(b)c A \n ((x)) de", None)
    # ' and " show; TJ concatenates array strings, numbers ignored
    assert pure(b"BT (one) ' [(two) -250 (three)] TJ (four) \" ET") == (
        "one twothree four", None)
    # hex strings: whitespace inside, odd count pads a zero
    assert pure(b"BT <4869 2> Tj ET") == ("Hi ", None)
    # a DCT (image) stream must not abort or contribute
    img = (b"%PDF-1.4\n1 0 obj << /Filter /DCTDecode /Length 4 >>\n"
           b"stream\n\xff\xd8\xff\xe0\nendstream endobj\n"
           b"2 0 obj << /Length 16 >>\nstream\nBT (ok) Tj ET\nendstream"
           b" endobj\n%%EOF")
    assert pdf_text_of(img, engine="pure") == ("ok", None)
    # quarantine codes
    assert pdf_text_of(b"GIF89a...") == (None, "not_pdf")
    assert pdf_text_of(None) == (None, None)
    bad = (b"%PDF-1.4\n1 0 obj << /Length 3 /Filter /FlateDecode >>\n"
           b"stream\nAB\nendstream endobj")
    assert pdf_text_of(bad, engine="pure") == (None, "flate_error")
    # builder escape inverts parser unescape for hostile bytes
    hostile = b"a\\b(c)d \\( \\n"
    cs = b"BT (" + escape_pdf_string(hostile) + b") Tj ET"
    assert pure(cs) == (hostile.decode("latin-1"), None)
    with _pytest.raises(ValueError, match="engine"):
        pdf_text_of(b"%PDF-", engine="magic")


def test_pdf_and_jpeg_parsers_never_crash():
    """Fuzz the two r13 byte parsers with 300 seeded random payloads
    each (raw noise, truncated magic, magic + noise, hostile
    stream/segment framing): pdf_text_of must always return a
    (text, error) tuple, strip_jpeg_metadata must return or raise
    ValueError ONLY — any other exception is a quarantine-contract
    break on real crawl data."""
    import random

    from dataproc_spark.extensions.jpeg import strip_jpeg_metadata
    from dataproc_spark.extensions.pdf import pdf_text_of

    rng = random.Random(0xF422)

    def noise(n):
        return bytes(rng.randrange(256) for _ in range(n))

    pdf_frames = [b"stream\n", b"endstream", b"<<", b">>", b"(", b")",
                  b"\\", b"<", b">", b"[", b"]", b"Tj", b"TJ", b"'",
                  b"/FlateDecode", b"/Filter", b"%PDF-"]
    jpeg_frames = [b"\xFF\xD8", b"\xFF\xE1", b"\xFF\xDA", b"\xFF\xD9",
                   b"\xFF\xFE", b"\xFF\x00", b"\xFF\xFF", b"\x00\x10"]
    for trial in range(300):
        body = b"".join(
            rng.choice(pdf_frames) if rng.random() < 0.5
            else noise(rng.randint(0, 12))
            for _ in range(rng.randint(0, 20))
        )
        payload = (b"%PDF-1.4\n" if rng.random() < 0.7 else b"") + body
        t, e = pdf_text_of(payload, engine="pure")
        assert (t is None) != (e is None) or (t is not None and e is None)

        jbody = b"".join(
            rng.choice(jpeg_frames) if rng.random() < 0.5
            else noise(rng.randint(0, 12))
            for _ in range(rng.randint(0, 20))
        )
        jpayload = (b"\xFF\xD8" if rng.random() < 0.7 else b"") + jbody
        try:
            out, n, b = strip_jpeg_metadata(jpayload)
            assert isinstance(out, bytes) and n >= 0 and b >= 0
        except ValueError:
            pass  # the documented quarantine contract


def test_extract_pdf_text_frame(spark):
    """r13 PDF extraction Spark plumbing: per-row quarantine, NULL
    passthrough, column clash guard, and a map-only (no Exchange)
    single-Arrow-stage plan."""
    import pytest as _pytest

    from dataproc_spark.extensions import pdf as pdfx

    rows = [
        (1, pdfx.build_simple_pdf(b"BT (alpha) Tj ET")),
        (2, pdfx.build_simple_pdf(b"BT (beta) Tj ET", flate=True)),
        (3, b"PK\x03\x04 not a pdf"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: (r.pdf_text, r.pdf_error) for r in
           pdfx.extract_pdf_text(df, engine="pure").collect()}
    assert got == {1: ("alpha", None), 2: ("beta", None),
                   3: (None, "not_pdf"), 4: (None, None)}
    plan = (pdfx.extract_pdf_text(df, engine="pure")
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    assert plan.count("ArrowEvalPython") == 1
    with _pytest.raises(ValueError, match="clobber"):
        pdfx.extract_pdf_text(df.withColumn("pdf_text", F.lit("")))


@__import__("pytest").mark.skipif(
    __import__("importlib").util.find_spec("pypdf") is None,
    reason="pypdf not installed (the import-try seam's absent arm)",
)
def test_pdf_text_pypdf_seam():
    """When pypdf IS installed, the seam must accept the builder's
    structurally-valid fixture and recover the shown text."""
    from dataproc_spark.extensions.pdf import build_simple_pdf, pdf_text_of

    t, e = pdf_text_of(
        build_simple_pdf(b"BT /F1 12 Tf 72 720 Td (seam) Tj ET"),
        engine="pypdf",
    )
    assert e is None and "seam" in t


def test_cdx_closest(spark):
    """r13 CDX lookup: closest-|delta| matching with earlier-ts tie
    break, before-mode (latest at-or-before, NULL when nothing
    qualifies), SURT-canonical probe matching (case/www/param-order
    differences still hit), missing URLs → NULL capture columns,
    probe columns passed through, and a broadcast-join plan."""
    from dataproc_spark.extensions import cdx as cdxx

    idx = spark.createDataFrame(
        [("com,ex)/p?a=1&b=2", "20250101000000", "https://ex.com/p?b=2&a=1",
          "text/html", 200, "d1", 10),
         ("com,ex)/p?a=1&b=2", "20250601000000", "https://ex.com/p?b=2&a=1",
          "text/html", 200, "d2", 20),
         ("com,ex)/p?a=1&b=2", "20260101000000", "https://ex.com/p?b=2&a=1",
          "text/html", 404, "d3", 30),
         ("org,other)/q", "20250301000000", "https://other.org/q",
          "text/plain", 200, "d4", 40)],
        "urlkey string, ts string, url string, mime string, "
        "status int, digest string, length long",
    )
    probes = spark.createDataFrame(
        [(1, "https://WWW.ex.com/p?a=1&b=2", "20250601000000"),  # exact
         (2, "https://ex.com/p?b=2&a=1", "20250351000000"),  # tie → earlier
         (3, "https://ex.com/p?a=1&b=2", "20240101000000"),  # before all
         (4, "https://ex.com/p?a=1&b=2", "20270101000000"),  # after all
         (5, "https://gone.ex/x", "20250101000000")],         # missing
        "pid long, url string, ts string",
    )
    got = {r.pid: r for r in cdxx.cdx_closest(idx, probes).collect()}
    assert got[1].cdx_ts == "20250601000000" and got[1].digest == "d2"
    assert got[2].cdx_ts == "20250101000000"  # equidistant → earlier
    assert got[3].cdx_ts == "20250101000000"
    assert got[4].cdx_ts == "20260101000000" and got[4].status == 404
    assert got[5].cdx_ts is None and got[5].digest is None
    assert got[1].urlkey == "com,ex)/p?a=1&b=2"  # probe col passthrough
    before = {r.pid: r for r in cdxx.cdx_closest(
        idx, probes, mode="before").collect()}
    assert before[1].cdx_ts == "20250601000000"
    assert before[2].cdx_ts == "20250101000000"
    assert before[3].cdx_ts is None          # nothing at/earlier
    assert before[4].cdx_ts == "20260101000000"
    assert before[5].cdx_ts is None
    plan = (cdxx.cdx_closest(idx, probes)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    # the huge-batch fallback (no broadcast hint) agrees exactly
    nb = {r.pid: r.cdx_ts for r in cdxx.cdx_closest(
        idx, probes, broadcast_probes=False).collect()}
    assert nb == {p: r.cdx_ts for p, r in got.items()}
    # prefix timestamps pad to the calendar floor (pywb rule):
    # '2025' → 20250101000000 (exact hit on the first capture),
    # '202506' → 20250601000000, '2026' floors before the 2026 capture
    pre = spark.createDataFrame(
        [(1, "https://ex.com/p?a=1&b=2", "2025"),
         (2, "https://ex.com/p?a=1&b=2", "202506"),
         (3, "https://ex.com/p?a=1&b=2", "2026")],
        "pid long, url string, ts string",
    )
    pg = {r.pid: r.cdx_ts for r in cdxx.cdx_closest(idx, pre).collect()}
    assert pg == {1: "20250101000000", 2: "20250601000000",
                  3: "20260101000000"}
    pb = {r.pid: r.cdx_ts for r in cdxx.cdx_closest(
        idx, pre, mode="before").collect()}
    # '2026' floors to 20260101000000 — AT-or-before includes the
    # capture sitting exactly on the floor
    assert pb[3] == "20260101000000"
    import pytest as _pytest
    with _pytest.raises(ValueError, match="mode"):
        cdxx.cdx_closest(idx, probes, mode="nearest")
    with _pytest.raises(ValueError, match="clobber"):
        cdxx.cdx_closest(idx, probes.withColumn("digest", F.lit("x")))


def test_resolve_redirects(spark):
    """r13 redirect-chain resolution: direct 200, absolute + relative
    Location, multi-hop chain, self-loop, 2-cycle, external target,
    truncation at max_hops, duplicate-capture dedup to newest
    warc_date, NULL-url drop, and the header lookup's case
    tolerance."""
    from dataproc_spark.extensions import web as webx

    def cap(url, st, loc=None, date="2026-01-01T00:00:00Z"):
        hdrs = {"Location": loc} if loc is not None else {}
        return (url, st, hdrs, date)

    rows = [
        cap("https://a.ex/ok", 200),
        cap("https://a.ex/m1", 301, "https://a.ex/ok"),
        # relative Location resolves against the capture URL
        cap("https://a.ex/dir/m2", 302, "../ok"),
        # 3-edge chain: c1 -> c2 -> c3 -> ok
        cap("https://a.ex/c1", 301, "/c2"),
        cap("https://a.ex/c2", 307, "/c3"),
        cap("https://a.ex/c3", 308, "/ok"),
        # self-loop and a 2-cycle
        cap("https://a.ex/self", 301, "https://a.ex/self"),
        cap("https://a.ex/l1", 301, "/l2"),
        cap("https://a.ex/l2", 302, "/l1"),
        # target never captured
        cap("https://a.ex/ext", 303, "https://other.ex/gone"),
        # duplicate captures: the NEWER one (200) must win
        cap("https://a.ex/dup", 301, "/ok", "2026-01-01T00:00:00Z"),
        cap("https://a.ex/dup", 200, None, "2026-06-01T00:00:00Z"),
        # NULL url drops; 3xx WITHOUT Location is terminal
        (None, 200, {}, "2026-01-01T00:00:00Z"),
        cap("https://a.ex/noloc", 301),
    ]
    df = spark.createDataFrame(
        rows, "target_uri string, http_status int, "
        "http_headers map<string,string>, warc_date string")
    got = {r.source_url: (r.final_url, r.n_hops, r.resolution)
           for r in webx.resolve_redirects(df, max_hops=5).collect()}
    ok = "https://a.ex/ok"
    assert got["https://a.ex/ok"] == (ok, 0, "ok")
    assert got["https://a.ex/m1"] == (ok, 1, "ok")
    assert got["https://a.ex/dir/m2"] == (ok, 1, "ok")
    assert got["https://a.ex/c1"] == (ok, 3, "ok")
    assert got["https://a.ex/c2"] == (ok, 2, "ok")
    assert got["https://a.ex/c3"] == (ok, 1, "ok")
    assert got["https://a.ex/self"] == (None, 1, "loop")
    assert got["https://a.ex/l1"] == (None, 1, "loop")
    assert got["https://a.ex/l2"] == (None, 1, "loop")
    assert got["https://a.ex/ext"] == (
        "https://other.ex/gone", 1, "external")
    assert got["https://a.ex/dup"] == ("https://a.ex/dup", 0, "ok")
    assert got["https://a.ex/noloc"] == (
        "https://a.ex/noloc", 0, "ok")
    assert None not in got and len(got) == 12
    # truncation: with max_hops=2 the 3-edge chain stops at c3
    got2 = {r.source_url: (r.final_url, r.n_hops, r.resolution)
            for r in webx.resolve_redirects(df, max_hops=2).collect()}
    assert got2["https://a.ex/c1"] == (
        "https://a.ex/c3", 2, "truncated")
    assert got2["https://a.ex/c2"] == (ok, 2, "ok")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="max_hops"):
        webx.resolve_redirects(df, max_hops=0)


def test_frontier_schedule(spark):
    """r13 frontier scheduling: per-host 0-based fetch sequence by the
    given order, integer-millisecond offsets from the host's
    crawl_delay, default for missing/NULL delays, clash guard, and a
    broadcast-join + one-window plan."""
    import pytest as _pytest

    from dataproc_spark.extensions import web as webx

    urls = spark.createDataFrame(
        [(3, "a.ex", "https://a.ex/3"), (1, "a.ex", "https://a.ex/1"),
         (2, "a.ex", "https://a.ex/2"), (9, "b.ex", "https://b.ex/9"),
         (4, "c.ex", "https://c.ex/4")],
        "doc_id long, host string, url string",
    )
    rules = spark.createDataFrame(
        [("a.ex", 2.5), ("b.ex", None)], "host string, crawl_delay double")
    got = {r.doc_id: (r.fetch_seq, r.delay_ms, r.fetch_offset_ms)
           for r in webx.frontier_schedule(
               urls, rules, order_by=["doc_id"]).collect()}
    assert got[1] == (0, 2500, 0)
    assert got[2] == (1, 2500, 2500)
    assert got[3] == (2, 2500, 5000)
    assert got[9] == (0, 1000, 0)   # NULL delay → default 1.0 s
    assert got[4] == (0, 1000, 0)   # host absent from rules → default
    # NULL-host rows never share a sequence: each schedules alone
    nh = spark.createDataFrame(
        [(11, None, "u11"), (12, None, "u12")],
        "doc_id long, host string, url string")
    ng = {r.doc_id: r.fetch_seq for r in webx.frontier_schedule(
        nh, rules, order_by=["doc_id"]).collect()}
    assert ng == {11: 0, 12: 0}
    plan = (webx.frontier_schedule(urls, rules, order_by=["doc_id"])
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange") - plan.count("BroadcastExchange") == 1
    with _pytest.raises(ValueError, match="clobber"):
        webx.frontier_schedule(
            urls.withColumn("fetch_seq", F.lit(0)), rules)


def test_r13_review_fixes(spark):
    """r13 self-review regressions, one assert per finding:
    (1) a NULL-status row with a Location header must not VANISH from
    resolve_redirects output (NULL predicate fails both filters);
    (2) a NULL probe ts in cdx_closest 'closest' mode yields NULL
    capture columns, not an arbitrary winner; (3) a /TjFont name
    token in a PDF content stream must not fire a phantom show."""
    from dataproc_spark.extensions import cdx as cdxx
    from dataproc_spark.extensions import web as webx
    from dataproc_spark.extensions.pdf import build_simple_pdf, pdf_text_of

    # (1)
    df = spark.createDataFrame(
        [("https://a.ex/weird", None, {"location": "/x"}, "2026")],
        "target_uri string, http_status int, "
        "http_headers map<string,string>, warc_date string")
    got = webx.resolve_redirects(df).collect()
    assert [(r.source_url, r.final_url, r.n_hops, r.resolution)
            for r in got] == [
        ("https://a.ex/weird", "https://a.ex/weird", 0, "ok")]

    # (2)
    idx = spark.createDataFrame(
        [("com,n)/p", "20250101000000", "https://n.com/p")],
        "urlkey string, ts string, url string")
    probes = spark.createDataFrame(
        [(1, "https://n.com/p", None)], "pid long, url string, ts string")
    row = cdxx.cdx_closest(idx, probes).collect()[0]
    assert row.cdx_ts is None and row.cdx_url is None

    # (3) — the decoy must not DOUBLE-show the previous string: before
    # the delimiter check, /TjFont re-fired 'decoy' off last_str
    cs = b"BT (decoy) Tj /TjFont 12 Tf (real) Tj ET"
    assert pdf_text_of(build_simple_pdf(cs), engine="pure") == (
        "decoy real", None)


def test_strip_jpeg_metadata(spark):
    """r13 privacy scrub: APP1/Exif + COM segments drop, APP0 and all
    structural segments survive, the scrubbed stream decodes to
    IDENTICAL pixels, byte accounting is exact, malformed payloads
    quarantine per row, and the frame op is map-only."""
    import numpy as np

    from dataproc_spark.extensions import jpeg as jp
    from dataproc_spark.extensions import multimodal as mm

    arr = (np.arange(64, dtype=np.uint8).reshape(8, 8) // 8 * 16)
    base = jp.encode_jpeg(arr, quant=1)
    exif = b"Exif\x00\x00" + b"\x01" * 20
    com = b"scrub me"
    dirty = jp.insert_jpeg_segment(
        jp.insert_jpeg_segment(base, 0xE1, exif), 0xFE, com)
    clean, n, b = jp.strip_jpeg_metadata(dirty)
    assert n == 2 and b == (len(exif) + 4) + (len(com) + 4)
    assert len(clean) == len(dirty) - b
    assert jp.decode_jpeg(clean)[3].tolist() == \
        jp.decode_jpeg(base)[3].tolist()
    # idempotent; APP0 kept by default, dropped on request
    again, n2, _ = jp.strip_jpeg_metadata(clean)
    assert n2 == 0 and again == clean
    no_app0, n3, _ = jp.strip_jpeg_metadata(dirty, keep_app0=False)
    assert n3 == 3 and b"JFIF" not in no_app0 and b"JFIF" in clean

    df = spark.createDataFrame(
        [(1, bytearray(dirty)), (2, bytearray(b"\xff\xd8\xff")),
         (3, None)],
        "i long, payload binary",
    )
    got = {r.i: r for r in mm.scrub_jpeg_metadata(df).collect()}
    assert got[1].n_meta_removed == 2 and got[1].scrub_error is None
    assert bytes(got[1].clean_payload) == clean
    assert got[2].clean_payload is None and got[2].scrub_error
    assert got[3].scrub_error is None and got[3].n_meta_removed is None
    plan = (mm.scrub_jpeg_metadata(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_expand_sitemaps(spark):
    """r13 sitemap-tree materializer: seed index → child urlset pages
    (depth 1), grandchild pages (depth 2), a never-fetched pointer →
    'missing', a cycle pointer back to the seed cut by the visited
    array, a pointer past max_depth → 'truncated', and a multi-root
    corpus walking each root independently."""
    from dataproc_spark.extensions import web as webx

    def idx(*locs):
        return ("<sitemapindex>"
                + "".join(f"<sitemap><loc>{u}</loc></sitemap>"
                          for u in locs)
                + "</sitemapindex>")

    def urlset(entries, *locs):
        return ("<urlset>"
                + "".join(f"<url><loc>{u}</loc></url>" for u in entries)
                + "".join(f"<sitemap><loc>{u}</loc></sitemap>"
                          for u in locs)
                + "</urlset>")

    S = "https://s.ex/seed.xml"
    C1 = "https://s.ex/c1.xml"
    C2 = "https://s.ex/c2-missing.xml"
    C3 = "https://s.ex/c3.xml"
    C5 = "https://s.ex/c5.xml"
    C6 = "https://s.ex/c6-deep.xml"
    R2 = "https://r2.ex/map.xml"
    fetched = spark.createDataFrame(
        [(S, idx(C1, C2)),
         # c1: two pages + a CYCLE back to the seed + pointers onward
         (C1, urlset(["https://s.ex/p1", "https://s.ex/p2"], S, C3, C5)),
         (C3, urlset(["https://s.ex/deep1"])),
         (C5, urlset([], C6)),
         (R2, urlset(["https://r2.ex/x"]))],
        "url string, sitemap_xml string",
    )
    rows = webx.expand_sitemaps(fetched, max_depth=2).collect()
    got = {(r.root_url, r.status, r.loc): (r.source_url, r.depth)
           for r in rows}
    # seed root: pages at depth 1, grandchild page at depth 2
    assert got[(S, "ok", "https://s.ex/p1")] == (C1, 1)
    assert got[(S, "ok", "https://s.ex/p2")] == (C1, 1)
    assert got[(S, "ok", "https://s.ex/deep1")] == (C3, 2)
    assert got[(S, "missing", C2)] == (None, 1)
    # the pointer past max_depth truncates; the cycle emits nothing
    assert got[(S, "truncated", C6)] == (C5, 3)
    assert (S, "ok", S) not in got
    # every fetched sitemap is also its own root: C1's subtree again,
    # one level shallower; R2 walks independently
    assert got[(C1, "ok", "https://s.ex/p1")] == (C1, 0)
    assert got[(C1, "ok", "https://s.ex/deep1")] == (C3, 1)
    assert got[(R2, "ok", "https://r2.ex/x")] == (R2, 0)
    # counts are exact (no duplicate discovery within a root)
    assert len(rows) == len(got)
    # roots restriction: only the named seed walks
    only_seed = webx.expand_sitemaps(
        fetched, max_depth=2,
        roots=spark.createDataFrame([(S,)], "u string"),
    ).collect()
    assert {r.root_url for r in only_seed} == {S}
    assert len(only_seed) == 5  # p1 p2 deep1 missing truncated
    import pytest as _pytest
    with _pytest.raises(ValueError, match="max_depth"):
        webx.expand_sitemaps(fetched, max_depth=-1)


def test_page_title_and_meta_robots(spark):
    """r13 page metadata: first <title> with entities decoded and
    whitespace collapsed (NULL when absent/empty), meta robots
    directives (attribute order free, case-insensitive name, token
    trim+lower, first element wins, NULL when undeclared), and an
    all-map-only plan."""
    from dataproc_spark.extensions import web as webx

    rows = [
        (1, "<html><head><title> A &amp; B\n  page </title></head>"
            '<meta name="robots" content=" NOINDEX, nofollow ,">'),
        (2, '<META CONTENT="none" NAME="ROBOTS"><title>t2</title>'
            "<title>second ignored</title>"),
        (3, "<p>no title, no meta</p>"),
        (4, "<title></title><meta name=viewport content=x>"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "i long, html string")
    out = df.select(
        "i",
        webx.page_title("html").alias("t"),
        webx.meta_robots("html").alias("r"),
    )
    got = {r.i: (r.t, r.r) for r in out.collect()}
    assert got[1] == ("A & B page", ["noindex", "nofollow"])
    assert got[2] == ("t2", ["none"])
    assert got[3] == (None, None)
    assert got[4] == (None, None)
    assert got[5] == (None, None)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan
    # link array form matches the exploded operator
    lk = spark.createDataFrame(
        [(1, "https://h.ex/a/", '<base href="/lib/"><a href="x">1</a>'
          '<a href="https://o.ex/y">2</a><a href="#s">no</a>')],
        "i long, url string, html string",
    )
    arr = lk.select(webx.extract_link_array("html").alias("u")).collect()
    assert arr[0].u == ["https://h.ex/lib/x", "https://o.ex/y"]


def test_wat_roundtrip(spark, tmp_path):
    """r13 WAT sidecar: metadata records write as application/json
    WARC metadata records and read back typed — title/links/meta
    surface when html is given, absent JSON fields surface NULL, and
    non-metadata records don't leak into read_wat."""
    from dataproc_spark.extensions import warc as warcx

    html1 = ('<html><head><title>T &amp; co</title>'
             '<meta name=robots content="noindex"></head>'
             '<a href="/a">1</a><a href="b.html">2</a></html>')
    recs = spark.createDataFrame(
        [("https://w.ex/p/1", 200, "text/html; charset=utf-8", html1),
         ("https://w.ex/p/2", 404, None, "<p>untitled</p>")],
        "target_uri string, http_status int, http_content_type string, "
        "html string",
    )
    out = str(tmp_path / "wat")
    warcx.write_wat_shards(recs, out, html_col="html")
    back = {r.wat_url: r for r in warcx.read_wat(spark, out).collect()}
    r1 = back["https://w.ex/p/1"]
    assert r1.wat_status == 200 and r1.wat_mime == "text/html"
    assert r1.wat_title == "T & co"
    assert r1.wat_links == ["https://w.ex/a", "https://w.ex/p/b.html"]
    assert r1.wat_n_links == 2 and r1.wat_meta_robots == ["noindex"]
    assert r1.warc_type == "metadata"
    r2 = back["https://w.ex/p/2"]
    assert r2.wat_status == 404 and r2.wat_mime is None
    assert r2.wat_title is None and r2.wat_n_links == 0
    assert r2.wat_links == [] and r2.wat_meta_robots is None
    # metadata-only filter: a WET write into the same dir family
    # never leaks (read_wat filters on warc_type)
    assert len(back) == 2


def test_extract_links_vs_stdlib_htmlparser(spark):
    """extract_links vs stdlib html.parser over 15 seeded random
    WELL-FORMED pages (randomized attribute order/quote styles, decoy
    attributes quoting href-lookalikes and '>', rel variants, base
    tags with and without href) — an independent HTML tokenizer, no
    code shared with the regex walk. Entities and duplicate attributes
    are excluded from generation (documented divergences: the walk
    does not decode charrefs; first-attr-wins vs dict-last-wins)."""
    import random
    from html.parser import HTMLParser
    from urllib.parse import urljoin

    from dataproc_spark.extensions import web as webx

    class Model(HTMLParser):
        def __init__(self):
            super().__init__(convert_charrefs=True)
            self.links = []
            self.base = None

        def handle_starttag(self, tag, attrs):
            d = dict(attrs)
            if tag == "a":
                h = d.get("href")
                if h and not h.startswith("#"):
                    self.links.append((h, d.get("rel") or None))
            if tag == "base" and self.base is None and d.get("href"):
                self.base = d["href"]

    rng = random.Random(0xD00D)
    page = "https://www.gen.ex/a/b/p.html?q=1"
    hrefs_pool = [
        "https://abs{0}.org/x", "//cdn{0}.net/y", "/root/{0}?k=1",
        "../up/./c{0}.html", "?page={0}", "sub/{0}/", "d{0}.html#frag",
        "#self", "x{0}?a=1&b=2".replace("&", ""),  # no entities
    ]
    decoys = ['title="see href = fake here"', "class=big",
              'alt="a > b still inside"', "data-href=https://no.ex/",
              "id=z9"]
    rels = [None, "nofollow", "ugc sponsored", "ME", ""]
    bases = [None, "https://cdn.gen.ex/lib/", "/newroot/", "up/"]

    cases = []
    for trial in range(15):
        parts = []
        base = rng.choice(bases)
        if base is not None:
            if rng.random() < 0.4:  # href-less base first, must not win
                parts.append('<base target="_blank">')
            q = rng.choice(['"', "'"])
            parts.append(f"<base href={q}{base}{q}>")
        for i in range(rng.randint(3, 8)):
            href = rng.choice(hrefs_pool).format(f"{trial}x{i}")
            rel = rng.choice(rels)
            q = rng.choice(['"', "'", ""])
            if q == "" and any(c in href for c in " '\"<>"):
                q = '"'
            attrs = [rng.choice(decoys)] if rng.random() < 0.6 else []
            attrs.append(f"href={q}{href}{q}")
            if rel is not None:
                qq = '"' if (" " in rel or rel == "") else rng.choice(
                    ['"', "'", ""])
                attrs.append(f"rel={qq}{rel}{qq}")
            rng.shuffle(attrs)
            parts.append(f"<a {' '.join(attrs)}>t{i}</a> plain text. ")
        cases.append((trial, page, "".join(parts)))

    df = spark.createDataFrame(
        cases, "trial long, url string, html string")
    got: dict = {}
    for r in webx.extract_links(df).collect():
        got.setdefault(r.trial, []).append(
            (r.link_pos, r.href, r.rel, r.link_url))
    for trial, purl, html in cases:
        m = Model()
        m.feed(html)
        eff = urljoin(purl, m.base) if m.base else purl
        expect = [
            (i, h, rel, urljoin(eff, h).split("#", 1)[0])
            for i, (h, rel) in enumerate(m.links)
        ]
        mine = sorted(got.get(trial, []))
        assert mine == expect, (trial, html, mine, expect)


def test_resolve_redirects_vs_python_model(spark):
    """resolve_redirects vs an independent pure-Python chain walker
    over 8 seeded random capture graphs (dense redirect fraction so
    chains/cycles/danglers all occur, random max_hops) — the model
    walks each chain with plain dicts, sharing no code with the
    operator."""
    import random

    from dataproc_spark.extensions import web as webx

    rng = random.Random(0xBEEF)
    for trial in range(8):
        n = rng.randint(6, 24)
        urls = [f"https://m{trial}.ex/u{i}" for i in range(n)]
        nodes = {}
        for u in urls:
            if rng.random() < 0.55:
                tgt = rng.choice(
                    urls + [f"https://ext{trial}.ex/g{k}"
                            for k in range(3)])
                nodes[u] = (True, tgt)
            else:
                nodes[u] = (False, None)
        max_hops = rng.randint(1, 4)

        # independent model (same outcome order as the operator:
        # external/ok -> loop -> truncated -> continue)
        expect = {}
        for u, (redir, tgt) in nodes.items():
            if not redir:
                expect[u] = (u, 0, "ok")
                continue
            visited = {u}
            cur, hops = tgt, 1
            while True:
                node = nodes.get(cur)
                if node is None:
                    expect[u] = (cur, hops, "external")
                    break
                if not node[0]:
                    expect[u] = (cur, hops, "ok")
                    break
                nxt = node[1]
                if nxt in visited or nxt == cur:
                    expect[u] = (None, hops, "loop")
                    break
                if hops >= max_hops:
                    expect[u] = (cur, hops, "truncated")
                    break
                visited.add(cur)
                cur, hops = nxt, hops + 1

        rows = [(u, 301 if redir else 200,
                 {"location": tgt} if redir else {},
                 "2026-01-01T00:00:00Z")
                for u, (redir, tgt) in nodes.items()]
        df = spark.createDataFrame(
            rows, "target_uri string, http_status int, "
            "http_headers map<string,string>, warc_date string")
        got = {r.source_url: (r.final_url, r.n_hops, r.resolution)
               for r in webx.resolve_redirects(
                   df, max_hops=max_hops).collect()}
        assert got == expect, (trial, max_hops, nodes)


def test_cdx_closest_vs_python_model(spark):
    """cdx_closest vs an independent pure-Python winner picker over 8
    seeded random index/probe sets (shared urlkeys, random 14-digit
    timestamps, both modes) — the model recomputes |delta| / at-or-
    before winners with plain dicts."""
    import random

    from dataproc_spark.extensions import cdx as cdxx

    rng = random.Random(0xFACE)
    for trial in range(8):
        n_keys = rng.randint(2, 6)
        caps = []
        for k in range(n_keys):
            seen: set = set()
            for c in range(rng.randint(1, 4)):
                ts = f"20{rng.randint(10, 30):02d}0{rng.randint(1, 9)}" \
                     f"0{rng.randint(1, 9)}{rng.randint(0, 23):02d}" \
                     f"{rng.randint(0, 59):02d}{rng.randint(0, 59):02d}"
                if ts in seen:  # equal-ts ties are ambiguous by design
                    continue
                seen.add(ts)
                caps.append((f"ex,k{k})/p", ts,
                             f"https://k{k}.ex/p", len(caps)))
        idx = spark.createDataFrame(
            caps, "urlkey string, ts string, url string, capid long")
        probes = []
        for pid in range(rng.randint(3, 8)):
            k = rng.randint(0, n_keys)  # n_keys = a MISSING key
            ts = rng.choice(
                [c[1] for c in caps]
                + [f"20{rng.randint(10, 30):02d}0101000000"])
            probes.append((pid, f"https://K{k}.EX/p", ts))
        pdf = spark.createDataFrame(
            probes, "pid long, url string, ts string")

        by_key: dict = {}
        for key, ts, _, capid in caps:
            by_key.setdefault(key, []).append((ts, capid))
        for mode in ("closest", "before"):
            expect = {}
            for pid, purl, pts in probes:
                k = purl.lower().split("k", 1)[1].split(".")[0]
                key = f"ex,k{k})/p"
                cands = by_key.get(key, [])
                if mode == "before":
                    elig = [(ts, cid) for ts, cid in cands if ts <= pts]
                    win = max(elig, key=lambda x: int(x[0]),
                              default=None)
                else:
                    win = min(
                        cands,
                        key=lambda x: (abs(int(x[0]) - int(pts)),
                                       int(x[0])),
                        default=None,
                    )
                expect[pid] = None if win is None else win[1]
            got = {r.pid: r.capid for r in cdxx.cdx_closest(
                idx, pdf, mode=mode).collect()}
            assert got == expect, (trial, mode, caps, probes)


def test_resolve_redirects_from_warc(spark, tmp_path):
    """r13 integration: the production chain WARC sink → read_warc
    (envelope split) → resolve_redirects — a 301 capture written as a
    real application/http payload resolves through the re-ingested
    frame's http_status/http_headers columns."""
    from dataproc_spark.extensions import warc as warcx
    from dataproc_spark.extensions import web as webx

    env301 = (b"HTTP/1.1 301 Moved Permanently\r\n"
              b"Location: /final\r\nContent-Type: text/html\r\n\r\nmoved")
    env200 = (b"HTTP/1.1 200 OK\r\n"
              b"Content-Type: text/html\r\n\r\n<html>home</html>")
    src = spark.createDataFrame(
        [("https://w.ex/old", bytearray(env301)),
         ("https://w.ex/final", bytearray(env200))],
        "target_uri string, payload binary",
    )
    out = str(tmp_path / "redir_warc")
    warcx.write_warc_shards(src, out)
    back = warcx.read_warc(spark, out)
    got = {r.source_url: (r.final_url, r.n_hops, r.resolution)
           for r in webx.resolve_redirects(back).collect()}
    assert got == {
        "https://w.ex/old": ("https://w.ex/final", 1, "ok"),
        "https://w.ex/final": ("https://w.ex/final", 0, "ok"),
    }


def test_r12_review_fixes(spark):
    """r12 adversarial-review regressions, one assert per finding:
    (1) unterminated quoted meta value must not let body prose donate
    a charset; (2) href extraction is quote-aware both ways; (3) mp4
    sniff validates the ISO-BMFF box size; (4) SURT keys drop a '?'
    that lives in the fragment; (5) absolute/protocol-relative refs
    dot-segment-normalize; (6) robots specificity is OCTET length;
    (7) CDX ts clamps to 14 digits under fractional seconds; (8) XML
    numeric character references decode, exactly once."""
    import pytest as _pytest  # noqa: F401

    from dataproc_spark.extensions import cdx as cdxx
    from dataproc_spark.extensions import web as webx
    from dataproc_spark.extensions.sniff import sniffed_mime
    from dataproc_spark.extensions.warc import sniff_meta_charset

    # (1) the value consumes the rest — prose 'charset=' never matches
    assert sniff_meta_charset(
        b'<meta data-x="oops><p>some body text charset=koi8-r here</p>'
    ) is None

    # (2) quote-aware extraction: no steal, no quoted-'>' hiding
    df2 = spark.createDataFrame(
        [(1, "https://ex.com/", '<a title="see href = x" href="/real">t'
          '</a><a title="a > b" href="/y">u</a>')],
        "doc_id long, url string, html string",
    )
    got = [r.link_url for r in sorted(
        webx.extract_links(df2).collect(), key=lambda r: r.link_pos)]
    assert got == ["https://ex.com/real", "https://ex.com/y"]

    # (3) prose containing 'ftyp' at offset 4 is text, real mp4 is mp4
    # (r13: the real file now must also carry an mp4 brand — here in
    # the compatible slot at offset 16, after the skipped version)
    df3 = spark.createDataFrame(
        [(1, b"THE ftyp keyword in prose"),
         (2, b"abc ftypsomething"),
         (3, b"\x00\x00\x00\x18ftypisom" + b"\x00" * 4 + b"mp41"
          + b"\x00" * 8)],
        "i long, payload binary",
    )
    m = {r.i: r.m for r in df3.select(
        "i", sniffed_mime("payload").alias("m")).collect()}
    assert m == {1: "text/plain", 2: "text/plain", 3: "video/mp4"}

    # (4) fragment-only '?' never reaches the SURT key
    k = spark.createDataFrame(
        [("https://a.com/x#sec?b=1",), ("https://a.com/x",)],
        "url string",
    ).select(cdxx.surt_key("url").alias("k")).collect()
    assert k[0].k == k[1].k == "com,a)/x"

    # (5) RFC 3986 §5.2.2 applies to every hierarchical resolution
    one = spark.range(1)
    def res(b, r):
        return one.select(webx.resolve_url(
            F.lit(b), F.lit(r)).alias("u")).collect()[0].u
    assert res("https://b.io/", "//cdn.net/a/../b") == "https://cdn.net/b"
    assert res("https://b.io/", "https://x.org/a/./c/../d?q=1#f") == (
        "https://x.org/a/d?q=1")
    assert res("https://b.io/", "mailto:a@b.c") == "mailto:a@b.c"

    # (6) octet-length specificity: '/café' is 6 octets, not 5 chars
    assert webx.robots_like_pattern("/café")[1] == 6

    # (7) WARC 1.1 fractional seconds: ts stays 14 digits
    recs = spark.createDataFrame(
        [("s/shard-0.warc.gz", "2026-01-01T00:00:00.123Z",
          "https://a.com/x", "text/html; charset=utf-8", 200, b"hi")],
        "shard string, warc_date string, target_uri string, "
        "http_content_type string, http_status int, body binary",
    )
    row = cdxx.cdx_index(recs).collect()[0]
    assert row.ts == "20260101000000" and len(row.ts) == 14

    # (8) numeric character references, single decode
    sm = spark.createDataFrame(
        [(1, "<urlset><url><loc>https://a.com/?a=1&#38;b=2&#x26;c=3"
          "&#038;d=4&amp;#38;e</loc></url></urlset>")],
        "doc_id long, sitemap_xml string",
    )
    loc = webx.sitemap_entries(sm).collect()[0].loc
    assert loc == "https://a.com/?a=1&b=2&c=3&d=4&#38;e"


def test_r12_second_review_fixes(spark):
    """r12 second review pass: (1) space-delimited legacy charset=
    parses; (2) the ambiguous \\xff\\xfe\\x00\\x00 prefix decodes under
    whichever of UTF-32LE/UTF-16LE accepts it (WHATWG fallback), while
    the unambiguous UTF-32BE BOM stays strict; (3) sitemap/link
    operators raise a clear clash error instead of an ambiguous-
    reference crash; (4) trailing-dot FQDNs share the SURT key of
    their dotless twin; (5) an empty Content-Type yields NULL mime."""
    import pytest as _pytest

    from dataproc_spark.extensions import cdx as cdxx
    from dataproc_spark.extensions import web as webx
    from dataproc_spark.extensions.warc import (
        charset_of_content_type,
        decode_body_text,
    )

    # (1) missing semicolon — HTML5 tolerates, so must we
    assert charset_of_content_type("text/html charset=koi8-r") == "koi8-r"
    assert charset_of_content_type("text/html; charset=utf-8") == "utf-8"
    assert charset_of_content_type("text/html;xcharset=y") is None

    # (2) both readings of the ambiguous LE prefix decode
    b32 = b"\xff\xfe\x00\x00" + "страница".encode("utf-32-le")
    assert decode_body_text(b32, None) == "страница"
    nul16 = b"\xff\xfe" + "\x00abc".encode("utf-16-le")
    assert decode_body_text(nul16, None) == "\x00abc"
    with _pytest.raises(ValueError):  # UTF-32BE BOM is unambiguous
        decode_body_text(b"\x00\x00\xfe\xff" + b"\xff\xff\xff\xff", None)

    # (3) clash guards
    sm = spark.createDataFrame([(1, "<urlset/>", "x")],
                               "doc_id long, sitemap_xml string, pos string")
    with _pytest.raises(ValueError, match="clobber"):
        webx.sitemap_entries(sm)
    lk = spark.createDataFrame([(1, "https://a.com/", "<a href=/x>", 0)],
                               "doc_id long, url string, html string, "
                               "link_pos long")
    with _pytest.raises(ValueError, match="clobber"):
        webx.extract_links(lk)

    # (4) trailing root dot strips before reversal
    k = spark.createDataFrame(
        [("https://example.com./x",), ("https://example.com/x",),
         ("https://www.example.com./x",)],
        "url string",
    ).select(cdxx.surt_key("url").alias("k")).collect()
    assert {r.k for r in k} == {"com,example)/x"}

    # (5) empty / parameter-only Content-Type → NULL mime, not ''
    recs = spark.createDataFrame(
        [("s/a.warc.gz", "2026-01-01T00:00:00Z", "https://a.com/1",
          "", 200, b"x"),
         ("s/a.warc.gz", "2026-01-01T00:00:00Z", "https://a.com/2",
          ";charset=utf-8", 200, b"x"),
         ("s/a.warc.gz", "2026-01-01T00:00:00Z", "https://a.com/3",
          None, None, b"x")],
        "shard string, warc_date string, target_uri string, "
        "http_content_type string, http_status int, body binary",
    )
    mm = {r.url: r.mime for r in cdxx.cdx_index(recs).collect()}
    assert mm == {"https://a.com/1": None, "https://a.com/2": None,
                  "https://a.com/3": None}


def test_resolve_url_vs_stdlib_urljoin(spark):
    """resolve_url vs urllib.parse.urljoin — an INDEPENDENT RFC 3986
    §5 implementation — across the relative-reference space
    (combinatorial ./../segment paths × trailing slash × query ×
    fragment × six base shapes, ~2.5k cases, one Spark job). Absolute
    and protocol-relative refs are excluded from the equivalence: the
    stdlib returns them verbatim WITHOUT the §5.2.2 dot-segment
    normalization this implementation applies (we are strict-parser
    faithful there; unit-tested separately)."""
    from itertools import product
    from urllib.parse import urljoin

    from dataproc_spark.extensions import web as webx

    bases = [
        "https://h.ex/a/b/p.html?q=0",
        "https://h.ex/a/b/",
        "https://h.ex/p.html",
        "https://h.ex/",
        "https://h.ex",
        "https://h.ex:8443/a/p",
    ]
    segs = ["x", "..", ".", "y5"]
    paths = [""]
    for n in (1, 2, 3):
        paths += ["/".join(c) for c in product(segs, repeat=n)]
    suffixes = ["", "/", "?a=1", "#f", "?a=1#f"]
    refs = sorted({p + s for p in paths for s in suffixes
                   if not (p == "" and s == "/")})
    cases = [(b, r) for b in bases for r in refs]
    df = spark.createDataFrame(cases, "base string, ref string")
    got = df.select(
        "base", "ref",
        webx.resolve_url(F.col("base"), F.col("ref")).alias("u"),
    ).collect()
    assert len(got) == len(cases)
    bad = []
    for row in got:
        want = urljoin(row.base, row.ref).split("#", 1)[0]
        if row.u != want:
            bad.append((row.base, row.ref, row.u, want))
    assert not bad, f"{len(bad)} divergences, first 5: {bad[:5]}"

    # r13 <base href> composition: the effective base is
    # resolve_url(page, base_href), and links resolve against THAT —
    # stdlib equivalence is urljoin(urljoin(page, bh), ref)
    page = "https://h.ex/a/b/p.html?q=0"
    base_hrefs = ["https://cdn.ex/lib/", "/root2/", "../up/", "d/",
                  "//mirror.ex/m/"]
    bref = [(bh, r) for bh in base_hrefs for r in refs[:40]]
    bdf = spark.createDataFrame(bref, "bh string, ref string")
    bgot = bdf.select(
        "bh", "ref",
        webx.resolve_url(
            webx.resolve_url(F.lit(page), F.col("bh")), F.col("ref")
        ).alias("u"),
    ).collect()
    bbad = []
    for row in bgot:
        want = urljoin(urljoin(page, row.bh), row.ref).split("#", 1)[0]
        if row.u != want:
            bbad.append((row.bh, row.ref, row.u, want))
    assert not bbad, f"{len(bbad)} base divergences, first 5: {bbad[:5]}"


def test_drop_repeated_lines_vs_python_model(spark):
    """drop_repeated_lines vs an independent pure-Python model over 25
    seeded random corpora (line pools sized to force heavy cross-doc
    collisions, blank/whitespace lines mixed in, random min_docs) —
    the model recounts document frequency and rebuilds every text with
    plain dicts, sharing no code with the operator."""
    import random

    from dataproc_spark.extensions import dedup as ddp

    rng = random.Random(0xC0FFEE)
    pool = (["alpha", "beta", "gamma", "delta", "", " ", "\t",
             "\xa0", "　", " \x0b ", "x y z", "alpha"]
            + [f"rare{i}" for i in range(30)])
    # Unicode White_Space — what (?U)\\s matches (Java) and the
    # oracle's RE2 class mirrors; NOT str.strip()/isspace(), which
    # also accept \x1c-\x1f (isspace) — the model must be
    # property-exact
    ws = ({chr(c) for c in range(0x09, 0x0E)}
          | {"\x20", "\x85", "\xa0", "\u1680", "\u2028", "\u2029",
             "\u202f", "\u205f", "\u3000"}
          | {chr(c) for c in range(0x2000, 0x200B)})

    def is_blank(line: str) -> bool:
        return all(ch in ws for ch in line)
    for trial in range(25):
        n_docs = rng.randint(1, 12)
        docs = []
        for i in range(n_docs):
            lines = [rng.choice(pool)
                     for _ in range(rng.randint(0, 8))]
            docs.append((i, "\n".join(lines) if lines else ""))
        # 1 is rejected by the guard (it would cut every non-blank
        # line) — the model sweeps the meaningful range only
        min_docs = rng.randint(2, 4)

        # independent model
        df_count: dict = {}
        for i, text in docs:
            for line in set(text.split("\n")):
                if not is_blank(line):
                    df_count[line] = df_count.get(line, 0) + 1
        expect = {}
        for i, text in docs:
            kept = [l for l in text.split("\n")
                    if is_blank(l) or df_count.get(l, 0) < min_docs]
            expect[i] = ("\n".join(kept),
                         len(text.split("\n")) - len(kept))

        out = {r.doc_id: (r.text_clean, r.n_lines_dropped)
               for r in ddp.drop_repeated_lines(
                   spark.createDataFrame(docs,
                                         "doc_id long, text string"),
                   min_docs=min_docs).collect()}
        assert out == expect, (trial, min_docs, docs)


def test_r12_third_review_fixes(spark):
    """r12 third review pass: quoted-string-aware charset scan, the
    case-insensitive clobber guard, and the Unicode-exact whitespace
    exemption (covered in depth by the model test's NBSP pool)."""
    import pytest as _pytest

    from dataproc_spark.extensions import web as webx
    from dataproc_spark.extensions.warc import charset_of_content_type

    # charset= inside another parameter's QUOTED value must not win
    assert charset_of_content_type(
        'text/plain; title="a charset=koi8-r doc"; charset=utf-8'
    ) == "utf-8"
    assert charset_of_content_type(
        'application/octet-stream; name="my charset=utf-7 note.txt"'
    ) is None
    # ...while a quoted charset VALUE still parses
    assert charset_of_content_type(
        'text/html; charset="Shift_JIS"') == "Shift_JIS"

    # Spark resolves names case-insensitively: a case-variant clash is
    # just as fatal, so the guard must catch it
    lk = spark.createDataFrame(
        [(1, "https://a.com/", "<a href=/x>", "z")],
        "doc_id long, url string, html string, HREF string",
    )
    with _pytest.raises(ValueError, match="clobber"):
        webx.extract_links(lk)


def test_r12_fourth_review_fixes(spark):
    """r12 fourth review pass: apostrophes are NOT HTTP quoted-string
    delimiters (a tchar pair must not mask a real charset); the gzip
    sniff requires the full 3-byte signature; every clobber guard is
    the shared case-insensitive helper."""
    import pytest as _pytest

    from dataproc_spark.extensions import web as webx
    from dataproc_spark.extensions.sniff import sniffed_mime
    from dataproc_spark.extensions.warc import charset_of_content_type

    assert charset_of_content_type(
        "text/html; name=o'brien; charset=koi8-r; note=don't"
    ) == "koi8-r"
    assert charset_of_content_type(
        'text/plain; title="a charset=koi8-r doc"; charset=utf-8'
    ) == "utf-8"

    df = spark.createDataFrame(
        [(1, b"\x1f\x8bWX random, not deflate"),
         (2, __import__("gzip").compress(b"x", mtime=0))],
        "i long, payload binary",
    )
    m = {r.i: r.m for r in df.select(
        "i", sniffed_mime("payload").alias("m")).collect()}
    assert m == {1: "application/octet-stream", 2: "application/gzip"}

    # migrated guards catch case-variant clashes too
    docs = spark.createDataFrame([(1, "https://a.com/x", 1.0)],
                                 "doc_id long, url string, "
                                 "CANONICAL_URL double")
    with _pytest.raises(ValueError, match="clobber"):
        webx.dedup_by_url(docs)


def test_robots_sitemaps(spark):
    """r12 sitemap discovery: the global, case-insensitive Sitemap:
    directive — comments stripped, whitespace trimmed, file order
    kept, group placement irrelevant, non-directive lines and
    sitemap-less files yield empty (not NULL)."""
    from dataproc_spark.extensions import web as webx

    robots = spark.createDataFrame(
        [(1, "User-agent: *\nDisallow: /p/\n"
             "Sitemap: https://a.com/s1.xml\n"
             "sitemap:https://a.com/s2.xml   # trailing comment\n"
             "  SITEMAP :  https://a.com/s3.xml  \n"
             "# Sitemap: https://a.com/commented.xml\n"
             "NotSitemap: https://a.com/no.xml\n"
             # lenient recovery (r12 advice fix): FIRST token wins on a
             # malformed-but-recoverable line with trailing junk
             "Sitemap: https://a.com/s4.xml ignore this\n"),
         (2, "User-agent: *\nDisallow:\n"),
         (3, None)],
        "i long, robots_txt string",
    )
    got = {r.i: r.s for r in robots.select(
        "i", webx.robots_sitemaps("robots_txt").alias("s")).collect()}
    assert got[1] == ["https://a.com/s1.xml", "https://a.com/s2.xml",
                      "https://a.com/s3.xml", "https://a.com/s4.xml"]
    assert got[2] == [] and got[3] == []
    plan = (robots.select(webx.robots_sitemaps("robots_txt").alias("s"))
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Python" not in plan


def test_minhash_index_roundtrip_and_probe(spark, tmp_path):
    """r15 incremental near-dup: the persisted signature index finds an
    exact duplicate (est 1000) and a near-duplicate of an indexed doc,
    ignores unrelated and sub-shingle-length batch docs, drops
    equal-id pairs, and refuses foreign formats / bad band geometry."""
    import pytest as _pytest

    from dataproc_spark.extensions import dedup

    base = "the quick brown fox jumps over the lazy dog tonight"
    old = spark.createDataFrame(
        [(1, base), (2, "completely different words about spark plans"),
         (3, "short one")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    meta = dedup.write_minhash_index(
        old, path, num_hashes=16, shingle_size=3, bands=4, portable=True)
    assert meta["format"] == dedup.MINHASH_INDEX_FORMAT
    new = spark.createDataFrame(
        [(10, base),                       # exact dup of 1
         (11, base + " again"),            # near dup of 1
         (12, "nothing in common with anything here at all"),
         (13, "too short"),                # < shingle window: no sig
         (1, base)],                       # equal id: dropped
        "doc_id long, text string",
    )
    got = {(r.new_id, r.old_id): r.est_jaccard_m
           for r in dedup.incremental_near_dup(
               new, path, threshold_m=250).collect()}
    assert got[(10, 1)] == 1000
    assert (11, 1) in got and 250 <= got[(11, 1)] < 1000
    assert (1, 1) not in got
    assert not any(n in (12, 13) for n, _ in got)
    with _pytest.raises(ValueError, match="divide"):
        dedup.write_minhash_index(old, str(tmp_path / "bad"),
                                  num_hashes=16, bands=5)
    # foreign format marker refuses to half-load
    from dataproc_spark.extensions import classify
    other = str(tmp_path / "nb")
    classify.write_nb_model(
        spark.createDataFrame([], "label string, bucket long, w long"),
        {"a": 0}, {"a": 0}, other)
    with _pytest.raises(Exception, match="format"):
        dedup.incremental_near_dup(new, other)


def test_token_drift_known_values(spark):
    """r15 corpus drift: hand-computed ppm shares and Q-term
    contributions on a two-token fixture; disjoint tokens dominate,
    ordering is contrib DESC / token ASC, and an empty side raises."""
    import pytest as _pytest

    from dataproc_spark.extensions import corpus

    a = spark.createDataFrame([("x x y",)], "text string")
    b = spark.createDataFrame([("x z z z",)], "text string")
    rows = {r.token: r for r in corpus.token_drift(a, b, top_k=10).collect()}

    def q(c):  # the Mitchell fixed-point log2, scale 4096
        e = c.bit_length() - 1
        return 4096 * e + ((c - (1 << e)) * 4096) // (1 << e)

    def term(p, qq):
        return p * (q(2 * p) - q(p + qq)) if p > 0 else 0

    # a: x=2/3, y=1/3 of 3 tokens; b: x=1/4, z=3/4 of 4 tokens
    exp = {
        "x": (2, 1, 666666, 250000),
        "y": (1, 0, 333333, 0),
        "z": (0, 3, 0, 750000),
    }
    for tok, (ac, bc, p, qq) in exp.items():
        r = rows[tok]
        assert (r.a_cnt, r.b_cnt, r.p_ppm, r.q_ppm) == (ac, bc, p, qq)
        assert r.contrib_q == term(p, qq) + term(qq, p)
    # disjoint-vocab tokens out-drift the shared one; tie-break ASC
    ordered = [r.token for r in sorted(
        rows.values(), key=lambda r: (-r.contrib_q, r.token))]
    assert ordered.index("x") == 2  # z (0.75 disjoint) > y > x (shared)
    with _pytest.raises(ValueError, match="top_k"):
        corpus.token_drift(a, b, top_k=0)
    empty = spark.createDataFrame([], "text string")
    with _pytest.raises(Exception, match="no tokens"):
        corpus.token_drift(a, empty).collect()


def test_kmeans_assign_arrow_parity(spark):
    """The Arrow matmul assignment picks exactly the brute-force Python
    argmin of squared L2 distance with ties to the smallest cid —
    duplicate centroids and exact midpoints included — and keeps
    ``cluster`` INT; embed_kmeans on duplicate seed vectors sends every
    tied point to cid 0."""
    from pyspark.sql.types import IntegerType

    from dataproc_spark.extensions import simsearch

    rows = [(i, [(i * 7) % 13 - 6, (i * 3) % 11 - 5, i % 4])
            for i in range(40)]
    q = spark.createDataFrame(rows, "vec_id long, _v array<bigint>")
    # cids 2 and 5 are the same point; (0,0,0) sits midway between 0/1
    centroids = [(0, [-2, 0, 0]), (1, [2, 0, 0]), (2, [4, 4, 1]),
                 (5, [4, 4, 1]), (9, [-5, -4, 3])]

    def brute(v):
        d = {cid: sum((x - y) ** 2 for x, y in zip(v, c))
             for cid, c in centroids}
        return min(d, key=lambda cid: (d[cid], cid))

    out = simsearch._kmeans_assign(q, centroids)
    assert out.schema["cluster"].dataType == IntegerType()
    got = {r.vec_id: r.cluster for r in out.collect()}
    assert got == {i: brute(v) for i, v in rows}
    mid = spark.createDataFrame([(0, [0, 0, 0])], "vec_id long, _v array<bigint>")
    assert simsearch._kmeans_assign(mid, centroids).first().cluster == 0
    assert 5 not in got.values()  # the duplicate of cid 2 never wins
    # the tie fixture from test_embed_kmeans_drops_empty_clusters
    tie = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 0.0]),
         (3, [2.0, 0.0])],
        "vec_id long, embedding array<float>")
    out = simsearch.embed_kmeans(tie, k=2, iters=2).toPandas()
    assert set(out.cluster) == {0} and len(out) == 4


def test_near_dup_pairs_arrow_expr_parity(spark):
    """r15 opt: the grouped Arrow matmul kernel emits exactly the
    brute-force model's pairs — every same-bucket (id_a < id_b) pair
    whose exact integer dot clears the threshold — including a
    singleton bucket, a bucket whose every pair clears the threshold,
    and negative dot values around it."""
    from dataproc_spark.extensions import simsearch

    rows = [
        (i, [float(((i * 7) % 13) - 6), float(((i * 3) % 11) - 5)],
         i % 3)
        for i in range(40)
    ] + [(100, [1.0, 2.0], 9)]  # singleton bucket: no pairs
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    # integer-valued floats quantize exactly (x * 1000)
    qv = {i: [int(x) * 1000 for x in v] for i, v, _ in rows}
    label = {i: b for i, _, b in rows}

    def model(thr):
        out = []
        for a in qv:
            for b in qv:
                if a < b and label[a] == label[b]:
                    d = sum(x * y for x, y in zip(qv[a], qv[b]))
                    if d >= thr:
                        out.append((a, b, d))
        return sorted(out)

    key = lambda r: (r.id_a, r.id_b, r.dot_q)  # noqa: E731
    for thr in (-5_000_000, 10_000_000):
        got = simsearch.near_dup_pairs(df, threshold_dot_q=thr)
        assert got.schema.simpleString() \
            == "struct<id_a:bigint,id_b:bigint,dot_q:bigint>"
        want = model(thr)
        assert sorted(map(key, got.collect())) == want
        assert want  # the fixture must actually produce pairs
    assert any(d < 0 for _, _, d in model(-5_000_000))


def test_pq_index_format_guard(spark, tmp_path):
    """r15: a PQ index refuses to load foreign artifacts, and
    pq_index_topk equals the in-session ADC search."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dataproc_spark.extensions import classify, simsearch

    rows = [(i, [float((i * 7) % 13), float((i * 3) % 11)])
            for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / "pq")
    meta = simsearch.write_pq_index(df, path, m=2, codes=2, iters=1)
    assert meta["format"] == simsearch.PQ_INDEX_FORMAT
    q = df.where(F.col("vec_id") < 2)
    via_index = {(r.qid, r.id): (r.d_adc, r.rank)
                 for r in simsearch.pq_index_topk(q, path, k=3).collect()}
    cb = simsearch.pq_train(df, m=2, codes=2, iters=1)
    direct = {(r.qid, r.id): (r.d_adc, r.rank)
              for r in simsearch.pq_adc_topk(
                  q, simsearch.pq_encode(df, cb), cb, k=3).collect()}
    assert via_index == direct and len(via_index) == 6
    other = str(tmp_path / "nb")
    classify.write_nb_model(
        spark.createDataFrame([], "label string, bucket long, w long"),
        {"a": 0}, {"a": 0}, other)
    with _pytest.raises(ValueError, match="format"):
        simsearch.read_pq_index(spark, other)


def test_ivfpq_topk_separated_blobs(spark):
    """r15 IVFPQ: two well-separated blobs — coarse cells split them,
    so with n_probe=1 a query only ever sees its own blob's
    candidates; an exact duplicate ranks first at residual-ADC
    distance 0; exclude_self is honored."""
    from pyspark.sql import functions as F

    from dataproc_spark.extensions import simsearch

    # blob A around (0, 0), blob B around (100, 100); ids 0/1 seed the
    # two cells. id 2 duplicates id 0 exactly.
    rows = [(0, [0.0, 0.0]), (1, [100.0, 100.0]), (2, [0.0, 0.0]),
            (3, [1.0, 0.0]), (4, [101.0, 100.0]), (5, [100.0, 99.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = simsearch.ivfpq_topk(
        df, df.where(F.col("vec_id").isin(0, 1)), k=3, cells=2,
        cell_iters=2, n_probe=1, m=2, codes=4, pq_iters=2,
    )
    got = {}
    for r in out.collect():
        got.setdefault(r.qid, []).append((r.rank, r.id, r.d_adc))
    for qid, lst in got.items():
        lst.sort()
    # query 0 (blob A): candidates only from {2, 3}, and the exact
    # duplicate id 2 ranks STRICTLY first — its ADC distance is the
    # (small) quantization error of its own codes, while id 3 pays the
    # full inter-point distance on top (asserting d == 0 would be
    # wrong PQ semantics: shared codes can absorb other members, as
    # id 5's dim-1 residual does here)
    a_ids = [i for _, i, _ in got[0]]
    assert set(a_ids) <= {2, 3} and got[0][0][1] == 2
    if len(got[0]) > 1:
        assert got[0][0][2] < got[0][1][2]
    # query 1 (blob B): candidates only from {4, 5}
    b_ids = [i for _, i, _ in got[1]]
    assert set(b_ids) <= {4, 5}
    assert all(qid not in ids for qid, ids in ((0, a_ids), (1, b_ids)))
    # ranks are 1..n contiguous and distances non-decreasing
    for qid, lst in got.items():
        assert [r for r, _, _ in lst] == list(range(1, len(lst) + 1))
        ds = [d for _, _, d in lst]
        assert ds == sorted(ds)


def test_brute_force_topk_l2_metric(spark):
    """r15: metric='l2' ranks by exact squared L2 ASC with id ASC ties
    — the ground-truth arm pq_recall measures against — and rejects
    unknown metrics."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dataproc_spark.extensions import simsearch

    rows = [(0, [0.0, 0.0]), (1, [3.0, 4.0]), (2, [1.0, 0.0]),
            (3, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = [(r.vec_id, r.d_l2, r.rnk)
           for r in simsearch.brute_force_topk(
               df, df.where(F.col("vec_id") == 0), k=3, metric="l2"
           ).orderBy("rnk").collect()]
    # d(0,2) = 1000^2 = d(0,3) -> tie broken by id ASC; d(0,1) = 5000^2
    assert got == [(2, 1_000_000, 1), (3, 1_000_000, 2),
                   (1, 25_000_000, 3)]
    with _pytest.raises(ValueError, match="metric"):
        simsearch.brute_force_topk(df, df, metric="cosine")


def test_bm25_topk_hand_computed(spark):
    """r15 BM25: every integer on a 3-doc corpus computed by hand —
    Lucene-form idf through the Mitchell Q, permille tf saturation
    with integer doc-length ratios, ranking with id tie-breaks,
    query-term-set deduplication, and the k guard."""
    import pytest as _pytest

    from dataproc_spark.extensions import textstats

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c"), (3, "c c c c")],
        "doc_id long, text string")
    queries = spark.createDataFrame(
        [(0, ["a", "c"]), (1, ["c", "c"])],
        "qid long, terms array<string>")
    got = {(r.qid, r.id): (r.score_q, r.rank)
           for r in textstats.bm25_topk(docs, queries, k=10).collect()}

    def q(c):  # quantized_log2 at scale 4096
        e = c.bit_length() - 1
        return 4096 * e + ((c - (1 << e)) * 4096) // (1 << e)

    # N=3, total=9; idf(a) = Q(8)-Q(3) = 6144; idf(c) = Q(8)-Q(5) = 3072
    # dl_rel: d1 1000, d2 666, d3 1333 -> inner 1200 / 898 / 1498
    # tf_part: d1@a(tf2) 1375, d2@c(tf1) 1159, d3@c(tf4) 1600
    assert q(8) - q(3) == 6144 and q(8) - q(5) == 3072
    assert got[(0, 1)] == (6144 * 1375, 1)
    assert got[(0, 3)] == (3072 * 1600, 2)
    assert got[(0, 2)] == (3072 * 1159, 3)
    # duplicate query terms deduplicate: qid 1 == plain ["c"]
    assert got[(1, 3)] == (3072 * 1600, 1)
    assert got[(1, 2)] == (3072 * 1159, 2)
    assert (1, 1) not in got  # doc 1 has no 'c'
    with _pytest.raises(ValueError, match="k must"):
        textstats.bm25_topk(docs, queries, k=0)
    empty = spark.createDataFrame([(9, "")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="no tokenized"):
        textstats.bm25_topk(empty, queries)


def test_pq_train_fused_update_parity(spark):
    """r15 opt round 2: the fused assign+partials PQ round (one Arrow
    kernel + driver combine, no per-round aggregate plan) trains the
    EXACT codebook of the independent integer Lloyd model — negative
    values on the fixture so the toward-zero _trunc_div means are on
    the hash — and pq_encode assigns the model's codes; an explicit
    ``seed`` (the composite-caller path) changes nothing when it
    matches what pq_train would collect itself."""
    from dataproc_spark.extensions import simsearch

    rows = [
        (i, [float(((i * 7 + d * 3) % 13) - 6) for d in range(4)])
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    fused = simsearch.pq_train(df, m=2, codes=3, iters=2)
    want_cb, want_codes = _pq_model(rows, m=2, codes=3, iters=2)
    assert [(s, c, [int(x) for x in v]) for s, c, v in fused] == want_cb
    assert {r.vec_id: list(r.codes)
            for r in simsearch.pq_encode(df, fused).collect()} == want_codes
    # explicit seed == the 3 smallest ids' quantized vectors
    seed = [
        (i, [round(x * 1000) for x in v]) for i, v in sorted(rows)[:3]
    ]
    seeded = simsearch.pq_train(df, m=2, codes=3, iters=2, seed=seed)
    assert seeded == fused
    # a malformed explicit seed raises exactly like a collected one
    import pytest as _pytest

    with _pytest.raises(ValueError, match="same-length"):
        simsearch.pq_train(df, m=2, codes=3, seed=[(0, [1, None, 2, 3])])


def test_group_update_partials_matches_jvm_aggregate(spark):
    """The kernel-partials centroid recompute (_group_update_partials)
    returns the exact per-key (count, per-dim int sums) of a numpy
    model — what a JVM ``count``/``sum`` aggregate gives — across six
    partitions, with negative components and a single-row key."""
    import numpy as np

    from dataproc_spark.extensions import simsearch

    rows = [
        (i, i % 3 if i < 28 else 7, [(i * 11 + d * 5) % 17 - 8 for d in range(5)])
        for i in range(29)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, cluster int, _v array<long>"
    ).repartition(6)
    comb = simsearch._group_update_partials(
        df.select("cluster", "_v"), "cluster", "_v"
    )
    keys = np.array([r[1] for r in rows])
    vecs = np.array([r[2] for r in rows], dtype=np.int64)
    expect = {
        int(k): (int((keys == k).sum()),
                 [int(x) for x in vecs[keys == k].sum(axis=0)])
        for k in np.unique(keys)
    }
    assert expect[7][0] == 1
    assert {k: (n, [int(x) for x in s]) for k, (n, s) in comb.items()} \
        == expect


def test_spread_narrow_target_bytes_sizes_by_data(spark, tmp_path):
    """r15 opt round 2: a byte-sized spread of a tiny file-backed frame
    lands on far fewer partitions than core count (bounded Arrow round
    trips per downstream kernel stage) with rows intact, and stays
    capped at defaultParallelism."""
    from dataproc_spark.core import spread_narrow

    p = str(tmp_path / "tiny.parquet")
    spark.range(200).selectExpr("id", "id * 2 as y").coalesce(1) \
        .write.parquet(p)
    df = spark.read.parquet(p)
    out = spread_narrow(df, target_bytes=4 * 1024 * 1024)
    n = out.rdd.getNumPartitions()
    assert 1 <= n <= max(2, spark.sparkContext.defaultParallelism // 2)
    assert sorted(r.id for r in out.collect()) == list(range(200))
    # target_bytes=None keeps the historical full-parallelism spread
    full = spread_narrow(df)
    assert full.rdd.getNumPartitions() \
        == spark.sparkContext.defaultParallelism


def test_banded_hamming_arrow_expr_parity(spark):
    """r15 opt round 2: both banded Hamming cores — the single-word
    self-join and the multi-word grouped kernel — emit exactly the
    brute-force model's (id_a, id_b, hamming) set: every pair with
    popcount(xor) <= max_hamming (complete by the pigeonhole bound) —
    over negative-signed fingerprints (arithmetic shift on the hash)
    and dense buckets, where a NULL fingerprint or a NULL word never
    pairs."""
    from dataproc_spark.extensions import dedup as dd

    def pop(x):
        return bin(x & ((1 << 64) - 1)).count("1")

    def model(fps, mh):
        ok = {i: v for i, v in fps if v is not None
              and not (isinstance(v, list) and None in v)}
        out = []
        for a in ok:
            for b in ok:
                if a < b:
                    va, vb = ok[a], ok[b]
                    if not isinstance(va, list):
                        va, vb = [va], [vb]
                    h = sum(pop(x ^ y) for x, y in zip(va, vb))
                    if h <= mh:
                        out.append((a, b, h))
        return sorted(out)

    rows = [(i, ((i % 7) * 0x1111111111111111 + (i // 7)) - (i % 2) * (1 << 63))
            for i in range(40)] + [(100, None)]
    df = spark.createDataFrame(rows, "doc_id long, fp long")
    key = lambda r: (r.id_a, r.id_b, r.hamming)  # noqa: E731
    for bands, mh in ((8, 7), (4, 3)):
        got = sorted(map(key, dd.banded_hamming_pairs(
            df, bands=bands, max_hamming=mh).collect()))
        assert got == model(rows, mh)
        assert got  # fixture must produce pairs

    mrows = [
        (i, [((i % 5) * 0x123456789 + w * (i // 5)) - (w % 2) * (1 << 62)
             for w in range(4)])
        for i in range(40)
    ] + [(100, None), (102, [1, None, 3, 4])]
    # exactly at and just past the distance bound: 15 and 16 bits
    mrows += [(200, [0, 0, 0, 0]), (201, [0x7FFF, 0, 0, 0]),
              (202, [0xFFFF, 0, 0, 0])]
    mdf = spark.createDataFrame(mrows, "doc_id long, fp array<long>")
    marrow = dd.banded_hamming_pairs_multi(mdf)
    assert marrow.schema.simpleString() \
        == "struct<id_a:bigint,id_b:bigint,hamming:int>"
    me = sorted(map(key, marrow.collect()))
    assert me == model(mrows, 15)
    assert (200, 201, 15) in me and (200, 202, 16) not in me
    assert not any(a in (100, 102) or b in (100, 102)
                   for a, b, _ in me)


def test_connected_components_local_distributed_parity(spark, monkeypatch):
    """r15 opt round 2: the driver union-find fast path (small pair
    graphs) produces exactly the distributed propagation's
    (node, component) fixed point — a 5-node chain (diameter > pointer
    rounds), two disjoint components, and an isolated pair; forcing the
    distributed arm via a zero edge limit pins the parity."""
    from dataproc_spark.extensions import dedup as dd

    pairs = spark.createDataFrame(
        [(5, 4), (4, 3), (3, 2), (2, 1), (10, 11), (11, 12), (20, 21)],
        "id_a long, id_b long",
    )
    local = dd.connected_components(pairs)
    assert local.schema.simpleString() \
        == "struct<node:bigint,component:bigint>"
    got = sorted((r.node, r.component) for r in local.collect())
    expect = [(1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
              (10, 10), (11, 10), (12, 10), (20, 20), (21, 20)]
    assert got == expect
    monkeypatch.setattr(dd, "CC_LOCAL_EDGE_LIMIT", 0)
    dist = dd.connected_components(pairs)
    assert sorted((r.node, r.component) for r in dist.collect()) == expect
    # empty graph: both arms return an empty frame
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert dd.connected_components(empty).count() == 0
    monkeypatch.undo()
    assert dd.connected_components(empty).count() == 0


def test_ngram_features_seam_matches_inline_featurize(spark):
    """r15 opt round 2: training and scoring through a shared
    ngram_features frame (featurize once) produce exactly the model and
    scores of the inline-featurizing paths."""
    from dataproc_spark.extensions import classify

    docs = spark.createDataFrame(
        [(1, "aa bb cc", "x"), (2, "bb cc dd", "y"),
         (3, "", "x"), (4, None, "y"), (5, "aa aa", "x")],
        "doc_id long, text string, label string",
    )
    feats = classify.ngram_features(
        docs, ["doc_id", "label"], n_buckets=64
    ).persist()
    w0, b0, i0 = classify.train_nb_weights(docs, n_buckets=64)
    w1, b1, i1 = classify.train_nb_weights(
        docs, n_buckets=64, features=feats
    )
    key = lambda r: (r["label"], r["bucket"], r["w"])  # noqa: E731
    assert sorted(map(key, w0.collect())) == sorted(map(key, w1.collect()))
    assert (b0, i0) == (b1, i1)
    from dataproc_spark.core import local_frame

    wm = local_frame(spark, w0.collect(), "label string, bucket long, w long")
    s0 = classify.score_documents(
        docs.drop("label"), wm, n_buckets=64, bias=b0, intercept=i0,
        labels=sorted(b0),
    )
    s1 = classify.score_documents(
        docs.drop("label"), wm, n_buckets=64, bias=b0, intercept=i0,
        labels=sorted(b0), features=feats,
    )
    skey = lambda r: (r["doc_id"], r["label"], r["n_feats"], r["score"])  # noqa: E731
    assert sorted(map(skey, s0.collect())) == sorted(map(skey, s1.collect()))
    feats.unpersist()


def test_banded_hamming_multi_rejects_overlength_arrays(spark):
    """r15 ADVICE: an array LONGER than `words` passed ANSI element_at
    (which only validates minimum length) — the expr arm summed
    bit_count over exactly `words` elements while the kernel covered
    every word present (result drift), and mixed lengths crashed
    np.array inside the kernel. Over-length fingerprints must now be
    rejected, while NULL fingerprints stay legal."""
    from dataproc_spark.extensions import dedup as dedupx

    rows = [(1, [1, 2, 3, 4]), (2, [1, 2, 3, 5]), (3, [0, 0, 0, 0, 9])]
    df = spark.createDataFrame(rows, "doc_id long, fp array<bigint>")
    with pytest.raises(Exception, match="exactly 4 words"):
        dedupx.banded_hamming_pairs_multi(
            df, fp_col="fp", words=4, bands=16, max_hamming=15,
        ).collect()
    # NULL fingerprints remain legal (never pair)
    ok = [(1, [1, 2, 3, 4]), (2, [1, 2, 3, 5]), (3, None)]
    dfo = spark.createDataFrame(ok, "doc_id long, fp array<bigint>")
    got = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in dedupx.banded_hamming_pairs_multi(
            dfo, fp_col="fp", words=4, bands=16, max_hamming=15,
        ).collect()
    )
    assert got == [(1, 2, 1)]


def test_cc_local_null_endpoint_raises_clearly(spark, monkeypatch):
    """r15 ADVICE: a user-supplied pairs frame with NULL endpoint ids
    used to surface as an opaque None-vs-value TypeError inside the
    driver union-find; it must raise a clear ValueError instead."""
    from dataproc_spark.extensions import dedup as dedupx

    pairs = spark.createDataFrame(
        [(1, 2), (None, 3)], "id_a long, id_b long"
    )
    with pytest.raises(ValueError, match="NULL edge endpoint"):
        dedupx.connected_components(pairs, id_a="id_a", id_b="id_b")
