"""Scale probes for the headline selective core + minhash (SCALE.md §r8).

One experiment per invocation (own process, untimed warm-up pass, same
knobs as the other probes: local[32], shuffle 64, AQE + skew on), with
CONSUMING checksum aggregates — not the bench's count() forcing — so
map-side expression work is actually measured.

Usage: python tools/bench_r8_core.py EXPERIMENT [SRC]
    select_top_t     — registry flagship at SRC (default sf0.1)
    evaluate_sweep   — registry sweep at SRC
    dedup_minhash    — EXACT-FIRST pipeline (the production ordering:
                       exact_dedup representatives -> banded minhash);
                       raw minhash on the replicated corpora is the
                       measured r6 cliff, not a regression target
    decontaminate_spans — span-level decontamination (gram explode +
                       distinct eval-gram join + Arrow rebuild)
    html_extract     — map-only WET extraction regex chain
    audio_decode     — WAV synthesize + chunk-walk decode (two Arrow stages)
    unicode_normalize — NFC canonicalization (Arrow pandas-UDF kernel)
    embed_lsh:P:B    — rp_lsh_near_dup with P planes and B band bits, e.g.
                       embed_lsh:16:4 (gate params) or
                       embed_lsh:128:16 (production banding)
    url_dedup        — canonicalize + keep-one-per-URL window (r9 probe)
    domain_mixture   — per-domain aggregate + broadcast denominator (r9)
    registered_domain_psl — PSL broadcast-join rollup, map-only (r9)
    html_boilerplate — block-density extraction, one HOF projection (r9)
    lang_mixture     — trigram language-ID + mixture aggregate (r9)
    multimodal_jpeg  — JPEG encode+decode Arrow kernels (r9)
    ann_ivf_index    — persisted IVF: one build + two probes (r9)
    warc_roundtrip   — WARC sink + re-ingest identity pass (r9)
Run each at /root/testdata/sf0.1, /tmp/scale10, /tmp/scale100 for the
1x/10x/100x exponent rows.
"""

from __future__ import annotations

import json
import sys
import time

import os as _os

ROOT = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools.bench_salting import get_session  # noqa: E402


def run(experiment: str, src: str | None) -> None:
    from pyspark.sql import functions as F

    spark = get_session()
    spark.sparkContext.setLogLevel("ERROR")
    src = src or "/root/testdata/sf0.1"

    if experiment == "select_top_t":
        from dataproc_spark.queries import REGISTRY

        fn = REGISTRY["select_top_t"][0]

        def job():
            out = fn(spark, src)
            row = out.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.hash(*out.columns)).alias("chk"),
            ).first()
            return row["n"]

    elif experiment == "evaluate_sweep":
        from dataproc_spark.queries import REGISTRY

        fn = REGISTRY["evaluate_sweep"][0]

        def job():
            out = fn(spark, src)
            row = out.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.hash(*out.columns)).alias("chk"),
            ).first()
            return row["n"]

    elif experiment == "decontaminate_spans":
        from dataproc_spark.extensions import corpus

        docs = spark.read.parquet(f"{src}/documents.parquet")

        def job():
            evalset = docs.where(F.col("doc_id") % 100 == 0)
            train = docs.where(F.col("doc_id") % 100 != 0)
            out = corpus.remove_contaminated_spans(train, evalset, n=3)
            row = out.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("n_removed").alias("cut"),
                F.sum(F.length("text_clean")).alias("chk"),
            ).first()
            return row["n"]

    elif experiment == "html_extract":
        from dataproc_spark.queries import REGISTRY

        fn = REGISTRY["html_extract"][0]

        def job():
            out = fn(spark, src)
            row = out.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("n_chars_plain").alias("chk"),
            ).first()
            return row["n"]

    elif experiment == "audio_decode":
        from dataproc_spark.queries import REGISTRY

        fn = REGISTRY["audio_decode"][0]

        def job():
            out = fn(spark, src)
            row = out.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("energy").alias("chk"),
            ).first()
            return row["n"]

    elif experiment == "unicode_normalize":
        from dataproc_spark.queries import REGISTRY

        fn = REGISTRY["unicode_normalize"][0]

        def job():
            out = fn(spark, src)
            row = out.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("n_cp_after").alias("chk"),
                F.sum("changed").alias("chg"),
            ).first()
            return row["n"]

    elif experiment.startswith("embed_lsh:"):
        from dataproc_spark.extensions import simsearch

        _, p, b = experiment.split(":")

        def job():
            emb = spark.read.parquet(f"{src}/embeddings.parquet")
            out = simsearch.rp_lsh_near_dup(
                emb,
                threshold_dot_q=300_000,
                dim=64,
                n_planes=int(p),
                band_bits=int(b),
            )
            row = out.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("dot_q").alias("chk"),
            ).first()
            return row["n"]

    elif experiment == "url_dedup":
        from dataproc_spark.queries import REGISTRY

        fn = REGISTRY["url_dedup"][0]

        def job():
            out = fn(spark, src)
            row = out.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.length("canonical_url")).alias("chk"),
            ).first()
            return row["n"]

    elif experiment == "domain_mixture":
        from dataproc_spark.queries import REGISTRY

        fn = REGISTRY["domain_mixture"][0]

        def job():
            out = fn(spark, src)
            row = out.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("share_bps").alias("chk"),
                F.sum("weight").alias("w"),
            ).first()
            return row["n"]

    elif experiment == "registered_domain_psl":
        from dataproc_spark.queries import REGISTRY

        fn = REGISTRY["registered_domain_psl"][0]

        def job():
            out = fn(spark, src)
            row = out.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.length("domain")).alias("chk"),
            ).first()
            return row["n"]

    elif experiment == "html_boilerplate":
        from dataproc_spark.queries import REGISTRY

        fn = REGISTRY["html_boilerplate"][0]

        def job():
            out = fn(spark, src)
            row = out.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("n_chars_main").alias("chk"),
            ).first()
            return row["n"]

    elif experiment == "lang_mixture":
        from dataproc_spark.queries import REGISTRY

        fn = REGISTRY["lang_mixture"][0]

        def job():
            out = fn(spark, src)
            row = out.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("share_bps").alias("chk"),
            ).first()
            return row["n"]

    elif experiment.startswith("ann_ivf_index:kmeans:"):
        # the cure arm: cells must grow with the corpus (candidates per
        # query ∝ n/cells) — KMeans quantizer with an explicit cell count
        import shutil
        import tempfile

        from dataproc_spark.extensions import simsearch

        n_cells = int(experiment.rsplit(":", 1)[1])
        emb = spark.read.parquet(f"{src}/embeddings.parquet")

        def job():
            out_dir = tempfile.mkdtemp(prefix="ivfprobe_")
            try:
                simsearch.write_ivf_index(emb, out_dir, cells=n_cells)
                total = 0
                for mod in (100, 97):
                    q = emb.where(F.col("vec_id") % mod == 0)
                    res = simsearch.ivf_index_topk(
                        spark, out_dir, q, k=5, n_probe=2
                    )
                    total += res.agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum("dot_q").alias("chk"),
                    ).first()["n"]
                return total
            finally:
                shutil.rmtree(out_dir, ignore_errors=True)

    elif experiment == "ann_ivf_index":
        # build-once / probe-twice: the persisted-index contract. The
        # timed job covers ONE build + TWO probe passes so the number
        # reflects both halves; the roundtrip gate at sf0.01 covers
        # correctness.
        import shutil
        import tempfile

        from dataproc_spark.extensions import simsearch

        emb = spark.read.parquet(f"{src}/embeddings.parquet")

        def job():
            out_dir = tempfile.mkdtemp(prefix="ivfprobe_")
            try:
                simsearch.write_ivf_index(emb, out_dir, cell_col="label")
                total = 0
                for mod in (100, 97):
                    q = emb.where(F.col("vec_id") % mod == 0)
                    res = simsearch.ivf_index_topk(
                        spark, out_dir, q, k=5, n_probe=2
                    )
                    total += res.agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum("dot_q").alias("chk"),
                    ).first()["n"]
                return total
            finally:
                shutil.rmtree(out_dir, ignore_errors=True)

    elif experiment == "warc_roundtrip":
        from dataproc_spark.queries import REGISTRY

        fn = REGISTRY["warc_roundtrip"][0]

        def job():
            out = fn(spark, src)
            row = out.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("n_payload_bytes").alias("chk"),
            ).first()
            return row["n"]

    elif experiment == "multimodal_jpeg":
        from dataproc_spark.queries import REGISTRY

        fn = REGISTRY["multimodal_jpeg"][0]

        def job():
            out = fn(spark, src)
            row = out.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("pixel_sum").alias("chk"),
            ).first()
            return row["n"]

    elif experiment == "dedup_minhash":
        from dataproc_spark.extensions.dedup import (
            exact_dedup,
            minhash_dedup_pairs,
        )

        docs = spark.read.parquet(f"{src}/documents.parquet")

        def job():
            # exact_dedup returns (winner doc_id, n_copies); semi-join
            # pulls the winners' full rows for the near-dup pass
            reps = docs.join(
                exact_dedup(docs).select("doc_id"), "doc_id", "left_semi"
            )
            return minhash_dedup_pairs(reps).count()

    else:
        raise SystemExit(f"unknown experiment {experiment!r}")

    job()  # warm-up: classes, codegen, scan caches
    t0 = time.time()
    n = job()
    dt = time.time() - t0
    print(json.dumps({
        "experiment": experiment, "src": src, "rows": n,
        "sec": round(dt, 2),
    }))
    spark.stop()


if __name__ == "__main__":
    run(sys.argv[1], sys.argv[2] if len(sys.argv) > 2 else None)
