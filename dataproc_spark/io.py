"""Sources and sinks: sharded parquet scans, positional score CSVs, and the
TREC run-file sink.

Parity: reference ``selectivesearch.py:76-119`` (loaders) and ``:193-202``
(``to_trec``), re-expressed on Spark's reader/writer API so predicate
pushdown and column pruning reach the parquet scans for free.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataproc_spark.core import IDX, cartesian, ensure_has_columns, read_indexed_csv

#: Column contract of per-shard result files — reference
#: ``selectivesearch.py:105-112``.
SHARD_RESULTS_SCHEMA = (
    "query int, rank int, ldocid long, gdocid long, "
    "score double, shard int, bucket int"
)


def load_shard_results(
    spark: SparkSession, basename: str, nshards: int, nbuckets: int = 1
) -> DataFrame:
    """Scan per-shard parquet files ``{basename}#{shard}.results-{nbuckets}``.

    Parity: reference ``selectivesearch.py:96-119`` (loop of
    ``pq.read_table`` + concat). Spark-first: one multi-path parquet scan —
    the union is implicit, splits parallelize across executors, and column
    pruning / predicate pushdown apply to every file. The shard id is a
    column *in* the data (reference schema contract), so no filename
    parsing is needed.
    """
    paths = [f"{basename}#{shard}.results-{nbuckets}" for shard in range(nshards)]
    return spark.read.schema(SHARD_RESULTS_SCHEMA).parquet(*paths)


def _load_selection(
    spark: SparkSession,
    shard_scores_path: str,
    names: list[str],
    ranges: list,
) -> DataFrame:
    from dataproc_spark.core import release_cache_on_gc, zip_by_position

    # materialize BEFORE anything iterates: cartesian consumes its
    # ranges, so a one-shot iterable (a generator of query ids) would
    # yield n_expected=0 below and a spurious shape-mismatch error on a
    # valid file (r8 review finding)
    ranges = [list(r) for r in ranges]
    base = cartesian(spark, ranges, names=names, with_index=True)
    # persist before the shape-guard count: without it the textFile →
    # parse lineage runs twice (once for the count, again for the join)
    # — the whole score file read and float-parsed twice per load (r7
    # review finding). Released when the result frame is dropped.
    scores = read_indexed_csv(
        spark, shard_scores_path, column="shard_score"
    ).persist()
    n_expected = 1
    for r in ranges:
        n_expected *= len(r)
    n_actual = scores.count()
    # Q4 fix (SURVEY.md §2.4): the reference silently mis-aligns when the
    # score file does not match the cartesian shape; we fail fast. A real
    # raise, not an assert — `python -O` strips asserts, and a stripped
    # guard here would reintroduce the silent misalignment it exists for.
    if n_actual != n_expected:
        scores.unpersist()
        raise ValueError(
            f"score file has {n_actual} rows, expected {n_expected} "
            f"(= {' × '.join(str(len(r)) for r in ranges)})"
        )
    df = zip_by_position(base, scores)
    # pandas rank(method='first') breaks ties by input order == cartesian
    # order == _idx asc; row_number over (score desc, _idx asc) is exact.
    w = Window.partitionBy("query").orderBy(F.col("shard_score").desc(), F.col(IDX).asc())
    out = df.withColumn("rank", (F.row_number().over(w) - 1).cast("int")).drop(IDX)
    # pin A/B, perfbench ss_sweep on/off (seeds 41, 42): wall 29.0/30.4
    # and 30.3/33.8 s, cpu 83/89 and 88/98 s
    return release_cache_on_gc(out, scores)


def load_shard_selection(
    spark: SparkSession, queries: Sequence, nshards: int, shard_scores_path: str
) -> DataFrame:
    """Cartesian (queries × shards) positionally zipped with a score CSV,
    plus the 0-based per-query rank by score descending.

    Parity: reference ``selectivesearch.py:76-83``; the positional
    ``axis=1`` concat becomes an explicit index join (SURVEY.md §2.2).
    """
    return _load_selection(
        spark, shard_scores_path,
        names=["query", "shard"], ranges=[queries, range(nshards)],
    )


def load_bucket_selection(
    spark: SparkSession,
    queries: Sequence,
    nshards: int,
    nbuckets: int,
    shard_scores_path: str,
) -> DataFrame:
    """3-way cartesian (queries × shards × buckets) variant of
    :func:`load_shard_selection`. Parity: ``selectivesearch.py:85-93``."""
    return _load_selection(
        spark, shard_scores_path,
        names=["query", "shard", "bucket"],
        ranges=[queries, range(nshards), range(nbuckets)],
    )


def write_shard_results(
    df: DataFrame, basename: str, nbuckets: int = 1
) -> list[str]:
    """Write per-shard result files in the reference's on-disk layout:
    one parquet file named ``{basename}#{shard}.results-{nbuckets}`` per
    shard value (the write-side counterpart of :func:`load_shard_results`).

    Implementation: one partitioned write (`partitionBy('shard')` — a
    single distributed job, no per-shard loop), then the driver renames
    each shard directory's single part file into the flat filename
    contract. Each shard's rows are coalesced into that shard's directory
    by the partitioned write; the rename loop touches only filenames.
    Returns the written paths.
    """
    ensure_has_columns(df, ["shard"])
    # fail fast on the contract the filename encoding cannot express: a
    # NULL shard would write a __HIVE_DEFAULT_PARTITION__ directory that
    # load_shard_results (which reads shard ids 0..n-1) can never find —
    # silent roundtrip data loss. The int cast keeps the written files
    # readable by the schema-enforcing load (a long 'shard' column from
    # a schemaless createDataFrame otherwise writes INT64 parquet that
    # the 'shard int' read crashes on, far from the writing bug).
    df = df.withColumn(
        "shard",
        F.when(F.col("shard").isNotNull(), F.col("shard").cast("int"))
        .otherwise(
            F.raise_error(
                F.lit("write_shard_results: NULL shard — every row needs "
                      "a shard id in [0, nshards)")
            )
        ),
    )
    tmp = tempfile.mkdtemp(prefix="shardw_", dir=os.path.dirname(basename) or ".")
    out_paths: list[str] = []
    try:
        # partition on a COPY of shard: partitionBy strips its column from
        # the data files, but the reference contract requires `shard` as a
        # data column inside each file
        (
            df.withColumn("_shard_part", F.col("shard"))
            .repartition("shard")
            .write.mode("overwrite")
            .partitionBy("_shard_part")
            .parquet(tmp)
        )
        for shard_dir in sorted(glob.glob(os.path.join(tmp, "_shard_part=*"))):
            shard = shard_dir.rsplit("=", 1)[1]
            parts = glob.glob(os.path.join(shard_dir, "part-*"))
            target = f"{basename}#{shard}.results-{nbuckets}"
            if len(parts) == 1:
                shutil.move(parts[0], target)
            else:
                # multiple part files for one shard (very large shards):
                # merge by reading back and writing a single file
                spark = df.sparkSession
                (
                    spark.read.parquet(shard_dir)
                    .coalesce(1)
                    .write.mode("overwrite")
                    .parquet(shard_dir + "_merged")
                )
                merged = glob.glob(os.path.join(shard_dir + "_merged", "part-*"))[0]
                shutil.move(merged, target)
            out_paths.append(target)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out_paths


def write_jsonl(df: DataFrame, path: str, compression: str | None = None) -> None:
    """Write a frame as JSON Lines — the interchange format of LLM
    training-data pipelines (one JSON object per line, splittable, no
    schema file needed). A plain distributed write: one part file per
    partition; pass ``compression='gzip'`` for archive shipping (gzip
    parts stay per-file splittable at the file level)."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_jsonl(spark, path: str, schema=None) -> DataFrame:
    """Read JSON Lines. ALWAYS pass a schema in production: schema
    inference is a full extra pass over the data at 100 TB, and inferred
    types drift with content (an all-int file infers long where the next
    delivery needs double). Returns columns in schema order."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def trec_frame(
    results: DataFrame,
    cutoff: int = 1000,
    tiebreak_cols: Sequence[str] = ("title",),
) -> DataFrame:
    """The TREC run table: per-query 0-based rank by score desc, capped at
    ``cutoff``, with the fixed ``iter``/``run_id`` literals.

    Parity: reference ``selectivesearch.py:193-201`` — pure (no caller
    mutation, quirk Q3), validates ``title`` up front (quirk Q5), and casts
    via Spark int instead of the removed ``np.int`` (quirk Q2). pandas
    ``method='first'`` tie-breaking is replaced by the explicit
    ``tiebreak_cols`` (default: title asc), documented in SURVEY.md §7.
    """
    ensure_has_columns(results, ["query", "score", "title"])
    w = Window.partitionBy("query").orderBy(
        F.col("score").desc(), *[F.col(c).asc() for c in tiebreak_cols]
    )
    return (
        results.withColumn("rank", (F.row_number().over(w) - 1).cast("int"))
        .where(F.col("rank") < cutoff)
        .select(
            "query",
            F.lit("Q0").alias("iter"),
            "title",
            "rank",
            "score",
            F.lit("null").alias("run_id"),
        )
    )


def to_trec(
    results: DataFrame,
    path: str,
    cutoff: int = 1000,
    tiebreak_cols: Sequence[str] = ("title",),
) -> None:
    """Write a ``trec_eval``-format run file: headerless TSV, columns
    ``query iter title rank score run_id``, globally sorted by (query, rank).

    Parity: reference ``selectivesearch.py:193-202``. ``trec_eval`` consumes
    a single ordered file, so the final pass is ``repartition(1)`` +
    ``sortWithinPartitions`` — the only intentionally single-task stage in
    the engine (the run file is per-query top-``cutoff``, inherently small);
    everything upstream (ranking, filtering) runs distributed.
    ``tiebreak_cols`` passes through to :func:`trec_frame` for runs whose
    duplicate scores need a different deterministic order.
    """
    frame = trec_frame(results, cutoff, tiebreak_cols=tiebreak_cols)
    tmp = tempfile.mkdtemp(prefix="trec_", dir=os.path.dirname(path) or ".")
    try:
        (
            frame.repartition(1)
            .sortWithinPartitions("query", "rank")
            .write.mode("overwrite")
            .option("sep", "\t")
            .option("header", False)
            .csv(tmp)
        )
        part = glob.glob(os.path.join(tmp, "part-*"))[0]
        shutil.move(part, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
