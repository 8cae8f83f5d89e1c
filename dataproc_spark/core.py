"""Core utilities: session factory, schema checks, cartesian products,
order-preserving positional zips.

Re-expresses `/root/reference/dataproc/data.py` (cartesian,
ensure_has_columns) Spark-first, plus the positional-zip machinery the
reference gets implicitly from pandas row order (SURVEY.md §1, §2.2
"positional zip").
"""

from __future__ import annotations

from functools import reduce
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Internal column used to carry a deterministic row position through
#: constructs that the reference keys by implicit pandas row order.
IDX = "_idx"

#: Cartesian products up to this many rows are materialized driver-side
#: (one createDataFrame) instead of via distributed crossJoins.
_DRIVER_SIDE_LIMIT = 1_000_000

#: a non-major range is force-pinned as a broadcast build only below this
#: row count; a larger secondary range would make the pin a mandatory
#: driver-collected broadcast (OOM risk), so above it Catalyst chooses
#: the strategy (r8 ADVICE finding)
_BROADCAST_RANGE_LIMIT = 100_000


def _spark_type(value) -> str:
    """Spark SQL type name for a Python scalar (shared by every cartesian
    construction path so schemas cannot diverge between them)."""
    if isinstance(value, bool):
        return "boolean"
    if isinstance(value, int):
        return "long"
    if isinstance(value, float):
        return "double"
    return "string"


def _range_type(values) -> str:
    """Spark SQL type for a cartesian range column, inferred from ALL
    values — not the first element, which silently stringified an
    int behind a leading None and crashed on ``[1, 2.5]`` where the
    pandas reference upcasts to float64 (r8 review finding). Nones are
    skipped (they stay NULL in any type); int+float merges to double;
    any other mix is refused loudly instead of corrupting values."""
    types = {_spark_type(v) for v in values if v is not None}
    if not types:
        return "long"  # all-None (or empty) range: any type holds NULLs
    if len(types) == 1:
        return types.pop()
    if types == {"long", "double"}:
        return "double"
    raise ValueError(
        f"cartesian range mixes incompatible types {sorted(types)}; "
        "cast the values to one type first"
    )


def _coerce_range(values: list, typ: str) -> list:
    """Coerce range values to the merged column type: createDataFrame's
    schema verification rejects a Python int in a double column, so the
    int+float upcast needs the ints floated driver-side."""
    if typ != "double":
        return values
    return [None if v is None else float(v) for v in values]


def normalize_event_ts(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Project an event-time column to the engine's contract: int64 epoch
    nanoseconds.

    The testdata has shipped ``events.ts`` under two physical parquet
    types: TIMESTAMP(NANOS) — which Spark surfaces as a plain long under
    ``spark.sql.legacy.parquet.nanosAsLong`` — and ``timestamp[us]``,
    which surfaces as TIMESTAMP_NTZ (or TIMESTAMP when isAdjustedToUTC).
    Every downstream operator does exact integer arithmetic on nanos
    (window ids, as-of tolerances, session gaps), so the conversion
    happens once here and nowhere else.

    The NTZ branch uses ``timestampdiff`` from the epoch literal, which is
    timezone-independent — a naive wall-clock is interpreted as UTC, the
    same convention DuckDB's ``epoch_ns`` uses — so results do not depend
    on ``spark.sql.session.timeZone`` of whichever session runs us.
    Works on streaming DataFrames too (pure projection).
    """
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    field = next((f for f in df.schema.fields if f.name == ts_col), None)
    if field is None or isinstance(field.dataType, LongType):
        return df
    if isinstance(field.dataType, TimestampNTZType):
        ns = F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            f" {ts_col}) * 1000"
        )
    elif isinstance(field.dataType, TimestampType):
        ns = F.unix_micros(F.col(ts_col)) * F.lit(1000)
    else:
        return df
    return df.withColumn(ts_col, ns.cast("long"))


def get_spark(
    app_name: str = "dataproc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Session factory with scale-appropriate defaults.

    AQE is enabled so shuffle partition counts and skew joins self-tune at
    cluster scale; ``spark.sql.shuffle.partitions`` defaults to 32 (or
    ``shuffle_partitions``), and AQE coalesces the small ones at run time.
    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``, else
    ``local[*]``. Session timezone is UTC so timestamp formatting is
    deterministic across environments.
    """
    import os

    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = builder.master(master)
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or 32),
        # events.parquet uses parquet TIMESTAMP(NANOS); Spark reads it as a
        # long (nanoseconds) under this flag — we do epoch arithmetic on it.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.driver.memory": "8g",
    }
    conf.update(extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


#: Ceiling (bytes, Catalyst estimate) for *forcing* a broadcast hint.
#: Below it we assert broadcastability (selection frames are queries ×
#: shards — tiny relative to results, but often invisible to the 10 MB
#: autoBroadcastJoinThreshold because aggregate estimates inherit their
#: scan's size). Above it the hint is dropped and AQE's runtime statistics
#: decide — a forced broadcast of a multi-GB frame would OOM the driver.
BROADCAST_HINT_BUDGET_BYTES = 256 * 1024 * 1024


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's plan-time ``sizeInBytes`` estimate, or ``None`` when the
    plan carries no statistics.

    The single home for the private-API plumbing (``_jdf.queryExecution``)
    and the unknown-stats sentinel test (stat-less plans report
    ~Long.MaxValue) — callers decide their own policy for ``None``
    (:func:`maybe_broadcast` keeps the hint because driver-local relations
    are driver-bounded by construction; ``simsearch.choose_strategy`` runs
    a bounded count probe), but the probe itself lives once.
    """
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return None if size >= (1 << 60) else size


#: multipliers for Spark's byte-size conf suffixes (JavaUtils.byteStringAs)
_BYTE_SUFFIXES = {
    "": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20,
    "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40, "tb": 1 << 40,
    # JavaUtils.byteStringAs accepts petabytes too — omitting them made a
    # legal session conf crash spread_narrow (r8 review finding)
    "p": 1 << 50, "pb": 1 << 50,
}


def _parse_byte_conf(value: str) -> int:
    """Parse a Spark byte-size conf string ('134217728', '64MB', '128m',
    '1g', ...) — Spark accepts any of these for
    spark.sql.files.maxPartitionBytes, so a plain int() (or rstrip('b'))
    would crash on legal session configs."""
    s = str(value).strip().lower()
    i = len(s)
    while i > 0 and not s[i - 1].isdigit():
        i -= 1
    num, suffix = s[:i], s[i:]
    mult = _BYTE_SUFFIXES.get(suffix)
    if not num or mult is None:
        raise ValueError(f"unparseable byte-size conf value: {value!r}")
    return int(num) * mult


def spread_narrow(
    df: DataFrame, *cols: str, target_bytes: int | None = None
) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism`` (optionally by
    ``cols``) only when the input is actually narrow — small corpora
    often arrive as a single parquet split, which would serialize a
    CPU-bound downstream stage (shingling, hashing, scoring) on one
    task, while unconditionally repartitioning a well-partitioned large
    corpus would add a full shuffle for nothing.

    ``target_bytes`` (r15 opt round 2) sizes the spread by DATA instead
    of by core count, for consumers whose per-byte CPU is small (numpy
    matmul kernels): partitions = clamp(scan_bytes / target_bytes, 1,
    defaultParallelism). A 1 MB corpus then spreads to 1-2 partitions
    (each Arrow stage pays 1-2 worker round trips instead of 32 —
    measured 0.48 s → 0.22 s per k-means round at the sf0.1 gate)
    while a 100× corpus still reaches full parallelism. Scale-adaptive
    by construction — the knob is bytes/task, not a core count. Leave
    it None for kernels whose CPU per input byte is large (per-row
    parsing/synthesis: shingling, image decode), where full-core
    parallelism is the point and the idle-task overhead is noise.

    Narrowness probe, all plan-time and public-API for file-backed
    frames (no RDD conversion): estimated scan splits =
    ``max(file count, scan bytes / maxPartitionBytes)`` — few SMALL
    files is the narrow case worth respreading, while few LARGE files
    already split by byte range. Frames with no input files split by
    PLAN SHAPE: driver-literal ``LocalRelation`` inputs are narrow by
    construction (a handful of slices); anything else (shuffle-fed
    derived frames, RDD-backed sources) is left untouched — derived
    frames already carry their upstream shuffle's parallelism, and the
    old ``df.rdd.getNumPartitions()`` probe FINALIZED the AQE plan,
    executing every upstream stage just to count partitions (r7 review
    finding, confirmed: the probe launched a real job whose results the
    subsequent action did not reuse).
    """
    spark = df.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:  # pragma: no cover - defensive
        files = []
    if files:
        max_split = _parse_byte_conf(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
        size = plan_size_bytes(df)
        splits = max(len(files), (size or 0) // max_split)
        narrow = splits < parallelism
        # byte-sizing needs a real size estimate: a stat-less plan
        # coerced to 0 bytes would silently serialize the whole frame
        # into ONE partition — fall back to the full-parallelism spread
        # instead (ADVICE r15 finding)
        if narrow and target_bytes and size is not None:
            n = min(parallelism, max(1, -(-size // target_bytes)))
            return df.repartition(n, *cols)
    else:
        import re as _re

        plan = df._jdf.queryExecution().optimizedPlan().toString()
        # narrow only when EVERY leaf is a LocalRelation: a substring
        # test classified any big RDD-backed frame joined to a literal
        # frame as narrow (the literal side contributes 'LocalRelation'
        # somewhere in the plan) and force-repartitioned it down to the
        # driver's core count (r8 follow-up review finding)
        other_leaf = _re.search(
            r"LogicalRDD|ExternalRDD|(?<!Local)Relation ?\[|Range \(", plan
        )
        narrow = "LocalRelation" in plan and not other_leaf
    return df.repartition(parallelism, *cols) if narrow else df


def maybe_broadcast(
    df: DataFrame, limit_bytes: int = BROADCAST_HINT_BUDGET_BYTES
) -> DataFrame:
    """Broadcast hint gated on Catalyst's own size estimate.

    Uses the optimizer's ``sizeInBytes`` statistic (plan-time, free — the
    same probe as ``simsearch.choose_strategy``): frames estimated under
    ``limit_bytes`` get an explicit ``broadcast()`` hint, larger ones (and
    frames with the unknown-stats sentinel) are returned unhinted so AQE
    picks the join strategy from *runtime* sizes. This keeps the intent of
    the reference workload (selection ≪ results → broadcast semi-join)
    without force-broadcasting past Catalyst's judgment when a caller
    scales the selection side 100×.

    Frames reporting the unknown-stats sentinel (~Long.MaxValue) get NO
    hint. The sentinel covers both driver-literal ``createDataFrame``
    frames AND RDD-backed sources like ``read_indexed_csv``'s textFile
    selection — and in Spark 4 both plan as ``LogicalRDD``, so they are
    indistinguishable at plan time. Only the RDD-backed kind is
    unbounded, but force-broadcasting a multi-GB score file past
    Catalyst's judgment is exactly the hazard this gate exists to
    prevent (r7 review finding), while the cost of NOT hinting a truly
    tiny literal frame is nil: AQE sees its runtime size and broadcasts
    it anyway.
    """
    size = plan_size_bytes(df)
    if size is not None and size <= limit_bytes:
        return F.broadcast(df)
    return df


def cache_store(spark: SparkSession) -> tuple:
    """The application's cache store: ``(lock, entries)``, held on its
    SparkContext, so a stopped application's entries die with its
    context. ``entries`` maps a pinned plan's ``semanticHash()`` to its
    live pin count (:func:`release_cache_on_gc`) and a memoized scan
    plan's text to its persisted frame. The lock is re-entrant because a
    pin's finalizer can fire on the thread that holds it, during GC."""
    import threading

    return vars(spark.sparkContext).setdefault(
        "_dataproc_cache", (threading.RLock(), {})
    )


def release_cache_on_gc(result: DataFrame, cached: DataFrame) -> DataFrame:
    """Unpersist ``cached`` once ``result``, and every other live result
    pinning the same plan, has been garbage-collected.

    For operators that persist an intermediate their LAZY result reads
    more than once: they cannot unpersist before the caller's action,
    and never unpersisting leaks the cache for the application's life.

    The pin lives exactly as long as the returned handle. A caller that
    derives a frame and drops the handle releases the cache before its
    action runs; the derived frame still computes correctly, it only
    recomputes the cached subtree (:func:`pin_lineage` keeps it).

    Pins are counted per ``semanticHash()`` in :func:`cache_store`:
    ``unpersist()`` drops the cache entry by plan equality, and two
    constructions of one plan share that entry, so only the last dying
    pin may release it.
    """
    import weakref

    lock, entries = cache_store(result.sparkSession)
    key = cached.semanticHash()
    with lock:
        entries[key] = entries.get(key, 0) + 1

    def _release():
        with lock:
            n = entries.get(key, 0) - 1
            if n > 0:
                entries[key] = n
                return
            entries.pop(key, None)
        # outside the lock: a JVM round trip other pins must not wait on
        try:
            cached.unpersist()
        except Exception:
            pass  # application already stopped

    weakref.finalize(result, _release)
    return result


def pin_lineage(child: DataFrame, *parents: DataFrame) -> DataFrame:
    """Keep ``parents`` alive for the life of ``child``.

    For a gate that derives ``child`` from an operator result carrying a
    :func:`release_cache_on_gc` pin and returns only ``child``: the pin
    would otherwise die with the dropped handle, before the caller's
    action, and the action would recompute the cached subtree once per
    plan branch. Correctness-neutral either way."""
    existing = getattr(child, "_dataproc_pins", ())
    child._dataproc_pins = tuple(existing) + tuple(parents)
    return child


def ensure_has_columns(df: DataFrame, columns: Iterable[str]) -> None:
    """Check that ``df`` contains every column in ``columns``.

    Parity: reference ``data.py:23-27`` — with one documented divergence
    (same class as ``decayed_buckets``): the reference uses a bare
    ``assert``, which ``python -O`` strips, silently disabling every
    schema guard built on this helper (trec title validation, the
    evaluate gates). A real ValueError survives -O; message text kept.
    """
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise ValueError(f"Column {missing[0]} missing in data frame")


def ensure_no_columns(df: DataFrame, columns: Iterable[str],
                      operator: str) -> None:
    """Raise a clear ValueError if ``df`` already carries any of the
    columns ``operator`` is about to add — the shared clobber guard
    (the same ~6-line loop had grown five private copies; r12 review).
    The comparison is CASE-INSENSITIVE: Spark resolves column names
    case-insensitively by default, so an existing ``HREF`` collides
    with a new ``href`` just as fatally (AMBIGUOUS_REFERENCE) as an
    exact-case match — an exact-case guard waved it through (r12
    review finding)."""
    have = {c.lower() for c in df.columns}
    for clash in columns:
        if clash.lower() in have:
            raise ValueError(
                f"{operator} would clobber existing column {clash!r}; "
                "drop or rename it first"
            )


def local_frame(
    spark: SparkSession, rows: Sequence, schema, slices: int = 1
) -> DataFrame:
    """Driver-literal frame in ``slices`` pickled partitions (default 1).

    ``createDataFrame(list, schema)`` parallelizes local data into
    ``defaultParallelism`` pickled partitions, and EVERY downstream
    action pays one Python-worker round trip PER partition — ~140 ms
    × 32 for a one-row meta frame, and catastrophically worse under a
    ``coalesce(1)`` sink, where the single task drains all 32 python
    partitions SEQUENTIALLY (r15 opt, measured: a 1-row meta parquet
    write cost 4.3-6.0 s vs 0.27 s through this helper; guide §4 — the
    Python boundary is paid per partition, so a driver-small literal
    should cross it once)."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(list(rows), max(1, int(slices))),
        schema=schema,
    )


def _one_range(spark: SparkSession, name: str, values: Sequence) -> DataFrame:
    """A single-column frame carrying an explicit position column.

    The position column materializes the input iterable's order — the thing
    pandas keeps implicitly and Spark does not (SURVEY.md §1).
    """
    values = list(values)
    typ = _range_type(values)
    rows = [(i, v) for i, v in enumerate(_coerce_range(values, typ))]
    # single partition: a multi-slice frame would multiply partition
    # counts through crossJoin — 3 ranges × 32 slices would give
    # 32³ = 32768 tasks (and local_frame's one-slice layout also keeps
    # every action to ONE python-worker round trip).
    return local_frame(spark, rows, f"{IDX} long, `{name}` {typ}")


def cartesian(
    spark: SparkSession,
    ranges: Sequence[Sequence],
    names: Sequence[str] | None = None,
    with_index: bool = False,
) -> DataFrame:
    """Cartesian product of ``ranges`` as an N-column DataFrame.

    Parity: reference ``data.py:7-21`` (recursive pandas concat). Spark-first
    re-expression: a chain of ``crossJoin`` over tiny single-column frames —
    Catalyst broadcasts the small sides, so this never shuffles.

    When ``with_index=True`` the result carries ``_idx``, the row position the
    pandas version would have produced (first range major, last range minor).
    That index is what makes the reference's *positional* CSV zip
    (``selectivesearch.py:80``) expressible on an unordered engine: both sides
    get an explicit index and are equi-joined on it (see
    :func:`zip_by_position`).
    """
    ranges = [
        _coerce_range(values, _range_type(values))
        for values in (list(r) for r in ranges)
    ]
    if names is None:
        names = [str(i) for i in range(len(ranges))]
    if not ranges:
        # honor the with_index contract even for zero ranges: callers
        # chaining into zip_by_position need _idx present (r8 review
        # finding — the bare empty schema broke it)
        out = spark.createDataFrame([], schema=f"{IDX} long")
        return out if with_index else out.drop(IDX)
    sizes = [len(r) for r in ranges]
    total = 1
    for s in sizes:
        total *= s
    if total == 0:
        # any empty range → empty product (the pandas reference returns an
        # empty frame too); infer each column's type from its range when
        # non-empty, defaulting to long
        schema = ", ".join(
            [f"{IDX} long"]
            + [f"`{n}` {_range_type(r)}" for n, r in zip(names, ranges)]
        )
        out = spark.createDataFrame([], schema=schema)
        if not with_index:
            out = out.drop(IDX)
        return out
    if total <= _DRIVER_SIDE_LIMIT:
        # small products: materialize driver-side in one createDataFrame —
        # one job instead of N parallelize stages + N-1 cross joins
        import itertools

        rows = [
            (i, *combo) for i, combo in enumerate(itertools.product(*ranges))
        ]
        schema = ", ".join(
            [f"{IDX} long"]
            + [f"`{n}` {_range_type(r)}" for n, r in zip(names, ranges)]
        )
        # one pickled slice (local_frame): the old 32-slice
        # createDataFrame + coalesce(1) drained 32 sequential python
        # partitions per action (r15 opt)
        out = local_frame(spark, rows, schema)
    else:
        # large products stay distributed: chain of crossJoins over
        # single-column frames with the RIGHT sides pinned as broadcast
        # builds, so the first (major) range stays the stream side and
        # its partitioning carries through to the product
        dfs = [
            _one_range(spark, name, values).withColumnRenamed(IDX, f"{IDX}_{i}")
            for i, (name, values) in enumerate(zip(names, ranges))
        ]
        # re-slice the stream side: every _one_range is coalesce(1) to
        # stop partition-count multiplication, but that made the WHOLE
        # product materialize in a single task (r8 review finding — the
        # 'splits parallelize' claim was false). Partitioning only the
        # major range bounds tasks at min(len, parallelism) × 1 × 1.
        dfs[0] = dfs[0].repartition(
            min(sizes[0], spark.sparkContext.defaultParallelism)
        )
        # pin the build side as broadcast only when it is provably small;
        # a genuinely large secondary range must not become a mandatory
        # driver-collected broadcast (r8 ADVICE) — Catalyst decides there
        dfs = [dfs[0]] + [
            F.broadcast(d) if n <= _BROADCAST_RANGE_LIMIT else d
            for d, n in zip(dfs[1:], sizes[1:])
        ]
        out = reduce(lambda a, b: a.crossJoin(b), dfs)
        # _idx = ((pos0 * n1 + pos1) * n2 + pos2) ... : query-major row order
        idx = F.col(f"{IDX}_0")
        for i in range(1, len(ranges)):
            idx = idx * sizes[i] + F.col(f"{IDX}_{i}")
        out = out.withColumn(IDX, idx.cast("long"))
        out = out.drop(*[f"{IDX}_{i}" for i in range(len(ranges))])
    if not with_index:
        out = out.drop(IDX)
    return out.select(*([IDX] if with_index else []), *names)


def zip_by_position(left: DataFrame, right: DataFrame) -> DataFrame:
    """Column-bind two frames by row position (both must carry ``_idx``).

    Replaces the reference's ``pd.concat([df, sel], axis=1)``
    (``selectivesearch.py:80,90``) — an implicit positional alignment that
    has no meaning on an unordered engine. Here both sides carry an explicit
    ``_idx`` and we equi-join on it; fixes reference quirk Q4 by asserting
    equal cardinality at call sites that read external files.
    """
    ensure_has_columns(left, [IDX])
    ensure_has_columns(right, [IDX])
    return left.join(right, IDX, "inner")


def read_indexed_csv(
    spark: SparkSession,
    path: str,
    column: str = "shard_score",
    dtype: str = "double",
) -> DataFrame:
    """Read a headerless single-column CSV preserving file row order.

    The reference relies on ``pd.read_csv`` keeping file order
    (``selectivesearch.py:79``). Spark DataFrames have no row order, so we
    attach ``_idx`` via ``zipWithIndex`` — the one place an RDD is justified,
    because *the file format itself* is positional. ``textFile`` partitions
    are ordered by byte offset, so the zipped index equals the file line
    number even when the read is split across many tasks (scales to large
    score files; typical selection files are queries × shards rows).

    Blank lines are skipped BEFORE indexing, matching the reference's
    ``pd.read_csv`` (``skip_blank_lines=True``): a trailing double
    newline or interior blank previously crashed the whole load with an
    opaque ``float('')`` executor error, where the reference pipeline
    accepted the file (r7 review finding). Skipping pre-index keeps the
    positional contract — a blank line consumes no index either here or
    in pandas.
    """
    lines = spark.sparkContext.textFile(path).filter(
        lambda l: l.strip() != ""
    )
    rdd = lines.zipWithIndex()
    cast = float if dtype in ("double", "float") else int
    rows = rdd.map(lambda t: (t[1], cast(t[0].strip())))
    return spark.createDataFrame(rows, schema=f"{IDX} long, `{column}` {dtype}")
