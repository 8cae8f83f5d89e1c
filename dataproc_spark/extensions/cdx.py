"""CDX capture-index generation with SURT keys — the lookup sidecar a
web archive ships next to its WARC shards (Common Crawl's ``cc-index``,
the Internet Archive's CDX servers). A CDX row answers "which capture
holds URL X?" without touching the archive bytes: the canonical
sort-friendly key, the capture timestamp, and enough response metadata
(mime/status/digest/length/filename) to pick a capture before any
shard is opened.

Reference parity: the reference engine (a ~250-line pandas selective-
search library, ``/root/reference/dataproc/selectivesearch.py``) has no
web-archive surface at all — this module is part of the extension
brief's crawl-pipeline realism ring, built from public formats only:
SURT (the Internet Archive's Sort-friendly URI Reordering Transform,
as documented for the ``surt`` library and the CDX file format spec)
and the CDX(J) field list.

Scale design: both operators are MAP-ONLY column expressions over the
:func:`~dataproc_spark.extensions.warc.read_warc` frame — no shuffle,
no UDF, whole-stage codegen end to end. The index of a 100 TB archive
is a projection of the archive scan; sorting it by key (the "sorted
CDX" deliverable, which makes range-scans work) is ONE global sort of
the tiny index rows — never of the archive — and is left to the
caller's writer (``.sortWithinPartitions``/``repartitionByRange`` on
``urlkey``) so the operator itself stays shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "surt_key", "cdx_index", "cdx_closest", "write_sorted_cdx",
    "revisit_schedule", "recrawl_due", "write_zipnum_index",
    "load_cdx_pruned", "ZIPNUM_DIR",
]


def surt_key(url_col: str | Column = "url") -> Column:
    """The SURT (Sort-friendly URI Reordering Transform) key of a URL:
    ``https://www.Example.co.uk/A/b?b=2&a=1#frag`` →
    ``uk,co,example)/a/b?a=1&b=2``.

    The deterministic canonicalization core, matching the published
    SURT/CDX conventions: the WHOLE url is lowercased (archive
    canonicalizers fold case everywhere, trading path case-sensitivity
    for dedup power — documented CDX behavior); the scheme is dropped;
    one leading ``www.`` label is dropped; host labels are reversed and
    comma-joined so co-domain captures sort adjacently; ``)`` separates
    host from path; an empty path becomes ``/``; query parameters are
    ``&``-split and SORTED (param order never changes page identity in
    the CDX model); the fragment is dropped; an empty query drops its
    ``?``. Port, userinfo, and per-site param-stripping rules are
    deliberately out of scope (they are deployment config, same plan
    shape — see ``web.canonical_url`` for the tracking-param family).

    Pure built-in Column expression — map-only, codegen-friendly, and
    engine-portable (the DuckDB oracle replays it with
    ``string_split``/``list_reverse``/``list_sort``).
    """
    u = F.lower(F.col(url_col) if isinstance(url_col, str) else url_col)
    # fragment FIRST: a '?' that only appears inside the fragment
    # ('/x#sec?b=1') must not leak a phantom query into the key — the
    # unanchored query extract read it (r12 review finding, reproduced)
    u = F.regexp_replace(u, "#.*$", "")
    host = F.regexp_extract(u, r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)
    # absolute-form FQDN: strip ONE trailing root dot before reversal,
    # else 'example.com.' reverses to a leading-comma key that sorts
    # away from 'example.com' captures (r12 review finding; published
    # SURT canonicalization strips it too)
    host = F.regexp_replace(host, r"\.$", "")
    host = F.regexp_replace(host, r"^www\.", "")
    revhost = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    path = F.regexp_extract(u, r"^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(u, r"\?(.*)$", 1)
    sorted_q = F.array_join(F.array_sort(F.split(query, "&")), "&")
    return F.concat(
        revhost,
        F.lit(")"),
        path,
        F.when(sorted_q == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), sorted_q)
        ),
    )


def cdx_index(
    records: DataFrame,
    url_col: str = "target_uri",
) -> DataFrame:
    """Build the CDX capture index of a :func:`...warc.read_warc`
    frame: one row per capture with the canonical CDX(J) field set —

    - ``urlkey`` — :func:`surt_key` of the capture URL;
    - ``ts`` — the 14-digit ``yyyymmddhhmmss`` timestamp (digits of
      ``warc_date``, which ISO 28500 fixes as UTC ``...T..Z``);
    - ``url`` — the original (un-canonicalized) capture URL;
    - ``mime`` — the HTTP ``Content-Type``'s media type (parameters
      stripped, lowercased); NULL when the record carried no envelope
      OR an empty/parameter-only Content-Type value (never ``''``);
    - ``status`` — the HTTP status;
    - ``digest`` — lowercase hex SHA-256 of the response BODY (the
      content-addressed identity ``resolve_revisits`` joins on; the
      classic CDX sha1-base32 is a format detail, not a semantic one,
      and sha256 is the stronger content address — documented
      divergence);
    - ``length`` — the body's octet length;
    - ``filename`` — the shard file holding the capture (basename of
      the ``shard`` column).

    In-shard byte offsets are deliberately NOT emitted here: record-
    per-gzip-member shards are seekable only by member boundary, and
    the ``binaryFile``-sourced reader does not track compressed
    offsets. The SINK knows them — ``write_warc_shards(
    offsets_sidecar=True)`` (r14) emits the per-record byte-range
    index (``read_warc_offsets``), which joins to this CDX frame on
    ``(filename, record_id)`` for range-fetch consumers. Everything here is a map-only
    projection of the reader frame; see the module docstring for the
    sorted-CDX write path.
    """
    mime = F.lower(
        F.trim(F.regexp_extract(F.col("http_content_type"), r"^([^;]*)", 1))
    )
    # '' → NULL: an empty or parameter-only Content-Type value must
    # honor the documented "NULL when untyped" contract, not mint a
    # phantom '' mime class (r12 review finding — the earlier
    # isNull-wrapper was dead code: NULL already propagates through
    # the string functions)
    mime = F.when(mime == "", F.lit(None)).otherwise(mime)
    return records.select(
        surt_key(url_col).alias("urlkey"),
        # first 14 digits ONLY: a WARC 1.1 date may carry fractional
        # seconds ('…00.123Z'), and bare digit-stripping produced a
        # 17-digit ts that breaks fixed-width CDX consumers and range
        # scans (r12 review finding)
        F.substring(
            F.regexp_replace(F.col("warc_date"), r"[^0-9]", ""), 1, 14
        ).alias("ts"),
        F.col(url_col).alias("url"),
        mime.alias("mime"),
        F.col("http_status").alias("status"),
        F.lower(F.sha2(F.col("body"), 256)).alias("digest"),
        F.octet_length(F.col("body")).cast("long").alias("length"),
        F.regexp_extract(F.col("shard"), r"([^/]+)$", 1).alias("filename"),
    )


def cdx_closest(
    index: DataFrame,
    probes: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    mode: str = "closest",
    broadcast_probes: bool = True,
) -> DataFrame:
    """Look up the capture closest to a timestamp — the standard CDX
    query ("which capture of URL X is nearest time T?") that
    :func:`cdx_index` exists to answer, and the operator the r12
    verdict flagged as the missing consumer. One output row per probe
    row:

    - the probe's own columns, passed through;
    - ``urlkey`` — the probe URL's :func:`surt_key` (so the caller
      sees what was matched on);
    - ``cdx_ts`` / ``cdx_url`` plus every other index column
      (``mime``/``status``/``digest``/``length``/...) of the winning
      capture — all NULL when no capture qualifies (URL never
      archived, or ``mode='before'`` with nothing at/earlier).

    ``mode='closest'`` minimizes the |capture_ts − probe_ts| distance
    over the 14-digit integers (tie → the EARLIER capture);
    ``mode='before'`` returns the latest capture with ``ts <=`` the
    probe ts (the wayback-style "as of T" query). Digit-space
    distance is monotone with time at equal scale but is NOT
    calendar-exact across month/day boundaries (20250131→20250201
    "costs" 70); a deployment wanting calendar distance converts both
    sides to epoch seconds first — same plan, one extra
    to_timestamp. PREFIX probe timestamps (``'2026'``,
    ``'202603'``, …, any even length 4–12 — the CDX-server query
    convention) pad to the calendar floor (``'2026'`` →
    ``'20260101000000'``: month/day pad ``01``, time pads ``00``,
    the pywb ``pad_timestamp`` rule) before matching. Duplicate
    probe rows are PRESERVED — one output row per input probe row
    (the winner aggregation is per distinct key, but the final
    probe-side join restores each input row's multiplicity).

    100 TB plan: probes are a lookup batch (small side) — ONE
    broadcast-hash inner join streaming the index (with a
    ``urlkey``-range-partitioned sorted index —
    :func:`write_sorted_cdx` — min/max stats skip every non-matching
    file before the join runs), then a min_by partial aggregation
    keyed by the probe (map-side combined; the shuffle carries one
    candidate row per probe per map partition), then a probe-side
    left join to restore miss rows. The index is never globally
    sorted, windowed, or collected. ``broadcast_probes=False`` drops
    the broadcast HINT for a probe batch too big to ship to every
    executor (a bulk re-resolution pass, millions of probes) —
    the join falls back to a shuffle hash/merge join on ``urlkey``,
    everything downstream unchanged.
    """
    if mode not in ("closest", "before"):
        raise ValueError(f"mode must be 'closest' or 'before', got {mode!r}")
    p, matches, others, cap, key_of = _closest_parts(
        index, probes, url_col, ts_col, broadcast_probes
    )
    agg = matches.groupBy(*probes.columns, "_pkey").agg(
        F.min_by(cap, key_of(mode)).alias("_cap")
    )
    out = p.join(agg, probes.columns + ["_pkey"], "left")
    return out.select(
        *probes.columns,
        F.col("_pkey").alias("urlkey"),
        F.col("_cap.cdx_ts").alias("cdx_ts"),
        F.col("_cap.cdx_url").alias("cdx_url"),
        *[F.col(f"_cap.{c}").alias(c) for c in others],
    )


def _closest_parts(index, probes, url_col, ts_col, broadcast_probes):
    """The shared probes×index machinery of :func:`cdx_closest` —
    validation, the SURT-keyed probe frame, the (broadcast) inner
    join, the capture struct, and the per-mode ``min_by`` key builder
    — extracted so the single-mode operator and the union-of-modes
    plan (:func:`_cdx_closest_union_modes`) cannot drift apart."""
    from dataproc_spark.core import ensure_has_columns, ensure_no_columns

    ensure_has_columns(index, ["urlkey", "ts", "url"])
    ensure_has_columns(probes, [url_col, ts_col])
    others = [c for c in index.columns if c not in ("urlkey", "ts", "url")]
    ensure_no_columns(
        probes,
        ["urlkey", "cdx_ts", "cdx_url", "_pkey", "_cap"] + others,
        "cdx_closest",
    )
    p = probes.withColumn("_pkey", surt_key(url_col))
    idx = index.select(
        F.col("urlkey").alias("_ikey"),
        F.col("ts").alias("_its"),
        F.col("url").alias("_curl"),
        *others,
    )
    build = F.broadcast(p) if broadcast_probes else p
    matches = idx.join(
        build, F.col("_pkey") == F.col("_ikey"), "inner"
    )
    # calendar-floor pad for prefix timestamps: the template tail
    # '0101000000' supplies MM=01, DD=01, hhmmss=000000 from wherever
    # the prefix stops (position L-3 of the template for a length-L
    # prefix; full 14-digit probes pass through untouched)
    plen = F.length(F.col(ts_col))
    padded = F.when(
        (plen >= 4) & (plen < 14),
        F.concat(
            F.col(ts_col),
            F.substring(F.lit("0101000000"), plen - 3, 14 - plen),
        ),
    ).otherwise(F.col(ts_col))
    pts = padded.cast("long")
    its = F.col("_its").cast("long")

    def key_of(mode: str) -> F.Column:
        if mode == "before":
            # max ts at/before the probe: min_by over the NEGATED ts,
            # NULL key (ineligible) rows are ignored by min_by
            return F.when(its <= pts, F.struct((-its).alias("d")))
        # guard the struct behind a WHEN: a NULL probe ts would build
        # struct(NULL, its) — non-NULL as a whole, so min_by would
        # pick an arbitrary capture instead of none (r13 review
        # finding); NULL key → min_by ignores → NULL capture columns
        return F.when(
            pts.isNotNull(),
            F.struct(F.abs(its - pts).alias("d"), its.alias("t")),
        )

    cap = F.struct(
        F.col("_its").alias("cdx_ts"),
        F.col("_curl").alias("cdx_url"),
        *[F.col(c) for c in others],
    )
    return p, matches, others, cap, key_of


def _cdx_closest_union_modes(
    index: DataFrame,
    probes: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    broadcast_probes: bool = True,
) -> DataFrame:
    """Both :func:`cdx_closest` modes over one probe batch as ONE plan
    (r16 opt, guide §2.4/§7.3): the probes×index join and the winner
    shuffle run once, each group computes one ``min_by`` per mode, and
    a two-element explode reshapes to exactly the union of the two
    per-mode frames — each mode's left join emits one row per probe
    row, as does the exploded (mode, capture) pair, and a probe with
    no qualifying capture carries a NULL struct in both shapes. Output
    columns: probe columns + ``mode`` + ``urlkey`` + the capture
    columns, matching ``cdx_closest(...).withColumn('mode', ...)``.
    Used by consumers that run the same batch in both modes (the
    cdx_lookup gate) — the separate-calls plan paid the join, the
    aggregation exchange, and the plan analysis twice."""
    p, matches, others, cap, key_of = _closest_parts(
        index, probes, url_col, ts_col, broadcast_probes
    )
    agg = matches.groupBy(*probes.columns, "_pkey").agg(
        F.min_by(cap, key_of("closest")).alias("_cap_c"),
        F.min_by(cap, key_of("before")).alias("_cap_b"),
    )
    out = p.join(agg, probes.columns + ["_pkey"], "left")
    mode_cap = F.explode(
        F.array(
            F.struct(
                F.lit("closest").alias("mode"), F.col("_cap_c").alias("_cap")
            ),
            F.struct(
                F.lit("before").alias("mode"), F.col("_cap_b").alias("_cap")
            ),
        )
    )
    return out.select(*probes.columns, "_pkey", mode_cap.alias("_mc")).select(
        *probes.columns,
        F.col("_mc.mode").alias("mode"),
        F.col("_pkey").alias("urlkey"),
        F.col("_mc._cap.cdx_ts").alias("cdx_ts"),
        F.col("_mc._cap.cdx_url").alias("cdx_url"),
        *[F.col(f"_mc._cap.{c}").alias(c) for c in others],
    )


def write_sorted_cdx(
    index: DataFrame, path: str, n_files: int = 8
) -> None:
    """Write the *sorted CDX* deliverable: the index range-partitioned
    and sorted by (``urlkey``, ``ts``) so every parquet file covers a
    disjoint key range with min/max statistics — a
    :func:`cdx_closest` batch (or any ``urlkey`` range scan) then
    skips every non-overlapping file before a single row is read.

    ONE shuffle of index-sized rows (``repartitionByRange`` samples
    the key distribution, so file ranges stay balanced under skewed
    hosts) + an in-partition sort — the archive bytes are never
    touched, which is the whole point of a CDX sidecar. ``n_files``
    sizes the range partitioning (at 100 TB: pick ~index_size /
    128 MB).

    The input is persisted across the write (released in a finally):
    ``repartitionByRange`` runs a SAMPLING pass over its child before
    the shuffle, so an unpersisted index is computed twice per write —
    at gate scale that doubles the (regex-heavy) SURT derivation, at
    cluster scale it is a second full pass over the capture log
    (guide §5 — persist exactly what two passes share; on a real
    cluster this persist is a checkpoint of the index table). An index
    the caller already cached is used as is and stays cached."""
    from pyspark import StorageLevel

    owned = index.storageLevel == StorageLevel.NONE
    if owned:
        index.persist()
    try:
        (
            index.repartitionByRange(n_files, F.col("urlkey"), F.col("ts"))
            .sortWithinPartitions("urlkey", "ts")
            .write.mode("overwrite").parquet(path)
        )
    finally:
        if owned:
            index.unpersist()


#: subdirectory holding the ZipNum-style secondary index — the leading
#: underscore makes it INVISIBLE to a plain ``read.parquet(path)`` of
#: the sorted index (the Hadoop hidden-path convention), so the sidecar
#: never pollutes a full scan
ZIPNUM_DIR = "_zipnum"


def write_zipnum_index(spark, path: str) -> None:
    """Write the secondary index beside a :func:`write_sorted_cdx`
    output — the pywb ``cluster.idx`` idea adapted to parquet: one row
    per data FILE with its (``file``, ``min_urlkey``, ``max_urlkey``,
    ``n_rows``) so a lookup opens exactly the files whose key range
    can match, deterministically, before any parquet footer is read.
    pywb's every-Nth-line samples give sub-file seeks in its gzip
    world; here parquet row-group min/max stats already provide the
    intra-file skipping, so the sidecar only needs the file ranges —
    the documented divergence. One cheap aggregation pass over the
    (tiny) index rows; the summary is n_files rows, coalesced to one
    file under ``<path>/_zipnum`` (hidden from plain scans)."""
    import os

    (
        spark.read.parquet(path)
        .select(
            F.input_file_name().alias("file"), F.col("urlkey")
        )
        .groupBy("file")
        .agg(
            F.min("urlkey").alias("min_urlkey"),
            F.max("urlkey").alias("max_urlkey"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(path, ZIPNUM_DIR))
    )


def load_cdx_pruned(spark, path: str, probes: DataFrame,
                    url_col: str = "url") -> DataFrame:
    """Open a sorted-CDX directory restricted to the files whose key
    range can hold any probe URL — the :func:`write_zipnum_index`
    consumer. Reads the sidecar (n_files rows), collects the probe
    batch's DISTINCT SURT keys (legitimate: :func:`cdx_closest`'s
    probes are a small lookup batch BY CONTRACT — for a bulk
    re-resolution pass skip pruning and scan the index), intersects
    driver-side, and returns a reader over exactly the surviving
    files. Zero survivors → an empty frame with the index schema, so
    the downstream join still emits its NULL-capture miss rows.

    100 TB plan: the sidecar is KB-sized and the probe-key collect is
    bounded by the batch; the win over bare min/max stats skipping is
    that non-matching files are never even LISTED into the scan (no
    footer reads, no tasks), making a point lookup O(matching files)
    instead of O(all files)."""
    import os

    summary = spark.read.parquet(os.path.join(path, ZIPNUM_DIR)).collect()
    keys = [
        r.k for r in
        probes.select(surt_key(url_col).alias("k")).distinct().collect()
        if r.k is not None
    ]
    # a data file whose urlkeys are all NULL has NULL min/max in the
    # sidecar — always include it rather than raise a NoneType '<'
    # TypeError (a NULL key can never equi-match a probe, but a mixed
    # writer layout must not make the whole lookup crash; r14 review
    # finding)
    files = sorted(
        s.file for s in summary
        if s.min_urlkey is None or s.max_urlkey is None
        or any(s.min_urlkey <= k <= s.max_urlkey for k in keys)
    )
    full = spark.read.parquet(path)
    if not files:
        return spark.createDataFrame([], full.schema)
    return spark.read.schema(full.schema).parquet(*files)


def load_cdx(spark, path: str, probes: DataFrame | None = None,
             url_col: str = "url") -> DataFrame:
    """THE default way to open a sorted-CDX directory for a lookup
    batch (r15 — previously callers had to pick the pruned reader by
    hand, and the gate path scanned everything): when ``probes`` is
    given AND the :func:`write_zipnum_index` sidecar exists, delegate
    to :func:`load_cdx_pruned` (only the files whose key range can
    match are ever listed into the scan); otherwise a plain full
    read — the right behavior for bulk re-resolution passes (no
    probes) and for indexes written before the sidecar existed.
    Sidecar presence is detected by attempting the read (portable to
    object stores, where an existence check is its own RPC anyway)."""
    if probes is not None:
        try:
            return load_cdx_pruned(spark, path, probes, url_col)
        except Exception as exc:
            # fall back ONLY on the missing-sidecar failure (the
            # PATH_NOT_FOUND names the _zipnum path); any other error
            # inside pruning is a real bug and must surface
            if ZIPNUM_DIR not in str(exc):
                raise
    return spark.read.parquet(path)


def _ts_epoch_s(ts: Column) -> Column:
    """14-digit CDX timestamp → integer seconds since 1970-01-01, with
    NO timezone parsing: calendar days via ``datediff`` over the date
    part (dates are timezone-free in both engines) plus the hhmmss
    seconds as plain integers. A ``to_timestamp`` route would run
    through the SESSION timezone and drift across engines/DST —
    the same hazard the events gates avoid with integer nanos."""
    day = F.datediff(
        F.to_date(F.substring(ts, 1, 8), "yyyyMMdd"), F.lit("1970-01-01")
    ).cast("long")
    hh = F.substring(ts, 9, 2).cast("long")
    mm = F.substring(ts, 11, 2).cast("long")
    ss = F.substring(ts, 13, 2).cast("long")
    return day * 86400 + hh * 3600 + mm * 60 + ss


def _ceil_pow2(x: Column) -> Column:
    """Smallest power of two ``>= x`` (``x >= 1``), integer-exact and
    engine-portable: ``1 << bit_length(x - 1)`` with bit length taken
    as the DIGIT COUNT of the base-2 rendering (``conv`` here,
    ``bin()`` in DuckDB) — no float ``log2`` whose rounding at exact
    powers of two differs across engines."""
    bits = F.length(F.conv((x - 1).cast("string"), 10, 2))
    # call_function: the Python shiftleft() wrapper takes only an int
    # literal for numBits; the SQL function accepts a Column
    return F.when(x <= 1, F.lit(1).cast("long")).otherwise(
        F.call_function(
            "shiftleft", F.lit(1).cast("long"), bits.cast("int")
        ).cast("long")
    )


def revisit_schedule(
    index: DataFrame,
    min_interval_s: int = 4096,
    max_interval_s: int = 1 << 24,
    default_interval_s: int = 1 << 19,
) -> DataFrame:
    """Estimate a per-URL RECRAWL interval from capture history — the
    step that closes the crawl loop (index → change rate → frontier
    priority; :func:`...web.frontier_schedule` spaces the fetches,
    this decides how soon a URL is due again). One row per ``urlkey``:

    - ``n_captures``; ``n_changes`` — digest TRANSITIONS between
      time-consecutive captures (ties broken by digest, NULL-safe:
      NULL↔value counts as a change, NULL↔NULL does not);
    - ``span_s`` — seconds between first and last capture;
    - ``revisit_s`` — the predicted interval, rounded UP to a power
      of two and clamped to ``[min_interval_s, max_interval_s]``
      (power-of-two buckets keep the schedule family small and the
      estimate deterministic — a frontier shards cleanly on it).

    The raw estimate is the classic mean-time-between-observed-changes
    (Cho & Garcia-Molina's change-rate estimator, integer division):
    ``span_s div n_changes`` when changes were observed;
    ``2 * span_s`` when the URL never changed across the span (back
    off — it changes slower than we looked); ``default_interval_s``
    for single captures or zero spans (no evidence either way). Pass
    power-of-two bounds to keep the bucket family exact (defaults:
    ~68 min, ~194 days, ~6 days).

    100 TB plan: ONE ``urlkey`` exchange — the transition flags come
    from a ``lag`` window over (ts, digest) and the per-key rollup
    reuses the window's partitioning (no second exchange, the
    :func:`...web.anchor_text_rollup` shape). Captures-per-URL is
    crawl-bounded (thousands, not millions), so the window partition
    never degenerates; AQE covers residual hot keys."""
    from pyspark.sql import Window

    from dataproc_spark.core import ensure_has_columns

    if not (1 <= min_interval_s <= max_interval_s):
        raise ValueError(
            "need 1 <= min_interval_s <= max_interval_s, got "
            f"{min_interval_s}/{max_interval_s}"
        )
    if default_interval_s < 1:
        raise ValueError(
            f"default_interval_s must be >= 1, got {default_interval_s}"
        )
    ensure_has_columns(index, ["urlkey", "ts", "digest"])
    agg = _capture_stats(index)
    revisit = _revisit_col(min_interval_s, max_interval_s,
                           default_interval_s)
    return agg.select(
        "urlkey", "n_captures", "n_changes", "span_s",
        revisit.alias("revisit_s"),
    )


def _capture_stats(index: DataFrame) -> DataFrame:
    """Per-urlkey capture statistics shared by :func:`revisit_schedule`
    and :func:`recrawl_due`: counts, NULL-safe digest transitions,
    span, and the LAST capture (epoch + 14-digit ts). One urlkey
    exchange (lag window; the rollup reuses its partitioning)."""
    from pyspark.sql import Window

    w = Window.partitionBy("urlkey").orderBy(
        F.col("ts").asc(), F.col("digest").asc()
    )
    flagged = index.select(
        "urlkey",
        F.col("ts").alias("_ts"),
        _ts_epoch_s(F.col("ts")).alias("_ep"),
        (~F.col("digest").eqNullSafe(
            F.lag("digest").over(w)
        ) & (F.row_number().over(w) > 1)).cast("long").alias("_chg"),
    )
    return flagged.groupBy("urlkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_captures"),
        F.sum("_chg").cast("long").alias("n_changes"),
        (F.max("_ep") - F.min("_ep")).cast("long").alias("span_s"),
        F.max("_ep").cast("long").alias("last_ep"),
        F.max("_ts").alias("last_ts"),
    )


def _revisit_col(
    min_interval_s: int, max_interval_s: int, default_interval_s: int
):
    """The revisit-interval expression over :func:`_capture_stats`
    columns (see :func:`revisit_schedule` for the estimator rules)."""
    raw = (
        F.when(
            (F.col("n_captures") < 2) | (F.col("span_s") <= 0),
            F.lit(default_interval_s).cast("long"),
        )
        .when(F.col("n_changes") == 0, 2 * F.col("span_s"))
        .otherwise(F.expr("span_s div n_changes"))
    )
    clamped = F.least(
        F.greatest(raw, F.lit(min_interval_s).cast("long")),
        F.lit(max_interval_s).cast("long"),
    )
    return _ceil_pow2(clamped)


def recrawl_due(
    index: DataFrame,
    asof: str,
    min_interval_s: int = 4096,
    max_interval_s: int = 1 << 24,
    default_interval_s: int = 1 << 19,
) -> DataFrame:
    """The frontier's recrawl queue: which URLs are DUE as of a
    14-digit timestamp, and how overdue — :func:`revisit_schedule`'s
    consumer, closing the crawl loop (index → change rate → interval →
    due priority → :func:`...web.frontier_schedule` spaces the
    fetches). One row per ``urlkey``:

    - the :func:`revisit_schedule` columns (``n_captures``,
      ``n_changes``, ``span_s``, ``revisit_s``);
    - ``last_ts`` — the latest capture's 14-digit timestamp;
    - ``age_s`` — seconds from that capture to ``asof`` (negative if
      the index somehow holds future captures — surfaced, not
      clamped);
    - ``due_permille`` — ``age_s * 1000 div revisit_s``, the integer
      fraction of the interval already elapsed (≥ 1000 ⇒ due; 2000 ⇒
      a full interval overdue — the frontier's priority key, exact
      integers so rankings reproduce);
    - ``due`` — ``due_permille >= 1000``.

    ``asof`` must be a full 14-digit ``yyyymmddhhmmss`` string (the
    CDX convention; pass the crawl wave's cut timestamp). Plan:
    identical to :func:`revisit_schedule` — ONE urlkey exchange, the
    priority math is projection-only on the rollup."""
    from dataproc_spark.core import ensure_has_columns

    if not (1 <= min_interval_s <= max_interval_s):
        raise ValueError(
            "need 1 <= min_interval_s <= max_interval_s, got "
            f"{min_interval_s}/{max_interval_s}"
        )
    if default_interval_s < 1:
        raise ValueError(
            f"default_interval_s must be >= 1, got {default_interval_s}"
        )
    if not (isinstance(asof, str) and len(asof) == 14
            and asof.isdigit()):
        raise ValueError(
            f"asof must be a 14-digit yyyymmddhhmmss string, got {asof!r}"
        )
    ensure_has_columns(index, ["urlkey", "ts", "digest"])
    agg = _capture_stats(index)
    revisit = _revisit_col(min_interval_s, max_interval_s,
                           default_interval_s)
    # the literal goes through the SAME epoch arithmetic as the data
    # (one code path, timezone-free on both sides)
    asof_ep = _ts_epoch_s(F.lit(asof))
    out = agg.select(
        "urlkey", "n_captures", "n_changes", "span_s",
        revisit.alias("revisit_s"),
        "last_ts",
        (asof_ep - F.col("last_ep")).cast("long").alias("age_s"),
    )
    permille = F.expr("(age_s * 1000) div revisit_s")
    return out.select(
        "*",
        permille.cast("long").alias("due_permille"),
        (permille >= 1000).alias("due"),
    )
