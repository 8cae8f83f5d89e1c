"""Perceptual image hashing and image near-duplicate detection — the
image-side analogue of the text near-dup stack: a 64-bit DIFFERENCE
HASH (dHash) per image, then banded-Hamming candidate pairs via the
same pigeonhole machinery SimHash uses
(:func:`...dedup.banded_hamming_pairs`). A multimodal corpus dedups
images exactly like documents: fingerprint → band-bucket → verify —
never all-pairs pixel comparison.

dHash (public algorithm, described across the perceptual-hashing
literature and the ``imagehash`` library docs): grayscale the image,
reduce it to a 9×8 grid of region means, and emit one bit per
horizontally adjacent cell pair (``left > right``). Resizing kills
scale/compression noise; comparing neighbors kills global
brightness/contrast shifts; Hamming distance between hashes is the
dissimilarity measure. This implementation is INTEGER-EXACT end to
end (luma = ``(299R + 587G + 114B) // 1000``, region mean = floor
box average with floor cell boundaries), so the hash is deterministic
across machines and replayable by the DuckDB oracle on arithmetic
fixtures.

Reference scope: the reference repo (west-tandon/dataproc) has no
image surface; this extends the engine's multimodal ring per the
round brief (image payloads = PNG/PPM via
``multimodal._decode_image_bytes``, JPEG via the in-repo codec).

100 TB plan: hashing is one Arrow map stage over payload bytes (zero
shuffles, parallelism = input splits); the near-dup join moves only
(id, 8-byte hash) rows through the banded self-join. The whole
pipeline never shuffles a pixel.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F

__all__ = [
    "dhash_of", "image_dhash", "image_near_dup",
    "dhash256_of", "image_dhash256", "image_near_dup_256",
    "envelope_hash_of", "audio_envelope_hash", "audio_near_dup",
]

#: dHash grid: 8 rows × 9 columns → 8×8 = 64 comparison bits
_ROWS, _COLS = 8, 9


def dhash_of(width: int, height: int, channels: int, arr) -> int:
    """The 64-bit dHash of one decoded image (``arr``: uint8
    ``(h, w, c)``) — pure function, unit-testable without Spark.

    Integer-exact pipeline: luma per pixel (grayscale passes through;
    RGB uses the ITU-R 601 weights as ``(299R+587G+114B) // 1000``),
    an 8×9 grid of floor box means with floor boundaries
    (``cell(r,c) = mean(luma[r*h//8:(r+1)*h//8, c*w//9:(c+1)*w//9])``),
    then bit ``r*8 + c`` set iff ``cell[r][c] > cell[r][c+1]``
    (strict). Returned as a SIGNED 64-bit value (two's complement —
    what a Spark ``long`` column holds). Raises ``ValueError`` for
    images smaller than the grid or unsupported channel counts — the
    caller's quarantine arm."""
    h, w = int(height), int(width)
    if h < _ROWS or w < _COLS:
        raise ValueError(
            f"image {w}x{h} smaller than the {_COLS}x{_ROWS} dHash grid"
        )
    # shared box-mean/comparison core — word 0 of :func:`dhash256_of`
    # is BY CONSTRUCTION this exact hash
    return _grid_bits(
        _luma_of(width, height, channels, arr), _ROWS, _COLS,
        vertical=False,
    )


def _luma_of(width: int, height: int, channels: int, arr):
    """Integer luma plane (h, w) of a decoded image — the shared front
    half of :func:`dhash_of` and :func:`dhash256_of`."""
    import numpy as np

    h, w, c = int(height), int(width), int(channels)
    a = np.asarray(arr, dtype=np.int64).reshape(h, w, c)
    if c == 1:
        return a[:, :, 0]
    if c == 3:
        return (299 * a[:, :, 0] + 587 * a[:, :, 1]
                + 114 * a[:, :, 2]) // 1000
    raise ValueError(f"unsupported channel count {c}")


def _grid_bits(luma, rows: int, cols: int, vertical: bool) -> int:
    """One 64-bit comparison word over a ``rows``×``cols`` floor-box
    grid of ``luma``: horizontal words compare ``cell[r][c] >
    cell[r][c+1]`` (bit ``r*(cols-1) + c``), vertical words
    ``cell[r][c] > cell[r+1][c]`` (bit ``r*cols + c``) — each grid
    shaped so exactly 64 comparisons exist. Signed-64 packing."""
    h, w = luma.shape
    cells = [
        [
            int(luma[r * h // rows:(r + 1) * h // rows,
                     c * w // cols:(c + 1) * w // cols].sum())
            // ((((r + 1) * h // rows) - (r * h // rows))
                * (((c + 1) * w // cols) - (c * w // cols)))
            for c in range(cols)
        ]
        for r in range(rows)
    ]
    val = 0
    if vertical:
        for r in range(rows - 1):
            for c in range(cols):
                if cells[r][c] > cells[r + 1][c]:
                    val |= 1 << (r * cols + c)
    else:
        for r in range(rows):
            for c in range(cols - 1):
                if cells[r][c] > cells[r][c + 1]:
                    val |= 1 << (r * (cols - 1) + c)
    if val >= 1 << 63:
        val -= 1 << 64
    return val


def dhash256_of(width: int, height: int, channels: int, arr) -> list:
    """The 256-bit MULTI-SCALE dHash of one decoded image — the longer
    fingerprint the 64-bit parameter law calls for past ~10⁶ images
    (r14 SCALE.md: distance budget must come from more bits, not more
    bands). Four 64-bit words over the same integer-exact box-mean
    pipeline as :func:`dhash_of`:

    - word 0: horizontal comparisons, 8×9 grid, full image (== the
      64-bit dHash);
    - word 1: vertical comparisons, 9×8 grid, full image (gradient
      orientation the horizontal word is blind to);
    - words 2-3: the same two over the CENTER CROP
      ``luma[h//4 : h//4 + h//2, w//4 : w//4 + w//2]`` — a second
      scale, sensitive to detail the full-image grid averages away.

    Requires ``h >= 18 and w >= 18`` (the crop must still cover a 9-
    cell axis); smaller images raise — the caller's quarantine arm,
    same contract as :func:`dhash_of`. Returns 4 signed longs (what a
    Spark ``array<long>`` column holds), word ``w`` bit ``i`` =
    fingerprint bit ``w*64 + i`` — the layout
    ``dedup.banded_hamming_pairs_multi`` bands over."""
    h, w = int(height), int(width)
    if h < 2 * _COLS or w < 2 * _COLS:
        raise ValueError(
            f"image {w}x{h} smaller than the 18x18 multi-scale dHash "
            "minimum"
        )
    luma = _luma_of(width, height, channels, arr)
    crop = luma[h // 4:h // 4 + h // 2, w // 4:w // 4 + w // 2]
    return [
        _grid_bits(luma, _ROWS, _COLS, vertical=False),
        _grid_bits(luma, _COLS, _ROWS, vertical=True),
        _grid_bits(crop, _ROWS, _COLS, vertical=False),
        _grid_bits(crop, _COLS, _ROWS, vertical=True),
    ]


def _decode_any(payload: bytes):
    """(w, h, c, arr) for a PNG/PPM/JPEG payload — format sniffed by
    magic, decoded by the in-repo codecs; ``ValueError`` on anything
    else (the quarantine contract both decoders already follow)."""
    buf = bytes(payload)
    if buf[:2] == b"\xFF\xD8":
        from dataproc_spark.extensions.jpeg import decode_jpeg

        return decode_jpeg(buf)
    from dataproc_spark.extensions.multimodal import _decode_image_bytes

    return _decode_image_bytes(buf)


def image_dhash(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Fingerprint every image: one row per input row with ``width``,
    ``height``, the 64-bit ``dhash`` (NULL on failure) and ``error``
    (NULL on success) — the per-row quarantine contract of the other
    byte parsers: a corrupt image never aborts the job, it routes.
    NULL payloads pass through as (NULL dims, NULL hash,
    ``'null_payload'``) so corpus accounting stays row-complete.

    One Arrow ``mapInPandas`` stage — zero shuffles; downstream
    consumers join on the 8-byte hash, never the pixels."""
    import pandas as pd

    from dataproc_spark.core import ensure_has_columns

    ensure_has_columns(media, [id_col, payload_col])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:
                    rows.append((mid, None, None, None, "null_payload"))
                    continue
                try:
                    w, h, c, arr = _decode_any(payload)
                    fp = dhash_of(w, h, c, arr)
                    rows.append((mid, int(w), int(h), fp, None))
                except ValueError as exc:
                    rows.append((mid, None, None, None, str(exc)[:200]))
            yield pd.DataFrame(
                rows,
                columns=[id_col, "width", "height", "dhash", "error"],
            )

    schema = (
        f"{id_col} long, width int, height int, dhash long, error string"
    )
    return media.select(id_col, payload_col).mapInPandas(
        kernel, schema=schema
    )


def image_near_dup(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    bands: int = 8,
    max_hamming: int = 7,
) -> DataFrame:
    """Near-duplicate IMAGE pairs: dHash fingerprints →
    :func:`...dedup.banded_hamming_pairs` — (id_a, id_b, hamming) for
    every pair within ``max_hamming`` bits, complete by pigeonhole
    (``max_hamming <= bands - 1``). Undecodable images simply carry no
    fingerprint and drop out of the join (they are routed by
    :func:`image_dhash`'s error column, not lost silently — run that
    first if accounting matters).

    Plan: one Arrow hash stage (persisted — the banding self-join
    reads it twice), then the banded equi-join moving (id, hash)
    rows only. Same shuffle inventory as the SimHash text path.

    PARAMETER SCALE RULE (measured, SCALE.md r14): a band has
    ``64/bands`` bits, i.e. ``2^(64/bands)`` bucket values — the
    candidate join is quadratic IN THE BUCKET, so the default
    ``bands=8`` (256 values/band) saturates around 10⁵ images
    (407 s / 13.7× superlinear at the 100× probe). Past that, use
    ``bands=4, max_hamming=3`` (65 536 values/band — near-flat
    29 s at the same probe); a corpus needing ``max_hamming > 3`` at
    10⁶+ images needs a longer fingerprint, not more bands."""
    from dataproc_spark.core import release_cache_on_gc
    from dataproc_spark.extensions.dedup import banded_hamming_pairs

    fps = (
        image_dhash(media, id_col, payload_col)
        .where(F.col("dhash").isNotNull())
        .select(id_col, "dhash")
        .persist()
    )
    pairs = banded_hamming_pairs(
        fps, id_col=id_col, fp_col="dhash", bits=64, bands=bands,
        max_hamming=max_hamming,
    )
    # pin A/B, image_dedup sf0.1 on/off: 2.0/3.0 s count, 2.0/3.1 s consume
    return release_cache_on_gc(pairs, fps)


def image_dhash256(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """:func:`image_dhash` with the 256-bit multi-scale fingerprint:
    one row per input with ``width``, ``height``, ``dhash256``
    (``array<long>`` of 4 words, NULL on failure) and ``error`` (NULL
    on success) — same per-row quarantine contract, same single Arrow
    map stage, zero shuffles."""
    import pandas as pd

    from dataproc_spark.core import ensure_has_columns

    ensure_has_columns(media, [id_col, payload_col])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:
                    rows.append((mid, None, None, None, "null_payload"))
                    continue
                try:
                    w, h, c, arr = _decode_any(payload)
                    fp = dhash256_of(w, h, c, arr)
                    rows.append((mid, int(w), int(h), fp, None))
                except ValueError as exc:
                    rows.append((mid, None, None, None, str(exc)[:200]))
            yield pd.DataFrame(
                rows,
                columns=[id_col, "width", "height", "dhash256", "error"],
            )

    schema = (
        f"{id_col} long, width int, height int, dhash256 array<long>, "
        "error string"
    )
    return media.select(id_col, payload_col).mapInPandas(
        kernel, schema=schema
    )


def image_near_dup_256(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    bands: int = 16,
    max_hamming: int = 15,
) -> DataFrame:
    """:func:`image_near_dup` with the 256-bit multi-scale fingerprint
    and ``dedup.banded_hamming_pairs_multi`` — the scale path the
    64-bit parameter law caps out of (SCALE.md r14): at the default
    ``bands=16`` every band still spans 16 bits (2^16 values — the
    flat-probe regime of ``bands=4`` on 64-bit hashes) while the
    pigeonhole covers ``max_hamming`` up to 15, i.e. the SAME relative
    distance budget as hamming-3..4 on 64 bits with none of the
    quadratic-bucket saturation. Shuffle carries (id, 32-byte array)
    rows; pixels never leave the Arrow hash stage."""
    from dataproc_spark.extensions.dedup import banded_hamming_pairs_multi

    # no persist of fps: image_dedup_256 on/off (± IQR of on runs, 6
    # pairs) sf0.1 4.9/4.7 ±1.0 s count, 4.6/4.5 ±1.1 s consume; 10x
    # 36.7/31.9 ±11.7 s count, 38.3/38.6 ±5.5 s consume — no cell slower
    fps = (
        image_dhash256(media, id_col, payload_col)
        .where(F.col("dhash256").isNotNull())
        .select(id_col, "dhash256")
    )
    return banded_hamming_pairs_multi(
        fps, id_col=id_col, fp_col="dhash256", words=4, bands=bands,
        max_hamming=max_hamming,
    )


def synthesize_scale_ppms(
    df: DataFrame, id_col: str = "doc_id", groups: int = 29,
    spread: bool = True,
) -> DataFrame:
    """Deterministic fixture generator for the 256-bit multi-scale
    dHash (the :func:`synthesize_cell_ppms` idea at 18×18 — the
    smallest size every grid and the center crop cover): pixel
    ``v(id, r, c) = ((x*x) % 2147483647) % 200`` with the quadratic
    mix ``x = (g*2654435761 + r*97 + c*89) % 2147483647`` over
    ``g = id % groups`` (near-uniform hashes across groups — the
    image_dedup fixture lesson), variant ``t = id // groups``
    perturbing pixel ``(t % 18, t % 18)`` by +40 unless ``t % 3 == 0``
    (exact-dup arms). Box means here are REAL multi-pixel floor boxes
    (unlike the identity-resize 64-bit fixture), so the floor
    boundary/average arithmetic is on the hash; the oracle replays it
    from this pixel formula alone."""
    import numpy as np
    import pandas as pd

    from dataproc_spark.core import spread_narrow
    from dataproc_spark.extensions.multimodal import encode_ppm

    side = 18

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i in pdf[id_col]:
                i = int(i)
                g, t = i % groups, i // groups
                r = np.arange(side).reshape(-1, 1)
                c = np.arange(side).reshape(1, -1)
                x = (g * 2654435761 + r * 97 + c * 89) % 2147483647
                v = (x * x) % 2147483647 % 200
                if t % 3 != 0:
                    v = v.copy()
                    v[t % side, t % side] += 40
                rgb = np.repeat(
                    v.astype(np.uint8)[:, :, None], 3, axis=2
                )
                out.append((i, encode_ppm(rgb)))
            yield pd.DataFrame(out, columns=["media_id", "payload"])

    # spread a single-split id scan before the CPU-bound Arrow synth
    # stage (guide §2.5, input skew): fixture corpora arrive as one
    # parquet split, which would serialize this kernel AND every
    # downstream fingerprint kernel on one task (r15 profile: the
    # whole image_dedup hash pass ran as ONE 2.6 s task). Only ids
    # move in the spread shuffle — payloads are generated after it.
    ids = df.select(id_col)
    if spread:
        ids = spread_narrow(ids, id_col)
    return ids.mapInPandas(
        kernel, schema="media_id long, payload binary"
    )


def synthesize_cell_ppms(
    df: DataFrame, id_col: str = "doc_id", groups: int = 29,
    spread: bool = True,
) -> DataFrame:
    """Deterministic dHash fixture generator (tests/oracles): each id
    becomes a 9×8 binary PPM whose PIXELS are exactly the dHash grid
    cells (identity resize — every floor box is one pixel), with
    R=G=B so luma is the value itself. Ids share a base pattern per
    ``id % groups``; variant ``t = id // groups`` perturbs one cell
    by +40 (every 3rd variant unperturbed → exact-dup hashes within
    the group). An engine-independent oracle reproduces every hash
    bit and pairwise Hamming distance from this arithmetic alone:
    ``x = (g*2654435761 + r*97 + c*89) % 2147483647;
    v(id, r, c) = (x*x) % 2147483647 % 200 + (40 if perturbed cell)``
    with the perturbed cell at ``(t % 8, t % 9)``. The QUADRATIC mix
    matters: any linear-in-c pattern has a constant adjacent-cell
    delta mod 200, so every row/group shares one comparison pattern
    and the hashes cluster — the banded join then degenerates toward
    all-pairs (measured: 62M "near" pairs at the 10× probe). Squaring
    makes adjacent deltas vary, hashes go near-uniform across groups,
    and near pairs concentrate within groups — fixture realism, not a
    plan property. All intermediates stay below 2^62 (int64-safe in
    numpy and DuckDB alike)."""
    import numpy as np
    import pandas as pd

    from dataproc_spark.core import spread_narrow
    from dataproc_spark.extensions.multimodal import encode_ppm

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i in pdf[id_col]:
                i = int(i)
                g, t = i % groups, i // groups
                r = np.arange(_ROWS).reshape(-1, 1)
                c = np.arange(_COLS).reshape(1, -1)
                x = (g * 2654435761 + r * 97 + c * 89) % 2147483647
                v = (x * x) % 2147483647 % 200
                if t % 3 != 0:
                    v = v.copy()
                    v[t % _ROWS, t % _COLS] += 40
                rgb = np.repeat(
                    v.astype(np.uint8)[:, :, None], 3, axis=2
                )
                out.append((i, encode_ppm(rgb)))
            yield pd.DataFrame(out, columns=["media_id", "payload"])

    # spread a single-split id scan before the CPU-bound Arrow synth
    # stage (guide §2.5, input skew): fixture corpora arrive as one
    # parquet split, which would serialize this kernel AND every
    # downstream fingerprint kernel on one task (r15 profile: the
    # whole image_dedup hash pass ran as ONE 2.6 s task). Only ids
    # move in the spread shuffle — payloads are generated after it.
    ids = df.select(id_col)
    if spread:
        ids = spread_narrow(ids, id_col)
    return ids.mapInPandas(
        kernel, schema="media_id long, payload binary"
    )


# ---------------------------------------------------------------------------
# Audio: the envelope hash — dHash's analogue over PCM (r14)
# ---------------------------------------------------------------------------

#: envelope grid: 65 windows → 64 comparison bits
_WINDOWS = 65


def envelope_hash_of(sample_rate: int, channels: int, samples) -> int:
    """The 64-bit ENVELOPE HASH of one decoded PCM clip — dHash's
    construction transplanted to audio (the standard
    coarse-acoustic-fingerprint idea: compare adjacent ENERGY windows;
    robust to gain changes the way dHash is to brightness): mono
    mixdown (integer mean across channels per frame), 65 floor-boundary
    windows of mean ABSOLUTE amplitude (integer), bit ``w`` set iff
    ``env[w] > env[w+1]`` (strict). A uniform gain scale < the
    quantization floor leaves every comparison unchanged. Signed-64
    packing, ``ValueError`` for clips shorter than 65 frames or a
    non-positive channel count — the quarantine arm. Pure function."""
    import numpy as np

    c = int(channels)
    if c < 1:
        raise ValueError(f"unsupported channel count {c}")
    a = np.asarray(samples, dtype=np.int64).reshape(-1, c)
    n = a.shape[0]
    if n < _WINDOWS:
        raise ValueError(
            f"clip has {n} frames, shorter than the {_WINDOWS}-window "
            "envelope grid"
        )
    mono = a.sum(axis=1) // c
    mag = np.abs(mono)
    env = []
    for w in range(_WINDOWS):
        lo, hi = w * n // _WINDOWS, (w + 1) * n // _WINDOWS
        seg = mag[lo:hi]
        env.append(int(seg.sum()) // seg.size)
    val = 0
    for w in range(_WINDOWS - 1):
        if env[w] > env[w + 1]:
            val |= 1 << w
    if val >= 1 << 63:
        val -= 1 << 64
    return val


def audio_envelope_hash(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Fingerprint every WAV payload: (id, ``sample_rate``,
    ``n_frames``, ``ahash``, ``error``) with the per-row quarantine
    contract of :func:`image_dhash` (corrupt/short/NULL clips route,
    never abort). One Arrow map stage, zero shuffles."""
    import pandas as pd

    from dataproc_spark.core import ensure_has_columns
    from dataproc_spark.extensions.multimodal import _decode_wav_bytes

    ensure_has_columns(media, [id_col, payload_col])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:
                    rows.append((mid, None, None, None, "null_payload"))
                    continue
                try:
                    rate, ch, samples = _decode_wav_bytes(bytes(payload))
                    fp = envelope_hash_of(rate, ch, samples)
                    rows.append(
                        (mid, int(rate), len(samples) // int(ch), fp,
                         None)
                    )
                except ValueError as exc:
                    rows.append((mid, None, None, None, str(exc)[:200]))
            yield pd.DataFrame(
                rows,
                columns=[id_col, "sample_rate", "n_frames", "ahash",
                         "error"],
            )

    schema = (
        f"{id_col} long, sample_rate int, n_frames int, ahash long, "
        "error string"
    )
    return media.select(id_col, payload_col).mapInPandas(
        kernel, schema=schema
    )


def audio_near_dup(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    bands: int = 8,
    max_hamming: int = 7,
) -> DataFrame:
    """Near-duplicate AUDIO pairs — envelope hashes through the same
    :func:`...dedup.banded_hamming_pairs` pigeonhole machinery as
    SimHash (text) and dHash (images); the dedup story is identical in
    every modality. Same banding parameter law as
    :func:`image_near_dup` (SCALE.md r14): past ~10⁵ clips use
    ``bands=4, max_hamming=3``."""
    from dataproc_spark.core import release_cache_on_gc
    from dataproc_spark.extensions.dedup import banded_hamming_pairs

    fps = (
        audio_envelope_hash(media, id_col, payload_col)
        .where(F.col("ahash").isNotNull())
        .select(id_col, "ahash")
        .persist()
    )
    pairs = banded_hamming_pairs(
        fps, id_col=id_col, fp_col="ahash", bits=64, bands=bands,
        max_hamming=max_hamming,
    )
    # pin A/B, audio_dedup sf0.1 on/off: 1.6/2.5 s count, 1.5/2.3 s consume
    return release_cache_on_gc(pairs, fps)


def synthesize_envelope_wavs(
    df: DataFrame, id_col: str = "doc_id", groups: int = 29,
    spread: bool = True,
) -> DataFrame:
    """Deterministic envelope-hash fixture generator (the
    :func:`synthesize_cell_ppms` of audio): each id becomes a 65-frame
    mono PCM16 WAV whose FRAMES are exactly the envelope windows
    (identity windowing), sample ``k`` of group ``g = id % groups``
    being the quadratic mix ``x = (g*2654435761 + k*97) % 2147483647;
    v = (x*x) % 2147483647 % 4001 - 2000`` (near-uniform hashes across
    groups — the image_dedup fixture lesson); variant ``t = id //
    groups`` adds +500 at frame ``t % 65`` unless ``t % 3 == 0``
    (exact-dup arms). The oracle replays every |sample| comparison
    arithmetically."""
    import numpy as np
    import pandas as pd

    from dataproc_spark.core import spread_narrow
    from dataproc_spark.extensions.multimodal import encode_wav

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i in pdf[id_col]:
                i = int(i)
                g, t = i % groups, i // groups
                k = np.arange(_WINDOWS, dtype=np.int64)
                x = (g * 2654435761 + k * 97) % 2147483647
                v = (x * x) % 2147483647 % 4001 - 2000
                if t % 3 != 0:
                    v = v.copy()
                    v[t % _WINDOWS] += 500
                out.append((i, encode_wav(v.astype(np.int16), 8000)))
            yield pd.DataFrame(out, columns=["media_id", "payload"])

    # spread a single-split id scan before the CPU-bound Arrow synth
    # stage (guide §2.5, input skew): fixture corpora arrive as one
    # parquet split, which would serialize this kernel AND every
    # downstream fingerprint kernel on one task (r15 profile: the
    # whole image_dedup hash pass ran as ONE 2.6 s task). Only ids
    # move in the spread shuffle — payloads are generated after it.
    ids = df.select(id_col)
    if spread:
        ids = spread_narrow(ids, id_col)
    return ids.mapInPandas(
        kernel, schema="media_id long, payload binary"
    )
