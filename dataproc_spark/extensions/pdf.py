"""PDF text extraction — the most common non-HTML document format in
any crawl, and the r12 verdict's final frontier item. Two tiers behind
one operator:

* **pypdf seam** (optional, import-try): when the library is installed the extraction delegates to
  it per row, covering the general case (CID/Type0 fonts, object
  streams, encrypted-empty, predictors).
* **pure-Python core** (always available): exact for the
  machine-generated simple case — uncompressed or FlateDecode
  (stdlib ``zlib``) content streams showing text with the classic
  ``Tj`` / ``'`` / ``"`` / ``TJ`` operators over parenthesized
  (escape- and nesting-exact per PDF 32000-1 §7.3.4.2) or hex
  strings. String bytes decode as UTF-8 when valid, else
  PDFDocEncoding≈latin-1 — deterministic either way. CID/Type0 fonts,
  object streams (``/ObjStm``), LZW/ASCII85 filters, and encryption
  are OUT of the pure core's scope: their streams simply contribute
  no text (or quarantine on filter errors) — the same honest local
  bound the pure JPEG codec documents.

Rows that are not PDFs or fail mid-parse QUARANTINE (NULL text + a
stable error code) rather than abort the job — the only viable
contract on real crawl data, same as ``host_of``/``decode_body_text``.

Reference parity: the reference engine (a ~250-line pandas
selective-search library) has no document-format surface; this module
is part of the extension brief's crawl/multimodal realism ring, built
from the public PDF 32000-1 spec only.

Scale design: ONE Arrow ``pandas_udf`` stage over the binary column —
map-only, no shuffle; the payload bytes never leave their partition
and the output is (text, error) per row. Throughput is
decompress-bound; the pypdf seam swaps the per-row kernel, not the
plan.
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "extract_pdf_text", "pdf_text_of", "build_simple_pdf",
    "escape_pdf_string",
]

try:  # the import-try seam — pypdf is absent in this container
    import pypdf as _pypdf  # type: ignore
except Exception:  # pragma: no cover - environment-dependent
    _pypdf = None

#: PDF string escape table (PDF 32000-1 Table 3); octal handled apart
_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}

_STREAM_RE = re.compile(rb"stream\r?\n(.*?)endstream", re.S)
#: the dictionary immediately preceding each stream keyword (non-greedy
#: back-scan is done by splitting on 'stream' boundaries instead)
_DICT_RE = re.compile(rb"<<(?:[^<>]|<<[^<>]*>>)*>>\s*$")
_HEX_RE = re.compile(rb"[0-9A-Fa-f]")


def _parse_string(data: bytes, i: int):
    """Parse a parenthesized PDF string starting at ``data[i] == '('``:
    balanced unescaped parens nest (§7.3.4.2), backslash escapes and
    1-3-digit octal codes decode, a backslash-newline continues the
    line. Returns (bytes, next_index)."""
    out = bytearray()
    depth = 1
    i += 1
    n = len(data)
    while i < n and depth > 0:
        c = data[i:i + 1]
        if c == b"\\":
            nxt = data[i + 1:i + 2]
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
            elif nxt in (b"0", b"1", b"2", b"3", b"4", b"5", b"6", b"7"):
                # 1-3 OCTAL digits only — '\8'/'\9' are NOT octal and
                # fall through to the drop-backslash rule (r13 advice:
                # int('8', 8) raised, crashing the Arrow kernel)
                j = i + 1
                while (j < min(i + 4, n)
                       and data[j:j + 1] in b"01234567"):
                    j += 1
                out.append(int(data[i + 1:j], 8) & 0xFF)
                i = j
            elif nxt in (b"\n", b"\r"):  # line continuation
                i += 2
                if nxt == b"\r" and data[i:i + 1] == b"\n":
                    i += 1
            else:  # lone backslash: drop it, keep the char (spec rule)
                out += nxt
                i += 2
        elif c == b"(":
            depth += 1
            out += c
            i += 1
        elif c == b")":
            depth -= 1
            if depth > 0:
                out += c
            i += 1
        else:
            out += c
            i += 1
    return bytes(out), i


def _parse_hex_string(data: bytes, i: int):
    """Parse a ``<hex>`` string at ``data[i] == '<'`` (whitespace
    between digits legal; odd digit count pads a trailing 0)."""
    j = data.find(b">", i + 1)
    if j < 0:
        j = len(data)
    digits = b"".join(_HEX_RE.findall(data[i + 1:j]))
    if len(digits) % 2:
        digits += b"0"
    return bytes.fromhex(digits.decode("ascii")), j + 1


def _decode_bytes(b: bytes) -> str:
    try:
        return b.decode("utf-8")
    except UnicodeDecodeError:
        return b.decode("latin-1")


def _content_text(content: bytes) -> list:
    """The text runs a content stream SHOWS, in stream order: tokenize
    sequentially; ``Tj``/``'``/``"`` emit the last string, ``TJ``
    emits the concatenation of the strings in the last array (kerning
    numbers ignored)."""
    out: list = []
    last_str: bytes | None = None
    last_array: list | None = None
    in_array: list | None = None
    i, n = 0, len(content)
    while i < n:
        c = content[i:i + 1]
        if c == b"(":
            s, i = _parse_string(content, i)
            if in_array is not None:
                in_array.append(s)
            else:
                last_str = s
        elif c == b"<" and content[i + 1:i + 2] != b"<":
            s, i = _parse_hex_string(content, i)
            if in_array is not None:
                in_array.append(s)
            else:
                last_str = s
        elif c == b"<":  # '<<' dictionary — skip both
            i += 2
        elif c == b"/":
            # a NAME token: consume through its regular characters so
            # trailing bytes like the quote in ``/Foo'`` or the ``Tj``
            # in ``/TjFont`` can never fire a phantom show (quote and
            # letters are regular chars per §7.2.2 — the name owns
            # them, not the operator scanner)
            i += 1
            while i < n and not (content[i:i + 1].isspace()
                                 or content[i:i + 1] in b"()<>[]{}/%"):
                i += 1
        elif c == b"[":
            in_array = []
            i += 1
        elif c == b"]":
            last_array = in_array
            in_array = None
            i += 1
        elif c in (b"T", b"'", b'"'):
            # an OPERATOR ends at a delimiter/whitespace/end — without
            # the check a name token like /TjFont would fire a phantom
            # show (r13 review finding)
            after = content[i + 2:i + 3]
            is_op_end = (after == b"" or after.isspace()
                         or after in b"/[]()<>%")
            if c == b"T" and content[i:i + 2] == b"Tj" and is_op_end:
                if last_str is not None:
                    out.append(_decode_bytes(last_str))
                i += 2
            elif c == b"T" and content[i:i + 2] == b"TJ" and is_op_end:
                if last_array:
                    out.append(_decode_bytes(
                        b"".join(x for x in last_array
                                 if isinstance(x, bytes))
                    ))
                i += 2
            elif c in (b"'", b'"'):
                # quote operators are ONE byte wide — their boundary
                # byte is content[i+1], not content[i+2] (r13 advice:
                # a stray quote inside a name like /Foo' re-emitted
                # the last string as phantom text)
                after1 = content[i + 1:i + 2]
                if (after1 == b"" or after1.isspace()
                        or after1 in b"/[]()<>%"):
                    if last_str is not None:
                        out.append(_decode_bytes(last_str))
                i += 1
            else:
                i += 1
        else:
            i += 1
    return out


def pdf_text_of(payload, engine: str = "auto") -> tuple:
    """Extract text from one PDF's bytes → ``(text, error)`` — exactly
    one of the two is non-None (empty-text PDFs return ``('', None)``).
    Stable error codes: ``'not_pdf'`` (no ``%PDF-`` magic),
    ``'flate_error'`` (a FlateDecode stream that does not inflate),
    ``'pdf_error'`` (the pypdf seam threw). ``engine``: ``'auto'``
    (pypdf when installed, else the pure core), ``'pure'`` (always the
    deterministic core — what the oracle gate pins, since pypdf's
    whitespace reconstruction is library-version-dependent), or
    ``'pypdf'`` (raise if the library is absent). Pure function —
    unit-testable without Spark."""
    if engine not in ("auto", "pure", "pypdf"):
        raise ValueError(
            f"engine must be 'auto', 'pure', or 'pypdf', got {engine!r}"
        )
    if engine == "pypdf" and _pypdf is None:
        raise ImportError("engine='pypdf' requires the pypdf package")
    if payload is None:
        return None, None
    data = bytes(payload)
    if not data.startswith(b"%PDF-"):
        return None, "not_pdf"
    if engine != "pure" and _pypdf is not None:  # pragma: no cover
        import io

        try:
            reader = _pypdf.PdfReader(io.BytesIO(data))
            return (
                "\n".join((p.extract_text() or "") for p in reader.pages),
                None,
            )
        except Exception:
            return None, "pdf_error"
    texts: list = []
    pos = 0
    for m in _STREAM_RE.finditer(data):
        raw = m.group(1)
        head = data[pos:m.start()]
        pos = m.end()
        dic = _DICT_RE.search(head.rstrip())
        dic_b = dic.group(0) if dic else b""
        if b"/FlateDecode" in dic_b:
            try:
                raw = zlib.decompress(raw)
            except Exception:
                return None, "flate_error"
        elif b"/Filter" in dic_b:
            # LZW/ASCII85/DCT/...: out of the pure core's scope —
            # contributes no text (images etc.), never aborts
            continue
        try:
            texts.extend(_content_text(raw))
        except Exception:
            # defense-in-depth: the per-row quarantine contract says a
            # malformed stream yields an error code, never a job abort
            return None, "pdf_error"
    return " ".join(texts), None


def escape_pdf_string(s: bytes) -> bytes:
    """Escape raw bytes for embedding in a parenthesized PDF string
    (backslash first, then both parens) — the builder-side inverse of
    :func:`_parse_string`'s unescape."""
    return (
        s.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")
    )


def build_simple_pdf(content_stream: bytes, flate: bool = False) -> bytes:
    """Build a STRUCTURALLY VALID single-page PDF (catalog → pages →
    page → contents + a Type1 font, xref with correct byte offsets,
    trailer) around the given content stream — the fixture generator
    for tests and the oracle gate, producing files a conforming reader
    (incl. the pypdf seam) accepts. ``flate=True`` Flate-compresses
    the stream (stdlib zlib; the extracted TEXT is byte-independent of
    the compressor's output, so fixtures stay engine-portable)."""
    body = zlib.compress(content_stream) if flate else content_stream
    filt = b" /Filter /FlateDecode" if flate else b""
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
        b"<< /Length " + str(len(body)).encode() + filt
        + b" >>\nstream\n" + body + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, obj in enumerate(objs, start=1):
        offsets.append(len(out))
        out += (str(i).encode() + b" 0 obj\n" + obj + b"\nendobj\n")
    xref_at = len(out)
    out += b"xref\n0 " + str(len(objs) + 1).encode() + b"\n"
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += ("%010d 00000 n \n" % off).encode()
    out += (b"trailer\n<< /Size " + str(len(objs) + 1).encode()
            + b" /Root 1 0 R >>\nstartxref\n"
            + str(xref_at).encode() + b"\n%%EOF\n")
    return bytes(out)


def extract_pdf_text(
    df: DataFrame,
    payload_col: str = "payload",
    out_col: str = "pdf_text",
    error_col: str = "pdf_error",
    engine: str = "auto",
) -> DataFrame:
    """Attach ``out_col`` (extracted text) and ``error_col`` (stable
    quarantine code, NULL on success) for a binary PDF column — see
    the module docstring for the two-tier extraction and its exact
    scope, and :func:`pdf_text_of` for ``engine``. One Arrow
    ``pandas_udf`` stage; map-only, no shuffle."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType, StructField, StructType

    from dataproc_spark.core import ensure_no_columns

    if engine == "pypdf" and _pypdf is None:
        raise ImportError("engine='pypdf' requires the pypdf package")
    ensure_no_columns(df, (out_col, error_col, "_pdf"), "extract_pdf_text")
    ptype = StructType([
        StructField("text", StringType()),
        StructField("error", StringType()),
    ])

    def _kernel(payloads):
        texts, errs = [], []
        for p in payloads:
            t, e = pdf_text_of(p, engine=engine)
            texts.append(t)
            errs.append(e)
        return pd.DataFrame({"text": texts, "error": errs}, dtype=object)

    _kernel.__annotations__ = {"payloads": pd.Series, "return": pd.DataFrame}
    udf = pandas_udf(_kernel, ptype)
    out = df.withColumn("_pdf", udf(F.col(payload_col)))
    return out.select(
        *df.columns,
        F.col("_pdf.text").alias(out_col),
        F.col("_pdf.error").alias(error_col),
    )
