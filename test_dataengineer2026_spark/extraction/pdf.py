"""X1: PDF text extraction with the standard library only.

The environment has no pdfplumber/PyMuPDF (the libraries the spec
suggests, TEST_TECNICO_INGENIERO_DATOS.md:80-81), so this implements a
minimal born-digital-PDF text reconstructor from public format
knowledge (PDF 1.7 / ISO 32000: FlateDecode content streams; BT/ET text
objects; Tj/TJ show-text operators; octal/char escapes in literal
strings; negative kern values in TJ arrays approximating inter-word
gaps). It is deliberately scoped to what the spec's corpus needs —
born-digital reports with a real text layer (SURVEY.md §1.1) — and
slots behind the same interface a real extractor library would.

Spark integration: ``pages_udf`` is a Pandas UDF over the binaryFile
``content`` column returning ARRAY<STRUCT<page,text>> — one Arrow batch
per scan split; the binaryFile scan packs several small files into one
split (``spark.sql.files.openCostInBytes``), so parallelism is the split
count, not the file count (SURVEY.md §4.3).
"""

from __future__ import annotations

import re
import zlib

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_STREAM_RE = re.compile(rb"stream\r?\n")
_SHOW_RE = re.compile(
    rb"\[((?:\((?:\\.|[^\\()])*\)|[^\]])*)\]\s*TJ"  # [ ... ] TJ arrays
    rb"|\((?:\\.|[^\\()])*\)\s*Tj"  # (..) Tj
    rb"|<[0-9A-Fa-f\s]*>\s*Tj"  # <hex> Tj
    rb"|T\*|TD|Td|Tm"  # line/position ops -> newline
)
_ITEM_RE = re.compile(
    rb"\((?:\\.|[^\\()])*\)|<[0-9A-Fa-f\s]*>|-?\d+(?:\.\d+)?"
)
_ESC_CHAR = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}

#: TJ kern threshold (thousandths of em) below which we emit a space.
KERN_GAP = -150


#: One alternation, one pass: sequential re.sub passes would re-examine
#: bytes PRODUCED by an earlier pass (``\\\\`` -> ``\`` -> stripped again).
#: ISO 32000 §7.3.4.2: named escapes; up to three OCTAL digits (``\8``
#: is not octal — int(_, 8) on it used to raise ValueError out of the
#: extraction UDF); backslash-EOL is a line continuation (both bytes
#: drop); any other escaped byte keeps itself, dropping the backslash.
_ESC_RE = re.compile(rb"\\(?:([nrtbf()\\])|([0-7]{1,3})|(\r\n?|\n)|(.)|$)", re.S)


def _unescape(lit: bytes) -> bytes:
    def repl(m: re.Match[bytes]) -> bytes:
        if m.group(1) is not None:
            return _ESC_CHAR[m.group(1)]
        if m.group(2) is not None:
            return bytes([int(m.group(2), 8) & 0xFF])
        if m.group(4) is not None:
            return m.group(4)
        return b""  # line continuation or trailing backslash

    return _ESC_RE.sub(repl, lit[1:-1])


# ------------------------------------------------------------- ToUnicode CMap
# ISO 32000 §9.10.3: a ToUnicode CMap maps show-string character codes to
# Unicode via bfchar (<src> <dst>) and bfrange (<lo> <hi> <dst>|[<d>...])
# entries; dst values are UTF-16BE. Without object-graph font resolution
# (no xref walking here) all CMaps in the file are unioned per code width,
# and hex show strings pick the best-covering width — exact when the file
# uses one consistent encoding per width, which born-digital report
# generators do.

_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_HEX_TOK = re.compile(rb"<([0-9A-Fa-f]+)>")
_RANGE_ITEM = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*(\[[^\]]*\]|<[0-9A-Fa-f]+>)"
)

CMaps = dict[int, dict[int, str]]  # code byte-width -> {code -> unicode}


def _utf16(hx: bytes) -> str:
    if len(hx) % 2:  # odd final digit is an implied 0, as in hex strings
        hx += b"0"
    return bytes.fromhex(hx.decode("ascii")).decode("utf-16-be", "replace")


def parse_tounicode(data: bytes, into: CMaps | None = None) -> CMaps:
    """Parse one ToUnicode CMap stream into ``{width: {code: str}}``."""
    maps: CMaps = into if into is not None else {}

    def put(src_hex: bytes, dst: str) -> None:
        width = max(1, len(src_hex) // 2)
        maps.setdefault(width, {})[int(src_hex, 16)] = dst

    for body in _BFCHAR_RE.findall(data):
        toks = _HEX_TOK.findall(body)
        for src, dst in zip(toks[0::2], toks[1::2]):
            put(src, _utf16(dst))
    for body in _BFRANGE_RE.findall(data):
        for lo_h, hi_h, dst in _RANGE_ITEM.findall(body):
            lo, hi = int(lo_h, 16), int(hi_h, 16)
            if hi < lo or hi - lo > 0xFFFF:
                continue
            width = max(1, len(lo_h) // 2)
            if dst.startswith(b"["):
                dsts = [_utf16(h) for h in _HEX_TOK.findall(dst)]
                for i, d in enumerate(dsts[: hi - lo + 1]):
                    maps.setdefault(width, {})[lo + i] = d
            else:
                base = _utf16(_HEX_TOK.match(dst).group(1))
                for i in range(hi - lo + 1):
                    # increment the final UTF-16 code unit (spec behavior);
                    # a hostile base near U+10FFFF would walk past chr()'s
                    # domain — stop instead of raising out of the UDF
                    if base and ord(base[-1]) + i > 0x10FFFF:
                        break
                    maps.setdefault(width, {})[lo + i] = base[:-1] + chr(
                        ord(base[-1]) + i
                    ) if base else ""
    return maps


def _hex_show_bytes(tok: bytes) -> bytes:
    """Raw bytes of a ``<hex>`` show string (whitespace stripped; an odd
    final digit is padded with 0 per spec)."""
    hx = re.sub(rb"\s", b"", tok)
    hx = hx[hx.find(b"<") + 1 : hx.find(b">")]
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode("ascii")) if hx else b""


def _decode_codes(raw: bytes, cmaps: CMaps | None) -> str:
    """Decode hex-show-string bytes via the best-covering CMap width;
    fall back to latin-1 when no CMap covers the codes."""
    if cmaps:
        if 2 in cmaps and len(raw) % 2 == 0 and raw:
            m2 = cmaps[2]
            codes = [
                int.from_bytes(raw[i : i + 2], "big") for i in range(0, len(raw), 2)
            ]
            if sum(c in m2 for c in codes) * 2 >= len(codes):
                return "".join(m2.get(c, "\ufffd") for c in codes)
        if 1 in cmaps and raw:
            m1 = cmaps[1]
            if sum(b in m1 for b in raw) * 2 >= len(raw):
                return "".join(m1.get(b, chr(b)) for b in raw)
    return raw.decode("latin-1", "replace")


def _stream_text(content: bytes, cmaps: CMaps | None = None) -> str:
    """Reconstruct reading-order text of one decompressed content stream."""
    out: list[str] = []
    for m in _SHOW_RE.finditer(content):
        tok = m.group(0)
        if tok.endswith(b"TJ"):
            parts: list[str] = []
            for sm in _ITEM_RE.finditer(m.group(1) or b""):
                t = sm.group(0)
                if t.startswith(b"("):
                    parts.append(_unescape(t).decode("latin-1", "replace"))
                elif t.startswith(b"<"):
                    parts.append(_decode_codes(_hex_show_bytes(t), cmaps))
                else:
                    try:
                        if float(t) < KERN_GAP:
                            parts.append(" ")
                    except ValueError:
                        pass
            out.append("".join(parts))
        elif tok.endswith(b"Tj"):
            body = tok[: -2].strip()
            if body.startswith(b"<"):
                out.append(_decode_codes(_hex_show_bytes(body), cmaps))
            else:
                out.append(
                    _unescape(body[: body.rfind(b")") + 1]).decode(
                        "latin-1", "replace"
                    )
                )
        else:
            out.append("\n")
    return " ".join(x for x in out if x)


def _iter_streams(pdf_bytes: bytes):
    """Yield every FlateDecode-decompressible stream payload in order."""
    for m in _STREAM_RE.finditer(pdf_bytes):
        start = m.end()
        end = pdf_bytes.find(b"endstream", start)
        if end == -1:
            continue
        try:
            # decompressobj tolerates the EOL bytes between the deflate
            # payload and the `endstream` keyword; a plain decompress()
            # after rstrip would corrupt payloads that themselves end in
            # 0x0A/0x0D (~2% of streams).
            yield zlib.decompressobj().decompress(pdf_bytes[start:end])
        except zlib.error:
            continue


def extract_pages(pdf_bytes: bytes) -> list[tuple[int, str]]:
    """PDF bytes -> [(page_index, text)] over text-bearing content
    streams (stream order approximates page order for linear reports).

    Two passes: collect every ToUnicode CMap first (so a CMap defined
    after its content stream still applies), then decode text streams —
    literal ``( )`` strings as latin-1 (+octal escapes), ``<hex>``
    strings through the unioned CMaps.
    """
    cmaps: CMaps = {}
    streams = list(_iter_streams(pdf_bytes))
    for data in streams:
        if b"beginbfchar" in data or b"beginbfrange" in data:
            parse_tounicode(data, into=cmaps)
    pages: list[tuple[int, str]] = []
    idx = 0
    for data in streams:
        if b"begincmap" in data or b"beginbfchar" in data or b"beginbfrange" in data:
            continue
        if b"Tj" not in data and b"TJ" not in data:
            continue
        text = _stream_text(data, cmaps)
        if text.strip():
            pages.append((idx, text))
            idx += 1
    return pages


PAGES_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("page", T.IntegerType()),
            T.StructField("text", T.StringType()),
        ]
    )
)


@F.pandas_udf(PAGES_TYPE)
def pages_udf(content: pd.Series) -> pd.Series:
    """X1 as an Arrow-batched Pandas UDF over binaryFile content."""
    return content.map(lambda b: extract_pages(bytes(b)) if b is not None else [])


# ------------------------------------------------------- positional extraction
# X2's scale path: recover table CELLS from text-run coordinates instead
# of flat-text regex. A minimal text-matrix state machine (BT resets;
# `a b c d e f Tm` sets the origin; `tx ty Td/TD` translates) tags every
# show string with its (x, y); cells are then clustered by y (rows) and
# x (columns) with a tolerance — the Tabula/Camelot "lattice-less" idea
# (TEST.md:83) expressed over the operators this parser already lexes.

_NUM = rb"-?\d+(?:\.\d+)?"
_POS_SHOW_RE = re.compile(
    rb"(" + _NUM + rb")\s+(" + _NUM + rb")\s+(" + _NUM + rb")\s+("
    + _NUM + rb")\s+(" + _NUM + rb")\s+(" + _NUM + rb")\s+Tm"
    rb"|(" + _NUM + rb")\s+(" + _NUM + rb")\s+T[dD]"
    rb"|\[((?:\((?:\\.|[^\\()])*\)|[^\]])*)\]\s*TJ"
    rb"|(\((?:\\.|[^\\()])*\)|<[0-9A-Fa-f\s]*>)\s*Tj"
    rb"|BT"
)


def _decode_one_show(tok: bytes, cmaps: CMaps | None) -> str:
    if tok.startswith(b"<"):
        return _decode_codes(_hex_show_bytes(tok), cmaps)
    return _unescape(tok).decode("latin-1", "replace")


def extract_runs(pdf_bytes: bytes) -> list[tuple[int, float, float, str]]:
    """PDF bytes -> [(page_idx, x, y, text)] — every show string tagged
    with the text-space position it was drawn at."""
    cmaps: CMaps = {}
    streams = list(_iter_streams(pdf_bytes))
    for data in streams:
        if b"beginbfchar" in data or b"beginbfrange" in data:
            parse_tounicode(data, into=cmaps)
    runs: list[tuple[int, float, float, str]] = []
    page = 0
    for data in streams:
        if b"begincmap" in data or b"beginbfchar" in data or b"beginbfrange" in data:
            continue
        if b"Tj" not in data and b"TJ" not in data:
            continue
        x = y = 0.0
        emitted = False
        for m in _POS_SHOW_RE.finditer(data):
            g = m.groups()
            if m.group(0) == b"BT":
                x = y = 0.0
            elif g[0] is not None:  # Tm
                x, y = float(g[4]), float(g[5])
            elif g[6] is not None:  # Td/TD
                x += float(g[6])
                y += float(g[7])
            elif g[8] is not None:  # TJ array
                parts: list[str] = []
                for sm in _ITEM_RE.finditer(g[8]):
                    t = sm.group(0)
                    if t.startswith(b"(") or t.startswith(b"<"):
                        parts.append(_decode_one_show(t, cmaps))
                    else:
                        try:
                            if float(t) < KERN_GAP:
                                parts.append(" ")
                        except ValueError:
                            pass
                text = "".join(parts)
                if text.strip():
                    runs.append((page, x, y, text))
                    emitted = True
            elif g[9] is not None:  # Tj
                text = _decode_one_show(g[9], cmaps)
                if text.strip():
                    runs.append((page, x, y, text))
                    emitted = True
        if emitted:
            page += 1
    return runs


def _cluster_1d(vals: list[float], tol: float) -> dict[float, int]:
    """Sorted gap clustering: values within ``tol`` of the previous value
    share a cluster; returns value -> cluster index (ascending order)."""
    out: dict[float, int] = {}
    idx = -1
    prev: float | None = None
    for v in sorted(set(vals)):
        if prev is None or v - prev > tol:
            idx += 1
        out[v] = idx
        prev = v
    return out


def cluster_cells(
    runs: list[tuple[int, float, float, str]],
    y_tol: float = 3.0,
    x_tol: float = 20.0,
) -> list[tuple[int, int, str]]:
    """Positioned runs (single page) -> [(row_idx, col_idx, cell_text)].
    Rows cluster on y (top of page = row 0), columns on x; runs landing
    in the same cell concatenate in x order."""
    if not runs:
        return []
    ys = _cluster_1d([r[2] for r in runs], y_tol)
    n_rows = max(ys.values())
    xs = _cluster_1d([r[1] for r in runs], x_tol)
    cells: dict[tuple[int, int], list[tuple[float, str]]] = {}
    for _, x, y, text in runs:
        # PDF y grows upward: top line = row 0
        cells.setdefault((n_rows - ys[y], xs[x]), []).append((x, text))
    return [
        (r, c, " ".join(t for _, t in sorted(parts)).strip())
        for (r, c), parts in sorted(cells.items())
    ]


def render_table_pdf(cells: list[tuple[int, int, str]]) -> bytes:
    """[(row_idx, col_idx, text)] -> one-page PDF with each cell drawn at
    an explicit Tm position. Cells are emitted COLUMN-major with a
    deterministic per-cell x jitter, so recovering row-major order is
    only possible from the coordinates — the round-trip proves positional
    reconstruction, not stream-order luck."""
    ops: list[bytes] = [b"BT /F1 10 Tf"]
    for row, col, text in sorted(cells, key=lambda c: (c[1], c[0])):
        x = 40.0 + col * 130.0 + ((row * 7 + col * 3) % 5)  # jitter < x_tol
        y = 720.0 - row * 18.0 + ((row + col) % 2)  # jitter < y_tol
        ops.append(
            b"1 0 0 1 %.1f %.1f Tm (%s) Tj" % (x, y, _pdf_escape(text))
        )
    ops.append(b"ET")
    return _pdf_bytes([_PAGE_F1, _flate(b" ".join(ops)), _HELVETICA])


# --------------------------------------------------------------- PDF renderer
# Synthetic born-digital PDFs for round-trip testing of the extractor at
# corpus scale (the real sample report is covered by the golden tests).
# Structure follows ISO 32000: catalog/pages/page objects, a FlateDecode
# content stream with BT..Tj..ET, a correct xref table and trailer.


def _pdf_escape(text: str) -> bytes:
    b = text.encode("latin-1", "replace")
    return b.replace(b"\\", b"\\\\").replace(b"(", b"\\(").replace(b")", b"\\)")


#: Object 3 of a rendered PDF whose text is drawn by content stream 4 in
#: font F1 (object 5).
_PAGE_F1 = (
    b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
    b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>"
)
_HELVETICA = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"


def _flate(content: bytes) -> bytes:
    """A FlateDecode stream object holding ``content``."""
    stream = zlib.compress(content)
    return b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream" % (
        len(stream),
        stream,
    )


def _pdf_bytes(objs: list[bytes]) -> bytes:
    """The bytes of a one-page PDF: the catalog (object 1), the page tree
    (object 2, whose one kid is object 3), then ``objs`` numbered from 3,
    the page first; then the xref table of object offsets and the
    trailer."""
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        *objs,
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return bytes(out)


def render_pdf(text: str) -> bytes:
    """text -> one-page PDF whose only text op is a single Tj literal,
    plus a non-text (graphics) stream the extractor must skip."""
    content = b"BT /F1 12 Tf (" + _pdf_escape(text) + b") Tj ET"
    return _pdf_bytes(
        [_PAGE_F1, _flate(content), _HELVETICA, _flate(b"0 0 612 792 re f")]
    )


@F.pandas_udf(T.BinaryType())
def render_pdf_udf(text: pd.Series) -> pd.Series:
    """Vectorized PDF renderer (the inverse of pages_udf, for round-trip
    verification of the extractor over arbitrary corpora)."""
    return text.map(render_pdf)


def render_pdf_hex(text: str) -> bytes:
    """text -> one-page PDF whose show op is a ``<hex> Tj`` of 2-byte
    character codes with a ToUnicode CMap (bfchar entries) — the
    CID-font shape the extractor's hex path must decode. Codes are
    deliberately NOT the Unicode code points (offset by 0x0100), so a
    pass proves the CMap was applied, not just hex-decoded."""
    uniq = sorted(set(text))
    code_of = {ch: 0x0100 + i for i, ch in enumerate(uniq)}
    content = (
        b"BT /F1 12 Tf <"
        + "".join(f"{code_of[ch]:04X}" for ch in text).encode("ascii")
        + b"> Tj ET"
    )
    bfchars = "".join(
        f"<{code_of[ch]:04X}> <{ord(ch):04X}>\n" for ch in uniq
    ).encode("ascii")
    cmap = (
        b"/CIDInit /ProcSet findresource begin\n"
        b"begincmap\n"
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        + (b"%d beginbfchar\n%sendbfchar\n" % (len(uniq), bfchars))
        + b"endcmap\nend\n"
    )
    return _pdf_bytes(
        [
            _PAGE_F1,
            _flate(content),
            b"<< /Type /Font /Subtype /Type0 /BaseFont /Synthetic "
            b"/ToUnicode 6 0 R >>",
            _flate(cmap),
        ]
    )


def render_scanned_pdf(text: str) -> bytes:
    """text -> one-page PDF with NO text layer: the page's only content
    is a graphics (image-placeholder) stream, the shape of a scanned
    report where each page is a raster with nothing for a text extractor
    to find. ``text`` only sizes the fake raster payload; none of it is
    recoverable — extract_pages must return [] for these bytes."""
    gfx = (
        b"q 612 0 0 792 0 0 cm /Im1 Do Q %% raster placeholder, %d source bytes"
        % len(text.encode("latin-1", "replace"))
    )
    return _pdf_bytes(
        [
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R >>",
            _flate(gfx),
        ]
    )


@F.pandas_udf(T.BinaryType())
def render_scanned_pdf_udf(text: pd.Series) -> pd.Series:
    """Vectorized scanned-PDF (no text layer) renderer for X9b."""
    return text.map(render_scanned_pdf)
