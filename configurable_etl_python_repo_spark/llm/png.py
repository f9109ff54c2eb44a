"""Stdlib-only PNG codec for the multimodal seam — zero new
dependencies (zlib + struct), PIL-shaped so it plugs into the existing
injectable codec boundary (llm/multimodal.py: ``codec=`` on
extract_features / resize_images) and converts the strict decode path
from environment-blocked to shipped-for-PNG.

Scope (raises loudly outside it, the strict-mode contract):
- 8-bit samples, color types 0 (gray), 2 (RGB), 4 (gray+alpha),
  6 (RGBA); non-interlaced. Palette (3), 16-bit, and Adam7 raise
  NotImplementedError naming the limitation; non-PNG magic (JPEG,
  video containers) raises ValueError.
- All five scanline filters (None/Sub/Up/Average/Paeth) are decoded;
  the ENCODER deliberately rotates filter types per row (row % 5) so
  any encode→decode round trip exercises every unfilter path — the
  fixture PNGs the tests and the m4/m5 catalog rows generate are made
  by this encoder dual.

Deliberate non-goals: this is a correctness codec, not PIL. resize()
is deterministic nearest-neighbor (``sx = x * src // dst``) and
convert("L") is the classic integer luminance
``(299 R + 587 G + 114 B) // 1000`` — both chosen to be exactly
reproducible in SQL oracles, NOT to be bit-identical to Pillow's
resampling. A user who installs Pillow gets PIL semantics through the
same seam; this module is the dependency-free floor.

Reference parity: the reference repo has no media handling at all
(/root/reference/Configurable_ETL_Python.py — tabular pandas only);
this is LLM-curation extension surface.

Spark posture: pure per-payload byte work with no driver state — it
runs inside Arrow-batched mapInPandas exactly like the PIL path, so
the 100 TB story (size-aware repartition before decode, pruned
two-column Arrow transfer) is unchanged.
"""

from __future__ import annotations

import struct
import zlib

_MAGIC = b"\x89PNG\r\n\x1a\n"

#: color type -> (mode, channels)
_COLOR_TYPES = {0: ("L", 1), 2: ("RGB", 3), 4: ("LA", 2), 6: ("RGBA", 4)}
_MODES = {m: (ct, ch) for ct, (m, ch) in _COLOR_TYPES.items()}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _unfilter(raw: bytes, width: int, height: int, bpp: int) -> bytearray:
    """Reverse the per-scanline filters into raw interleaved samples.
    stride = width * bpp; raw carries 1 filter-type byte per row."""
    stride = width * bpp
    if len(raw) != (stride + 1) * height:
        raise ValueError(
            f"corrupt PNG: decompressed {len(raw)} bytes, expected "
            f"{(stride + 1) * height} for {width}x{height} bpp={bpp}"
        )
    out = bytearray(stride * height)
    prev_off = -stride
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
        off = y * stride
        if ftype == 0:  # None
            out[off : off + stride] = line
        elif ftype == 1:  # Sub
            for x in range(stride):
                a = out[off + x - bpp] if x >= bpp else 0
                out[off + x] = (line[x] + a) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                b = out[prev_off + x] if y else 0
                out[off + x] = (line[x] + b) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                a = out[off + x - bpp] if x >= bpp else 0
                b = out[prev_off + x] if y else 0
                out[off + x] = (line[x] + (a + b) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = out[off + x - bpp] if x >= bpp else 0
                b = out[prev_off + x] if y else 0
                c = out[prev_off + x - bpp] if (y and x >= bpp) else 0
                out[off + x] = (line[x] + _paeth(a, b, c)) & 0xFF
        else:
            raise ValueError(f"corrupt PNG: unknown filter type {ftype}")
        prev_off = off
    return out


def _filter_row(line: bytes, prev: bytes, bpp: int, ftype: int) -> bytes:
    """The encoder dual of _unfilter for one scanline."""
    n = len(line)
    if ftype == 0:
        return bytes(line)
    out = bytearray(n)
    for x in range(n):
        a = line[x - bpp] if x >= bpp else 0
        b = prev[x] if prev else 0
        c = prev[x - bpp] if (prev and x >= bpp) else 0
        if ftype == 1:
            pred = a
        elif ftype == 2:
            pred = b
        elif ftype == 3:
            pred = (a + b) // 2
        else:
            pred = _paeth(a, b, c)
        out[x] = (line[x] - pred) & 0xFF
    return bytes(out)


class RawImage:
    """The PIL.Image-shaped object the multimodal seam consumes:
    .size / .format / .convert("L") / .resize((w, h)) / .getdata() /
    .save(fp, format=...). Pixels are flat row-major interleaved bytes.
    The stdlib codecs (PngImage here, jpeg.JpegImage) subclass it with
    their own `format`, `_CH` (mode -> channels) and `save`."""

    format = ""
    _CH: "dict[str, int]" = {}

    def __init__(self, mode: str, size: "tuple[int, int]", data: bytes):
        if mode not in self._CH:
            raise ValueError(f"unsupported mode {mode!r}")
        w, h = int(size[0]), int(size[1])
        ch = self._CH[mode]
        if len(data) != w * h * ch:
            raise ValueError(
                f"mode {mode} {w}x{h} needs {w * h * ch} bytes, got "
                f"{len(data)}"
            )
        self.mode, self.size, self._data = mode, (w, h), bytes(data)

    @property
    def _channels(self) -> int:
        return self._CH[self.mode]

    def convert(self, mode: str) -> "RawImage":
        if mode == self.mode:
            return self
        if mode != "L":
            raise NotImplementedError(
                f"{self.format.lower()}_stdlib converts only to 'L', "
                f"not {mode!r}"
            )
        ch, d = self._channels, self._data
        if self.mode == "LA":  # drop alpha
            out = d[0::2]
        else:  # RGB / RGBA: integer luminance, SQL-reproducible
            out = bytes(
                (299 * d[i] + 587 * d[i + 1] + 114 * d[i + 2]) // 1000
                for i in range(0, len(d), ch)
            )
        return type(self)("L", self.size, out)

    def resize(self, size: "tuple[int, int]") -> "RawImage":
        """Deterministic nearest-neighbor (``src = dst * n // m``) —
        exactly reproducible in integer SQL, unlike PIL's default
        bicubic."""
        dw, dh = int(size[0]), int(size[1])
        if dw < 1 or dh < 1:
            raise ValueError(f"resize to {size} — both sides must be >= 1")
        sw, sh = self.size
        ch = self._channels
        rows = []
        for y in range(dh):
            sy = y * sh // dh
            row = self._data[sy * sw * ch : (sy + 1) * sw * ch]
            rows.append(
                b"".join(
                    row[(x * sw // dw) * ch : (x * sw // dw) * ch + ch]
                    for x in range(dw)
                )
            )
        return type(self)(self.mode, (dw, dh), b"".join(rows))

    def getdata(self):
        """Pixel sequence: ints for L, tuples otherwise (PIL shape)."""
        ch = self._channels
        if ch == 1:
            return list(self._data)
        return [
            tuple(self._data[i : i + ch])
            for i in range(0, len(self._data), ch)
        ]


class PngImage(RawImage):
    """A decoded PNG: modes L, LA, RGB and RGBA."""

    format = "PNG"
    _CH = {m: ch for m, (_, ch) in _MODES.items()}

    def save(self, fp, format: "str | None" = None) -> None:
        if format not in (None, "PNG"):
            raise NotImplementedError(
                f"png_stdlib encodes only PNG, not {format!r}"
            )
        fp.write(encode_png(self.mode, self.size, self._data))


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body)) + tag + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(mode: str, size: "tuple[int, int]", data: bytes) -> bytes:
    """The encoder dual: 8-bit non-interlaced PNG. Filter type rotates
    per row (y % 5) so every decode of these bytes exercises all five
    unfilter paths — the fixture-generation property the tests and the
    m4/m5 oracles rely on. Deterministic for a given input (single
    zlib.compress at the default level)."""
    if mode not in _MODES:
        raise ValueError(f"unsupported mode {mode!r}")
    color_type, ch = _MODES[mode]
    w, h = int(size[0]), int(size[1])
    if w < 1 or h < 1 or len(data) != w * h * ch:
        raise ValueError(
            f"encode_png({mode}, {size}): need {w * h * ch} bytes, "
            f"got {len(data)}"
        )
    stride = w * ch
    raw = bytearray()
    prev = b""
    for y in range(h):
        line = bytes(data[y * stride : (y + 1) * stride])
        ftype = y % 5
        raw.append(ftype)
        raw += _filter_row(line, prev, ch, ftype)
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _MAGIC
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> PngImage:
    """Parse + inflate + unfilter a PNG byte string. ValueError for
    non-PNG bytes (a JPEG fed to strict mode fails loudly, never
    silently); NotImplementedError for valid PNGs outside the 8-bit
    non-interlaced gray/RGB(A) scope."""
    if len(payload) < 8 or payload[:8] != _MAGIC:
        raise ValueError(
            "not a PNG (bad magic) — png_stdlib decodes PNG only; "
            "install Pillow for other image formats"
        )
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) != length:
            raise ValueError("corrupt PNG: truncated chunk")
        if tag == b"IHDR":
            ihdr = body
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        # ancillary chunks (tEXt, pHYs, ...) are skipped
        pos += 12 + length
    if ihdr is None or not idat:
        raise ValueError("corrupt PNG: missing IHDR/IDAT")
    if len(ihdr) != 13:
        raise ValueError(
            f"corrupt PNG: IHDR is {len(ihdr)} bytes, expected 13"
        )
    w, h, depth, color, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if depth != 8:
        raise NotImplementedError(
            f"png_stdlib decodes 8-bit PNGs only (bit depth {depth})"
        )
    if color not in _COLOR_TYPES:
        raise NotImplementedError(
            f"png_stdlib does not decode color type {color} "
            f"(palette PNGs need Pillow)"
        )
    if interlace != 0:
        raise NotImplementedError(
            "png_stdlib does not decode Adam7-interlaced PNGs"
        )
    if comp != 0 or filt != 0:
        raise ValueError(
            f"corrupt PNG: compression={comp} filter_method={filt}"
        )
    if w < 1 or h < 1:
        # also load-bearing for the bomb guard below: w=0 or h=0 would
        # make expected=0, and zlib's max_length=0 means UNLIMITED
        raise ValueError(f"corrupt PNG: dimensions {w}x{h}")
    mode, ch = _COLOR_TYPES[color]
    expected = (w * ch + 1) * h
    # bounded inflate: a crafted few-KB payload declaring small dims
    # but carrying a multi-GB compressible stream must not allocate
    # past the size the IHDR promises (decompression-bomb guard for
    # untrusted crawl corpora) — and zlib/length errors surface as the
    # documented ValueError, so quarantine-by-exception-type works
    try:
        d = zlib.decompressobj()
        raw = d.decompress(bytes(idat), expected)
        if d.unconsumed_tail or (d.flush() and len(raw) >= expected):
            raise ValueError(
                f"corrupt PNG: IDAT inflates past the {expected} "
                f"bytes its {w}x{h} IHDR declares"
            )
    except zlib.error as e:
        raise ValueError(f"corrupt PNG: IDAT inflate failed ({e})") from e
    data = _unfilter(raw, w, h, ch)
    return PngImage(mode, (w, h), bytes(data))


def open(fp) -> PngImage:  # noqa: A001 - PIL-shaped module surface
    """PIL.Image.open-shaped entry point (reads the whole stream —
    payloads arrive as in-memory bytes from the Arrow batch)."""
    return decode_png(fp.read())
