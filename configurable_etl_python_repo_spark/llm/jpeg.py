"""Stdlib+numpy baseline JPEG codec for the multimodal seam — zero new
dependencies (struct + zlib-free; numpy only for the 8x8 DCT), PIL-shaped
like llm/png.py so it plugs into the same injectable codec boundary
(llm/multimodal.py ``codec=``) and extends the strict decode path from
shipped-for-PNG to shipped-for-JPEG.

Scope (raises loudly outside it, the strict-mode contract):
- DECODE: baseline sequential DCT (SOF0, and SOF1's 8-bit huffman
  subset), 8-bit samples, 1-component grayscale or 3-component JFIF
  YCbCr with sampling factors 1/2/4 (4:4:4, 4:2:2, 4:2:0, ...),
  restart intervals (DRI/RSTn), multi-table DQT/DHT segments, APPn/COM
  skipped. Progressive (SOF2), lossless/hierarchical/arithmetic SOFs,
  12-bit precision, and 4-component (Adobe CMYK) raise
  NotImplementedError naming the limitation; non-JPEG magic raises
  ValueError (quarantine-by-exception-type, the png.py convention).
- ENCODE (the fixture dual): modes "L" and "RGB", 4:4:4 or 4:2:0,
  ITU T.81 Annex K quantization + huffman tables with IJG quality
  scaling, optional restart intervals.

Determinism contract (what makes the m6 SQL oracle possible): every
rounding site is floor(x + 0.5) over IEEE-754 doubles or pure integer
floor division, stated here and restated verbatim in the oracle SQL:

- RGB->YCbCr (encode) is integer-exact:
    Y  = (299 R + 587 G + 114 B + 500) fdiv 1000
    Cb = 128 + (-168736 R - 331264 G + 500000 B + 500000) fdiv 1000000
    Cr = 128 + (500000 R - 418688 G - 81312 B + 500000) fdiv 1000000
  (fdiv = floor division; clamp to [0, 255]).
- The DC coefficient is computed from the INTEGER block sum
  (F00 = sum/8, mathematically identical to the orthonormal FDCT's DC
  and numerically EXACT — a float matrix product would carry ~1e-13
  error that flips floor() at exact .5 quantization boundaries, e.g.
  odd deltas against the quality-50 luma q00=16).
- Quantize: floor(F/q + 0.5); dequantized DC-only blocks skip the
  IDCT and reconstruct as clamp(floor(F00_dequant/8 + 128.5)) — /8 is
  a power of two, so the value is exact and SQL-restatable (also a
  genuine fast path: flat regions are DC-only).
- YCbCr->RGB (decode), evaluated left-to-right in doubles:
    R = clamp(floor(Y + 1.402 (Cr-128) + 0.5))
    G = clamp(floor(Y - 0.344136 (Cb-128) - 0.714136 (Cr-128) + 0.5))
    B = clamp(floor(Y + 1.772 (Cb-128) + 0.5))

Deliberate non-goals: this is a correctness codec, not libjpeg —
entropy coding is per-symbol Python (fine for the catalog fixtures;
a production cluster installs Pillow through the same seam), there is
no DNL/thumbnail/EXIF handling, and resize()/convert("L") follow the
png.py integer conventions rather than PIL resampling.

Reference parity: the reference repo has no media handling at all
(/root/reference/Configurable_ETL_Python.py — tabular pandas only);
this is LLM-curation extension surface. Format layout follows the
public ITU-T T.81 spec (Annex K default tables) and the JFIF 1.02
convention; no external code consulted.

Spark posture: pure per-payload byte work with no driver state — runs
inside Arrow-batched mapInPandas exactly like the PIL path; the 100 TB
story (size-aware repartition before decode, pruned two-column Arrow
transfer) is unchanged.
"""

from __future__ import annotations

import struct

import numpy as np

from .png import RawImage

# ---------------------------------------------------------------- tables

#: ITU T.81 Annex K base quantization tables (natural row-major order)
_BASE_QT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
_BASE_QT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)


def _zigzag_order() -> np.ndarray:
    """Flat (row*8+col) indices in JPEG zigzag scan order, generated
    (not transcribed): odd anti-diagonals run top-right -> bottom-left,
    even ones the reverse."""
    coords = []
    for s in range(15):
        rng = range(max(0, s - 7), min(s, 7) + 1)
        if s % 2 == 0:
            coords += [(s - i, i) for i in rng]
        else:
            coords += [(i, s - i) for i in rng]
    return np.array([r * 8 + c for r, c in coords], dtype=np.int64)


_ZZ = _zigzag_order()
_UNZZ = np.argsort(_ZZ)  # natural position of each zigzag index

#: Annex K huffman specs: (counts per code length 1..16, symbol values)
_DC_LUMA_SPEC = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROMA_SPEC = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)


_AC_LUMA_SPEC = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
_AC_CHROMA_SPEC = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)

for _counts, _vals in (
    _DC_LUMA_SPEC, _DC_CHROMA_SPEC, _AC_LUMA_SPEC, _AC_CHROMA_SPEC
):
    assert sum(_counts) == len(_vals), "huffman spec count mismatch"


def scaled_quant_tables(quality: int) -> "tuple[np.ndarray, np.ndarray]":
    """IJG quality scaling of the Annex K base tables (natural order):
    scale = 5000/q below 50 else 200-2q; entry = clamp((base*scale+50)
    fdiv 100, 1, 255). Exported so the m6 oracle can state the exact
    q00 literals for its quality."""
    q = int(quality)
    if not 1 <= q <= 100:
        raise ValueError(f"quality must be in [1, 100], got {quality}")
    scale = 5000 // q if q < 50 else 200 - 2 * q
    luma = np.clip((_BASE_QT_LUMA * scale + 50) // 100, 1, 255)
    chroma = np.clip((_BASE_QT_CHROMA * scale + 50) // 100, 1, 255)
    return luma.astype(np.int64), chroma.astype(np.int64)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II basis C: F = C @ f @ C.T, f = C.T @ F @ C.
    C[u, x] = 0.5 c(u) cos((2x+1) u pi / 16), c(0) = 1/sqrt(2)."""
    u = np.arange(8).reshape(8, 1).astype(np.float64)
    x = np.arange(8).reshape(1, 8).astype(np.float64)
    c = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    c[0, :] *= 1.0 / np.sqrt(2.0)
    return c


_C = _dct_matrix()
_CT = _C.T.copy()


# ------------------------------------------------------------- bit I/O


class _BitWriter:
    """MSB-first bit accumulator with 0xFF byte stuffing."""

    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def put(self, value: int, nbits: int) -> None:
        if nbits == 0:
            return
        self._acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        self._n += nbits
        while self._n >= 8:
            b = (self._acc >> (self._n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self._n -= 8
        self._acc &= (1 << self._n) - 1

    def pad_to_byte(self) -> None:
        """Flush with 1-bits (the T.81 fill-bit convention)."""
        if self._n:
            self.put((1 << (8 - self._n)) - 1, 8 - self._n)


class _BitReader:
    """MSB-first reader over an entropy-coded segment (stuffing already
    stripped by the scan splitter)."""

    def __init__(self, data: bytes) -> None:
        self._d = data
        self._pos = 0
        self._bit = 0

    def read_bit(self) -> int:
        if self._pos >= len(self._d):
            raise ValueError("corrupt JPEG: entropy data exhausted")
        b = (self._d[self._pos] >> (7 - self._bit)) & 1
        self._bit += 1
        if self._bit == 8:
            self._bit = 0
            self._pos += 1
        return b

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _extend(v: int, s: int) -> int:
    """T.81 EXTEND: map the s-bit magnitude v to its signed value."""
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


# ------------------------------------------------------------- huffman


class _HuffTable:
    """Canonical huffman code from (counts-per-length, values)."""

    def __init__(self, counts: "list[int]", values: "list[int]") -> None:
        if sum(counts) != len(values):
            raise ValueError("corrupt JPEG: DHT count/value mismatch")
        self.decode_map: dict[tuple[int, int], int] = {}
        self.encode_map: dict[int, tuple[int, int]] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(counts[length - 1]):
                if code >= (1 << length):
                    raise ValueError("corrupt JPEG: over-full huffman code")
                sym = values[k]
                self.decode_map[(length, code)] = sym
                self.encode_map[sym] = (code, length)
                code += 1
                k += 1
            code <<= 1

    def decode(self, reader: _BitReader) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | reader.read_bit()
            sym = self.decode_map.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("corrupt JPEG: invalid huffman code")


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


# -------------------------------------------------------------- image


class JpegImage(RawImage):
    """A decoded baseline JPEG: modes L and RGB — the png.RawImage
    facade (.size / .format / .convert("L") / .resize / .getdata) with
    a JPEG .save."""

    format = "JPEG"
    _CH = {"L": 1, "RGB": 3}

    def save(self, fp, format: "str | None" = None, quality: int = 90) -> None:
        if format not in (None, "JPEG", "JPG"):
            raise NotImplementedError(
                f"jpeg_stdlib encodes only JPEG, not {format!r}"
            )
        fp.write(encode_jpeg(self.mode, self.size, self._data, quality))


# ------------------------------------------------------------- encoder


def _plane_to_blocks(plane: np.ndarray, bh: int, bw: int) -> np.ndarray:
    """Edge-pad a (h, w) int plane to (bh*8, bw*8) and cut into a
    (bh*bw, 8, 8) block stack (MCU-aligned padding by edge replication,
    the convention that keeps padded blocks of flat fixtures flat)."""
    h, w = plane.shape
    plane = np.pad(
        plane, ((0, bh * 8 - h), (0, bw * 8 - w)), mode="edge"
    )
    return (
        plane.reshape(bh, 8, bw, 8)
        .transpose(0, 2, 1, 3)
        .reshape(bh * bw, 8, 8)
    )


def _fdct_quant(blocks: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """Level-shift, forward DCT, quantize -> (n, 64) int32 in ZIGZAG
    order. The DC coefficient is recomputed from the integer block sum
    (exact; see module docstring)."""
    shifted = blocks.astype(np.float64) - 128.0
    f = _C @ shifted @ _CT
    # exact DC: orthonormal F00 == sum(block)/8; integer sum then a
    # power-of-two divide is lossless in doubles
    f[:, 0, 0] = (blocks.sum(axis=(1, 2), dtype=np.int64) - 64 * 128) / 8.0
    q = np.floor(f / qt.reshape(8, 8) + 0.5).astype(np.int32)
    return q.reshape(-1, 64)[:, _ZZ]


def _encode_block(
    w: _BitWriter,
    zz: np.ndarray,
    pred: int,
    dc_tbl: _HuffTable,
    ac_tbl: _HuffTable,
) -> int:
    """Huffman-encode one zigzagged quantized block; returns new DC
    predictor."""
    dc = int(zz[0])
    diff = dc - pred
    s = _category(diff)
    code, length = dc_tbl.encode_map[s]
    w.put(code, length)
    if s:
        bits = diff if diff > 0 else diff + (1 << s) - 1
        w.put(bits, s)
    run = 0
    last_nz = 0
    nz = np.nonzero(zz[1:])[0]
    last_nz = nz[-1] + 1 if len(nz) else 0
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_tbl.encode_map[0xF0]  # ZRL
            w.put(code, length)
            run -= 16
        s = _category(v)
        code, length = ac_tbl.encode_map[(run << 4) | s]
        w.put(code, length)
        bits = v if v > 0 else v + (1 << s) - 1
        w.put(bits, s)
        run = 0
    if last_nz < 63:
        code, length = ac_tbl.encode_map[0x00]  # EOB
        w.put(code, length)
    return dc


def _marker(tag: int, body: bytes = b"") -> bytes:
    if body:
        return struct.pack(">BBH", 0xFF, tag, len(body) + 2) + body
    return struct.pack(">BB", 0xFF, tag)


def encode_jpeg(
    mode: str,
    size: "tuple[int, int]",
    data: bytes,
    quality: int = 90,
    subsampling: str = "4:4:4",
    restart_interval: int = 0,
) -> bytes:
    """The encoder dual: baseline JFIF with Annex K tables. "L" or
    "RGB"; RGB at 4:4:4 or 4:2:0. Deterministic for a given input
    (fixed tables, fixed rounding), which is what the fixture oracles
    rely on."""
    if mode not in ("L", "RGB"):
        raise ValueError(f"unsupported mode {mode!r}")
    if subsampling not in ("4:4:4", "4:2:0"):
        raise ValueError(
            f"unsupported subsampling {subsampling!r} (4:4:4 or 4:2:0)"
        )
    w, h = int(size[0]), int(size[1])
    ch = 1 if mode == "L" else 3
    if w < 1 or h < 1 or len(data) != w * h * ch:
        raise ValueError(
            f"encode_jpeg({mode}, {size}): need {w * h * ch} bytes, "
            f"got {len(data)}"
        )
    qt_l, qt_c = scaled_quant_tables(quality)
    px = np.frombuffer(data, dtype=np.uint8).reshape(h, w, ch).astype(np.int64)

    if mode == "L":
        comps = [("Y", px[:, :, 0], 1, 1, 0)]
        hmax = vmax = 1
    else:
        r, g, b = px[:, :, 0], px[:, :, 1], px[:, :, 2]
        y = np.clip((299 * r + 587 * g + 114 * b + 500) // 1000, 0, 255)
        cb = np.clip(
            128 + (-168736 * r - 331264 * g + 500000 * b + 500000) // 1000000,
            0, 255,
        )
        cr = np.clip(
            128 + (500000 * r - 418688 * g - 81312 * b + 500000) // 1000000,
            0, 255,
        )
        if subsampling == "4:2:0":
            hmax = vmax = 2

            def box2(p: np.ndarray) -> np.ndarray:
                hh, ww = p.shape
                p = np.pad(p, ((0, hh % 2), (0, ww % 2)), mode="edge")
                s = (
                    p[0::2, 0::2] + p[0::2, 1::2]
                    + p[1::2, 0::2] + p[1::2, 1::2]
                )
                return (s + 2) // 4  # floor(mean + 0.5)

            comps = [
                ("Y", y, 2, 2, 0),
                ("Cb", box2(cb), 1, 1, 1),
                ("Cr", box2(cr), 1, 1, 1),
            ]
        else:
            hmax = vmax = 1
            comps = [
                ("Y", y, 1, 1, 0), ("Cb", cb, 1, 1, 1), ("Cr", cr, 1, 1, 1)
            ]

    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    # per component: zigzagged quantized blocks indexed [by, bx]
    blockmaps = []
    for _name, plane, hs, vs, tq in comps:
        bh, bw = mcuy * vs, mcux * hs
        blocks = _plane_to_blocks(plane, bh, bw)
        zz = _fdct_quant(blocks, qt_l if tq == 0 else qt_c)
        blockmaps.append(zz.reshape(bh, bw, 64))

    dc_l = _HuffTable(*_DC_LUMA_SPEC)
    ac_l = _HuffTable(*_AC_LUMA_SPEC)
    dc_c = _HuffTable(*_DC_CHROMA_SPEC)
    ac_c = _HuffTable(*_AC_CHROMA_SPEC)

    writer = _BitWriter()
    preds = [0] * len(comps)
    scan = bytearray()
    ri = int(restart_interval)
    rst = 0
    for m in range(mcux * mcuy):
        if ri and m and m % ri == 0:
            writer.pad_to_byte()
            scan += writer.out
            scan += bytes((0xFF, 0xD0 + rst))
            rst = (rst + 1) % 8
            writer = _BitWriter()
            preds = [0] * len(comps)
        my, mx = divmod(m, mcux)
        for ci, (_n, _p, hs, vs, tq) in enumerate(comps):
            dt = dc_l if tq == 0 else dc_c
            at = ac_l if tq == 0 else ac_c
            for v in range(vs):
                for hh in range(hs):
                    zz = blockmaps[ci][my * vs + v, mx * hs + hh]
                    preds[ci] = _encode_block(writer, zz, preds[ci], dt, at)
    writer.pad_to_byte()
    scan += writer.out

    out = bytearray()
    out += _marker(0xD8)  # SOI
    out += _marker(
        0xE0, b"JFIF\x00" + struct.pack(">BBBHHBB", 1, 1, 0, 1, 1, 0, 0)
    )
    out += _marker(
        0xDB, bytes([0x00]) + bytes(int(x) for x in qt_l[_ZZ])
    )
    if ch == 3:
        out += _marker(
            0xDB, bytes([0x01]) + bytes(int(x) for x in qt_c[_ZZ])
        )
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for i, (_n, _p, hs, vs, tq) in enumerate(comps):
        sof += struct.pack(">BBB", i + 1, (hs << 4) | vs, tq)
    out += _marker(0xC0, sof)
    for cls, tid, spec in (
        (0, 0, _DC_LUMA_SPEC), (1, 0, _AC_LUMA_SPEC),
        (0, 1, _DC_CHROMA_SPEC), (1, 1, _AC_CHROMA_SPEC),
    ):
        if ch == 1 and tid == 1:
            continue
        counts, values = spec
        out += _marker(
            0xC4,
            bytes([(cls << 4) | tid]) + bytes(counts) + bytes(values),
        )
    if ri:
        out += _marker(0xDD, struct.pack(">H", ri))
    sos = bytes([len(comps)])
    for i, (_n, _p, _hs, _vs, tq) in enumerate(comps):
        sos += bytes([i + 1, (tq << 4) | tq])  # dc/ac table id == tq
    sos += bytes([0, 63, 0])
    out += _marker(0xDA, sos)
    out += scan
    out += _marker(0xD9)  # EOI
    return bytes(out)


# ------------------------------------------------------------- decoder


def _split_scan(data: bytes, pos: int) -> "tuple[list[bytes], int]":
    """Strip byte stuffing and split the entropy-coded data at RSTn
    markers. Returns (segments, position of the terminating marker)."""
    segs: list[bytes] = []
    cur = bytearray()
    i = pos
    n = len(data)
    while i < n:
        b = data[i]
        if b != 0xFF:
            cur.append(b)
            i += 1
            continue
        if i + 1 >= n:
            raise ValueError("corrupt JPEG: truncated scan")
        nxt = data[i + 1]
        if nxt == 0x00:
            cur.append(0xFF)
            i += 2
        elif nxt == 0xFF:
            # T.81 B.1.1.2: markers may be preceded by any number of
            # 0xFF fill bytes — consume the padding and re-classify at
            # the LAST 0xFF of the run (treating it as a terminating
            # marker misparsed spec-valid streams; ADVICE r11)
            i += 1
        elif 0xD0 <= nxt <= 0xD7:
            segs.append(bytes(cur))
            cur = bytearray()
            i += 2
        else:
            break  # a real marker terminates the scan
    segs.append(bytes(cur))
    return segs, i


_SOF_UNSUPPORTED = {
    0xC2: "progressive (SOF2)",
    0xC3: "lossless (SOF3)",
    0xC5: "differential sequential (SOF5)",
    0xC6: "differential progressive (SOF6)",
    0xC7: "differential lossless (SOF7)",
    0xC9: "arithmetic sequential (SOF9)",
    0xCA: "arithmetic progressive (SOF10)",
    0xCB: "arithmetic lossless (SOF11)",
    0xCD: "differential arithmetic sequential (SOF13)",
    0xCE: "differential arithmetic progressive (SOF14)",
    0xCF: "differential arithmetic lossless (SOF15)",
}


def decode_jpeg(payload: bytes) -> JpegImage:
    """Parse + entropy-decode + dequantize + IDCT a baseline JPEG.
    ValueError for non-JPEG bytes / corrupt streams;
    NotImplementedError for valid JPEGs outside the baseline scope."""
    if len(payload) < 4 or payload[0] != 0xFF or payload[1] != 0xD8:
        raise ValueError(
            "not a JPEG (bad magic) — jpeg_stdlib decodes JPEG only; "
            "install Pillow for other image formats"
        )
    qts: dict[int, np.ndarray] = {}
    huffs: dict[tuple[int, int], _HuffTable] = {}
    frame = None  # (h, w, [(cid, hs, vs, tq)])
    ri = 0
    scan_segments = None
    scan_comps = None
    i = 2
    n = len(payload)
    while i + 4 <= n:
        if payload[i] != 0xFF:
            raise ValueError(
                f"corrupt JPEG: expected marker at byte {i}"
            )
        tag = payload[i + 1]
        if tag == 0xFF:  # T.81 B.1.1.2 fill byte run before a marker
            i += 1
            continue
        if tag == 0xD9:  # EOI
            break
        (length,) = struct.unpack(">H", payload[i + 2 : i + 4])
        body = payload[i + 4 : i + 2 + length]
        if len(body) != length - 2:
            raise ValueError("corrupt JPEG: truncated segment")
        if tag == 0xDB:  # DQT (may hold several tables)
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0x0F
                p += 1
                if pq == 0:
                    vals = np.frombuffer(
                        body[p : p + 64], dtype=np.uint8
                    ).astype(np.int64)
                    p += 64
                elif pq == 1:
                    vals = np.frombuffer(
                        body[p : p + 128], dtype=">u2"
                    ).astype(np.int64)
                    p += 128
                else:
                    raise ValueError(f"corrupt JPEG: DQT precision {pq}")
                if len(vals) != 64:
                    raise ValueError("corrupt JPEG: short DQT table")
                nat = np.empty(64, dtype=np.int64)
                nat[_ZZ] = vals  # stored zigzag -> natural
                qts[tq] = nat
        elif tag == 0xC4:  # DHT (may hold several tables)
            p = 0
            while p + 17 <= len(body):
                cls, tid = body[p] >> 4, body[p] & 0x0F
                counts = list(body[p + 1 : p + 17])
                cnt = sum(counts)
                values = list(body[p + 17 : p + 17 + cnt])
                if len(values) != cnt:
                    raise ValueError("corrupt JPEG: short DHT table")
                huffs[(cls, tid)] = _HuffTable(counts, values)
                p += 17 + cnt
        elif tag in (0xC0, 0xC1):  # baseline / extended sequential
            prec = body[0]
            if prec != 8:
                raise NotImplementedError(
                    f"jpeg_stdlib decodes 8-bit precision only ({prec}-bit)"
                )
            h, w = struct.unpack(">HH", body[1:5])
            nc = body[5]
            if nc not in (1, 3):
                raise NotImplementedError(
                    f"jpeg_stdlib decodes 1- or 3-component JPEGs only "
                    f"({nc} components — CMYK needs Pillow)"
                )
            comps = []
            for k in range(nc):
                cid, hv, tq = body[6 + 3 * k : 9 + 3 * k]
                hs, vs = hv >> 4, hv & 0x0F
                if hs not in (1, 2, 4) or vs not in (1, 2, 4):
                    raise NotImplementedError(
                        f"jpeg_stdlib: sampling factors {hs}x{vs} unsupported"
                    )
                comps.append((cid, hs, vs, tq))
            if w < 1 or h < 1:
                raise ValueError(f"corrupt JPEG: dimensions {w}x{h}")
            frame = (h, w, comps)
        elif tag in _SOF_UNSUPPORTED:
            raise NotImplementedError(
                f"jpeg_stdlib decodes baseline sequential JPEGs only, "
                f"not {_SOF_UNSUPPORTED[tag]}"
            )
        elif tag == 0xDD:  # DRI
            (ri,) = struct.unpack(">H", body[:2])
        elif tag == 0xDA:  # SOS
            if frame is None:
                raise ValueError("corrupt JPEG: SOS before SOF")
            if scan_segments is not None:
                # a second SOS silently overwrote the first scan's
                # segments before (decoding the last scan over
                # zero-filled coefficients); keep the loud
                # quarantine-by-exception-type contract instead
                raise NotImplementedError(
                    "jpeg_stdlib decodes single-scan interleaved "
                    "baseline JPEGs only, not multi-scan / "
                    "non-interleaved streams (second SOS seen)"
                )
            ns = body[0]
            scan_comps = []
            for k in range(ns):
                cs, tids = body[1 + 2 * k], body[2 + 2 * k]
                scan_comps.append((cs, tids >> 4, tids & 0x0F))
            scan_segments, i = _split_scan(payload, i + 2 + length)
            continue  # i already advanced past the scan
        # APPn / COM / anything else: skipped
        i += 2 + length
    if frame is None or scan_segments is None:
        raise ValueError("corrupt JPEG: missing SOF/SOS")

    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    by_comp = []
    for cid, hs, vs, tq in comps:
        bh, bw = mcuy * vs, mcux * hs
        by_comp.append(np.zeros((bh, bw, 64), dtype=np.int32))

    # map scan-component order -> frame component index + huff tables
    order = []
    for cs, dct, act in scan_comps:
        idx = next(
            (k for k, c in enumerate(comps) if c[0] == cs), None
        )
        if idx is None:
            raise ValueError(f"corrupt JPEG: scan component {cs} not in SOF")
        dc_tbl = huffs.get((0, dct))
        ac_tbl = huffs.get((1, act))
        if dc_tbl is None or ac_tbl is None:
            raise ValueError("corrupt JPEG: scan references missing DHT")
        order.append((idx, dc_tbl, ac_tbl))

    total_mcus = mcux * mcuy
    per_seg = ri if ri else total_mcus
    expected_segs = -(-total_mcus // per_seg)
    if len(scan_segments) < expected_segs:
        raise ValueError(
            f"corrupt JPEG: {len(scan_segments)} restart segments, "
            f"expected {expected_segs}"
        )
    m = 0
    for seg in scan_segments[:expected_segs]:
        reader = _BitReader(seg)
        preds = [0] * len(comps)
        for _ in range(min(per_seg, total_mcus - m)):
            my, mx = divmod(m, mcux)
            for idx, dc_tbl, ac_tbl in order:
                _cid, hs, vs, _tq = comps[idx]
                for v in range(vs):
                    for hh in range(hs):
                        zz = np.zeros(64, dtype=np.int32)
                        s = dc_tbl.decode(reader)
                        if s > 11:
                            raise ValueError(
                                f"corrupt JPEG: DC category {s}"
                            )
                        diff = _extend(reader.receive(s), s)
                        preds[idx] += diff
                        zz[0] = preds[idx]
                        k = 1
                        while k < 64:
                            rs = ac_tbl.decode(reader)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError(
                                    "corrupt JPEG: AC run past block end"
                                )
                            zz[k] = _extend(reader.receive(s), s)
                            k += 1
                        by_comp[idx][my * vs + v, mx * hs + hh] = zz
            m += 1

    # dequantize + IDCT + assemble planes
    out_planes = []
    for (cid, hs, vs, tq), zzs in zip(comps, by_comp):
        qt = qts.get(tq)
        if qt is None:
            raise ValueError(f"corrupt JPEG: missing DQT table {tq}")
        bh, bw, _ = zzs.shape
        flat = zzs.reshape(-1, 64).astype(np.int64)
        nat = np.empty_like(flat)
        nat[:, _ZZ] = flat  # zigzag -> natural positions
        deq = nat * qt  # both natural order now
        blocks = deq.reshape(-1, 8, 8).astype(np.float64)
        nblocks = blocks.shape[0]
        spatial = np.empty_like(blocks)
        dc_only = (deq[:, 1:] == 0).all(axis=1)
        if dc_only.any():
            # exact DC-only reconstruction: F00/8 is a power-of-two
            # divide (lossless), which is what the SQL oracle states
            const = deq[dc_only, 0] / 8.0
            spatial[dc_only] = const[:, None, None]
        rest = ~dc_only
        if rest.any():
            spatial[rest] = _CT @ blocks[rest] @ _C
        pix = np.clip(np.floor(spatial + 128.5), 0, 255).astype(np.uint8)
        plane = (
            pix.reshape(bh, bw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw * 8)
        )
        # crop to the component's own dims, then upsample to full res
        cw = -(-w * hs // hmax)
        chh = -(-h * vs // vmax)
        plane = plane[:chh, :cw]
        if hs != hmax or vs != vmax:
            plane = np.repeat(
                np.repeat(plane, vmax // vs, axis=0), hmax // hs, axis=1
            )
        out_planes.append(plane[:h, :w])

    if len(out_planes) == 1:
        return JpegImage("L", (w, h), out_planes[0].tobytes())
    y = out_planes[0].astype(np.float64)
    cb = out_planes[1].astype(np.float64)
    cr = out_planes[2].astype(np.float64)
    # left-to-right double evaluation, floor(x + 0.5): the exact
    # expressions the m6 oracle restates
    r = np.clip(np.floor(y + 1.402 * (cr - 128.0) + 0.5), 0, 255)
    g = np.clip(
        np.floor(
            y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0) + 0.5
        ),
        0, 255,
    )
    b = np.clip(np.floor(y + 1.772 * (cb - 128.0) + 0.5), 0, 255)
    rgb = np.stack([r, g, b], axis=-1).astype(np.uint8)
    return JpegImage("RGB", (w, h), rgb.tobytes())


def open(fp) -> JpegImage:  # noqa: A001 - PIL-shaped module surface
    """PIL.Image.open-shaped entry point (reads the whole stream —
    payloads arrive as in-memory bytes from the Arrow batch)."""
    return decode_jpeg(fp.read())
