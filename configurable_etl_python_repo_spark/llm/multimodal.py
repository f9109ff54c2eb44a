"""Multimodal column plumbing: image/audio/video as opaque BINARY columns
with typed metadata.

Real codecs ride an injectable seam (see resolve_image_codec): strict
mode (fake_decode=False) decodes via Pillow when installed, and via the
package's own dependency-free stdlib codecs otherwise — real zlib
decode of real PNG bytes (llm/png.py) and real huffman+IDCT decode of
real baseline JPEG bytes (llm/jpeg.py), with no image library at all.
Formats none of them can handle fail loudly naming the gap
(ValueError / NotImplementedError); video resolves through
resolve_video_codec (PyAV when installed, the stdlib Y4M parser
otherwise). The deterministic fake keeps SQL oracles running for
arbitrary payloads. The Spark-side plumbing is identical on every
path: schemas, Arrow batch shape, partition sizing, and the
mapInPandas UDF signatures are exactly what a production decode uses.

Scale notes: binary payloads dominate partition size — repartition by a
size-aware key before decode (`target_rows_per_batch`), keep
`spark.sql.files.maxPartitionBytes` low for mixed text/binary tables, and
never collect payloads to the driver.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: metadata struct carried alongside every payload
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("format", T.StringType(), True),  # png|wav|mp4|...
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("payload_md5", T.StringType(), False),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
    ]
)


def _image_codec():
    """Import-try the real image codec. Returns PIL's Image module when
    Pillow is installed, else None (executors re-import per worker — the
    try costs one cached module lookup per call site)."""
    try:
        from PIL import Image

        return Image
    except ImportError:
        return None


def _video_codec():
    """Import-try the real video codec (PyAV / libav bindings)."""
    try:
        import av

        return av
    except ImportError:
        return None


def resolve_video_codec(codec):
    """The video half of the codec seam: ``codec`` may be an injected
    av-shaped module (open() → container → .decode(video=0) → frames
    with .time/.to_image()), one of the registered names, or None.

    - ``"y4m_stdlib"`` — the dependency-free YUV4MPEG2 parser that
      ships with this package (llm/y4m.py): real frame decode of real
      Y4M bytes, raising loudly for anything else. Always available.
    - ``"pyav"`` — PyAV, when installed (NotImplementedError names the
      missing library otherwise).
    - ``None`` — import-try PyAV, else the Y4M parser: strict-mode
      frame sampling works out of the box on uncompressed video, and
      compressed containers still fail loudly (ValueError names the
      format gap)."""
    if codec is None:
        av = _video_codec()
        if av is not None:
            return av
        from . import y4m

        return y4m
    if codec == "y4m_stdlib":
        from . import y4m

        return y4m
    if codec == "pyav":
        av = _video_codec()
        if av is None:
            raise NotImplementedError(
                "codec='pyav' requires PyAV, which is not installed; "
                "use codec='y4m_stdlib' for dependency-free Y4M decode"
            )
        return av
    if isinstance(codec, str):
        raise ValueError(
            f"unknown video codec {codec!r}; one of 'y4m_stdlib', "
            f"'pyav', or an injected av-shaped module"
        )
    return codec


def _frame_ms(frame) -> int:
    """Exact integer ms when the codec provides it (llm/y4m.py);
    rounded float seconds otherwise (PyAV's frame.time)."""
    t = getattr(frame, "time_ms", None)
    if t is not None:
        return int(t)
    return int(round((frame.time or 0.0) * 1000))


class _StdlibSniff:
    """PIL.Image-shaped dispatcher over the package's own stdlib
    codecs: sniffs the magic bytes and routes to llm/png.py or
    llm/jpeg.py. Formats neither handles fail loudly naming the gap
    (ValueError), never silently."""

    @staticmethod
    def open(fp):
        data = fp.read()
        if data[:8] == b"\x89PNG\r\n\x1a\n":
            from . import png

            return png.decode_png(data)
        if data[:2] == b"\xff\xd8":
            from . import jpeg

            return jpeg.decode_jpeg(data)
        raise ValueError(
            "unrecognized image payload (stdlib codecs decode PNG and "
            "baseline JPEG); install Pillow for other formats"
        )


stdlib_auto = _StdlibSniff()


def resolve_image_codec(codec):
    """The codec REGISTRY of the seam: ``codec`` may be a PIL.Image-
    shaped module (injected), one of the registered names, or None.

    - ``"png_stdlib"`` — the dependency-free PNG codec that ships with
      this package (llm/png.py): real zlib decode of real PNG bytes,
      raising loudly for anything else. Always available.
    - ``"jpeg_stdlib"`` — the dependency-free baseline JPEG codec
      (llm/jpeg.py): real huffman + IDCT decode of real JPEG bytes.
      Always available.
    - ``"stdlib"`` — magic-byte dispatch over both stdlib codecs
      (PNG or baseline JPEG; anything else raises ValueError).
    - ``"pil"`` — Pillow, when installed (raises NotImplementedError
      here otherwise, naming the missing library).
    - ``None`` — import-try Pillow, else the stdlib dispatcher: a
      strict-mode decode of PNG or JPEG bytes works out of the box in
      a container with no image libraries, and other payloads still
      fail loudly (ValueError names the format gap) instead of the old
      blanket NotImplementedError.

    Resolution happens INSIDE the Arrow UDF (executor-side), so the
    string form serializes cheaply into the closure."""
    if codec is None:
        pil = _image_codec()
        if pil is not None:
            return pil
        return stdlib_auto
    if codec == "png_stdlib":
        from . import png

        return png
    if codec == "jpeg_stdlib":
        from . import jpeg

        return jpeg
    if codec == "stdlib":
        return stdlib_auto
    if codec == "pil":
        pil = _image_codec()
        if pil is None:
            raise NotImplementedError(
                "codec='pil' requires Pillow, which is not installed; "
                "use codec='png_stdlib'/'jpeg_stdlib' for dependency-"
                "free decode"
            )
        return pil
    if isinstance(codec, str):
        raise ValueError(
            f"unknown image codec {codec!r}; one of 'png_stdlib', "
            f"'jpeg_stdlib', 'stdlib', 'pil', or an injected "
            f"PIL.Image-shaped module"
        )
    return codec


def _decode_payload(payload: bytes, fake: bool, codec=None) -> list[float]:
    """THE codec boundary for feature extraction.

    fake=True → deterministic 8-dim feature vector derived from payload
    bytes (so tests and SQL oracles exercise the full Arrow round-trip).
    fake=False → real decode: 8 dims = [n_bytes, width, height, w*h,
    4 px of a 2×2 grayscale thumbnail]. `codec` is a PIL.Image-shaped
    module, a registered name ("png_stdlib", "pil"), or None =
    Pillow-if-installed else the stdlib PNG codec (see
    resolve_image_codec) — so strict mode decodes real PNG bytes even
    in a container with no image libraries, and non-PNG payloads fail
    loudly naming the gap."""
    if not fake:
        Image = resolve_image_codec(codec)
        import io

        img = Image.open(io.BytesIO(payload))
        g = img.convert("L")
        w, h = g.size
        px = list(g.resize((2, 2)).getdata())
        return [
            float(len(payload)), float(w), float(h), float(w * h),
            *[float(p) / 255.0 for p in px],
        ]
    # deterministic fake: byte-histogram-ish moments
    n = max(len(payload), 1)
    return [
        float(len(payload)),
        float(payload[0]) if payload else 0.0,
        float(payload[-1]) if payload else 0.0,
        float(sum(payload) % 997) / 997.0,
        float(min(payload)) if payload else 0.0,
        float(max(payload)) if payload else 0.0,
        float(sum(b % 2 for b in payload)) / n,
        float(n % 251) / 251.0,
    ]


def extract_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    fake_decode: bool = True,
    target_rows_per_batch: int = 256,
    codec=None,
) -> DataFrame:
    """Decode/feature-extract over mapInPandas (Arrow-batched).

    The two-column projection (id, payload) happens BEFORE the UDF so Spark
    prunes every other column out of the Arrow transfer; batches are kept
    small because payloads are large.

    Strict-mode scope (fake_decode=False, codec=None): the stdlib
    codecs decode baseline-sequential JPEG and non-interlaced PNG;
    progressive/multi-scan JPEG and interlaced PNG raise
    NotImplementedError and land in the quarantine column. The
    production path for those is Pillow, installed on the cluster and
    passed through this same seam (codec= / resolve_image_codec) — no
    plumbing changes, only the decoder swaps."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload"))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # resolve the codec ONCE per partition, not per payload: with
        # codec=None in a Pillow-less container the import-try is a
        # failed import every time (never cached by Python), and this
        # loop is the decode hot path
        resolved = None if fake_decode else resolve_image_codec(codec)
        for pdf in it:
            for start in range(0, len(pdf), target_rows_per_batch):
                chunk = pdf.iloc[start : start + target_rows_per_batch]
                import hashlib

                yield pd.DataFrame(
                    {
                        "doc_id": chunk["doc_id"].astype("int64"),
                        "n_bytes": chunk["payload"].map(len).astype("int64"),
                        "payload_md5": chunk["payload"].map(
                            lambda b: hashlib.md5(b).hexdigest()
                        ),
                        "features": chunk["payload"].map(
                            lambda b: _decode_payload(
                                bytes(b), fake_decode, resolved
                            )
                        ),
                    }
                )

    return src.mapInPandas(batches, schema=FEATURE_SCHEMA)


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("payload_md5", T.StringType(), False),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("n_channels", T.IntegerType(), False),
        T.StructField("n_frames", T.LongType(), False),
        T.StructField("duration_ms", T.LongType(), False),
        T.StructField("rms", T.DoubleType(), False),
        T.StructField("peak", T.IntegerType(), False),
        T.StructField("zero_crossings", T.LongType(), False),
    ]
)


def resolve_audio_codec(codec):
    """The audio half of the codec seam: ``codec`` may be an injected
    object exposing ``decode_wav(bytes) -> WavAudio-shaped`` (e.g. a
    soundfile adapter), the registered name "wav_stdlib", or None =
    the package's own dependency-free RIFF/PCM parser (llm/wavcodec.py)
    — the floor that makes strict audio decode work in a container
    with no audio libraries. Non-WAV payloads fail loudly (ValueError
    from the parser), never silently."""
    if codec is None or codec == "wav_stdlib":
        from . import wavcodec

        return wavcodec
    if isinstance(codec, str):
        raise ValueError(
            f"unknown audio codec {codec!r}; 'wav_stdlib' or an "
            f"injected decode_wav-shaped module"
        )
    return codec


def _fake_audio(md: str) -> "tuple[int, int, int, float, int, int]":
    """Deterministic fake (sr, channels, frames, rms, peak, zc) from
    the content hash — md5-derived like _fake_dims, so a SQL oracle
    reproduces them exactly."""
    sr = 8000 + (int(md[:4], 16) % 5) * 8000
    ch = 1 + int(md[4], 16) % 2
    frames = 1000 + int(md[5:9], 16) % 100000
    peak = 1 + int(md[9:12], 16) % 32767
    zc = int(md[12:16], 16) % frames
    return sr, ch, frames, float(peak), peak, zc


def extract_audio_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    fake_decode: bool = True,
    target_rows_per_batch: int = 256,
    codec=None,
) -> DataFrame:
    """Audio decode/feature-extract over mapInPandas (Arrow-batched),
    the audio sibling of extract_features. Strict mode parses REAL
    RIFF/PCM bytes through the codec seam and computes, with the
    documented SQL-restatable conventions:

    - ``duration_ms`` = n_frames * 1000 // sample_rate (integer);
    - ``rms``   = sqrt(sum(x^2) / n_values) over ALL channels, the
      squares summed in int64 (exact) before one float divide+sqrt;
    - ``peak``  = max |x|;
    - ``zero_crossings`` = count of consecutive-frame sign flips
      ((x >= 0) != (prev >= 0)) on the FIRST channel.
    """
    import hashlib

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload"))

    def one(payload: bytes, resolved) -> tuple:
        md = hashlib.md5(payload).hexdigest()
        if resolved is None:  # fake path
            sr, ch, frames, rms, peak, zc = _fake_audio(md)
        else:
            audio = resolved.decode_wav(payload)
            x = audio.samples  # (frames, channels) int32
            sr, ch, frames = audio.sample_rate, audio.n_channels, audio.n_frames
            if frames == 0:
                rms, peak, zc = 0.0, 0, 0
            else:
                import numpy as np

                sq = int((x.astype(np.int64) ** 2).sum())
                rms = float(np.sqrt(sq / (frames * ch)))
                peak = int(np.abs(x).max())
                c0 = x[:, 0] >= 0
                zc = int((c0[1:] != c0[:-1]).sum())
        return (
            len(payload), md, sr, ch, frames,
            frames * 1000 // sr, rms, peak, zc,
        )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        resolved = None if fake_decode else resolve_audio_codec(codec)
        for pdf in it:
            for start in range(0, len(pdf), target_rows_per_batch):
                chunk = pdf.iloc[start : start + target_rows_per_batch]
                rows = [
                    (int(doc_id), *one(bytes(payload), resolved))
                    for doc_id, payload in zip(
                        chunk["doc_id"], chunk["payload"]
                    )
                ]
                yield pd.DataFrame(
                    rows, columns=[f.name for f in AUDIO_SCHEMA.fields]
                )

    return src.mapInPandas(batches, schema=AUDIO_SCHEMA)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("src_width", T.IntegerType(), False),
        T.StructField("src_height", T.IntegerType(), False),
        T.StructField("out_width", T.IntegerType(), False),
        T.StructField("out_height", T.IntegerType(), False),
        T.StructField("resized_md5", T.StringType(), False),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_ms", T.LongType(), False),
        T.StructField("frame_md5", T.StringType(), False),
    ]
)


def _fake_dims(payload_md5: str) -> tuple[int, int]:
    """Deterministic fake image dimensions from the content hash (the
    codec-free stand-in for a real header parse) — md5-derived like the
    minhash family, so a SQL oracle reproduces them exactly."""
    w = 320 + int(payload_md5[:4], 16) % 1600
    h = 240 + int(payload_md5[4:8], 16) % 840
    return w, h


def _fake_duration_ms(payload_md5: str) -> int:
    return 1000 + int(payload_md5[8:13], 16) % 600_000


def resize_images(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_side: int = 512,
    fake_decode: bool = True,
    target_rows_per_batch: int = 256,
    codec=None,
) -> DataFrame:
    """Image resize plumbing over mapInPandas: downscale so the longer
    side is <= max_side, preserving aspect ratio with INTEGER math (both
    engines floor identically — no float rounding drift in the oracle).

    fake_decode=True derives source dims from the content hash and tags
    the 'resized' payload by hash (the real implementation replaces only
    the decode/encode calls: open → resize → save). `codec` is a
    PIL.Image-shaped module, a registered name ("png_stdlib", "pil"),
    or None = Pillow-if-installed else the stdlib PNG codec (see
    resolve_image_codec)."""
    import hashlib

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload"))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # once per partition, not per row (see extract_features)
        resolved = None if fake_decode else resolve_image_codec(codec)
        for pdf in it:
            for start in range(0, len(pdf), target_rows_per_batch):
                chunk = pdf.iloc[start : start + target_rows_per_batch]
                rows = []
                for doc_id, payload in zip(chunk["doc_id"], chunk["payload"]):
                    if not fake_decode:
                        Image = resolved
                        import io

                        img = Image.open(io.BytesIO(bytes(payload)))
                        w, h = img.size
                        side = max(w, h)
                        if side > max_side:
                            # clamp BEFORE recording: the metadata must
                            # describe the actually-resized image (an
                            # extreme aspect ratio would otherwise report
                            # out_height=0 for a 1-pixel-high resize)
                            ow = max((w * max_side) // side, 1)
                            oh = max((h * max_side) // side, 1)
                        else:
                            ow, oh = w, h
                        out = img.resize((ow, oh))
                        buf = io.BytesIO()
                        out.save(buf, format=img.format or "PNG")
                        rows.append(
                            (int(doc_id), w, h, ow, oh,
                             hashlib.md5(buf.getvalue()).hexdigest())
                        )
                        continue
                    md = hashlib.md5(bytes(payload)).hexdigest()
                    w, h = _fake_dims(md)
                    side = max(w, h)
                    if side > max_side:
                        ow, oh = (w * max_side) // side, (h * max_side) // side
                    else:
                        ow, oh = w, h
                    rows.append(
                        (int(doc_id), w, h, ow, oh,
                         hashlib.md5(f"{md}|{ow}x{oh}".encode()).hexdigest())
                    )
                yield pd.DataFrame(
                    rows, columns=[f.name for f in RESIZE_SCHEMA.fields]
                )

    return src.mapInPandas(batches, schema=RESIZE_SCHEMA)


def sample_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    every_ms: int = 1000,
    max_frames: int = 32,
    fake_decode: bool = True,
    target_rows_per_batch: int = 64,
    codec=None,
) -> DataFrame:
    """Video frame sampling over mapInPandas: one OUTPUT ROW PER SAMPLED
    FRAME (the exploding shape a real libav decode emits), frames every
    `every_ms` capped at max_frames per doc.

    fake_decode=True derives the duration from the content hash and tags
    each frame by (content, frame_idx); batches are small because real
    frame payloads multiply row width."""
    import hashlib

    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload"))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # once per partition, not per row (see extract_features)
        resolved = None if fake_decode else resolve_video_codec(codec)
        for pdf in it:
            for start in range(0, len(pdf), target_rows_per_batch):
                chunk = pdf.iloc[start : start + target_rows_per_batch]
                rows = []
                for doc_id, payload in zip(chunk["doc_id"], chunk["payload"]):
                    if not fake_decode:
                        import io

                        with resolved.open(
                            io.BytesIO(bytes(payload))
                        ) as container:
                            next_ms, idx = 0, 0
                            for frame in container.decode(video=0):
                                if idx >= max_frames:
                                    break
                                t_ms = _frame_ms(frame)
                                if t_ms < next_ms:
                                    continue
                                img = frame.to_image()
                                buf = io.BytesIO()
                                img.save(buf, format="PNG")
                                rows.append(
                                    (int(doc_id), idx, t_ms,
                                     hashlib.md5(buf.getvalue()).hexdigest())
                                )
                                idx += 1
                                next_ms = t_ms + every_ms
                        continue
                    md = hashlib.md5(bytes(payload)).hexdigest()
                    dur = _fake_duration_ms(md)
                    n = min(dur // every_ms + 1, max_frames)
                    for i in range(n):
                        rows.append(
                            (int(doc_id), i, i * every_ms,
                             hashlib.md5(f"{md}#{i}".encode()).hexdigest())
                        )
                yield pd.DataFrame(
                    rows, columns=[f.name for f in FRAME_SCHEMA.fields]
                )

    return src.mapInPandas(batches, schema=FRAME_SCHEMA)


FRAME_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_ms", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("mean_luma", T.IntegerType(), False),
    ]
)


def frame_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    every_ms: int = 1000,
    max_frames: int = 32,
    target_rows_per_batch: int = 64,
    codec=None,
) -> DataFrame:
    """STRICT-ONLY frame sampling with per-frame content stats: decode
    real video bytes through the codec seam (PyAV or the stdlib Y4M
    parser), sample a frame every `every_ms` (cap max_frames), and
    emit dims + integer mean luminance per sampled frame — the
    real-decode sibling of sample_frames' md5 tagging (m3 is the fake
    plumbing dual; m8 hash-checks this path on real Y4M bytes).

    Conventions (SQL-restatable): frame_idx is the SAMPLE counter
    (sample_frames' shape); frame_ms is exact integer math when the
    codec provides .time_ms; mean_luma = sum(L) // n_pixels over
    to_image().convert("L") — the shared integer luminance."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload"))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        resolved = resolve_video_codec(codec)
        for pdf in it:
            for start in range(0, len(pdf), target_rows_per_batch):
                chunk = pdf.iloc[start : start + target_rows_per_batch]
                rows = []
                for doc_id, payload in zip(chunk["doc_id"], chunk["payload"]):
                    import io

                    with resolved.open(
                        io.BytesIO(bytes(payload))
                    ) as container:
                        next_ms, idx = 0, 0
                        for frame in container.decode(video=0):
                            if idx >= max_frames:
                                break
                            t_ms = _frame_ms(frame)
                            if t_ms < next_ms:
                                continue
                            img = frame.to_image().convert("L")
                            w, h = img.size
                            data = img.getdata()
                            rows.append(
                                (int(doc_id), idx, t_ms, w, h,
                                 int(sum(data) // len(data)))
                            )
                            idx += 1
                            next_ms = t_ms + every_ms
                yield pd.DataFrame(
                    rows, columns=[f.name for f in FRAME_STATS_SCHEMA.fields]
                )

    return src.mapInPandas(batches, schema=FRAME_STATS_SCHEMA)
