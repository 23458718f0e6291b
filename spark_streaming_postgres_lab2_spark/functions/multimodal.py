"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Pattern for image/audio/video at 100 TB: the payload is an opaque
``binary`` column with a typed metadata struct alongside; decode /
feature-extract / resize run as Arrow-batched ``mapInPandas`` stages so
bytes never round-trip through Python row-by-row.

Two codec tiers:

- ``decode_real`` is a REAL pure-Python 24-bit BMP parser (file +
  info header, bottom-up padded rows) run inside mapInPandas --
  no native libraries needed; ``synthesize_bmp_media`` emits genuine
  BMP files so the parse is end-to-end meaningful.  Codecs that need
  native libraries (JPEG/PNG/audio) plug into the same body behind an
  import-try.
- ``decode_features`` computes deterministic byte-level
  pseudo-features for payloads of ANY format -- the schema /
  partitioning / Arrow-batch plumbing demonstrator.
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("format", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("n_bytes", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = (
    "media_id long, media_type string, n_bytes long, checksum long, "
    "head_bytes array<int>, feature_mean double"
)


def synthesize_media(docs: DataFrame) -> DataFrame:
    """Deterministic fake media table from (doc_id, text) documents:
    UTF-8 bytes of the text as the opaque payload + typed metadata.
    Stands in for an image/audio corpus so the downstream plumbing is
    real and testable."""
    content = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        (F.when(F.col("doc_id") % 3 == 0, "image")
         .when(F.col("doc_id") % 3 == 1, "audio")
         .otherwise("video")).alias("media_type"),
        content.alias("content"),
        F.struct(
            F.lit("raw").alias("format"),
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            F.octet_length(F.col("text")).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def decode_features(media: DataFrame) -> DataFrame:
    """Arrow-batched 'decode': per-partition pandas batches compute
    deterministic byte-level pseudo-features (length, checksum, first
    bytes, mean byte value).  Swap the body for a real codec
    (PIL/librosa/ffmpeg) without touching the Spark plumbing."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["content"]
            n_bytes = payloads.map(lambda b: len(b) if b is not None else 0)
            checksum = payloads.map(
                lambda b: int(sum(b) % 2**31) if b is not None else 0
            )
            head = payloads.map(
                lambda b: [int(x) for x in (b or b"")[:4]]
            )
            fmean = payloads.map(
                lambda b: float(sum(b)) / len(b) if b else 0.0
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": n_bytes.astype("int64"),
                    "checksum": checksum.astype("int64"),
                    "head_bytes": head,
                    "feature_mean": fmean.round(4),
                }
            )

    return media.mapInPandas(_decode, schema=FEATURE_SCHEMA)


# --- real BMP codec (pure Python, no native deps) ---------------------------

_BMP_HEADER_SIZE = 54  # 14-byte file header + 40-byte BITMAPINFOHEADER


def encode_bmp24(width: int, height: int, pix_fn) -> bytes:
    """Serialize a 24-bit uncompressed BMP.  ``pix_fn(x, y, c)`` gives
    channel ``c`` (0..2, stored B,G,R) of pixel (x, y), y=0 at the top;
    rows are written bottom-up with 4-byte padding per the format."""
    stride = (width * 3 + 3) // 4 * 4
    img_size = stride * height
    file_header = b"BM" + struct.pack(
        "<IHHI", _BMP_HEADER_SIZE + img_size, 0, 0, _BMP_HEADER_SIZE
    )
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, img_size, 2835, 2835, 0, 0
    )
    rows = []
    for y in range(height - 1, -1, -1):  # bottom-up row order
        row = bytearray()
        for x in range(width):
            for c in range(3):
                row.append(pix_fn(x, y, c) & 0xFF)
        row.extend(b"\x00" * (stride - len(row)))
        rows.append(bytes(row))
    return file_header + info_header + b"".join(rows)


def decode_bmp24(b: bytes) -> tuple[int, int, int, float] | None:
    """Parse a 24-bit BMP: (width, height, bpp, mean pixel value over
    all channels, excluding row padding).  None if not a parseable
    24-bit BMP."""
    if b is None or len(b) < _BMP_HEADER_SIZE or b[:2] != b"BM":
        return None
    (pixel_offset,) = struct.unpack_from("<I", b, 10)
    _hsz, width, height_raw = struct.unpack_from("<Iii", b, 14)
    _planes, bpp = struct.unpack_from("<HH", b, 26)
    if bpp != 24 or width <= 0 or height_raw == 0:
        return None
    height = abs(height_raw)
    stride = (width * 3 + 3) // 4 * 4
    if len(b) < pixel_offset + stride * height:
        return None
    total = 0
    count = width * 3 * height
    for r in range(height):
        start = pixel_offset + r * stride
        total += sum(b[start : start + width * 3])
    return width, height, bpp, total / count


DECODE_SCHEMA = (
    "media_id long, format string, width int, height int, bpp int, mean_pixel double"
)


def decode_real(media: DataFrame, codec: str = "bmp") -> DataFrame:
    """Real decode inside Arrow-batched mapInPandas.  ``bmp`` is
    implemented in pure Python above; codecs that need native libraries
    go through an import-try so the plumbing is identical when the
    library exists.  Unparseable payloads yield NULL fields (dead-letter
    them downstream), never an executor crash."""
    if codec == "pil":
        try:
            import PIL  # noqa: F401
        except ImportError as e:  # pragma: no cover - env-dependent
            raise ImportError(
                "codec 'pil' requires Pillow, not present in this environment; "
                "codec 'bmp' is implemented without native dependencies"
            ) from e
    elif codec != "bmp":
        raise ValueError(f"unknown codec {codec!r}; supported here: bmp, pil")

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": pdf["media_id"], "format": [], "width": [],
                   "height": [], "bpp": [], "mean_pixel": []}
            for b in pdf["content"]:
                parsed = decode_bmp24(b)
                if parsed is None:
                    out["format"].append(None)
                    out["width"].append(None)
                    out["height"].append(None)
                    out["bpp"].append(None)
                    out["mean_pixel"].append(None)
                else:
                    w, h, bpp, mean = parsed
                    out["format"].append("bmp24")
                    out["width"].append(w)
                    out["height"].append(h)
                    out["bpp"].append(bpp)
                    out["mean_pixel"].append(round(mean, 4))
            yield pd.DataFrame(out)

    return media.mapInPandas(_decode, schema=DECODE_SCHEMA)


def synthesize_bmp_media(ids: DataFrame) -> DataFrame:
    """Deterministic genuine BMP files keyed on the doc_id column:
    width = 4 + id%5, height = 3 + id%4, pixel(x,y,c) =
    (id*31 + y*17 + x*7 + c) % 256.  The formula is arithmetic on the
    id, so a DuckDB oracle can recompute width/height/mean without a
    decoder -- making encode->decode end-to-end checkable."""

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for i in pdf["doc_id"]:
                i = int(i)
                w, h = 4 + i % 5, 3 + i % 4
                payloads.append(
                    encode_bmp24(w, h, lambda x, y, c, i=i: (i * 31 + y * 17 + x * 7 + c) % 256)
                )
            yield pd.DataFrame({"media_id": pdf["doc_id"], "content": payloads})

    return ids.mapInPandas(_encode, schema="media_id long, content binary")


def frame_sample(media: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """'Frame sampling' over the opaque payload: take one byte every
    ``every_n_bytes`` as a stand-in for video frame extraction --
    demonstrates slicing binary columns inside mapInPandas."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = pdf["content"].map(
                lambda b: [int(x) for x in (b or b"")[::every_n_bytes]]
            )
            yield pd.DataFrame({"media_id": pdf["media_id"], "frames": frames})

    return media.mapInPandas(_sample, schema="media_id long, frames array<int>")


def _bmp_pixels(b: bytes):
    """Parse a 24-bit BMP into a logical top-down (h, w, 3) uint8 array
    (B,G,R channel order as stored); None if unparseable."""
    import numpy as np

    parsed = decode_bmp24(b)
    if parsed is None:
        return None
    (pixel_offset,) = struct.unpack_from("<I", b, 10)
    _hsz, width, height_raw = struct.unpack_from("<Iii", b, 14)
    height = abs(height_raw)
    stride = (width * 3 + 3) // 4 * 4
    rows = np.frombuffer(
        b, dtype=np.uint8, count=stride * height, offset=pixel_offset
    ).reshape(height, stride)[:, : width * 3]
    # positive height = stored bottom-up -> flip to logical top-down;
    # negative height_raw = already top-down, no flip (ADVICE r3: an
    # unconditional flip would vertically mirror top-down inputs)
    if height_raw > 0:
        rows = rows[::-1]
    return rows.reshape(height, width, 3)


def resize_real(media: DataFrame, factor: int = 2) -> DataFrame:
    """REAL nearest-neighbor downsample over the BMP codec: decode ->
    numpy stride slicing (out(x,y) = src(factor*x, factor*y) in
    logical top-down space) -> re-encode BMP24.  Arrow-batched
    mapInPandas; unparseable payloads pass through as NULL content.
    Because the synthetic pixel formula is arithmetic on the id, the
    resized image's stats are recomputable in SQL -- see
    ORACLE_MULTIMODAL_RESIZE."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for b in pdf["content"]:
                arr = _bmp_pixels(b) if b is not None else None
                if arr is None:
                    out.append(None)
                    continue
                small = arr[::factor, ::factor]
                h, w = small.shape[0], small.shape[1]
                out.append(
                    encode_bmp24(w, h, lambda x, y, c, a=small: int(a[y, x, c]))
                )
            yield pd.DataFrame({"media_id": pdf["media_id"], "content": out})

    return media.mapInPandas(_resize, schema="media_id long, content binary")


# --- real WAV/PCM16 audio codec (pure Python, no native deps) ----------------
#
# The audio sibling of the BMP tier: a genuine RIFF/WAVE container with
# 16-bit mono PCM, encoded and parsed byte-for-byte per the public
# format spec.  Every sample is arithmetic on the media id, so a SQL
# oracle recomputes the decoded statistics without a decoder -- any
# header/chunk/endianness bug in encode OR decode diverges them
# (reference analog: none; this extends the multimodal surface the
# reference lacks entirely, per the large-scale-pipeline brief).

_WAV_HEADER_SIZE = 44  # RIFF(12) + fmt chunk(24) + data header(8)


def encode_wav_pcm16(sample_rate: int, samples: "list[int]") -> bytes:
    """Serialize mono 16-bit PCM as a canonical 44-byte-header WAV."""
    n = len(samples)
    data_size = n * 2
    hdr = b"RIFF" + struct.pack("<I", 36 + data_size) + b"WAVE"
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16
    )
    data = b"data" + struct.pack("<I", data_size)
    body = struct.pack(f"<{n}h", *samples)
    return hdr + fmt + data + body


def decode_wav_pcm16(b: bytes) -> "tuple[int, int, int, float] | None":
    """Parse a mono PCM16 WAV: (sample_rate, n_samples, bits,
    mean absolute sample).  None if not parseable."""
    if b is None or len(b) < _WAV_HEADER_SIZE or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    fmt_tag, channels, rate = struct.unpack_from("<HHI", b, 20)
    bits = struct.unpack_from("<H", b, 34)[0]
    if b[12:16] != b"fmt " or fmt_tag != 1 or channels != 1 or bits != 16:
        return None
    if b[36:40] != b"data":
        return None
    (data_size,) = struct.unpack_from("<I", b, 40)
    n = data_size // 2
    if len(b) < _WAV_HEADER_SIZE + data_size or n == 0:
        return None
    samples = struct.unpack_from(f"<{n}h", b, _WAV_HEADER_SIZE)
    return rate, n, bits, sum(abs(s) for s in samples) / n


def _wav_params(media_id: int) -> "tuple[int, int]":
    """(sample_rate, n_samples) for the synthesized clip -- shared by
    the encoder and (as arithmetic) by the SQL oracles."""
    return 8000 + 100 * (media_id % 5), 8 + media_id % 9


def _wav_sample(media_id: int, i: int) -> int:
    """Sample i of the synthesized clip: integers in [-1024, 1023]."""
    return (media_id * 131 + i * 37) % 2048 - 1024


def synthesize_wav_media(ids: DataFrame) -> DataFrame:
    """(media_id, payload) with genuine WAV bytes per id."""
    import pandas as pd

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "payload": []}
            for mid in pdf["doc_id"]:
                mid = int(mid)
                rate, n = _wav_params(mid)
                out["media_id"].append(mid)
                out["payload"].append(
                    encode_wav_pcm16(rate, [_wav_sample(mid, i) for i in range(n)])
                )
            yield pd.DataFrame(out)

    return ids.mapInPandas(_encode, schema="media_id long, payload binary")


AUDIO_DECODE_SCHEMA = (
    "media_id long, format string, sample_rate int, n_samples int, "
    "duration_us long, mean_abs_sample double"
)


def decode_audio_real(media: DataFrame) -> DataFrame:
    """Real WAV parse inside Arrow-batched mapInPandas: rate, count,
    integer-exact duration (n * 1e6 div rate), mean |sample|."""
    import pandas as pd

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "media_id", "format", "sample_rate", "n_samples",
                "duration_us", "mean_abs_sample",
            )}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                parsed = decode_wav_pcm16(payload)
                if parsed is None:
                    continue
                rate, n, _bits, mean_abs = parsed
                out["media_id"].append(int(mid))
                out["format"].append("wav_pcm16")
                out["sample_rate"].append(rate)
                out["n_samples"].append(n)
                out["duration_us"].append(n * 1_000_000 // rate)
                # UNROUNDED: the query layer rounds with F.round (JVM
                # HALF_UP, same as DuckDB's round) -- Python's round()
                # is banker's and belongs nowhere near an oracle hash
                out["mean_abs_sample"].append(mean_abs)
            yield pd.DataFrame(out)

    return media.mapInPandas(_decode, schema=AUDIO_DECODE_SCHEMA)


def audio_frame_energy(
    media: DataFrame, frame: int = 4, hop: int = 2
) -> DataFrame:
    """Windowed feature extraction -- the audio analog of video frame
    sampling: split each clip into ``frame``-sample windows every
    ``hop`` samples (windows starting past the end are dropped;
    the tail window is truncated), and emit the frame count plus the
    total energy sum(s^2) over all windows -- an exact integer, since
    samples are integers, so the oracle replays it with range() joins."""
    import pandas as pd

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "n_frames": [], "total_energy": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                parsed = decode_wav_pcm16(payload)
                if parsed is None:
                    continue
                rate, n, _bits, _ = parsed
                samples = struct.unpack_from(
                    f"<{n}h", payload, _WAV_HEADER_SIZE
                )
                starts = range(0, n, hop)
                energy = 0
                count = 0
                for s0 in starts:
                    win = samples[s0 : s0 + frame]
                    if not win:
                        continue
                    count += 1
                    energy += sum(int(s) * int(s) for s in win)
                out["media_id"].append(int(mid))
                out["n_frames"].append(count)
                out["total_energy"].append(energy)
            yield pd.DataFrame(out)

    return media.mapInPandas(
        _frames, schema="media_id long, n_frames int, total_energy long"
    )


# --- real PNG codec (pure Python + stdlib zlib, no native deps) ---------------
#
# The COMPRESSED-container tier the BMP/WAV codecs don't exercise: a
# genuine PNG (signature, CRC-verified chunks, deflate-compressed
# scanlines, per-row filter bytes) encoded and parsed per the public
# spec.  The encoder deliberately mixes filter types (None/Sub/Up) so
# the decoder's defiltering is on the hash path; the decoder also
# implements Average and Paeth for spec completeness (unit-tested).
# Pixels are arithmetic on the media id, so a SQL oracle recomputes the
# decoded statistics without a decoder -- any chunk/CRC/inflate/filter
# bug in encode OR decode diverges them.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png_gray8(width: int, height: int, pix_fn) -> bytes:
    """Serialize an 8-bit grayscale PNG.  ``pix_fn(x, y)`` gives the
    pixel value.  Row filters rotate deterministically -- row 0: None,
    odd rows: Sub, later even rows: Up -- so decoding exercises real
    defiltering, not just inflate."""
    scanlines = []
    prev: bytes | None = None
    for y in range(height):
        row = bytes(pix_fn(x, y) & 0xFF for x in range(width))
        if y == 0:
            ft, enc = 0, row
        elif y % 2 == 1:
            ft = 1  # Sub
            enc = bytes(
                (row[i] - (row[i - 1] if i else 0)) & 0xFF for i in range(width)
            )
        else:
            ft = 2  # Up
            enc = bytes((row[i] - prev[i]) & 0xFF for i in range(width))
        scanlines.append(bytes([ft]) + enc)
        prev = row
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(scanlines), 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png_gray8(b: bytes) -> "tuple[int, int, bytes] | None":
    """Parse an 8-bit grayscale PNG: (width, height, pixel bytes in
    row-major order).  Verifies the signature and every chunk CRC,
    concatenates IDAT chunks, inflates, and defilters (all five
    standard filter types).  None if not a parseable gray8 PNG."""
    if b is None or len(b) < len(_PNG_SIG) + 12 or b[: len(_PNG_SIG)] != _PNG_SIG:
        return None
    pos = len(_PNG_SIG)
    width = height = None
    idat = bytearray()
    while pos + 8 <= len(b):
        (length,) = struct.unpack_from(">I", b, pos)
        tag = b[pos + 4 : pos + 8]
        payload = b[pos + 8 : pos + 8 + length]
        if len(payload) < length or pos + 12 + length > len(b):
            return None
        (crc,) = struct.unpack_from(">I", b, pos + 8 + length)
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc:
            return None
        if tag == b"IHDR":
            if length != 13:  # spec-fixed IHDR size; shorter would crash unpack
                return None
            width, height, depth, ctype = struct.unpack_from(">IIBB", payload, 0)
            if depth != 8 or ctype != 0:
                return None
        elif tag == b"IDAT":
            idat.extend(payload)
        elif tag == b"IEND":
            break
        pos += 12 + length
    if width is None or not idat:
        return None
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    if len(raw) != (width + 1) * height:
        return None
    out = bytearray()
    prev = bytes(width)
    for y in range(height):
        base = y * (width + 1)
        ft = raw[base]
        enc = raw[base + 1 : base + 1 + width]
        row = bytearray(width)
        for i in range(width):
            a = row[i - 1] if i else 0            # left
            u = prev[i]                            # up
            c = prev[i - 1] if i else 0            # upper-left
            if ft == 0:
                row[i] = enc[i]
            elif ft == 1:
                row[i] = (enc[i] + a) & 0xFF
            elif ft == 2:
                row[i] = (enc[i] + u) & 0xFF
            elif ft == 3:
                row[i] = (enc[i] + (a + u) // 2) & 0xFF
            elif ft == 4:  # Paeth
                p = a + u - c
                pa, pb, pc = abs(p - a), abs(p - u), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (u if pb <= pc else c)
                row[i] = (enc[i] + pred) & 0xFF
            else:
                return None
        out.extend(row)
        prev = bytes(row)
    return width, height, bytes(out)


def synthesize_png_media(ids: DataFrame) -> DataFrame:
    """(media_id, payload) with genuine PNG bytes: width = 4 + id%5,
    height = 3 + id%4, pixel(x, y) = (id*53 + y*19 + x*11) % 256 --
    arithmetic on the id, so SQL oracles recompute decoded stats."""

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "payload": []}
            for mid in pdf["doc_id"]:
                mid = int(mid)
                w, h = 4 + mid % 5, 3 + mid % 4
                out["media_id"].append(mid)
                out["payload"].append(
                    encode_png_gray8(
                        w, h, lambda x, y, m=mid: (m * 53 + y * 19 + x * 11) % 256
                    )
                )
            yield pd.DataFrame(out)

    return ids.mapInPandas(_encode, schema="media_id long, payload binary")


PNG_DECODE_SCHEMA = (
    "media_id long, format string, width int, height int, "
    "sum_pixel long, mean_pixel double"
)


def decode_png_real(media: DataFrame) -> DataFrame:
    """Real PNG parse inside Arrow-batched mapInPandas: dimensions,
    exact BIGINT pixel sum, mean (unrounded here; the query layer
    rounds JVM-side -- Python round() is banker's)."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "media_id", "format", "width", "height", "sum_pixel", "mean_pixel",
            )}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                parsed = decode_png_gray8(payload)
                if parsed is None:
                    continue
                w, h, pix = parsed
                s = sum(pix)
                out["media_id"].append(int(mid))
                out["format"].append("png_gray8")
                out["width"].append(w)
                out["height"].append(h)
                out["sum_pixel"].append(s)
                out["mean_pixel"].append(s / (w * h))
            yield pd.DataFrame(out)

    return media.mapInPandas(_decode, schema=PNG_DECODE_SCHEMA)


# --- video container: frame-indexed BMP concatenation -------------------------
#
# Video at pipeline scale is an opaque payload + frame index; the
# operations that matter are frame sampling and per-frame decode.  The
# container here is deliberately minimal (magic, frame count, u32 size
# index, concatenated genuine BMP frames) so both directions are
# byte-exact and the per-frame pixels stay arithmetic on the id.

_VID_MAGIC = b"VID0"


def encode_video(frames: "list[bytes]") -> bytes:
    head = _VID_MAGIC + struct.pack("<H", len(frames))
    idx = b"".join(struct.pack("<I", len(f)) for f in frames)
    return head + idx + b"".join(frames)


def decode_video(b: bytes) -> "list[bytes] | None":
    """Split a VID0 container back into its frame payloads; None on a
    bad magic / truncated index / truncated body."""
    if b is None or len(b) < 6 or b[:4] != _VID_MAGIC:
        return None
    (n,) = struct.unpack_from("<H", b, 4)
    pos = 6 + 4 * n
    if len(b) < pos:
        return None
    sizes = struct.unpack_from(f"<{n}I", b, 6) if n else ()
    frames = []
    for sz in sizes:
        if pos + sz > len(b):
            return None
        frames.append(b[pos : pos + sz])
        pos += sz
    return frames


def synthesize_video_media(ids: DataFrame) -> DataFrame:
    """(media_id, payload) with a genuine VID0 container of BMP frames:
    n_frames = 3 + id%4, frame dims w = 4 + id%3 / h = 3 + id%3,
    pixel(x, y, c) of frame f = (id*31 + f*101 + y*17 + x*7 + c) % 256."""

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "payload": []}
            for mid in pdf["doc_id"]:
                mid = int(mid)
                n_frames = 3 + mid % 4
                w, h = 4 + mid % 3, 3 + mid % 3
                frames = [
                    encode_bmp24(
                        w, h,
                        lambda x, y, c, m=mid, f=f: (m * 31 + f * 101 + y * 17 + x * 7 + c) % 256,
                    )
                    for f in range(n_frames)
                ]
                out["media_id"].append(mid)
                out["payload"].append(encode_video(frames))
            yield pd.DataFrame(out)

    # spread_input (r15, guide §2.5): the video container is the one
    # multimodal synthesis heavy enough to win from spreading the
    # one-split fixture scan (multi-frame per-pixel Python encode; the
    # downstream sampled decode inherits the parallelism).  Measured
    # interleaved A/B at sf0.1: video 1.97s -> 1.63s with spread, while
    # the single-image/audio codecs LOSE 1.3-3.4x to the exchange +
    # 32-way tiny-batch Python overhead -- so they deliberately stay
    # unspread.
    from ..sources.tables import spread_input

    return spread_input(ids).mapInPandas(
        _encode, schema="media_id long, payload binary"
    )


VIDEO_STATS_SCHEMA = (
    "media_id long, n_frames int, n_sampled int, frame_width int, "
    "frame_height int, sampled_pixel_sum long"
)


def video_frame_stats(media: DataFrame, every: int = 2) -> DataFrame:
    """REAL frame sampling: split the container, decode every
    ``every``-th BMP frame, and emit the exact BIGINT pixel sum over
    the sampled frames (padding excluded) -- the decode-subset pattern
    of real video pipelines (you never decode every frame).  Videos
    that fail container or frame parse are dropped (dead-letter
    downstream)."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "media_id", "n_frames", "n_sampled", "frame_width",
                "frame_height", "sampled_pixel_sum",
            )}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                frames = decode_video(payload)
                if frames is None or not frames:
                    continue
                sampled = frames[::every]
                total = 0
                w = h = None
                ok = True
                for fb in sampled:
                    arr = _bmp_pixels(fb)
                    if arr is None:
                        ok = False
                        break
                    h, w = int(arr.shape[0]), int(arr.shape[1])
                    total += int(arr.astype("int64").sum())
                if not ok:
                    continue
                out["media_id"].append(int(mid))
                out["n_frames"].append(len(frames))
                out["n_sampled"].append(len(sampled))
                out["frame_width"].append(w)
                out["frame_height"].append(h)
                out["sampled_pixel_sum"].append(total)
            yield pd.DataFrame(out)

    return media.mapInPandas(_stats, schema=VIDEO_STATS_SCHEMA)
