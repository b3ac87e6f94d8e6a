"""Multimodal column handling: image/audio/video as opaque binary columns
with typed metadata.

The Spark-side plumbing is real and tested: schemas, Arrow-batched
``mapInPandas`` pipelines, partition sizing by byte budget.  Four codecs
are real and dependency-free — binary PPM, RIFF/WAVE PCM, PNG (stdlib
zlib inflate + all five scanline unfilters + Adam7 + 8/16-bit +
gray/palette/alpha conversion) and baseline JPEG (marker walk + Huffman
+ IDCT + chroma upsample, operators/jpeg_lite.py) — so decode round
trips are value-checked end to end.  The one remaining compressed codec
(MP3) needs a library not in this container and stays behind
``NotImplementedError`` with the batch shape and UDF signature it would
use.

Design for 100 TB:
- binary payloads never pass through Python row-at-a-time; every decode /
  transform is an Arrow-batched ``mapInPandas`` over whole partitions;
- ``repartition_by_bytes`` sizes partitions by payload bytes (a fixed row
  count is wrong when blobs vary 1000x in size);
- metadata (width/height/duration/sample_rate) lives in typed columns so
  filters on it push down to parquet without touching payloads.
"""

from __future__ import annotations

import functools
import hashlib
import zlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from adtl_spark.session import cut_and_release

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload_sha256", T.StringType(), True),
        T.StructField("payload_bytes", T.LongType(), True),
        T.StructField("entropy_estimate", T.DoubleType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def decode_ppm(payload: bytes) -> tuple[int, int, bytes]:
    """Dependency-free binary PPM (P6) decoder: header ``P6 <w> <h>
    <maxval>`` in ASCII with whitespace/comments, then w*h*3 raw RGB
    bytes.  Returns (width, height, rgb_bytes).  Strict: truncated or
    malformed payloads raise ValueError (corrupt media must fail loudly,
    not produce garbage features)."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and payload[pos : pos + 1].isdigit():
            pos += 1
        if start == pos:
            raise ValueError("malformed PPM header")
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace byte after maxval
    width, height, maxval = fields
    if maxval != 255:
        raise ValueError(f"only 8-bit PPM supported, got maxval={maxval}")
    need = width * height * 3
    rgb = payload[pos : pos + need]
    if len(rgb) != need:
        raise ValueError(f"truncated PPM: need {need} bytes, have {len(rgb)}")
    return width, height, rgb


def _riff_chunks(payload: bytes, container: bytes = b"WAVE"):
    """Yield (chunk_id, body) for every top-level chunk of a RIFF
    container, after verifying the ``RIFF``/container signature — the
    ONE word-aligned walk every WAV-family decoder shares (PCM, ADPCM,
    G.711, the fmt-tag dispatcher), so an alignment or truncation fix
    lands once."""
    import struct

    if (
        len(payload) < 12
        or payload[:4] != b"RIFF"
        or payload[8:12] != container
    ):
        raise ValueError(f"not a RIFF/{container.decode().strip()} payload")
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        yield cid, payload[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)  # chunks are word-aligned


def decode_wav(payload: bytes) -> tuple[int, int, int, bytes]:
    """Dependency-free RIFF/WAVE PCM decoder: walks the chunk list, reads
    the ``fmt `` chunk (PCM only) and the ``data`` chunk.  Returns
    (sample_rate, channels, bits_per_sample, pcm_bytes); malformed or
    compressed payloads raise ValueError."""
    import struct

    fmt = None
    data = None
    for cid, body in _riff_chunks(payload):
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("short fmt chunk")
            audio_format, channels, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if audio_format != 1:
                raise ValueError(f"only PCM supported, got format {audio_format}")
            fmt = (rate, channels, bits)
        elif cid == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("WAVE payload missing fmt or data chunk")
    return fmt[0], fmt[1], fmt[2], data


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_unfilter(raw: bytes, width: int, height: int, bpp: int):
    """Reverse the per-scanline PNG filters (spec §6: None/Sub/Up/
    Average/Paeth).  ``raw`` is the inflated stream: height scanlines of
    1 filter-type byte + width*bpp filtered bytes.

    Vectorized where the recurrence allows: None and Up are whole-row
    numpy ops, Sub is a per-lane cumulative sum (recon = running sum of
    filtered bytes mod 256 within each byte lane).  Average and Paeth
    genuinely chain on the reconstructed LEFT pixel, so they walk pixels
    — but as width-length loops over bpp-wide lane vectors, and only on
    the rows that use them.  The mapInPandas harness distributes whole
    images across executors, never pixels across rows of Python."""
    import numpy as np

    stride = width * bpp
    if len(raw) != height * (stride + 1):
        raise ValueError(
            f"PNG stream size {len(raw)} != expected {height * (stride + 1)}"
        )
    scan = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    ftypes = scan[:, 0]
    if ftypes.max(initial=0) > 4:
        bad = int(ftypes[ftypes > 4][0])
        raise ValueError(f"PNG filter type {bad} is not in 0..4")
    lines = scan[:, 1:].astype(np.int32)
    out = np.empty((height, stride), dtype=np.int32)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(height):
        ftype = int(ftypes[y])
        line = lines[y]
        if ftype == 0:  # None
            cur = line
        elif ftype == 1:  # Sub: per-lane running sum mod 256
            cur = np.cumsum(line.reshape(width, bpp), axis=0, dtype=np.int64)
            cur = (cur % 256).astype(np.int32).reshape(stride)
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype == 3:  # Average
            cur = np.empty(stride, dtype=np.int32)
            lanes = line.reshape(width, bpp)
            up = prev.reshape(width, bpp)
            left = np.zeros(bpp, dtype=np.int32)
            for x in range(width):
                left = (lanes[x] + ((left + up[x]) >> 1)) & 0xFF
                cur[x * bpp : (x + 1) * bpp] = left
        else:  # Paeth
            cur = np.empty(stride, dtype=np.int32)
            lanes = line.reshape(width, bpp)
            up = prev.reshape(width, bpp)
            left = np.zeros(bpp, dtype=np.int32)
            ul = np.zeros(bpp, dtype=np.int32)
            for x in range(width):
                b = up[x]
                p = left + b - ul
                pa, pb, pc = (
                    np.abs(p - left),
                    np.abs(p - b),
                    np.abs(p - ul),
                )
                pr = np.where(
                    (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, b, ul)
                )
                left = (lanes[x] + pr) & 0xFF
                cur[x * bpp : (x + 1) * bpp] = left
                ul = b
        out[y] = cur
        prev = cur
    return out.astype(np.uint8).tobytes()


# PNG color types: (channels, needs_palette)
_PNG_COLOR = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# Adam7 interlace pass grid: (x_start, y_start, x_step, y_step)
_ADAM7 = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]


def _png_deinterlace(
    raw: bytes, width: int, height: int, bpp: int
) -> bytes:
    """Reassemble an Adam7-interlaced stream: each of the seven passes
    is an independently-filtered sub-image (empty passes absent); after
    per-pass unfiltering the pixels scatter back to their grid
    positions (spec §8.2)."""
    import numpy as np

    out = np.zeros((height, width, bpp), dtype=np.uint8)
    pos = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        size = ph * (pw * bpp + 1)
        sub = _png_unfilter(raw[pos : pos + size], pw, ph, bpp)
        pos += size
        a = np.frombuffer(sub, dtype=np.uint8).reshape(ph, pw, bpp)
        out[y0::dy, x0::dx, :] = a
    if pos != len(raw):
        raise ValueError(
            f"Adam7 stream size {len(raw)} != consumed {pos}"
        )
    return out.tobytes()


def decode_png(payload: bytes) -> tuple[int, int, bytes]:
    """Dependency-free PNG decoder (stdlib zlib only): walks the chunk
    list verifying each CRC, inflates the IDAT stream, reverses all five
    scanline filters, and converts to packed RGB bytes.  Supports 8- and
    16-bit depth (16-bit quantizes to the high byte — the standard 8-bit
    view), Adam7 interlacing (seven independently-filtered passes
    scattered back to the grid), color types 0 (gray), 2 (RGB),
    3 (palette, 8-bit only per spec), 4 (gray+alpha) and 6 (RGBA) —
    alpha is STRIPPED (not composited), gray replicates, palette indexes
    PLTE.  Malformed payloads (bad CRC, short stream, unknown filter)
    raise ValueError — corrupt media must fail loudly.

    Returns (width, height, rgb_bytes) — the same contract as
    :func:`decode_ppm`, so every downstream stage (features, resize,
    pixel stats) is format-agnostic."""
    import struct

    if not payload.startswith(_PNG_SIG):
        raise ValueError("not a PNG payload")
    pos = len(_PNG_SIG)
    width = height = None
    color_type = depth = interlace = None
    palette: bytes | None = None
    idat = bytearray()
    seen_iend = False
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length:
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if depth not in (8, 16) or (depth == 16 and color_type == 3):
                raise NotImplementedError(
                    f"PNG depth={depth}/color={color_type} unsupported "
                    "(8- and 16-bit, palette 8-bit only)"
                )
            if color_type not in _PNG_COLOR:
                raise ValueError(f"unknown PNG color type {color_type}")
            if comp != 0 or filt != 0:
                raise ValueError("nonstandard PNG compression/filter method")
            if interlace not in (0, 1):
                raise ValueError(f"unknown PNG interlace method {interlace}")
        elif ctype == b"PLTE":
            palette = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            seen_iend = True
            break
        pos += 12 + length
    if width is None or not seen_iend or not idat:
        raise ValueError("PNG missing IHDR/IDAT/IEND")
    if width == 0 or height == 0:
        raise ValueError("zero-dimension PNG")
    channels = _PNG_COLOR[color_type]
    bpp = channels * (depth // 8)
    raw = zlib.decompress(bytes(idat))
    if interlace == 1:
        px = _png_deinterlace(raw, width, height, bpp)
    else:
        px = _png_unfilter(raw, width, height, bpp)
    if depth == 16:
        px = px[0::2]  # high byte of each big-endian sample: the 8-bit view
    n = width * height
    if color_type == 2:
        rgb = bytes(px)
    elif color_type == 6:  # RGBA: strip alpha
        rgb = bytearray(n * 3)
        for i in range(n):
            rgb[3 * i : 3 * i + 3] = px[4 * i : 4 * i + 3]
        rgb = bytes(rgb)
    elif color_type == 0:  # gray
        rgb = bytes(v for v in px for _ in range(3))
    elif color_type == 4:  # gray+alpha
        rgb = bytes(px[2 * i] for i in range(n) for _ in range(3))
    else:  # palette
        if palette is None:
            raise ValueError("palette PNG missing PLTE chunk")
        rgb = bytearray(n * 3)
        for i in range(n):
            j = px[i] * 3
            if j + 3 > len(palette):
                raise ValueError("PNG palette index out of range")
            rgb[3 * i : 3 * i + 3] = palette[j : j + 3]
        rgb = bytes(rgb)
    return width, height, rgb


def _png_filter_line(
    ftype: int, line: bytes, prev: bytes | None, bpp: int
) -> bytes:
    """Forward-apply one PNG scanline filter (the encoder side of
    :func:`_png_unfilter`).  Fully vectorizable — unlike unfiltering,
    the predictors read ORIGINAL bytes, so left/up/upper-left are just
    shifted views of the input rows."""
    import numpy as np

    if ftype not in (0, 1, 2, 3, 4):
        raise ValueError(f"PNG filter type {ftype} is not in 0..4")
    cur = np.frombuffer(line, dtype=np.uint8).astype(np.int32)
    if ftype == 0:
        return line
    up = (
        np.frombuffer(prev, dtype=np.uint8).astype(np.int32)
        if prev is not None
        else np.zeros(len(line), dtype=np.int32)
    )
    left = np.zeros(len(line), dtype=np.int32)
    left[bpp:] = cur[:-bpp]
    if ftype == 1:
        out = cur - left
    elif ftype == 2:
        out = cur - up
    elif ftype == 3:
        out = cur - ((left + up) >> 1)
    else:  # Paeth
        ul = np.zeros(len(line), dtype=np.int32)
        ul[bpp:] = up[:-bpp]
        p = left + up - ul
        pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
        pr = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul))
        out = cur - pr
    return (out & 0xFF).astype(np.uint8).tobytes()


def encode_png(
    width: int,
    height: int,
    raw: bytes,
    color_type: int = 2,
    filter_mode: str = "mixed",
) -> bytes:
    """Dependency-free PNG encoder: ``raw`` is packed channel bytes for
    ``color_type`` (2=RGB, 6=RGBA, 0=gray; len = w*h*channels).
    ``filter_mode='mixed'`` filters scanline y with type y % 5 — every
    decoder unfilter path (None/Sub/Up/Average/Paeth) is exercised by
    any image of >= 5 rows, which is exactly what the round-trip gates
    want; ``'none'`` writes filter 0 throughout (fastest)."""
    import struct

    if color_type not in (0, 2, 6):
        raise ValueError(f"encode_png supports color types 0/2/6, got {color_type}")
    bpp = _PNG_COLOR[color_type]
    stride = width * bpp
    if len(raw) != height * stride:
        raise ValueError(
            f"raw size {len(raw)} != {height}*{stride} for color type {color_type}"
        )

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    stream = bytearray()
    prev: bytes | None = None
    for y in range(height):
        line = raw[y * stride : (y + 1) * stride]
        ftype = (y % 5) if filter_mode == "mixed" else 0
        stream.append(ftype)
        stream += _png_filter_line(ftype, line, prev, bpp)
        prev = line
    idat = zlib.compress(bytes(stream), 6)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


# ---------------------------------------------------------- IMA ADPCM ---
# IMA/DVI ADPCM (WAV format tag 0x11): 4-bit differential coding with
# the standard 89-entry step table and index adaptation — the classic
# compressed speech/telephony format.  Integer-exact by definition, so
# decode is deterministic across platforms.  Self-consistency note (same
# reasoning as the JPEG tables): encoder and decoder share these module
# tables, so round trips hold exactly as written; the tables ARE the
# published IMA ones, making external interop expected but the
# correctness argument independent of transcription.

_ADPCM_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_ADPCM_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]


def _adpcm_step(pred: int, index: int, nibble: int) -> tuple[int, int]:
    """One IMA decode step: (new_pred, new_index) from a 4-bit code."""
    step = _ADPCM_STEPS[index]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    if nibble & 8:
        diff = -diff
    pred = max(-32768, min(32767, pred + diff))
    index = max(0, min(88, index + _ADPCM_INDEX[nibble & 7]))
    return pred, index


def decode_adpcm_block(
    block: bytes, n_samples: int
) -> list[int]:
    """Decode one IMA ADPCM block: 4-byte header (int16 predictor,
    uint8 step index, reserved) then two low-nibble-first samples per
    byte; the header predictor IS sample 0."""
    import struct

    pred, index = struct.unpack("<hB", block[:3])
    if index > 88:
        raise ValueError(f"ADPCM step index {index} > 88")
    out = [pred]
    for byte in block[4:]:
        for nibble in (byte & 0x0F, byte >> 4):
            if len(out) >= n_samples:
                break
            pred, index = _adpcm_step(pred, index, nibble)
            out.append(pred)
    return out[:n_samples]


def encode_wav_adpcm(
    pcm: bytes, rate: int = 16000, block_align: int = 256
) -> bytes:
    """Encode 16-bit mono PCM as an IMA ADPCM WAV (format tag 0x11):
    per block, the first sample seeds the header predictor and the rest
    quantize to 4-bit codes with the encoder state kept in LOCKSTEP with
    the decoder's reconstruction (each step re-runs the decode
    arithmetic), so error never accumulates beyond one step size.
    Writes the fact chunk (total samples) and samples_per_block, like a
    conformant writer."""
    import struct

    samples = list(
        struct.unpack(f"<{len(pcm) // 2}h", pcm[: len(pcm) // 2 * 2])
    )
    spb = (block_align - 4) * 2 + 1
    blocks = bytearray()
    i = 0
    index = 0
    while i < len(samples):
        chunk = samples[i : i + spb]
        i += spb
        pred = chunk[0]
        blocks += struct.pack("<hBB", pred, index, 0)
        nibbles: list[int] = []
        for s in chunk[1:]:
            step = _ADPCM_STEPS[index]
            diff = s - pred
            code = 8 if diff < 0 else 0
            diff = abs(diff)
            if diff >= step:
                code |= 4
                diff -= step
            if diff >= step >> 1:
                code |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                code |= 1
            pred, index = _adpcm_step(pred, index, code)
            nibbles.append(code)
        if len(nibbles) % 2:
            nibbles.append(0)
        for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
            blocks.append(lo | (hi << 4))
        pad = block_align - 4 - len(nibbles) // 2
        blocks += bytes(pad)  # ragged final block zero-padded to align
    fmt = struct.pack(
        "<HHIIHHHH",
        0x11,
        1,
        rate,
        rate * block_align // spb,
        block_align,
        4,
        2,
        spb,
    )
    fact = struct.pack("<I", len(samples))
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"fact" + struct.pack("<I", len(fact)) + fact
    chunks += b"data" + struct.pack("<I", len(blocks)) + bytes(blocks)
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_wav_adpcm(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode an IMA ADPCM WAV to (rate, channels=1, bits=16,
    pcm_bytes): walks the chunk list for fmt (tag 0x11, mono) / fact /
    data, decodes block by block, trims to the fact-chunk sample count."""
    import struct

    fmt = data = None
    total = None
    for cid, body in _riff_chunks(payload):
        if cid == b"fmt ":
            tag, ch, rate, _br, balign = struct.unpack("<HHIIH", body[:14])
            if tag != 0x11:
                raise ValueError(f"not IMA ADPCM (format {tag})")
            if ch != 1:
                raise ValueError("only mono ADPCM supported")
            spb = struct.unpack("<H", body[18:20])[0] if len(body) >= 20 else (
                (balign - 4) * 2 + 1
            )
            fmt = (rate, balign, spb)
        elif cid == b"fact":
            (total,) = struct.unpack("<I", body[:4])
        elif cid == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("ADPCM payload missing fmt or data chunk")
    rate, balign, spb = fmt
    out: list[int] = []
    for b0 in range(0, len(data), balign):
        block = data[b0 : b0 + balign]
        if len(block) < 4:
            break
        remaining = (total - len(out)) if total is not None else spb
        out.extend(decode_adpcm_block(block, min(spb, max(remaining, 0))))
    if total is not None:
        out = out[:total]
    pcm = struct.pack(f"<{len(out)}h", *out)
    return rate, 1, 16, pcm


@functools.lru_cache(maxsize=1)
def _g711_decode_tables():
    """256-entry int16 decode LUTs for µ-law (ITU-T G.711 tables 2a/2b)
    and A-law (tables 1a/1b), built from the piecewise-linear expansion
    formulas — self-describing like the ADPCM/JPEG tables, so round-trip
    correctness never depends on transcribing 256 constants.  Cached:
    the tables are constants and this sits in the per-payload decode
    hot path (callers only np.take from them, never mutate)."""
    import numpy as np

    ulaw = np.empty(256, dtype=np.int16)
    for code in range(256):
        u = ~code & 0xFF
        t = ((u & 0x0F) << 3) + 0x84
        t <<= (u & 0x70) >> 4
        ulaw[code] = (0x84 - t) if (u & 0x80) else (t - 0x84)
    alaw = np.empty(256, dtype=np.int16)
    for code in range(256):
        a = code ^ 0x55
        t = (a & 0x0F) << 4
        seg = (a & 0x70) >> 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t = (t + 0x108) << (seg - 1)
        alaw[code] = t if (a & 0x80) else -t
    return ulaw, alaw


def _g711_encode(samples, law: str):
    """Vectorized G.711 compressor (int16 -> uint8 codes), the segment
    search expressed as a log2 over the clipped biased magnitude — used
    by fixtures/round-trip gates; the decode LUT is the data path."""
    import numpy as np

    x = np.asarray(samples, dtype=np.int64)
    if law == "ulaw":
        # arithmetic shift BEFORE negation (floors toward -inf), matching
        # the G.711 reference flow — abs-then-shift is off by one for
        # negatives not divisible by 4
        s = x >> 2
        mag = np.where(s < 0, -s, s)
        mask = np.where(s < 0, 0x7F, 0xFF)
        # clip-then-bias tops out at 8192, which the reference search
        # maps to the max code 0x7F — clamping to 8191 yields the same
        # code through the shared seg/mantissa path
        mag = np.minimum(np.minimum(mag, 8159) + (0x84 >> 2), 8191)
        # seg boundaries are (0x3F << k): floor(log2) - 5, floored at 0
        seg = np.maximum(
            np.floor(np.log2(np.maximum(mag, 1))).astype(np.int64) - 5, 0
        )
        seg = np.minimum(seg, 7)
        code = (seg << 4) | ((mag >> (seg + 1)) & 0x0F)
        return (code ^ mask).astype(np.uint8)
    if law == "alaw":
        mag = np.where(x >= 0, x, -x - 1) >> 3
        mask = np.where(x >= 0, 0xD5, 0x55)
        mag = np.minimum(mag, 0xFFF)
        seg = np.maximum(
            np.floor(np.log2(np.maximum(mag, 1))).astype(np.int64) - 4, 0
        )
        seg = np.minimum(seg, 7)
        shift = np.where(seg < 2, 1, seg)
        code = (seg << 4) | ((mag >> shift) & 0x0F)
        return (code ^ mask).astype(np.uint8)
    raise ValueError(f"unknown G.711 law {law!r}")


def encode_wav_g711(
    pcm16: bytes, rate: int = 8000, channels: int = 1, law: str = "ulaw"
) -> bytes:
    """Compress 16-bit PCM to a RIFF/WAVE G.711 payload (format tag 0x07
    µ-law / 0x06 A-law, 8 bits per sample) — the telephony/ASR-corpus
    wire format.  Fixture-side counterpart of :func:`decode_wav_g711`."""
    import struct

    import numpy as np

    samples = np.frombuffer(pcm16, dtype=np.int16)
    codes = _g711_encode(samples, law).tobytes()
    tag = 0x07 if law == "ulaw" else 0x06
    balign = channels
    fmt = struct.pack(
        "<HHIIHHH", tag, channels, rate, rate * balign, balign, 8, 0
    )
    fact = struct.pack("<I", len(samples) // channels)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", len(fact)) + fact
        + b"data" + struct.pack("<I", len(codes)) + codes
        + (b"\x00" if len(codes) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav_g711(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode a RIFF/WAVE G.711 payload (format tag 0x07 µ-law / 0x06
    A-law) to (sample_rate, channels, 16, pcm_bytes).  The expansion is
    a 256-entry LUT ``np.take`` over the whole data chunk — one
    vectorized op per payload, no per-sample Python."""
    import struct

    import numpy as np

    fmt = data = None
    for cid, body in _riff_chunks(payload):
        if cid == b"fmt ":
            tag, ch, rate = struct.unpack("<HHI", body[:8])
            if tag not in (0x06, 0x07):
                raise ValueError(f"not G.711 (format {tag})")
            fmt = (tag, ch, rate)
        elif cid == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("G.711 payload missing fmt or data chunk")
    tag, ch, rate = fmt
    ulaw, alaw = _g711_decode_tables()
    table = ulaw if tag == 0x07 else alaw
    codes = np.frombuffer(data, dtype=np.uint8)
    return rate, ch, 16, np.take(table, codes).tobytes()


# ---------------------------------------------------------------------------
# Pluggable codec registry — the production swap-in seam.
#
# Every decode operator routes through decode_image/decode_audio, which
# dispatch per FORMAT KEY through this registry: callers swap in
# production decoders (libjpeg-turbo, libFLAC, pyav, an MP3 codec) with
# register_decoder and never touch operator code.  The in-repo codecs
# are the defaults — an empty registry changes nothing.
#
# Closure-capture contract: Spark Python workers import this module
# FRESH, so a driver-side register_decoder would be invisible to
# executors if operators read the module global inside their closures.
# Operators therefore snapshot codec_overrides() at PLAN CONSTRUCTION
# time (on the driver) and close over the snapshot — cloudpickle ships
# the dict and its callables (module functions by reference, injected
# lambdas/locals by value) to every worker.  Register BEFORE building
# the plan; plans built earlier keep the decoders they captured.

_CODEC_REGISTRY: dict = {}

#: the format keys decode_image/decode_audio dispatch on
CODEC_FORMATS = ("ppm", "png", "jpeg", "wav", "adpcm", "g711", "flac", "mp3")


def register_decoder(fmt: str, fn) -> None:
    """Install ``fn`` as the decoder for format key ``fmt`` (one of
    :data:`CODEC_FORMATS`).  Image decoders return ``(width, height,
    rgb_bytes)``; audio decoders return ``(sample_rate, channels, bits,
    pcm_bytes)`` — the same contracts the in-repo codecs satisfy.  The
    'mp3' key covers ALL MPEG audio payloads: the in-repo default
    decodes Layer I/II natively (operators/mp2_lite.py) and raises
    NotImplementedError for Layer III (a Layer-III synthesis chain
    needs a codec library), so ``register_decoder("mp3", my_decode)``
    remains how real deployments light up MP3 ingestion."""
    if fmt not in CODEC_FORMATS:
        raise ValueError(
            f"unknown codec format {fmt!r}; expected one of {CODEC_FORMATS}"
        )
    _CODEC_REGISTRY[fmt] = fn


def unregister_decoder(fmt: str) -> None:
    """Remove an override, restoring the in-repo default for ``fmt``."""
    _CODEC_REGISTRY.pop(fmt, None)


def codec_overrides() -> dict:
    """Snapshot of the registry for closure capture — every decode
    operator calls this at plan-construction time and ships the result
    to the executors (see the registry contract above)."""
    return dict(_CODEC_REGISTRY)


def _decode_mpeg_default(payload: bytes):
    """Default decoder behind the 'mp3' registry key: MPEG-1 Layer I/II
    decode natively (operators/mp2_lite.py — the broadcast formats);
    Layer III raises NotImplementedError naming the registry seam (a
    Layer-III synthesis chain needs a codec library)."""
    from adtl_spark.operators.mp2_lite import decode_mpeg_audio

    return decode_mpeg_audio(payload)


def decode_image(payload: bytes, overrides: dict | None = None) -> tuple:
    """Decode an image payload to (width, height, rgb_bytes).  PPM (P6),
    PNG (stdlib-zlib chunk walk + unfilter, :func:`decode_png`) and
    baseline JPEG (marker walk + Huffman + IDCT,
    operators/jpeg_lite.py) all decode natively — no codec library in
    the data path; unrecognized or malformed payloads fail loudly.
    ``overrides`` (a :func:`codec_overrides` snapshot) swaps in
    registered production decoders per format key."""
    reg = _CODEC_REGISTRY if overrides is None else overrides
    if payload.startswith(b"P6"):
        return reg.get("ppm", decode_ppm)(payload)
    if payload.startswith(b"\x89PNG"):
        return reg.get("png", decode_png)(payload)
    if payload.startswith(b"\xff\xd8\xff"):
        from adtl_spark.operators.jpeg_lite import decode_jpeg

        return reg.get("jpeg", decode_jpeg)(payload)
    raise ValueError("unrecognized image payload")


def _wav_format_tag(payload: bytes) -> int | None:
    """The ``fmt `` chunk's format tag of a RIFF/WAVE payload, or None
    when no fmt chunk is present or the container is not WAVE (an AVI
    also starts with RIFF) — dispatch on the tag itself rather than
    substring-matching decoder error text (tag 170 or 1792 would also
    contain '17')."""
    import struct

    try:
        for cid, body in _riff_chunks(payload):
            if cid == b"fmt " and len(body) >= 2:
                return struct.unpack("<H", body[:2])[0]
    except ValueError:
        return None
    return None


# ---------------------------------------------------------------------------
# MPEG audio (MP3) metadata probe.  Full Layer III DECODE stays the
# documented env-blocked stub (huffman/IMDCT/synthesis need a codec
# library); the frame-header layer, however, is simple public structure
# (ISO/IEC 11172-3 §2.4.1) and is all a corpus pipeline needs for
# duration/bitrate/VBR stats, sharding decisions, and format audits.

# kbps tables indexed 1..14 (index 0 = free format, 15 = invalid),
# keyed by (MPEG-1?, layer)
_MPEG_BITRATES = {
    (True, 1): (32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    (True, 2): (32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    (True, 3): (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    (False, 1): (32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    (False, 2): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    (False, 3): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
# sample-rate tables keyed by the 2-bit version field
# (0b00 = MPEG-2.5, 0b10 = MPEG-2, 0b11 = MPEG-1)
_MPEG_RATES = {
    3: (44100, 48000, 32000),
    2: (22050, 24000, 16000),
    0: (11025, 12000, 8000),
}
_MPEG_VERSION_NAME = {3: "1", 2: "2", 0: "2.5"}


def _mpeg_frame_bytes(version_bits: int, layer: int, kbps: int,
                      rate: int, padding: int) -> int:
    bps = kbps * 1000
    if layer == 1:
        return (12 * bps // rate + padding) * 4
    if layer == 3 and version_bits != 3:  # MPEG-2/2.5 Layer III: 576 spf
        return 72 * bps // rate + padding
    return 144 * bps // rate + padding


def _mpeg_frame_samples(version_bits: int, layer: int) -> int:
    if layer == 1:
        return 384
    if layer == 3 and version_bits != 3:
        return 576
    return 1152


def probe_mpeg_audio(payload: bytes) -> dict:
    """Walk an MPEG audio (MP3/MP2/MP1) stream's frame headers and
    return corpus-level metadata WITHOUT decoding audio:

    ``{version, layer, sample_rate, channels, n_frames, total_samples,
    duration_ms, total_bytes, avg_kbps, vbr, id3v2_bytes}``

    Handles a leading ID3v2 tag (syncsafe size, optional footer), a
    trailing ID3v1 tag, padding bits, and mixed-bitrate (VBR) streams;
    stops at the first byte that is not a valid frame header and raises
    if no frame was found (so junk never probes as audio).  Pure header
    arithmetic from the public ISO/IEC 11172-3 frame format — the
    decode stub in :func:`decode_audio` is unaffected."""
    pos = 0
    id3v2 = 0
    if payload[:3] == b"ID3" and len(payload) >= 10:
        size = 0
        for b in payload[6:10]:
            size = (size << 7) | (b & 0x7F)
        id3v2 = 10 + size + (10 if payload[5] & 0x10 else 0)
        pos = id3v2
    n_frames = 0
    total_samples = 0
    duration_us = 0
    kbps_seen: set[int] = set()
    kbps_sum = 0
    meta = None
    while pos + 4 <= len(payload):
        h = int.from_bytes(payload[pos : pos + 4], "big")
        if (h >> 21) != 0x7FF:
            break
        version_bits = (h >> 19) & 0x3
        layer_bits = (h >> 17) & 0x3
        if version_bits == 1 or layer_bits == 0:
            break
        layer = 4 - layer_bits
        br_idx = (h >> 12) & 0xF
        sr_idx = (h >> 10) & 0x3
        if br_idx in (0, 15) or sr_idx == 3:
            break
        padding = (h >> 9) & 0x1
        mode = (h >> 6) & 0x3
        kbps = _MPEG_BITRATES[(version_bits == 3, layer)][br_idx - 1]
        rate = _MPEG_RATES[version_bits][sr_idx]
        channels = 1 if mode == 3 else 2
        if meta is None:
            meta = (version_bits, layer, rate, channels)
        elif meta[:3] != (version_bits, layer, rate):
            break  # format change mid-stream: stop at consistent prefix
        flen = _mpeg_frame_bytes(version_bits, layer, kbps, rate, padding)
        if pos + flen > len(payload):
            break  # truncated final frame: exclude it
        spf = _mpeg_frame_samples(version_bits, layer)
        n_frames += 1
        total_samples += spf
        duration_us += spf * 1_000_000 // rate
        kbps_seen.add(kbps)
        kbps_sum += kbps
        pos += flen
    if meta is None:
        raise ValueError("no MPEG audio frame found")
    if n_frames == 0:
        # a valid header whose frame is cut short (truncated download):
        # same contract as junk — loud ValueError, never a ZeroDivision
        raise ValueError("no complete MPEG audio frame found")
    return {
        "version": _MPEG_VERSION_NAME[meta[0]],
        "layer": meta[1],
        "sample_rate": meta[2],
        "channels": meta[3],
        "n_frames": n_frames,
        "total_samples": total_samples,
        "duration_ms": duration_us // 1000,
        "total_bytes": pos - id3v2,
        "avg_kbps": kbps_sum // n_frames,
        "vbr": len(kbps_seen) > 1,
        "id3v2_bytes": id3v2,
    }


def build_mpeg_audio(
    frame_kbps: list[int],
    version: str = "1",
    layer: int = 3,
    rate: int = 44100,
    channels: int = 2,
    pad_every: int = 0,
    id3v2_size: int = 0,
) -> bytes:
    """Construct a structurally valid MPEG audio stream: real frame
    headers with the requested per-frame bitrates (mixed list = VBR),
    zeroed frame payloads, optional ID3v2 preamble.  Fixture-side
    counterpart of :func:`probe_mpeg_audio` — the headers are exactly
    what an encoder would emit, so any conformant prober agrees on
    frame count/duration/bitrate; only the audio payload is silence."""
    version_bits = {"1": 3, "2": 2, "2.5": 0}[version]
    rates = _MPEG_RATES[version_bits]
    sr_idx = rates.index(rate)
    table = _MPEG_BITRATES[(version_bits == 3, layer)]
    out = bytearray()
    if id3v2_size:
        body = max(0, id3v2_size - 10)
        out += b"ID3\x04\x00\x00"
        out += bytes(
            [(body >> 21) & 0x7F, (body >> 14) & 0x7F,
             (body >> 7) & 0x7F, body & 0x7F]
        )
        out += b"\x00" * body
    for f, kbps in enumerate(frame_kbps):
        padding = 1 if pad_every and (f + 1) % pad_every == 0 else 0
        br_idx = table.index(kbps) + 1
        h = (
            (0x7FF << 21)
            | (version_bits << 19)
            | ((4 - layer) << 17)
            | (1 << 16)  # no CRC
            | (br_idx << 12)
            | (sr_idx << 10)
            | (padding << 9)
            | ((3 if channels == 1 else 0) << 6)
        )
        flen = _mpeg_frame_bytes(version_bits, layer, kbps, rate, padding)
        out += h.to_bytes(4, "big") + b"\x00" * (flen - 4)
    return bytes(out)


def parse_id3v2(payload: bytes) -> dict:
    """Parse ID3v2.3/2.4 TEXT frames (the tag block the MPEG probe
    skips): returns ``{frame_id: text}`` for the T*** frames (TIT2
    title, TPE1 artist, TALB album, ...), handling syncsafe sizes and
    the 0x00 (latin-1), 0x01 (UTF-16 BOM) and 0x03 (UTF-8) text
    encodings.  Returns {} when no ID3v2 tag leads the payload —
    metadata extraction is best-effort by contract, unlike the frame
    probe which raises on junk."""
    if payload[:3] != b"ID3" or len(payload) < 10:
        return {}
    major = payload[3]
    size = 0
    for b in payload[6:10]:
        size = (size << 7) | (b & 0x7F)
    end = min(10 + size, len(payload))
    pos = 10
    out: dict = {}
    while pos + 10 <= end:
        fid = payload[pos : pos + 4]
        if not fid.strip(b"\x00") or not all(
            65 <= c <= 90 or 48 <= c <= 57 for c in fid
        ):
            break
        if major >= 4:  # v2.4: syncsafe frame sizes
            flen = 0
            for b in payload[pos + 4 : pos + 8]:
                flen = (flen << 7) | (b & 0x7F)
        else:
            flen = int.from_bytes(payload[pos + 4 : pos + 8], "big")
        body = payload[pos + 10 : pos + 10 + flen]
        if fid[:1] == b"T" and body:
            enc, raw = body[0], body[1:]
            try:
                if enc == 1:
                    text = raw.decode("utf-16")
                elif enc == 3:
                    text = raw.decode("utf-8")
                else:
                    text = raw.decode("latin-1")
                out[fid.decode("ascii")] = text.rstrip("\x00")
            except UnicodeDecodeError:
                pass
        pos += 10 + flen
    return out


def build_id3v2(frames: dict, version: int = 4) -> bytes:
    """Construct an ID3v2.3/2.4 tag with UTF-8 text frames — the
    fixture-side counterpart of :func:`parse_id3v2`; prepend to any
    MPEG stream from :func:`build_mpeg_audio`."""
    body = bytearray()
    for fid, text in frames.items():
        data = b"\x03" + text.encode("utf-8")
        n = len(data)
        if version >= 4:
            sz = bytes(
                [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
            )
        else:
            sz = n.to_bytes(4, "big")
        body += fid.encode("ascii") + sz + b"\x00\x00" + data
    n = len(body)
    hdr = b"ID3" + bytes([version, 0, 0]) + bytes(
        [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
    )
    return hdr + bytes(body)


def normalize_audio_peak(
    df: DataFrame, target_peak: int = 30000
) -> DataFrame:
    """Peak normalization — the ASR-corpus loudness-prep step: decode
    each payload through the full :func:`decode_audio` dispatch, scale
    every sample by the EXACT integer rule

        out = sample * target_peak // peak      (peak = max |sample|)

    and emit (media_id, peak, n_samples, pcm_sum) with the scaled
    payload re-encoded as WAV.  Integer floor scaling (not float) keeps
    the transform SQL-replayable sample-for-sample; payloads quieter
    than the target are amplified, louder ones attenuated, silence
    passes through.  Arrow ``mapInPandas``, one decode per payload."""
    import numpy as np

    ov = codec_overrides()  # plan-time snapshot, shipped in the closure

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                rate, ch, bits, pcm = decode_audio(bytes(payload), ov)
                # honor the decoder's container width: <=16-bit decodes
                # land in int16 buffers, wider in int32 (flac_lite
                # contract); anything else is loud, never reinterpreted
                if bits <= 16 and len(pcm) % 2 == 0 and bits > 8:
                    x = np.frombuffer(pcm, dtype=np.int16).astype(np.int64)
                elif bits > 16:
                    x = np.frombuffer(pcm, dtype=np.int32).astype(np.int64)
                else:
                    raise ValueError(
                        f"normalize_audio_peak: unsupported {bits}-bit PCM"
                    )
                peak = int(np.abs(x).max()) if len(x) else 0
                if peak:
                    y = x * target_peak // peak
                else:
                    y = x
                out = pcm_to_wav(rate, ch, 16, y.astype(np.int16).tobytes())
                rows.append(
                    (
                        int(mid),
                        peak,
                        len(y),
                        int(y.sum()),
                        out,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "peak", "n_samples", "pcm_sum", "payload"],
            )

    return df.mapInPandas(
        run,
        schema=(
            "media_id long, peak long, n_samples long, pcm_sum long, "
            "payload binary"
        ),
    )


def decode_audio(
    payload: bytes, overrides: dict | None = None
) -> tuple[int, int, int, bytes]:
    """Decode an audio payload to (sample_rate, channels, bits, pcm).
    WAV/PCM, IMA ADPCM (format tag 0x11), G.711 µ-law/A-law (tags
    0x07/0x06), FLAC (``fLaC`` magic — the lossless codec, CRC- and
    MD5-verified) and MPEG-1 Layer I/II (broadcast MP2/MP1, the
    polyphase subband codec — operators/mp2_lite.py) decode natively —
    compressed forms are decompressed to 16-bit PCM; MP3 (Layer III)
    raises NotImplementedError unless a production decoder is
    registered (the codec-registry seam's remaining production use).
    Dispatch reads the fmt chunk's format tag directly, so unsupported
    tags surface the PCM reader's accurate error rather than a
    misrouted decoder's.  ``overrides`` (a :func:`codec_overrides`
    snapshot) swaps in registered production decoders per format key."""
    reg = _CODEC_REGISTRY if overrides is None else overrides
    if payload.startswith(b"RIFF"):
        tag = _wav_format_tag(payload)
        if tag == 0x11:
            return reg.get("adpcm", decode_wav_adpcm)(payload)
        if tag in (0x06, 0x07):
            return reg.get("g711", decode_wav_g711)(payload)
        return reg.get("wav", decode_wav)(payload)
    if payload.startswith(b"fLaC"):
        from adtl_spark.operators.flac_lite import decode_flac

        return reg.get("flac", decode_flac)(payload)
    # MPEG audio sync: 11 set bits across the first two octets — the
    # same sniff probe_mpeg_audio walks with.  Matching only \xff\xfb
    # would silently miss MPEG-2/2.5 and protection-bit variants
    # (\xff\xf3, \xff\xf2, \xff\xfa, ...) whenever no ID3 tag leads.
    if payload.startswith(b"ID3") or (
        len(payload) >= 2
        and payload[0] == 0xFF
        and (payload[1] & 0xE0) == 0xE0
    ):
        return reg.get("mp3", _decode_mpeg_default)(payload)
    raise ValueError("unrecognized audio payload")


def image_feature(
    payload: bytes, dim: int = 8, overrides: dict | None = None
) -> list[float]:
    """Real decoded-image feature vector: [width, height, mean_r, mean_g,
    mean_b, mean_gray, min_gray, max_gray, ...] scaled to [0, 1] and
    padded/truncated to ``dim`` — the deterministic decode-derived
    counterpart of :func:`fake_feature`."""
    width, height, rgb = decode_image(payload, overrides)
    n = width * height
    sums = [0, 0, 0]
    gmin, gmax, gsum = 255, 0, 0
    for i in range(n):
        r, g, b = rgb[3 * i], rgb[3 * i + 1], rgb[3 * i + 2]
        sums[0] += r
        sums[1] += g
        sums[2] += b
        gray = (r + g + b) // 3
        gmin = min(gmin, gray)
        gmax = max(gmax, gray)
        gsum += gray
    feats = [
        min(width / 4096.0, 1.0),
        min(height / 4096.0, 1.0),
        sums[0] / n / 255.0,
        sums[1] / n / 255.0,
        sums[2] / n / 255.0,
        gsum / n / 255.0,
        gmin / 255.0,
        gmax / 255.0,
    ]
    feats = feats[:dim] + [0.0] * max(0, dim - len(feats))
    return feats


def fake_feature(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for an embedding model: dim floats derived
    from the payload's sha256 — stable across runs and partitionings, so
    pipelines downstream of the decoder are testable without codecs."""
    h = hashlib.sha256(payload).digest()
    return [
        int.from_bytes(h[4 * i : 4 * i + 4], "big") / 2**32 for i in range(dim)
    ]


def extract_image_features(
    df: DataFrame, use_real_decoder: bool = False, dim: int = 8
) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    mapInPandas processes whole Arrow batches; the Python worker sees
    columnar buffers, never per-row pickling.  With ``use_real_decoder``
    the feature comes from the native PPM decode path
    (:func:`image_feature`); compressed formats raise
    NotImplementedError naming the missing codec.
    """
    ov = codec_overrides()  # plan-time snapshot, shipped in the closure

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload_sha256": payloads.map(
                        lambda b: hashlib.sha256(b).hexdigest() if b is not None else None
                    ),
                    "payload_bytes": payloads.map(
                        lambda b: len(b) if b is not None else None
                    ),
                    "entropy_estimate": payloads.map(_entropy_estimate),
                    "feature": payloads.map(
                        lambda b: (
                            image_feature(b, dim, ov)
                            if use_real_decoder
                            else fake_feature(b, dim)
                        )
                        if b is not None
                        else None
                    ),
                }
            )
            yield out

    return df.mapInPandas(run, schema=IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("bits", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("peak", T.IntegerType(), True),
    ]
)


def extract_audio_features(df: DataFrame) -> DataFrame:
    """Arrow-batched audio feature extraction through the native WAV/PCM
    decode path: per payload the format facts (rate/channels/bits), the
    decoded sample count and duration, and RMS/peak amplitude — the
    signal-level stats a corpus filter needs (silence / clipping
    screens).  16-bit PCM only for the amplitude stats; other widths
    report format facts with null amplitudes."""
    import struct

    ov = codec_overrides()  # plan-time snapshot, shipped in the closure

    def one(b: bytes | None):
        if b is None:
            return (None, None, None, None, None, None, None)
        rate, channels, bits, pcm = decode_audio(b, ov)
        frames = len(pcm) // (channels * (bits // 8)) if bits else 0
        dur_ms = int(frames * 1000 / rate) if rate else None
        rms = peak = None
        if bits == 16 and frames:
            n = len(pcm) // 2
            samples = struct.unpack(f"<{n}h", pcm[: 2 * n])
            peak = max(abs(s) for s in samples)
            rms = (sum(s * s for s in samples) / n) ** 0.5
        return (rate, channels, bits, frames, dur_ms, rms, peak)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [one(b) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "sample_rate": [d[0] for d in decoded],
                    "channels": [d[1] for d in decoded],
                    "bits": [d[2] for d in decoded],
                    "n_samples": [d[3] for d in decoded],
                    "duration_ms": [d[4] for d in decoded],
                    "rms": [d[5] for d in decoded],
                    "peak": [d[6] for d in decoded],
                }
            )

    return df.mapInPandas(run, schema=AUDIO_FEATURES_SCHEMA)


def _entropy_estimate(payload: bytes | None) -> float | None:
    """Cheap compressibility proxy: deflate ratio (1.0 = incompressible).
    Useful as a corrupt-/blank-media filter without any codec."""
    if payload is None or len(payload) == 0:
        return None
    compressed = len(zlib.compress(payload, 1))
    return min(compressed / len(payload), 1.0)


# ------------------------------------------------------- video frames ---
# Real video codecs (H.264/VP9) need libraries this container lacks, so
# the frame-sampling pipeline runs against a REFERENCE CONTAINER: magic +
# (n_frames, fps) + length-prefixed P6 frames.  The container isolates
# what the Spark side actually owns — metadata-driven sampling plans,
# per-frame decode fan-out, downstream image ops (stats/dhash) — from the
# codec call, which is exactly the piece a production deployment swaps
# for an ffmpeg binding without touching the plan.

_VIDEO_MAGIC = b"ADTLVID1"


def encode_video(frames: list[bytes], fps: int) -> bytes:
    """Pack P6 frame payloads into the reference video container."""
    import struct

    out = bytearray(_VIDEO_MAGIC)
    out += struct.pack("<II", len(frames), fps)
    for f in frames:
        out += struct.pack("<I", len(f)) + f
    return bytes(out)


def decode_video_meta(payload: bytes) -> tuple[int, int]:
    """(n_frames, fps) from the container header."""
    import struct

    if not payload.startswith(_VIDEO_MAGIC):
        raise ValueError("not a reference-container video payload")
    return struct.unpack("<II", payload[8:16])


def decode_video_frame(payload: bytes, idx: int) -> bytes:
    """The idx-th frame's P6 payload (walks the length prefixes)."""
    import struct

    n, _fps = decode_video_meta(payload)
    if not 0 <= idx < n:
        raise ValueError(f"frame {idx} out of range 0..{n - 1}")
    pos = 16
    for _ in range(idx):
        (ln,) = struct.unpack("<I", payload[pos : pos + 4])
        pos += 4 + ln
    (ln,) = struct.unpack("<I", payload[pos : pos + 4])
    frame = payload[pos + 4 : pos + 4 + ln]
    if len(frame) != ln:
        raise ValueError("truncated video frame")
    return frame


def mux_avi_mjpeg(
    frames: list[bytes],
    fps: int,
    width: int,
    height: int,
    audio: tuple[int, bytes] | None = None,
) -> bytes:
    """Pack JPEG frame payloads — and optionally an interleaved 16-bit
    mono PCM soundtrack — into a REAL RIFF/AVI container (MJPEG — the
    format a user's screen-capture or legacy-camera corpus actually
    arrives in): 'hdrl' list with MainAVIHeader + a 'vids'/'MJPG'
    stream (AVIStreamHeader + BITMAPINFOHEADER) and, with ``audio=
    (sample_rate, pcm16)``, a second 'auds' stream (WAVEFORMATEX);
    'movi' list of '00dc' video chunks with '01wb' audio chunks
    interleaved one-per-frame (word-aligned per RIFF), and a standard
    'idx1' keyframe index covering both streams.  Written to the public
    AVI RIFF layout (MSDN AVI RIFF File Reference / OpenDML); plays in
    any MJPEG-capable player."""
    import struct

    n = len(frames)
    maxf = max((len(f) for f in frames), default=0)
    usec = 1_000_000 // fps if fps else 0
    n_streams = 2 if audio else 1
    avih = struct.pack(
        "<IIIIIIIIII4I",
        usec, maxf * fps, 0, 0x10, n, 0, n_streams, maxf, width, height,
        0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIiI4h",
        b"vids", b"MJPG", 0, 0, 0, 0, 1, fps, 0, n, maxf, -1, 0,
        0, 0, width, height,
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG", width * height * 3, 0, 0, 0, 0,
    )

    def chunk(cid: bytes, body: bytes) -> bytes:
        return (
            cid
            + struct.pack("<I", len(body))
            + body
            + (b"\x00" if len(body) & 1 else b"")
        )

    def lst(ltype: bytes, body: bytes) -> bytes:
        return b"LIST" + struct.pack("<I", 4 + len(body)) + ltype + body

    strl = lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    hdrl_body = chunk(b"avih", avih) + strl
    # split the soundtrack into one '01wb' chunk per video frame (the
    # standard interleave granularity); the ragged tail rides the last
    audio_chunks: list[bytes] = []
    if audio:
        rate, pcm = audio
        spf = max((rate // fps) * 2, 2) if fps else len(pcm)  # bytes/frame
        audio_chunks = [pcm[i : i + spf] for i in range(0, len(pcm), spf)]
        astrh = struct.pack(
            "<4s4sIHHIIIIIIiI4h",
            b"auds", b"\x00\x00\x00\x00", 0, 0, 0, 0, 1, rate, 0,
            len(pcm) // 2, max(map(len, audio_chunks), default=0), -1, 2,
            0, 0, 0, 0,
        )
        astrf = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        hdrl_body += lst(
            b"strl", chunk(b"strh", astrh) + chunk(b"strf", astrf)
        )
    hdrl = lst(b"hdrl", hdrl_body)
    movi_body = b""
    idx = b""
    for k, f in enumerate(frames):
        # idx1 offsets are relative to the 'movi' fourcc (the common
        # convention players expect): first chunk sits at offset 4
        idx += b"00dc" + struct.pack("<III", 0x10, 4 + len(movi_body), len(f))
        movi_body += chunk(b"00dc", f)
        if k < len(audio_chunks):
            a = audio_chunks[k]
            idx += b"01wb" + struct.pack(
                "<III", 0x10, 4 + len(movi_body), len(a)
            )
            movi_body += chunk(b"01wb", a)
    for a in audio_chunks[len(frames):]:  # soundtrack longer than video
        idx += b"01wb" + struct.pack("<III", 0x10, 4 + len(movi_body), len(a))
        movi_body += chunk(b"01wb", a)
    movi = lst(b"movi", movi_body)
    body = b"AVI " + hdrl + movi + chunk(b"idx1", idx)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _avi_top_chunks(payload: bytes):
    """Yield (fourcc, list_type_or_None, body_offset, body_size) for the
    top-level RIFF chunks of an AVI payload."""
    import struct

    if (
        len(payload) < 12
        or payload[:4] != b"RIFF"
        or payload[8:12] != b"AVI "
    ):
        raise ValueError("not a RIFF/AVI payload")
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        if cid == b"LIST":
            yield cid, payload[pos + 8 : pos + 12], pos + 12, size - 4
        else:
            yield cid, None, pos + 8, size
        pos += 8 + size + (size & 1)


def _avi_movi_frames(payload: bytes) -> list[tuple[int, int]]:
    """(offset, size) of every video frame chunk (``..dc``/``..db``) in
    the 'movi' list, in stream order — one walk per payload, then frame
    access is O(1) slicing."""
    import struct

    for cid, ltype, off, size in _avi_top_chunks(payload):
        if cid == b"LIST" and ltype == b"movi":
            frames = []
            pos, end = off, off + size
            while pos + 8 <= end:
                fcc = payload[pos : pos + 4]
                (ln,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
                if fcc[2:4] in (b"dc", b"db"):
                    frames.append((pos + 8, ln))
                pos += 8 + ln + (ln & 1)
            return frames
    raise ValueError("AVI payload has no movi list")


def _avi_header(payload: bytes) -> dict:
    """One hdrl walk shared by meta, audio demux and the frame sampler:
    {'width', 'height', 'fps' (video rate/scale), 'auds': None or
    (stream_idx, sample_rate, channels, bits)}.  Raises on multiple
    audio streams — silently concatenating two interleaved soundtracks
    would hand downstream DSP byte-shuffled garbage under one stream's
    format, so demuxing a multi-soundtrack file is an explicit caller
    decision, not a default."""
    import struct

    width = height = fps = 0
    n_streams = 0
    auds = None
    pending_auds = None
    for cid, ltype, off, size in _avi_top_chunks(payload):
        if cid != b"LIST" or ltype != b"hdrl":
            continue
        pos, end = off, off + size
        while pos + 8 <= end:
            sub = payload[pos : pos + 4]
            (ln,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
            if sub == b"LIST" and payload[pos + 8 : pos + 12] == b"strl":
                pos += 12  # descend into strl
                continue
            if sub == b"avih":
                vals = struct.unpack("<10I", payload[pos + 8 : pos + 48])
                width, height = vals[8], vals[9]
            elif sub == b"strh":
                (ftype, _hdl, _fl, _pr, _lang, _init, scale, rate) = (
                    struct.unpack("<4s4sIHHIII", payload[pos + 8 : pos + 36])
                )
                if ftype == b"vids" and scale and not fps:
                    fps = rate // scale
                if ftype == b"auds":
                    if auds is not None or pending_auds is not None:
                        raise ValueError(
                            "AVI has multiple audio streams — "
                            "demux one at a time"
                        )
                    pending_auds = n_streams
                n_streams += 1
            elif sub == b"strf" and pending_auds is not None and auds is None:
                _tag, ch, arate, _br, _ba, bits = struct.unpack(
                    "<HHIIHH", payload[pos + 8 : pos + 24]
                )
                auds = (pending_auds, arate, ch, bits)
            pos += 8 + ln + (ln & 1)
    return {"width": width, "height": height, "fps": fps, "auds": auds}


def decode_avi_meta(payload: bytes) -> tuple[int, int, int, int]:
    """(n_frames, fps, width, height) of an MJPEG AVI: fps from the
    stream header's rate/scale (authoritative over the avih µs field),
    dimensions from the main header, frame count from the ACTUAL movi
    chunk walk (headers lie in truncated files; chunks don't)."""
    hdr = _avi_header(payload)
    return len(_avi_movi_frames(payload)), hdr["fps"], hdr["width"], hdr["height"]


def decode_avi_frame(payload: bytes, idx: int) -> bytes:
    """The idx-th frame's JPEG bytes from the movi list."""
    frames = _avi_movi_frames(payload)
    if not 0 <= idx < len(frames):
        raise ValueError(f"frame {idx} out of range 0..{len(frames) - 1}")
    off, ln = frames[idx]
    return payload[off : off + ln]


def decode_avi_audio(payload: bytes) -> tuple[int, int, int, bytes]:
    """The soundtrack of an AVI as (sample_rate, channels, bits, pcm):
    format facts from the 'auds' stream's WAVEFORMATEX, samples from the
    concatenation of THAT stream's ``NNwb`` chunks in movi order (the
    interleave is a storage layout, not a sample transform —
    concatenation IS the stream; other streams' wb chunks are filtered
    by their stream-number prefix).  Raises on video-only files and on
    multiple audio streams (via :func:`_avi_header`).  Feeds straight
    into the audio stages (audio_vad_trim, audio_signal_features take
    WAV bytes; wrap with :func:`pcm_to_wav` or use the tuple
    directly)."""
    import struct

    hdr = _avi_header(payload)
    if hdr["auds"] is None:
        raise ValueError("AVI payload has no audio stream")
    idx, rate, ch, bits = hdr["auds"]
    prefix = b"%02d" % idx
    pcm = bytearray()
    for cid, ltype, off, size in _avi_top_chunks(payload):
        if cid == b"LIST" and ltype == b"movi":
            pos, end = off, off + size
            while pos + 8 <= end:
                fcc = payload[pos : pos + 4]
                (ln,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
                if fcc[2:4] == b"wb" and fcc[:2] == prefix:
                    pcm += payload[pos + 8 : pos + 8 + ln]
                pos += 8 + ln + (ln & 1)
    return rate, ch, bits, bytes(pcm)


def pcm_to_wav(rate: int, channels: int, bits: int, pcm: bytes) -> bytes:
    """Wrap raw PCM in a minimal RIFF/WAVE header — the adapter between
    container demuxers (AVI soundtrack) and the WAV-payload audio
    operators."""
    import struct

    balign = channels * (bits // 8)
    fmt = struct.pack(
        "<IHHIIHH", 16, 1, channels, rate, rate * balign, balign, bits
    )
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(pcm))
        + b"WAVE"
        + b"fmt " + fmt
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )


def sample_video_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """REAL frame sampling: per video, one decoded frame per planned
    timestamp — the executed form of :func:`frame_sample_plan`, same
    schedule arithmetic (one frame per ``every_ms`` of duration, at
    least one), frame index ``min(n_frames - 1, ts_ms * fps // 1000)``.
    Containers: MJPEG-in-AVI (``RIFF..AVI `` — real-world files, frames
    decoded through the in-repo JPEG codec) and the length-prefixed
    reference container (P6 frames).  Output (media_id, frame_idx,
    ts_ms, payload) where payload is ALWAYS the frame's P6 bytes
    regardless of source container — composable into every image stage
    (pixel stats, dHash, resize).  Arrow-batched; the per-frame walk is
    offset arithmetic (one movi scan per AVI payload), never a payload
    regex."""
    ov = codec_overrides()  # plan-time snapshot, shipped in the closure

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from adtl_spark.operators.jpeg_lite import decode_jpeg as _default

        decode_jpeg = ov.get("jpeg", _default)
        cols = ["media_id", "frame_idx", "ts_ms", "payload"]
        for pdf in batches:
            rows = []
            for mid, b in zip(pdf["media_id"], pdf["payload"]):
                if b is None:
                    continue
                b = bytes(b)
                is_avi = b.startswith(b"RIFF") and b[8:12] == b"AVI "
                if is_avi:
                    offsets = _avi_movi_frames(b)  # the ONE movi walk
                    n, fps = len(offsets), _avi_header(b)["fps"]
                else:
                    n, fps = decode_video_meta(b)
                if n == 0 or fps == 0:
                    continue
                duration_ms = n * 1000 // fps
                n_samples = max(duration_ms // every_ms, 1)
                for k in range(n_samples):
                    ts = k * every_ms
                    fi = min(n - 1, ts * fps // 1000)
                    if is_avi:
                        off, ln = offsets[fi]
                        w, h, rgb = decode_jpeg(b[off : off + ln])
                        frame = f"P6\n{w} {h}\n255\n".encode() + rgb
                    else:
                        frame = decode_video_frame(b, fi)
                    rows.append((int(mid), fi, ts, frame))
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(
        run,
        schema="media_id long, frame_idx long, ts_ms long, payload binary",
    )


def frame_sample_plan(
    df: DataFrame, every_ms: int = 1000
) -> DataFrame:
    """Video frame-sampling *plan*: one output row per planned frame
    timestamp from the metadata duration — pure Column math, no payload
    touched (:func:`sample_video_frames` is the executed form over the
    reference container).  Demonstrates explode-based fan-out without
    touching payloads."""
    n_frames = F.greatest(
        (F.col("meta.duration_ms") / every_ms).cast("int"), F.lit(1)
    )
    return df.filter(F.col("kind") == "video").select(
        "media_id",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
    ).select(
        "media_id",
        "frame_idx",
        (F.col("frame_idx") * every_ms).cast("long").alias("ts_ms"),
    )


def repartition_by_bytes(
    df: DataFrame, target_partition_bytes: int = 128 * 1024 * 1024
) -> DataFrame:
    """Repartition so each partition carries ~target bytes of payload.
    Row-count partitioning breaks when payloads vary by orders of
    magnitude; this sizes by the real byte budget (one lightweight agg to
    estimate, then a hash repartition)."""
    total = df.agg(
        F.sum(F.coalesce(F.length("payload"), F.lit(0))).alias("b")
    ).collect()[0]["b"] or 0
    n = max(1, int(total / target_partition_bytes) + 1)
    return df.repartition(n, "media_id")


def synthetic_ppm(width: int, height: int, seed: int) -> bytes:
    """A REAL binary PPM payload with deterministic pixels (sha256-driven
    pattern), decodable by :func:`decode_ppm`."""
    header = f"P6\n{width} {height}\n255\n".encode()
    rgb = bytearray()
    stream = b""
    while len(stream) < width * height * 3:
        stream += hashlib.sha256(f"{seed}:{len(stream)}".encode()).digest()
    rgb = stream[: width * height * 3]
    return header + bytes(rgb)


def synthetic_wav(
    n_frames: int, seed: int, rate: int = 16000, channels: int = 1
) -> bytes:
    """A REAL RIFF/WAVE 16-bit PCM payload with a deterministic waveform,
    decodable by :func:`decode_wav`."""
    import math
    import struct

    freq = 110.0 * (1 + seed % 8)
    samples = [
        int(12000 * math.sin(2 * math.pi * freq * t / rate))
        for t in range(n_frames)
        for _ in range(channels)
    ]
    pcm = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * channels * 2, channels * 2, 16
    )
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def synthetic_media(spark, n: int = 64, seed: int = 5) -> DataFrame:
    """Deterministic media table for tests: image payloads are REAL
    binary PPMs and audio payloads REAL 16-bit PCM WAVs (both decode
    through the native paths above); video stays an opaque deterministic
    blob behind typed metadata, matching the stubbed frame-grab
    contract."""
    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        if kind == "image":
            w, h = 8 + i % 16, 8 + (i * 3) % 16
            payload = synthetic_ppm(w, h, seed + i)
            meta = (w, h, None, None)
        elif kind == "audio":
            frames = 160 * (1 + i % 30)
            payload = synthetic_wav(frames, seed + i)
            meta = (None, None, int(frames * 1000 / 16000), 16000)
        else:
            payload = hashlib.sha256(f"{seed}:{i}".encode()).digest() * (4 + i % 7)
            meta = (320, 240, 1000 * (1 + i % 10), None)
        mime = {
            "image": "image/x-portable-pixmap",
            "audio": "audio/wav",
            "video": "application/x-fake-video",
        }[kind]
        rows.append((i, kind, payload, mime, meta))
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


# ---- integer-exact signal path (round 7) -------------------------------
# Arithmetic-sample synthetics: the WAV/PPM payloads are REAL (they decode
# through the strict native decoders above), but every sample/pixel value
# is closed-form integer arithmetic in its index, so decoded-signal
# statistics (energy, zero crossings, resampled-pixel checksums) have
# EXACT DuckDB twins via generate_series replay — the decode+DSP pipeline
# is value-checked end to end, not just its header bookkeeping.

# sample_i = ((seed*2654435761 + i*40503) % 65536) - 32768: Knuth
# multiplicative mix, non-negative dividend so Python/Spark/DuckDB '%'
# agree; products stay far under int64.
_WAV_MIX_A = 2654435761
_WAV_MIX_B = 40503
# pixel byte at flat index j = (seed*31 + j*131) % 256
_PPM_MIX_SEED = 31
_PPM_MIX_IDX = 131


def synthetic_wav_arith(n_frames: int, seed: int, rate: int = 16000) -> bytes:
    """A REAL RIFF/WAVE mono 16-bit PCM payload whose samples are pure
    integer arithmetic in the frame index (see module constants) — the
    exact-oracle counterpart of :func:`synthetic_wav` (whose sin() samples
    go through libm and stay pytest-pinned)."""
    import struct

    import numpy as np

    idx = np.arange(n_frames, dtype=np.int64)
    samples = ((seed * _WAV_MIX_A + idx * _WAV_MIX_B) % 65536) - 32768
    pcm = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def synthetic_wav_arith_gated(
    n_frames: int, seed: int, rate: int = 16000, gate_block: int = 320
) -> bytes:
    """:func:`synthetic_wav_arith` with deterministic SILENCE gating:
    sample i is zeroed when ``(i // gate_block) % 3 == 0`` (every third
    block silent, starting with a silent lead-in), loud-arithmetic
    otherwise — the exact-oracle fixture for energy-threshold VAD
    (leading/trailing silence exists by construction and the whole gate
    pattern replays in SQL)."""
    import struct

    import numpy as np

    idx = np.arange(n_frames, dtype=np.int64)
    samples = ((seed * _WAV_MIX_A + idx * _WAV_MIX_B) % 65536) - 32768
    samples = np.where((idx // gate_block) % 3 == 0, 0, samples)
    pcm = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def synthetic_ppm_arith(width: int, height: int, seed: int) -> bytes:
    """A REAL binary P6 payload whose pixel byte at flat index ``j`` is
    ``(seed*31 + j*131) % 256`` — the exact-oracle counterpart of
    :func:`synthetic_ppm` (sha256 pixels, not SQL-replayable)."""
    header = f"P6\n{width} {height}\n255\n".encode()
    n = width * height * 3
    rgb = bytes(
        (seed * _PPM_MIX_SEED + j * _PPM_MIX_IDX) % 256 for j in range(n)
    )
    return header + rgb


def synthetic_png_arith(
    width: int, height: int, seed: int, color_type: int = 6
) -> bytes:
    """A REAL PNG payload (mixed per-row filters, so decoding it runs
    all five unfilter paths) whose CHANNEL byte at flat index ``j`` is
    ``(seed*31 + j*131) % 256`` — the same mix as
    :func:`synthetic_ppm_arith`, over w*h*channels bytes.  With the
    default RGBA (color type 6) the decoder must also strip alpha, so an
    oracle replaying output channel c of pixel p as source byte
    ``j = p*4 + c`` pins the channel stride too."""
    n = width * height * _PNG_COLOR[color_type]
    raw = bytes(
        (seed * _PPM_MIX_SEED + j * _PPM_MIX_IDX) % 256 for j in range(n)
    )
    return encode_png(width, height, raw, color_type=color_type)


AUDIO_SIGNAL_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("peak", T.LongType(), True),
        T.StructField("sum_abs", T.LongType(), True),
        T.StructField("zero_crossings", T.LongType(), True),
        T.StructField("rms_q6", T.LongType(), True),
    ]
)


def audio_signal_features(df: DataFrame) -> DataFrame:
    """Signal-level audio statistics through the full decode dispatch
    (WAV/PCM, IMA ADPCM, G.711 — compressed forms expand to 16-bit PCM):
    peak amplitude, total absolute amplitude, zero-crossing count (sign
    transitions with sign(x) := x >= 0), and RMS quantized at 1e-6.

    All-integer until the final RMS: sum(x^2) fits a double exactly at
    WAV-chunk sizes (<= 2^53), and /n then sqrt are correctly-rounded
    IEEE ops, so rms_q6 is bit-identical across engines (cross-engine
    float protocol, operators/corpus.py docstring).  Vectorized numpy
    over whole Arrow batches — per-sample work never runs row-at-a-time
    Python."""
    import numpy as np

    ov = codec_overrides()  # plan-time snapshot, shipped in the closure

    def stats(b: bytes | None):
        if b is None:
            return (None,) * 5
        try:
            # full dispatch: compressed payloads (ADPCM, G.711) expand
            # to 16-bit PCM and flow through the same stats
            _rate, _ch, bits, pcm = decode_audio(b, ov)
            if bits != 16:
                return (None,) * 5
            x = np.frombuffer(pcm, dtype="<i2").astype(np.int64)
            n = x.size
            if n == 0:
                return (0, None, None, None, None)
            sign = x >= 0
            zc = int(np.count_nonzero(sign[1:] != sign[:-1]))
            sumsq = int(np.sum(x * x))
            rms_q6 = int(np.floor(np.sqrt(sumsq / n) * 1e6 + 0.5))
            return (n, int(np.max(np.abs(x))), int(np.sum(np.abs(x))), zc, rms_q6)
        except (ValueError, NotImplementedError):
            # NotImplementedError: the MP3 stub — an undecodable row
            # yields null stats, it must never kill the corpus job
            return (None,) * 5

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals = [stats(b) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_samples": [v[0] for v in vals],
                    "peak": [v[1] for v in vals],
                    "sum_abs": [v[2] for v in vals],
                    "zero_crossings": [v[3] for v in vals],
                    "rms_q6": [v[4] for v in vals],
                }
            )

    return df.mapInPandas(run, schema=AUDIO_SIGNAL_SCHEMA)


DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("dhash_hi", T.LongType(), True),
        T.StructField("dhash_lo", T.LongType(), True),
    ]
)


def image_dhash(df: DataFrame) -> DataFrame:
    """Perceptual difference hash (dHash) over decoded images — the
    image-dedup analogue of SimHash: sample the grayscale image on a 9x8
    nearest-neighbor grid and emit one bit per horizontally-adjacent
    pair (left < right), 64 bits total.  Near-duplicate images (resizes,
    recompressions, small edits) land at small Hamming distance; exact
    groupBy on the hash catches straight duplicates.

    INTEGER-EXACT by construction so the hash is replayable in SQL and
    stable across platforms: grayscale is the unnormalized weighted sum
    299r + 587g + 114b (comparisons are scale-invariant, so the /1000
    is dropped), the sample grid is floor(x*W/9) x floor(y*H/8), and
    the 64 bits pack into two BIGINT halves (lo = bits 0..31, hi =
    32..63) to stay inside int64 on every engine.  Requires images of
    at least 9x8 pixels; smaller payloads yield null halves (grading a
    thumbnail's texture is meaningless).  Compose with the SimHash
    band-join machinery for Hamming-radius candidate pairs at corpus
    scale."""
    import numpy as np

    ov = codec_overrides()  # plan-time snapshot, shipped in the closure

    def one(b: bytes | None):
        if b is None:
            return (None, None)
        try:
            w, h, rgb = decode_image(b, ov)
        except ValueError:
            return (None, None)
        if w < 9 or h < 8:
            return (None, None)
        a = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3).astype(np.int64)
        gray = a[:, :, 0] * 299 + a[:, :, 1] * 587 + a[:, :, 2] * 114
        xs = (np.arange(9, dtype=np.int64) * w) // 9
        ys = (np.arange(8, dtype=np.int64) * h) // 8
        g = gray[np.ix_(ys, xs)]
        bits = (g[:, :8] < g[:, 1:]).astype(np.int64).reshape(64)
        lo = int((bits[:32] << np.arange(32)).sum())
        hi = int((bits[32:] << np.arange(32)).sum())
        return (hi, lo)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals = [one(b) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "dhash_hi": [v[0] for v in vals],
                    "dhash_lo": [v[1] for v in vals],
                }
            )

    return df.mapInPandas(run, schema=DHASH_SCHEMA)


AUDIO_VAD_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("n_speech", T.LongType(), True),
        T.StructField("first_speech", T.LongType(), True),
        T.StructField("last_speech", T.LongType(), True),
        T.StructField("trimmed_samples", T.LongType(), True),
    ]
)


def audio_clipping(df: DataFrame, threshold: int = 32700) -> DataFrame:
    """Clipping screen for audio corpora — the capture-quality filter an
    ASR pipeline runs next to VAD: clipped recordings (samples pinned at
    or near full scale) train badly and are cheap to detect exactly.
    Per payload: ``n_samples``, ``peak`` (max |sample|), ``n_clipped``
    (samples with |s| >= ``threshold``; the default 32700 catches
    near-full-scale limiting, not just exact rail hits), and
    ``clip_ppm = n_clipped * 1e6 // n_samples`` — all integer exact, so
    the whole verdict is SQL-replayable.  Decodes through the full
    dispatch (PCM/ADPCM/G.711/FLAC; compressed telephony audio screens
    without a transcode step); inputs must resolve to 16-bit mono,
    others yield null stats.  Arrow ``mapInPandas``, vectorized numpy
    per payload."""
    import numpy as np

    ov = codec_overrides()  # plan-time snapshot, shipped in the closure

    def one(b: bytes | None):
        if b is None:
            return (None,) * 4
        try:
            _rate, ch, bits, pcm = decode_audio(b, ov)
        except (ValueError, NotImplementedError):
            return (None,) * 4
        if bits != 16 or ch != 1:
            return (None,) * 4
        x = np.abs(
            np.frombuffer(pcm, dtype=np.int16).astype(np.int64)
        )
        n = len(x)
        if n == 0:
            return (0, 0, 0, 0)
        clipped = int((x >= threshold).sum())
        return (n, int(x.max()), clipped, clipped * 1_000_000 // n)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (int(m),) + one(None if b is None else bytes(b))
                for m, b in zip(pdf["media_id"], pdf["payload"])
            ]
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "n_samples", "peak", "n_clipped", "clip_ppm",
                ],
            )

    return df.mapInPandas(
        run,
        schema=(
            "media_id long, n_samples long, peak long, n_clipped long, "
            "clip_ppm long"
        ),
    )


def image_sharpness(df: DataFrame) -> DataFrame:
    """Blur screen for image corpora — the L1-Laplacian sharpness
    statistic (low = blurry/flat, the standard variance-of-Laplacian
    family reduced to integer arithmetic so it is EXACT): per decoded
    image, grayscale each pixel as the unnormalized ``299r + 587g +
    114b`` (the dhash convention — scale never matters for a screen
    threshold), then over every INTERIOR pixel take

        lap(y, x) = |4*g(y,x) - g(y-1,x) - g(y+1,x) - g(y,x-1) - g(y,x+1)|

    and emit ``n_interior``, ``lap_sum`` and ``lap_mean = lap_sum //
    n_interior`` — integer end to end, so a SQL twin replays every
    pixel.  Images smaller than 3x3 have no interior and yield null
    stats.  Arrow ``mapInPandas``, vectorized numpy per payload."""
    import numpy as np

    ov = codec_overrides()  # plan-time snapshot, shipped in the closure

    def one(b: bytes | None):
        if b is None:
            return (None, None, None)
        try:
            w, h, rgb = decode_image(b, ov)
        except ValueError:
            return (None, None, None)
        if w < 3 or h < 3:
            return (None, None, None)
        a = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3).astype(np.int64)
        g = a[:, :, 0] * 299 + a[:, :, 1] * 587 + a[:, :, 2] * 114
        lap = np.abs(
            4 * g[1:-1, 1:-1]
            - g[:-2, 1:-1]
            - g[2:, 1:-1]
            - g[1:-1, :-2]
            - g[1:-1, 2:]
        )
        n = lap.size
        s = int(lap.sum())
        return (n, s, s // n)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (int(m),) + one(None if b is None else bytes(b))
                for m, b in zip(pdf["media_id"], pdf["payload"])
            ]
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_interior", "lap_sum", "lap_mean"],
            )

    return df.mapInPandas(
        run,
        schema=(
            "media_id long, n_interior long, lap_sum long, lap_mean long"
        ),
    )


def audio_vad_trim(
    df: DataFrame, frame: int = 160, threshold: int = 1000
) -> DataFrame:
    """Energy-threshold voice-activity trimming through the native
    WAV/PCM decode path — the silence-screen and endpointing primitive a
    speech-corpus pipeline runs before segmentation: frame the samples
    into ``frame``-sample windows (ragged tail dropped), mark a frame
    active when its total absolute amplitude exceeds
    ``threshold * frame`` (an integer compare — no float mean), and
    report the active span.  ``trimmed_samples`` is the sample count of
    first..last active frame inclusive (0 when nothing is active).
    Decodes through the full dispatch (PCM, ADPCM, G.711 — compressed
    telephony/capture audio endpoints without a transcode step); inputs
    must resolve to 16-bit mono, others yield null stats.  Integer-exact
    end to end over the decoded samples, so the whole decision is
    SQL-replayable."""
    import numpy as np

    ov = codec_overrides()  # plan-time snapshot, shipped in the closure

    def one(b: bytes | None):
        if b is None:
            return (None,) * 5
        try:
            # full dispatch: a G.711 telephony clip or ADPCM capture
            # trims exactly like its PCM expansion — the ASR-corpus
            # endpointing combo (decode -> VAD) without a transcode step
            _rate, ch, bits, pcm = decode_audio(b, ov)
        except (ValueError, NotImplementedError):
            # NotImplementedError: the MP3 stub — null stats, not a crash
            return (None,) * 5
        if bits != 16 or ch != 1:
            return (None,) * 5
        x = np.frombuffer(pcm, dtype="<i2").astype(np.int64)
        nf = x.size // frame
        if nf == 0:
            return (0, 0, None, None, 0)
        sums = np.abs(x[: nf * frame]).reshape(nf, frame).sum(axis=1)
        active = sums > threshold * frame
        n_speech = int(active.sum())
        if n_speech == 0:
            return (nf, 0, None, None, 0)
        first = int(np.argmax(active))
        last = nf - 1 - int(np.argmax(active[::-1]))
        return (nf, n_speech, first, last, (last - first + 1) * frame)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals = [one(b) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_frames": [v[0] for v in vals],
                    "n_speech": [v[1] for v in vals],
                    "first_speech": [v[2] for v in vals],
                    "last_speech": [v[3] for v in vals],
                    "trimmed_samples": [v[4] for v in vals],
                }
            )

    return df.mapInPandas(run, schema=AUDIO_VAD_SCHEMA)


def dhash_pairs(hashes: DataFrame, max_hamming: int = 8) -> DataFrame:
    """Near-duplicate image pairs by dHash Hamming distance over
    :func:`image_dhash` output — the SimHash 4-block banding applied to
    the two-BIGINT hash: the 64 bits band into four 16-bit blocks (two
    per half), a pair within hamming <= 3 shares at least one block
    exactly (pigeonhole), so candidates come from four equi-joins on
    short keys, never an all-pairs scan.  MEASURED recall vs exact
    Hamming truth (the multimodal_dhash_recall gate, mixed band-
    adversarial/band-friendly corpus): 1.0 at distances 0-3 (the
    pigeonhole guarantee), then 0.61 / 0.50 / 0.41 / 0.31 / 0.29 at
    4..8 — the standard blocking tradeoff, same contract as
    dedup.simhash_pairs; callers needing high recall past distance 3
    should band into 8-bit blocks (8 joins, complete to hamming <= 7).
    Null-hash rows (undecodable or sub-grid images) are excluded."""
    # persist the (media_id, hi, lo) hash relation: the banding self-join
    # references it on both sides, and with a broadcast build side there is
    # no exchange to reuse — uncached, the whole upstream (for the pair
    # gate: the image decode + dHash MapInPandas chain) executes twice,
    # once per side (two MapInPandas spans in the measured plan)
    sig = hashes.filter(
        F.col("dhash_hi").isNotNull() & F.col("dhash_lo").isNotNull()
    ).persist()
    mask = F.lit((1 << 16) - 1)
    blocks = sig.select(
        "media_id",
        "dhash_hi",
        "dhash_lo",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("blk"),
                    F.col("dhash_lo").bitwiseAND(mask).alias("val"),
                ),
                F.struct(
                    F.lit(1).alias("blk"),
                    F.shiftright(F.col("dhash_lo"), 16)
                    .bitwiseAND(mask)
                    .alias("val"),
                ),
                F.struct(
                    F.lit(2).alias("blk"),
                    F.col("dhash_hi").bitwiseAND(mask).alias("val"),
                ),
                F.struct(
                    F.lit(3).alias("blk"),
                    F.shiftright(F.col("dhash_hi"), 16)
                    .bitwiseAND(mask)
                    .alias("val"),
                ),
            )
        ).alias("b"),
    ).select("media_id", "dhash_hi", "dhash_lo", "b.blk", "b.val")
    a, b = blocks.alias("a"), blocks.alias("b")
    hamming = F.bit_count(
        F.col("a.dhash_hi").bitwiseXOR(F.col("b.dhash_hi"))
    ) + F.bit_count(F.col("a.dhash_lo").bitwiseXOR(F.col("b.dhash_lo")))
    pairs = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )

    return cut_and_release(pairs, [sig])


def resize_image_nn(df: DataFrame, factor: int = 2) -> DataFrame:
    """Nearest-neighbor downsample by an integer factor through the native
    decode path (PPM or PNG — :func:`decode_image`): decode -> strided
    numpy slice ``[::f, ::f, :]`` -> re-encode P6.  Output (media_id,
    payload) composes back into any decoder-consuming stage (the
    round-trip gates decode the output again).  Arrow-batched; pixel
    work is numpy slicing, never per-pixel Python."""
    import numpy as np

    if factor < 1:
        raise ValueError("resize_image_nn needs factor >= 1")

    ov = codec_overrides()  # plan-time snapshot, shipped in the closure

    def one(b: bytes | None):
        if b is None:
            return None
        w, h, rgb = decode_image(b, ov)
        a = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
        out = np.ascontiguousarray(a[::factor, ::factor, :])
        oh, ow = out.shape[0], out.shape[1]
        return f"P6\n{ow} {oh}\n255\n".encode() + out.tobytes()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [one(b) for b in pdf["payload"]],
                }
            )

    return df.mapInPandas(run, schema="media_id long, payload binary")


def resize_image_box(df: DataFrame, factor: int = 2) -> DataFrame:
    """Area-average (box filter) downsample by an integer factor through
    the native decode path (:func:`decode_image`): decode -> reshape to
    (oh, f, ow, f, 3) blocks -> INTEGER mean (block sum // f^2) ->
    re-encode P6.  The realistic corpus-preprocessing resize: NN
    sampling (:func:`resize_image_nn`) aliases high-frequency content,
    the box filter is the antialiased standard for thumbnailing and
    vision-model input prep.  Integer-exact by construction (floor of
    the f^2-byte block sum), so every output pixel is SQL-replayable;
    ragged right/bottom edges (w % f, h % f) are truncated — full
    blocks only, the pooling convention.  Arrow-batched; pixel work is
    one vectorized reshape-sum, never per-pixel Python."""
    import numpy as np

    if factor < 1:
        raise ValueError("resize_image_box needs factor >= 1")

    ov = codec_overrides()  # plan-time snapshot, shipped in the closure

    def one(b: bytes | None):
        if b is None:
            return None
        w, h, rgb = decode_image(b, ov)
        ow, oh = w // factor, h // factor
        if ow == 0 or oh == 0:
            raise ValueError(
                f"image {w}x{h} smaller than the {factor}x box filter"
            )
        a = (
            np.frombuffer(rgb, dtype=np.uint8)
            .reshape(h, w, 3)[: oh * factor, : ow * factor, :]
            .astype(np.int64)
        )
        out = (
            a.reshape(oh, factor, ow, factor, 3).sum(axis=(1, 3))
            // (factor * factor)
        ).astype(np.uint8)
        return f"P6\n{ow} {oh}\n255\n".encode() + out.tobytes()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [one(b) for b in pdf["payload"]],
                }
            )

    return df.mapInPandas(run, schema="media_id long, payload binary")


def resample_audio_box(df: DataFrame, factor: int = 2) -> DataFrame:
    """Integer-factor audio decimation with a box prefilter: output
    sample k = floor(mean of input samples k*f .. k*f+f-1) — the
    dependency-free rate normalizer an ASR corpus runs before training
    (48k -> 16k is factor 3; naked decimation aliases, the box mean is
    the cheap prefilter).  Decodes through the full dispatch
    (PCM/ADPCM/G.711 — a telephony clip resamples without a transcode
    step), requires 16-bit mono, truncates the ragged tail, and
    re-wraps the result as a WAV at rate // f so every downstream audio
    stage composes.  INTEGER-EXACT (floor of the f-sample sum over f),
    so every output sample is SQL-replayable; the sum is one vectorized
    numpy reshape, never per-sample Python."""
    import numpy as np

    if factor < 1:
        raise ValueError("resample_audio_box needs factor >= 1")

    ov = codec_overrides()  # plan-time snapshot, shipped in the closure

    def one(b: bytes | None):
        if b is None:
            return None
        rate, ch, bits, pcm = decode_audio(b, ov)
        if bits != 16 or ch != 1:
            raise ValueError("resample_audio_box needs 16-bit mono input")
        x = np.frombuffer(pcm, dtype="<i2").astype(np.int64)
        m = x.size // factor
        out = (
            np.floor_divide(x[: m * factor].reshape(m, factor).sum(axis=1), factor)
        ).astype("<i2")
        return pcm_to_wav(rate // factor, 1, 16, out.tobytes())

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [one(b) for b in pdf["payload"]],
                }
            )

    return df.mapInPandas(run, schema="media_id long, payload binary")


IMAGE_PIXEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        T.StructField("sum_r", T.LongType(), True),
        T.StructField("sum_g", T.LongType(), True),
        T.StructField("sum_b", T.LongType(), True),
        T.StructField("checksum", T.LongType(), True),
    ]
)


def image_pixel_stats(df: DataFrame) -> DataFrame:
    """Exact pixel statistics through the native decode path (PPM or
    PNG): per-channel sums and a position-weighted checksum
    ``sum_p (p+1) * (r + 2g + 3b)`` (flat pixel index p) — the checksum is
    sensitive to pixel ORDER, so it pins the decoder's layout and any
    upstream resample's stride arithmetic, not just value multisets."""
    import numpy as np

    ov = codec_overrides()  # plan-time snapshot, shipped in the closure

    def stats(b: bytes | None):
        if b is None:
            return (None,) * 6
        try:
            w, h, rgb = decode_image(b, ov)
            a = np.frombuffer(rgb, dtype=np.uint8).reshape(h * w, 3).astype(np.int64)
            weights = np.arange(1, h * w + 1, dtype=np.int64)
            mix = a[:, 0] + 2 * a[:, 1] + 3 * a[:, 2]
            return (
                w,
                h,
                int(a[:, 0].sum()),
                int(a[:, 1].sum()),
                int(a[:, 2].sum()),
                int((weights * mix).sum()),
            )
        except ValueError:
            return (None,) * 6

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals = [stats(b) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": [v[0] for v in vals],
                    "height": [v[1] for v in vals],
                    "sum_r": [v[2] for v in vals],
                    "sum_g": [v[3] for v in vals],
                    "sum_b": [v[4] for v in vals],
                    "checksum": [v[5] for v in vals],
                }
            )

    return df.mapInPandas(run, schema=IMAGE_PIXEL_STATS_SCHEMA)


def flip_image_h(df: DataFrame) -> DataFrame:
    """Horizontal mirror — the cheapest, most common training-data
    augmentation: decode (PPM/PNG), reverse each row's pixel order with
    one negative-stride numpy view, re-encode as P6.  Exact integer op,
    so augmentation chains stay SQL-replayable pixel-for-pixel."""
    import numpy as np

    ov = codec_overrides()  # plan-time snapshot, shipped in the closure

    def one(b: bytes | None):
        if b is None:
            return None
        w, h, rgb = decode_image(b, ov)
        a = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
        out = np.ascontiguousarray(a[:, ::-1, :])
        return f"P6\n{w} {h}\n255\n".encode() + out.tobytes()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["payload"] = [one(b) for b in pdf["payload"]]
            yield pdf

    return df.mapInPandas(run, schema=df.schema)


def crop_image(df: DataFrame, box=None) -> DataFrame:
    """Crop — the other half of the standard augmentation pair.
    ``box(w, h) -> (x0, y0, cw, ch)`` computes the integer crop window
    per image (default: the center half, ``(w//4, h//4, w//2, h//2)``);
    one numpy slice, re-encoded as P6.  Exact, composable with
    :func:`flip_image_h` / the resize family."""
    import numpy as np

    if box is None:
        box = lambda w, h: (w // 4, h // 4, w // 2, h // 2)  # noqa: E731

    ov = codec_overrides()  # plan-time snapshot, shipped in the closure

    def one(b: bytes | None):
        if b is None:
            return None
        w, h, rgb = decode_image(b, ov)
        x0, y0, cw, ch = box(w, h)
        if x0 < 0 or y0 < 0 or x0 + cw > w or y0 + ch > h or cw < 1 or ch < 1:
            raise ValueError(f"crop box {(x0, y0, cw, ch)} outside {w}x{h}")
        a = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
        out = np.ascontiguousarray(a[y0 : y0 + ch, x0 : x0 + cw, :])
        return f"P6\n{cw} {ch}\n255\n".encode() + out.tobytes()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["payload"] = [one(b) for b in pdf["payload"]]
            yield pdf

    return df.mapInPandas(run, schema=df.schema)
