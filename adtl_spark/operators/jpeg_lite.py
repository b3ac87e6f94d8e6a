"""Dependency-free baseline JPEG (ITU-T T.81) codec — stdlib + numpy.

Closes the last env-blocked image codec: ``decode_image`` dispatches
JFIF/JPEG payloads here instead of raising NotImplementedError.  Written
from the spec structure (markers / DQT / SOF0 / DHT / DRI / SOS, MCU
entropy decoding, dequant + IDCT + chroma upsample + YCbCr->RGB):

- **decode**: baseline sequential DCT (SOF0), 8-bit, 1- or 3-component,
  any dividing sampling factors in 1-4 (4:4:4, 4:2:2, 4:2:0, 4:1:1 —
  validated right at SOF so BOTH decode paths reject out-of-range
  layouts loudly), restart
  intervals, byte-stuffing; AND progressive DCT (SOF2, T.81 Annex G) —
  spectral selection, successive approximation, EOB runs spanning
  blocks, DC/AC refinement scans (see ``_ProgressiveState``), so the
  large share of web JPEGs encoded progressively feed the dedup /
  sharpness / augment operators instead of being skipped.  Arithmetic
  coding, lossless and hierarchical modes raise NotImplementedError;
  malformed streams raise ValueError.
- **encode**: baseline 4:4:4/4:2:2/4:2:0/4:1:1 (or grayscale) with SELF-DESCRIBING
  canonical Huffman tables — every table the encoder uses is written to
  its DHT segment (12 four-bit DC codes; all 162 AC symbols at eight
  bits), so any conformant decoder reads them back; compression is a
  few percent worse than the Annex-K defaults and correctness is
  exactly as defined.  Quality follows the IJG scaling of the Annex-K
  quantization matrices.  ``encode_jpeg_progressive`` writes SOF2
  files (4:4:4 or 4:2:0) with a scan script covering all four
  progressive scan kinds, quantizing identically to the baseline
  encoder — so progressive-vs-baseline decode parity is BYTE-EXACT,
  the property the gate checks.

JPEG is lossy: round trips are pinned by DETERMINISM (same bytes every
run — the DCT/IDCT are fixed-order float64 matrix products) and by a
measured reconstruction-error bound, not byte equality; the DC-only
path is additionally pinned against a hand-built single-block stream
whose flat decoded value is computable by hand (tests/test_round10.py).
The gate query emits SQL-predictable dimensions plus the error-bound
flag per image.

Scale shape: whole images decode inside Arrow-batched ``mapInPandas``
like the PNG/PPM paths — pixels never cross the JVM boundary row-wise.
"""

from __future__ import annotations

import struct

import numpy as np

# Annex K.1/K.2 base quantization matrices (zigzag-ORDER-independent:
# stored in natural row-major order here).
_Q_LUM = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int32,
)
_Q_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int32,
)

# zigzag scan order: _ZIGZAG[k] = flat row-major index of the k-th
# coefficient in scan order
def _zigzag_order() -> list[int]:
    order = []
    for s in range(15):
        idxs = [(s - j, j) for j in range(s + 1) if 0 <= s - j < 8 and 0 <= j < 8]
        if s % 2 == 1:  # odd anti-diagonals run top-right -> bottom-left
            idxs.reverse()
        order.extend(r * 8 + c for r, c in idxs)
    return order


_ZIGZAG = _zigzag_order()

# 8x8 DCT basis: M[u, x] = 0.5 * C(u) * cos((2x+1) u pi / 16)
_DCT_M = np.array(
    [
        [
            0.5
            * (1 / np.sqrt(2) if u == 0 else 1.0)
            * np.cos((2 * x + 1) * u * np.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)

# Self-describing canonical Huffman tables (see module docstring):
# DC: categories 0..11, all 4-bit codes; AC: EOB, ZRL, then every
# (run, size) symbol, all 8-bit codes.
_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 0, 0, 0, 0, 0, 0, 162, 0, 0, 0, 0, 0, 0, 0, 0]
_AC_VALS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) for a canonical JPEG Huffman table."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    quality = max(1, min(100, int(quality)))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q0 = np.clip((_Q_LUM * scale + 50) // 100, 1, 255).astype(np.int32)
    q1 = np.clip((_Q_CHROMA * scale + 50) // 100, 1, 255).astype(np.int32)
    return q0, q1


# --------------------------------------------------------------- encoder


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s
        return bytes(self.out)


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _amplitude(v: int, size: int) -> int:
    return v if v >= 0 else v + (1 << size) - 1


def _encode_block(
    w: _BitWriter,
    coefs: np.ndarray,
    pred: int,
    dc_codes: dict,
    ac_codes: dict,
) -> int:
    """Entropy-encode one quantized 8x8 block (natural order); returns
    the new DC predictor."""
    zz = coefs.reshape(64)[_ZIGZAG]
    dc = int(zz[0])
    diff = dc - pred
    size = _category(diff)
    code, length = dc_codes[size]
    w.write(code, length)
    if size:
        w.write(_amplitude(diff, size), size)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, length = ac_codes[0xF0]  # ZRL
            w.write(code, length)
            run -= 16
        size = _category(v)
        if size > 10:
            raise ValueError("AC coefficient magnitude out of baseline range")
        code, length = ac_codes[(run << 4) | size]
        w.write(code, length)
        w.write(_amplitude(v, size), size)
        run = 0
    if run:
        code, length = ac_codes[0x00]  # EOB
        w.write(code, length)
    return dc


def _dht_segment(tclass: int, tid: int, bits: list[int], vals: list[int]) -> bytes:
    body = bytes([(tclass << 4) | tid]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


def _dqt_segment(tid: int, table: np.ndarray) -> bytes:
    zz = table.reshape(64)[_ZIGZAG].astype(np.uint8).tobytes()
    body = bytes([tid]) + zz
    return b"\xff\xdb" + struct.pack(">H", len(body) + 2) + body


# subsampling name -> luma (h, v); chroma components are always (1, 1),
# so the chroma mean-pool factors equal the luma factors
_SUBSAMPLING_HV = {
    "444": (1, 1),
    "422": (2, 1),
    "420": (2, 2),
    "411": (4, 1),
}


def _subsample_planes(
    raw_planes: list, subsampling: str, gray: bool
) -> tuple[list, list]:
    """Shared encoder prologue: mean-pool the chroma planes for the
    requested subsampling and return (planes, per-component (h, v)
    list).  '411' (h=4 luma — common camera output) exercises the
    decoder's 4x horizontal upsample; '422'/'420' the 2x paths."""
    if subsampling not in _SUBSAMPLING_HV:
        raise ValueError(
            f"subsampling {subsampling!r} not in {sorted(_SUBSAMPLING_HV)}"
        )
    if gray:
        return raw_planes, [(1, 1)]
    fh, fv = _SUBSAMPLING_HV[subsampling]
    if (fh, fv) == (1, 1):
        return raw_planes, [(1, 1)] * 3
    for i in (1, 2):
        p = raw_planes[i]
        p = np.pad(
            p,
            ((0, (-p.shape[0]) % fv), (0, (-p.shape[1]) % fh)),
            mode="edge",
        )
        # ordered accumulation (row-major within the window): for the
        # 2x2 case this is bit-identical to the original hand-written
        # four-term sum, keeping every existing '420' fixture byte-stable
        acc = None
        for vy in range(fv):
            for vx in range(fh):
                term = p[vy::fv, vx::fh]
                acc = term if acc is None else acc + term
        raw_planes[i] = acc / float(fh * fv)
    return raw_planes, [(fh, fv), (1, 1), (1, 1)]


def encode_jpeg(
    width: int,
    height: int,
    rgb: bytes,
    quality: int = 90,
    gray: bool = False,
    subsampling: str = "444",
) -> bytes:
    """Baseline JFIF encoding of packed RGB bytes (or, with ``gray``,
    single-channel bytes) — every Huffman/quant table used is written to
    the stream, so any conformant decoder round-trips it.
    ``subsampling`` is '444' (full chroma), '422', '420' (2x2-mean
    chroma, 16x16 MCUs — the common photographic layout, and the
    encoder-side exercise of the decoder's multi-block-MCU upsample
    path), or '411' (4x1-mean chroma, 32x8 MCUs — common camera
    output, the decoder's h=4 upsample exercise)."""
    nchan = 1 if gray else 3
    if subsampling not in _SUBSAMPLING_HV:
        raise ValueError(
            f"subsampling {subsampling!r} not in {sorted(_SUBSAMPLING_HV)}"
        )
    if len(rgb) != width * height * nchan:
        raise ValueError(
            f"pixel buffer {len(rgb)} != {width}x{height}x{nchan}"
        )
    a = np.frombuffer(rgb, dtype=np.uint8).reshape(height, width, nchan)
    a = a.astype(np.float64)
    if gray:
        raw_planes = [a[:, :, 0]]
    else:
        r, g, b = a[:, :, 0], a[:, :, 1], a[:, :, 2]
        raw_planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
    raw_planes, hv = _subsample_planes(raw_planes, subsampling, gray)
    maxh = max(h for h, _ in hv)
    maxv = max(v for _, v in hv)
    mcus_x = (width + 8 * maxh - 1) // (8 * maxh)
    mcus_y = (height + 8 * maxv - 1) // (8 * maxv)
    planes = []
    for i, (ch, cv) in enumerate(hv):
        p = raw_planes[i]
        th, tw = mcus_y * cv * 8, mcus_x * ch * 8
        planes.append(
            np.pad(
                p,
                ((0, th - p.shape[0]), (0, tw - p.shape[1])),
                mode="edge",  # replicate edges: no ringing against zeros
            )
        )
    q0, q1 = _quality_tables(quality)
    qtables = [q0] + ([q1] if not gray else [])
    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)

    w = _BitWriter()
    preds = [0] * nchan
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci in range(nchan):
                ch, cv = hv[ci]
                for vy in range(cv):
                    for vx in range(ch):
                        y0 = (my * cv + vy) * 8
                        x0 = (mx * ch + vx) * 8
                        block = planes[ci][y0 : y0 + 8, x0 : x0 + 8] - 128.0
                        coefs = _DCT_M @ block @ _DCT_M.T
                        qt = qtables[0 if ci == 0 else 1]
                        quant = np.round(coefs / qt).astype(np.int32)
                        preds[ci] = _encode_block(
                            w, quant, preds[ci], dc_codes, ac_codes
                        )
    scan = w.flush()

    out = bytearray(b"\xff\xd8")  # SOI
    out += (
        b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HH", 1, 1) + b"\x00\x00"
    )
    out += _dqt_segment(0, q0)
    if not gray:
        out += _dqt_segment(1, q1)
    comp = b""
    for ci in range(nchan):
        ch, cv = hv[ci]
        comp += bytes([ci + 1, (ch << 4) | cv, 0 if ci == 0 else 1])
    sof = struct.pack(">BHHB", 8, height, width, nchan) + comp
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += _dht_segment(0, 0, _DC_BITS, _DC_VALS)
    out += _dht_segment(1, 0, _AC_BITS, _AC_VALS)
    if not gray:
        out += _dht_segment(0, 1, _DC_BITS, _DC_VALS)
        out += _dht_segment(1, 1, _AC_BITS, _AC_VALS)
    sos = bytes([nchan])
    for ci in range(nchan):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_progressive(
    width: int,
    height: int,
    rgb: bytes,
    quality: int = 90,
    gray: bool = False,
    subsampling: str = "444",
) -> bytes:
    """Progressive (SOF2) JFIF encoding of packed RGB (or single-channel
    with ``gray``) — the fixture-side counterpart of the progressive
    decode path.  ``subsampling`` is '444', '422', '420' (2x2-mean
    chroma, 16x16 MCUs — the dominant web progressive layout; the interleaved
    DC scan then covers multi-block MCUs over the PADDED grid while the
    per-component AC scans cover each component's TRUE block grid,
    which is exactly the asymmetry the decoder must honor), or '411'
    (4x1-mean chroma, 32x8 MCUs).  The scan
    script exercises all four progressive scan kinds: an interleaved DC first scan at Al=1,
    a DC refinement scan, per-component spectral-selection AC first
    scans (bands 1-5 and 6-63 at Al=2), and two successive-approximation
    AC refinement passes per band (Al 2->1->0).  QUANTIZATION IS
    IDENTICAL to :func:`encode_jpeg` at the same quality (same DCT,
    tables, rounding), so a conformant decoder reconstructs EXACTLY the
    same pixels from both encodings — the gate's feature-exact check.
    Emits EOB runs of length one (per-block), which keeps the encoder's
    correction-bit bookkeeping local to a block; decoders must handle
    any run length and ours does (tested against hand-built streams)."""
    nchan = 1 if gray else 3
    if subsampling not in _SUBSAMPLING_HV:
        raise ValueError(
            f"subsampling {subsampling!r} not in {sorted(_SUBSAMPLING_HV)}"
        )
    if len(rgb) != width * height * nchan:
        raise ValueError(
            f"pixel buffer {len(rgb)} != {width}x{height}x{nchan}"
        )
    a = np.frombuffer(rgb, dtype=np.uint8).reshape(height, width, nchan)
    a = a.astype(np.float64)
    if gray:
        raw_planes = [a[:, :, 0]]
    else:
        r, g, b = a[:, :, 0], a[:, :, 1], a[:, :, 2]
        raw_planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
    raw_planes, hv = _subsample_planes(raw_planes, subsampling, gray)
    maxh = max(h_ for h_, _ in hv)
    maxv = max(v_ for _, v_ in hv)
    mcus_x = (width + 8 * maxh - 1) // (8 * maxh)
    mcus_y = (height + 8 * maxv - 1) // (8 * maxv)
    q0, q1 = _quality_tables(quality)
    qtables = [q0] + ([] if gray else [q1])
    coef: list[np.ndarray] = []  # per comp, PADDED (ph, pw, 64) zigzag ints
    true_dims: list[tuple[int, int]] = []  # per comp (bw, bh), ceil grid
    for ci in range(nchan):
        ch_, cv_ = hv[ci]
        pw, ph = mcus_x * ch_, mcus_y * cv_
        cw = -(-width * ch_ // maxh)
        chh = -(-height * cv_ // maxv)
        true_dims.append((-(-cw // 8), -(-chh // 8)))
        p = raw_planes[ci]
        p = np.pad(
            p,
            ((0, ph * 8 - p.shape[0]), (0, pw * 8 - p.shape[1])),
            mode="edge",
        ) - 128.0
        blocks = p.reshape(ph, 8, pw, 8).transpose(0, 2, 1, 3)
        coefs = np.einsum(
            "ij,yxjk,kl->yxil", _DCT_M, blocks, _DCT_M.T, optimize=True
        )
        qt = qtables[0 if ci == 0 else 1]
        quant = np.round(coefs / qt).astype(np.int64).reshape(ph, pw, 64)
        coef.append(quant[:, :, _ZIGZAG])

    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)

    out = bytearray(b"\xff\xd8")
    out += (
        b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HH", 1, 1) + b"\x00\x00"
    )
    out += _dqt_segment(0, q0)
    if not gray:
        out += _dqt_segment(1, q1)
    comp = b""
    for ci in range(nchan):
        ch_, cv_ = hv[ci]
        comp += bytes([ci + 1, (ch_ << 4) | cv_, 0 if ci == 0 else 1])
    sof = struct.pack(">BHHB", 8, height, width, nchan) + comp
    out += b"\xff\xc2" + struct.pack(">H", len(sof) + 2) + sof
    out += _dht_segment(0, 0, _DC_BITS, _DC_VALS)
    out += _dht_segment(1, 0, _AC_BITS, _AC_VALS)
    if not gray:
        out += _dht_segment(0, 1, _DC_BITS, _DC_VALS)
        out += _dht_segment(1, 1, _AC_BITS, _AC_VALS)

    def sos(comps_tables: list[tuple[int, int]], ss, se, ah, al) -> bytes:
        body = bytes([len(comps_tables)])
        for cid, tbl in comps_tables:
            body += bytes([cid, tbl])
        body += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", len(body) + 2) + body

    # DC scans run in MCU order over the PADDED grids (interleaved
    # multi-block MCUs for 4:2:0); AC scans cover TRUE block grids only
    mcu_blocks = [
        (ci, my * hv[ci][1] + vy, mx * hv[ci][0] + vx)
        for my in range(mcus_y)
        for mx in range(mcus_x)
        for ci in range(nchan)
        for vy in range(hv[ci][1])
        for vx in range(hv[ci][0])
    ]

    # --- scan 1: DC first, all components interleaved, Al=1 ---
    w = _BitWriter()
    preds = [0] * nchan
    for ci, by, bx in mcu_blocks:
        t = int(coef[ci][by, bx, 0]) >> 1  # point transform
        diff = t - preds[ci]
        preds[ci] = t
        size = _category(diff)
        code, length = dc_codes[size]
        w.write(code, length)
        if size:
            w.write(_amplitude(diff, size), size)
    out += sos(
        [(ci + 1, (0 if ci == 0 else 1) << 4) for ci in range(nchan)],
        0, 0, 0, 1,
    )
    out += w.flush()

    # --- scan 2: DC refinement, Al=0 (one raw bit per block) ---
    w = _BitWriter()
    for ci, by, bx in mcu_blocks:
        w.write(int(coef[ci][by, bx, 0]) & 1, 1)
    out += sos([(ci + 1, 0) for ci in range(nchan)], 0, 0, 1, 0)
    out += w.flush()

    # --- AC scans per component: spectral bands, then refinements ---
    bands = [(1, 5), (6, 63)]
    for ci in range(nchan):
        ta = 0 if ci == 0 else 1
        tbw, tbh = true_dims[ci]
        band_coef = coef[ci][:tbh, :tbw]
        for ss_, se_ in bands:
            out += sos([(ci + 1, ta)], ss_, se_, 0, 2)
            out += _encode_ac_first(band_coef, ss_, se_, 2, ac_codes)
        for ah_, al_ in ((2, 1), (1, 0)):
            for ss_, se_ in bands:
                out += sos([(ci + 1, ta)], ss_, se_, ah_, al_)
                out += _encode_ac_refine(band_coef, ss_, se_, al_, ac_codes)

    out += b"\xff\xd9"
    return bytes(out)


def _encode_ac_first(zz: np.ndarray, ss: int, se: int, al: int,
                     ac_codes: dict) -> bytes:
    """One AC first scan (Ah=0) over every block of one component:
    run-length coding of the point-transformed band, per-block EOB."""
    bh, bw, _ = zz.shape
    w = _BitWriter()
    for by in range(bh):
        for bx in range(bw):
            band = zz[by, bx]
            run = 0
            for k in range(ss, se + 1):
                v = int(band[k])
                v = (abs(v) >> al) * (1 if v >= 0 else -1)
                if v == 0:
                    run += 1
                    continue
                while run >= 16:
                    code, length = ac_codes[0xF0]
                    w.write(code, length)
                    run -= 16
                size = _category(v)
                code, length = ac_codes[(run << 4) | size]
                w.write(code, length)
                w.write(_amplitude(v, size), size)
                run = 0
            if run:
                code, length = ac_codes[0x00]  # EOB (run length 1)
                w.write(code, length)
    return w.flush()


def _encode_ac_refine(zz: np.ndarray, ss: int, se: int, al: int,
                      ac_codes: dict) -> bytes:
    """One AC refinement scan (Ah=Al+1): for each block, newly-
    significant coefficients (|v|>>Al == 1) are inserted with s=1
    symbols; already-significant ones (|v|>>(Al+1) != 0) contribute one
    correction bit each, interleaved exactly where the decoder's
    advance loop consumes them (T.81 G.1.2.3); per-block EOB carries
    the tail correction bits."""
    bh, bw, _ = zz.shape
    w = _BitWriter()
    for by in range(bh):
        for bx in range(bw):
            band = zz[by, bx]
            k = ss
            while k <= se:
                run = 0
                corr: list[int] = []
                j = k
                nextsig = None
                while j <= se:
                    v = int(band[j])
                    if abs(v) >> (al + 1):  # history-nonzero
                        corr.append((abs(v) >> al) & 1)
                    elif (abs(v) >> al) == 1:  # newly significant
                        nextsig = j
                        break
                    else:
                        if run == 15:
                            break  # ZRL boundary: 16 zeros accumulated
                        run += 1
                    j += 1
                if nextsig is not None:
                    code, length = ac_codes[(run << 4) | 1]
                    w.write(code, length)
                    w.write(1 if int(band[nextsig]) > 0 else 0, 1)
                    for bit in corr:
                        w.write(bit, 1)
                    k = nextsig + 1
                elif j <= se:  # broke on the ZRL boundary (16th zero)
                    code, length = ac_codes[0xF0]
                    w.write(code, length)
                    for bit in corr:
                        w.write(bit, 1)
                    k = j + 1
                else:  # end of band: EOB (run 1) + tail correction bits
                    code, length = ac_codes[0x00]
                    w.write(code, length)
                    for bit in corr:
                        w.write(bit, 1)
                    k = se + 1
    return w.flush()


# --------------------------------------------------------------- decoder


class _BitReader:
    """MSB-first reader over the entropy-coded segment, unstuffing
    0xFF00 and stopping at markers (which the caller handles).

    r14 rewrite (guide §4.2 — the per-task inner loop IS the cost):
    the old reader accumulated every consumed byte forever
    (``acc = (acc << 8) | b`` with no trim), so ``acc`` became an
    unbounded Python bigint and every ``read_bit`` paid a shift of the
    WHOLE history — an O(n^2) decode measured at 6.0 s of a 6.6 s
    single-payload baseline decode (661k read_bit calls at ~9 us each).
    The accumulator is now trimmed to its live bits (always < 32), bits
    are pulled in bulk (``receive``/``peek16`` instead of n read_bit
    calls), and marker handling is DEFERRED exactly as the lazy reader
    did it: filling stops AT a marker without consuming it, and the
    restart/error raise happens only when a bit past the boundary is
    actually demanded — identical external semantics, byte-identical
    decodes (pinned by the existing roundtrip/differential tests)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill_to(self, want: int) -> int:
        """Buffer bytes until ``want`` bits are available or a marker
        blocks; never consumes a marker.  Returns the available bits."""
        data, pos = self.data, self.pos
        acc, nbits = self.acc & ((1 << self.nbits) - 1), self.nbits
        while nbits < want:
            b = data[pos]
            if b == 0xFF:
                nxt = data[pos + 1]
                if nxt != 0x00:
                    break  # marker: stop buffering, leave pos on the FF
                pos += 2
            else:
                pos += 1
            acc = (acc << 8) | b
            nbits += 8
        self.data, self.pos = data, pos
        self.acc, self.nbits = acc, nbits
        return nbits

    def _marker_stop(self):
        """Reproduce the lazy reader's raise for a demanded bit that
        sits past the marker now blocking the fill."""
        nxt = self.data[self.pos + 1]
        if 0xD0 <= nxt <= 0xD7:
            raise _RestartMarker(nxt)
        raise ValueError(f"marker 0xFF{nxt:02X} inside entropy data")

    def read_bit(self) -> int:
        if self.nbits == 0 and self._fill_to(1) == 0:
            self._marker_stop()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n and self._fill_to(n) < n:
            self._marker_stop()
        self.nbits -= n
        return (self.acc >> self.nbits) & ((1 << n) - 1)

    def peek16(self) -> tuple[int, int]:
        """(next 16 bits MSB-first zero-padded, bits actually available)
        — the Huffman fast path; never consumes."""
        n = self.nbits
        if n < 16:
            n = self._fill_to(16)
        if n >= 16:
            return (self.acc >> (n - 16)) & 0xFFFF, 16
        return (self.acc << (16 - n)) & 0xFFFF, n

    def skip(self, n: int) -> None:
        self.nbits -= n

    def align_to_marker(self) -> None:
        self.acc = 0
        self.nbits = 0
        while self.data[self.pos] != 0xFF or self.data[self.pos + 1] == 0x00:
            self.pos += 1


class _RestartMarker(Exception):
    def __init__(self, marker: int) -> None:
        self.marker = marker


class _HuffTree:
    """Canonical-code decoder: a flat 16-bit-peek table built straight
    from a DHT segment's bits/vals (r14 — one table lookup + one skip
    per symbol instead of up to 16 read_bit calls; prefix-freeness
    makes the zero-padded peek safe: a matched code of length L <=
    available-bits used only real bits).  Entries pack
    ``(length << 8) | symbol``; 0 marks an invalid prefix."""

    def __init__(self, bits: list[int], vals: list[int]) -> None:
        self.lookup: dict[tuple[int, int], int] = {}
        # first level: 8-bit peek table — 256 writes keeps the build
        # cheap enough for the tiny-payload gates (a flat 16-bit table
        # measured 0.44 ms/build, the TOP cost at 12x10-px images);
        # codes longer than 8 bits (rare in practice) fall back to the
        # canonical (length, code) dict
        tbl8 = [0] * 256
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                # a corrupt DHT (counts that overflow the code space) would
                # write past tbl8 and shadow valid codes
                if code >= 1 << length:
                    raise ValueError("invalid Huffman table")
                self.lookup[(length, code)] = vals[k]
                if length <= 8:
                    lo = code << (8 - length)
                    tbl8[lo : lo + (1 << (8 - length))] = [
                        (length << 8) | vals[k]
                    ] * (1 << (8 - length))
                code += 1
                k += 1
            code <<= 1
        self.tbl8 = tbl8

    def decode(self, br: _BitReader) -> int:
        peek, avail = br.peek16()
        entry = self.tbl8[peek >> 8]
        length = entry >> 8
        if length:
            if length > avail:
                br._marker_stop()
            br.skip(length)
            return entry & 0xFF
        # no code of length <= 8 prefixes this peek: walk the long
        # lengths against the canonical dict
        lookup = self.lookup
        for length in range(9, 17):
            sym = lookup.get((length, peek >> (16 - length)))
            if sym is not None:
                if length > avail:
                    br._marker_stop()
                br.skip(length)
                return sym
        # nothing matched: with >= 16 real bits that is corrupt entropy
        # data; with fewer, the stream ended at a marker mid-code (the
        # lazy reader raised from read_bit)
        if avail >= 16:
            raise ValueError("invalid Huffman code in entropy data")
        br._marker_stop()


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _decode_block(
    br: _BitReader, dc_tree: _HuffTree, ac_tree: _HuffTree, pred: int
) -> tuple[np.ndarray, int]:
    zz = np.zeros(64, dtype=np.int32)
    size = dc_tree.decode(br)
    diff = _extend(br.receive(size), size) if size else 0
    dc = pred + diff
    zz[0] = dc
    k = 1
    while k < 64:
        sym = ac_tree.decode(br)
        if sym == 0x00:  # EOB
            break
        if sym == 0xF0:  # ZRL
            k += 16
            continue
        run, size = sym >> 4, sym & 0x0F
        k += run
        if k > 63 or size == 0:
            raise ValueError("AC run past end of block")
        zz[k] = _extend(br.receive(size), size)
        k += 1
    out = np.zeros(64, dtype=np.int32)
    out[_ZIGZAG] = zz
    return out.reshape(8, 8), dc


class _ProgressiveState:
    """Coefficient accumulator for progressive (SOF2) decoding — ITU-T
    T.81 Annex G.  Each scan deposits bits into per-component zigzag
    coefficient arrays; after the last scan one vectorized
    dequant + IDCT produces the sample planes.

    Scan kinds (G.1.2): DC first (interleaved or single-component,
    Huffman diff coding of the point-transformed DC), DC refinement
    (one raw bit per block), AC first (single-component run-length
    with EOBn end-of-band runs, values shifted left by the
    successive-approximation low bit), AC refinement (correction bits
    for already-nonzero coefficients interleaved with newly-significant
    +-1<<Al insertions — the spec's trickiest bitstream, G.1.2.3).
    Non-interleaved scans cover the component's TRUE block grid
    (ceil(comp dims / 8)), not the MCU-padded grid — the two differ
    whenever the image size is not an MCU multiple."""

    def __init__(self, comps: list[dict], width: int, height: int) -> None:
        self.comps = comps
        self.maxh = max(c["h"] for c in comps)
        self.maxv = max(c["v"] for c in comps)
        self.mcus_x = (width + 8 * self.maxh - 1) // (8 * self.maxh)
        self.mcus_y = (height + 8 * self.maxv - 1) // (8 * self.maxv)
        self.by_id = {c["id"]: i for i, c in enumerate(comps)}
        self.dims: list[tuple[int, int, int, int]] = []  # bw, bh, pw, ph
        self.coef: list[np.ndarray] = []
        for c in comps:
            cw = -(-width * c["h"] // self.maxh)
            chh = -(-height * c["v"] // self.maxv)
            bw, bh = -(-cw // 8), -(-chh // 8)
            pw, ph = self.mcus_x * c["h"], self.mcus_y * c["v"]
            self.dims.append((bw, bh, pw, ph))
            self.coef.append(np.zeros((ph, pw, 64), dtype=np.int32))

    # ---- per-scan decoding ----

    def decode_scan(
        self, payload, pos, scan_comps, ss, se, ah, al,
        dc_trees, ac_trees, restart_interval,
    ):
        """Decode one scan's entropy data starting at ``pos``; returns
        the position of the next marker."""
        if ss == 0 and se != 0:
            raise ValueError("progressive scan mixes DC and AC bands")
        if ss > 0 and len(scan_comps) != 1:
            raise ValueError("progressive AC scan must be single-component")
        br = _BitReader(payload, pos)
        self._eobrun = 0
        preds = [0] * len(self.comps)
        if len(scan_comps) > 1:
            # interleaved (DC only): MCU order over all scan components
            units = []
            for my in range(self.mcus_y):
                for mx in range(self.mcus_x):
                    mcu = []
                    for cs, td, _ta in scan_comps:
                        ci = self.by_id[cs]
                        c = self.comps[ci]
                        for vy in range(c["v"]):
                            for vx in range(c["h"]):
                                mcu.append(
                                    (ci, my * c["v"] + vy, mx * c["h"] + vx, td)
                                )
                    units.append(mcu)
        else:
            cs, td, ta = scan_comps[0]
            ci = self.by_id[cs]
            bw, bh, _pw, _ph = self.dims[ci]
            units = [
                [(ci, by, bx, td)] for by in range(bh) for bx in range(bw)
            ]
        try:
            return self._run_units(
                br, payload, units, scan_comps, ss, se, ah, al,
                dc_trees, ac_trees, restart_interval, preds,
            )
        except IndexError:
            raise ValueError("truncated JPEG entropy data") from None

    def _run_units(
        self, br, payload, units, scan_comps, ss, se, ah, al,
        dc_trees, ac_trees, restart_interval, preds,
    ):
        n_done = 0
        for mcu in units:
            if restart_interval and n_done and n_done % restart_interval == 0:
                br.align_to_marker()
                nxt = br.data[br.pos + 1]
                if not (0xD0 <= nxt <= 0xD7):
                    raise ValueError("expected restart marker in scan")
                br.pos += 2
                br.acc = br.nbits = 0
                preds = [0] * len(self.comps)
                self._eobrun = 0
            try:
                for ci, by, bx, td in mcu:
                    if ss == 0:
                        self._dc_unit(br, ci, by, bx, td, ah, al,
                                      dc_trees, preds)
                    else:
                        _cs, _td, ta = scan_comps[0]
                        self._ac_unit(br, ci, by, bx, ta, ss, se, ah, al,
                                      ac_trees)
            except _RestartMarker:
                raise ValueError("unexpected restart marker mid-unit")
            n_done += 1
        # align to the next marker (skip pad bits / stray fill bytes)
        p = br.pos
        n = len(payload)
        while p + 1 < n and not (
            payload[p] == 0xFF
            and payload[p + 1] != 0x00
            and not (0xD0 <= payload[p + 1] <= 0xD7)
        ):
            p += 1
        return p

    def _dc_unit(self, br, ci, by, bx, td, ah, al, dc_trees, preds):
        if ah == 0:
            size = dc_trees[td].decode(br)
            diff = _extend(br.receive(size), size) if size else 0
            preds[ci] += diff
            self.coef[ci][by, bx, 0] = preds[ci] << al
        else:  # refinement: one raw bit
            if br.read_bit():
                self.coef[ci][by, bx, 0] |= 1 << al

    def _ac_unit(self, br, ci, by, bx, ta, ss, se, ah, al, ac_trees):
        zz = self.coef[ci][by, bx]
        if ah == 0:
            if self._eobrun:
                self._eobrun -= 1
                return
            k = ss
            while k <= se:
                sym = ac_trees[ta].decode(br)
                r, s = sym >> 4, sym & 0x0F
                if s == 0:
                    if r < 15:  # EOBn: run of 2^r + receive(r) blocks
                        self._eobrun = (1 << r) - 1
                        if r:
                            self._eobrun += br.receive(r)
                        return
                    k += 16  # ZRL
                else:
                    k += r
                    if k > se:
                        raise ValueError("AC run past band end")
                    zz[k] = _extend(br.receive(s), s) << al
                    k += 1
            return
        # refinement (G.1.2.3): correction bits for history-nonzero
        # coefficients interleaved with newly-significant insertions
        p1 = 1 << al
        k = ss
        if self._eobrun == 0:
            while k <= se:
                sym = ac_trees[ta].decode(br)
                r, s = sym >> 4, sym & 0x0F
                newval = 0
                if s == 0:
                    if r < 15:
                        self._eobrun = 1 << r
                        if r:
                            self._eobrun += br.receive(r)
                        break
                    # r == 15: ZRL — skip 16 zero-history positions
                elif s == 1:
                    newval = p1 if br.read_bit() else -p1
                else:
                    raise ValueError("bad AC refinement magnitude")
                while k <= se:
                    v = int(zz[k])
                    if v != 0:
                        if br.read_bit() and (abs(v) & p1) == 0:
                            zz[k] = v + (p1 if v > 0 else -p1)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if newval:
                    if k > se:
                        raise ValueError("refinement insertion past band")
                    zz[k] = newval
                k += 1
        if self._eobrun > 0:
            while k <= se:
                v = int(zz[k])
                if v != 0 and br.read_bit() and (abs(v) & p1) == 0:
                    zz[k] = v + (p1 if v > 0 else -p1)
                k += 1
            self._eobrun -= 1

    # ---- final reconstruction ----

    def idct_planes(self, qtables) -> list[np.ndarray]:
        """Vectorized dequant + IDCT over every block of every
        component: one einsum per component, no per-block Python."""
        planes = []
        for ci, c in enumerate(self.comps):
            _bw, _bh, pw, ph = self.dims[ci]
            zz = self.coef[ci]  # (ph, pw, 64) zigzag order
            nat = np.zeros_like(zz)
            nat[:, :, _ZIGZAG] = zz
            blocks = nat.reshape(ph, pw, 8, 8).astype(np.float64)
            blocks *= qtables[c["tq"]]
            out = np.einsum(
                "ij,yxjk,kl->yxil", _DCT_M.T, blocks, _DCT_M, optimize=True
            )
            plane = out.transpose(0, 2, 1, 3).reshape(ph * 8, pw * 8)
            planes.append(plane)
        return planes


def decode_jpeg(payload: bytes) -> tuple[int, int, bytes]:
    """Decode a baseline-sequential (SOF0/1) or progressive (SOF2)
    JFIF/JPEG payload to (width, height, rgb_bytes) — same contract as
    decode_png/decode_ppm.  Grayscale replicates to RGB; 4:2:0/4:2:2
    chroma upsamples by replication.  Progressive files accumulate
    coefficients scan by scan (``_ProgressiveState``) and reconstruct
    with one vectorized dequant+IDCT at the end."""
    if not payload.startswith(b"\xff\xd8"):
        raise ValueError("not a JPEG payload (no SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    dc_trees: dict[int, _HuffTree] = {}
    ac_trees: dict[int, _HuffTree] = {}
    comps: list[dict] = []
    width = height = None
    restart_interval = 0
    scan_comps = None
    progressive = False
    prog = None
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        body = payload[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT (possibly several tables per segment)
            p = 0
            while p < len(body):
                prec, tid = body[p] >> 4, body[p] & 0x0F
                n = 64 * (2 if prec else 1)
                raw = body[p + 1 : p + 1 + n]
                vals = (
                    np.frombuffer(raw, dtype=">u2").astype(np.int32)
                    if prec
                    else np.frombuffer(raw, dtype=np.uint8).astype(np.int32)
                )
                t = np.zeros(64, dtype=np.int32)
                t[_ZIGZAG] = vals
                qtables[tid] = t.reshape(8, 8)
                p += 1 + n
        elif marker == 0xC4:  # DHT (possibly several)
            p = 0
            while p < len(body):
                tclass, tid = body[p] >> 4, body[p] & 0x0F
                bits = list(body[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(body[p + 17 : p + 17 + nv])
                tree = _HuffTree(bits, vals)
                (dc_trees if tclass == 0 else ac_trees)[tid] = tree
                p += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            progressive = marker == 0xC2
            _prec, height, width, nc = struct.unpack(">BHHB", body[:6])
            comps = []
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                )
            # sampling validation HERE, before either decode path runs
            # (the progressive branch returns without reaching any later
            # guard): T.81 allows factors 1-4; the replication upsample
            # additionally needs each factor to divide the maximum
            if any(
                not 1 <= c["h"] <= 4 or not 1 <= c["v"] <= 4
                for c in comps
            ):
                raise ValueError("JPEG sampling factors out of range 1-4")
            mh = max(c["h"] for c in comps)
            mv = max(c["v"] for c in comps)
            if any(mh % c["h"] or mv % c["v"] for c in comps):
                raise NotImplementedError(
                    "non-dividing JPEG sampling factors unsupported"
                )
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise NotImplementedError(
                f"JPEG SOF marker 0xFF{marker:02X} (lossless/arithmetic/"
                "hierarchical) unsupported; baseline + progressive only"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scan_comps = []
            for i in range(ns):
                cs, tables = body[1 + 2 * i], body[2 + 2 * i]
                scan_comps.append((cs, tables >> 4, tables & 0x0F))
            pos = pos + 2 + seglen
            if not progressive:
                break
            # progressive: decode this scan into the coefficient store
            # and keep walking markers (DHT/DQT may precede later scans)
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            if prog is None:
                prog = _ProgressiveState(comps, width, height)
            pos = prog.decode_scan(
                payload, pos, scan_comps, ss, se, ahal >> 4, ahal & 0x0F,
                dc_trees, ac_trees, restart_interval,
            )
            scan_comps = None
            continue
        pos += 2 + seglen
    if progressive:
        if prog is None:
            raise ValueError("progressive JPEG with no scans")
        planes = prog.idct_planes(qtables)
        return _assemble_planes(
            comps, planes, prog.maxh, prog.maxv, width, height
        )
    if width is None or scan_comps is None:
        raise ValueError("JPEG missing SOF or SOS")
    maxh = max(c["h"] for c in comps)
    maxv = max(c["v"] for c in comps)
    mcu_w, mcu_h = 8 * maxh, 8 * maxv
    mcus_x = (width + mcu_w - 1) // mcu_w
    mcus_y = (height + mcu_h - 1) // mcu_h
    planes = [
        np.zeros((mcus_y * c["v"] * 8, mcus_x * c["h"] * 8), dtype=np.float64)
        for c in comps
    ]
    by_id = {c["id"]: i for i, c in enumerate(comps)}
    order = []
    for cs, td, ta in scan_comps:
        ci = by_id[cs]
        order.append((ci, td, ta))

    br = _BitReader(payload, pos)
    preds = [0] * len(comps)
    mcu_count = 0
    try:
        return _decode_scan(
            br, payload, comps, order, planes, qtables, dc_trees, ac_trees,
            preds, mcus_x, mcus_y, maxh, maxv, restart_interval,
            width, height, mcu_count,
        )
    except IndexError:
        raise ValueError("truncated JPEG entropy data") from None


def _decode_scan(
    br, payload, comps, order, planes, qtables, dc_trees, ac_trees,
    preds, mcus_x, mcus_y, maxh, maxv, restart_interval,
    width, height, mcu_count,
):
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                br.align_to_marker()
                nxt = br.data[br.pos + 1]
                if not (0xD0 <= nxt <= 0xD7):
                    raise ValueError("expected restart marker")
                br.pos += 2
                preds = [0] * len(comps)
            try:
                for ci, td, ta in order:
                    c = comps[ci]
                    for vy in range(c["v"]):
                        for vx in range(c["h"]):
                            quant, preds[ci] = _decode_block(
                                br, dc_trees[td], ac_trees[ta], preds[ci]
                            )
                            coefs = quant * qtables[c["tq"]]
                            block = _DCT_M.T @ coefs.astype(np.float64) @ _DCT_M
                            y0 = (my * c["v"] + vy) * 8
                            x0 = (mx * c["h"] + vx) * 8
                            planes[ci][y0 : y0 + 8, x0 : x0 + 8] = block
            except _RestartMarker:
                raise ValueError("unexpected restart marker mid-MCU")
            mcu_count += 1

    return _assemble_planes(comps, planes, maxh, maxv, width, height)


def _assemble_planes(comps, planes, maxh, maxv, width, height):
    """Shared tail of both decode paths: level-shift, chroma upsample
    by replication, crop to the true dimensions, YCbCr->RGB."""
    full = []
    for i, c in enumerate(comps):
        p = planes[i] + 128.0
        ry, rx = maxv // c["v"], maxh // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        full.append(p[:height, :width])
    if len(comps) == 1:
        y = np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
        return width, height, np.repeat(y[:, :, None], 3, axis=2).tobytes()
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return width, height, np.clip(np.round(rgb), 0, 255).astype(np.uint8).tobytes()
