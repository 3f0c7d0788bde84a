"""JPEG codec (baseline + progressive, gray + color), pure numpy — no PIL.

Closes the declared 'jpeg' leg of the multimodal stub boundary
(operators/multimodal.py): the engine's image tiles are single-band,
and DCT JPEG (ITU-T T.81) is fully implementable from the public spec:

  encoder: level shift → 8x8 block DCT (exact orthonormal matrix,
           vectorized over all blocks) → quantize (Annex K.1 table,
           IJG quality scaling) → zigzag → DC-differential + AC
           run-length → Annex K.3 standard Huffman tables → bitstream
           with 0xFF byte stuffing → SOI/APP0/DQT/SOF0/DHT/SOS/EOI;
           encode_color adds 4:4:4 / 4:2:2 / 4:2:0 YCbCr (box chroma
           decimation, interleaved MCUs); encode_gray_progressive
           emits a 4-scan SOF2 successive-approximation script
  decoder: marker parse (DQT 8/16-bit, DHT, SOF0/1 baseline AND SOF2
           progressive multi-scan, DRI/RSTn honored) → per-component
           Huffman decode — general HixVi sampling with replication
           chroma upsampling; progressive scans accumulate DC
           first/refine + AC first (EOB runs) / refine (correction
           bits) per T.81 G.2 → dequantize → inverse zigzag → IDCT →
           level shift + clip (→ YCbCr-to-RGB for 3-component files)

Spec anchoring (tests/test_jpeg.py): a flat 8x8 block at the Annex-K
50% tables entropy-codes to EXACTLY the hand-derived bitstream
(DC cat-1 code '010' + EOB '1010'), and decodes back bit-exactly —
validating both Huffman tables and the DCT/quant path against the
standard itself, not just against this module's own inverse.

JPEG is lossy: the codec contract is bounded error (PSNR), audited by
the jpeg_roundtrip gate the same way the q8 codec is PSNR-gated.
"""

from __future__ import annotations

import struct

import numpy as np

# --- ITU-T T.81 Annex K public constants -----------------------------------

# K.1 luminance quantization table (row-major)
QTABLE_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32).reshape(8, 8)

# K.3.1 standard DC luminance Huffman spec (BITS per code length 1..16,
# then the category values in code order)
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))

# K.3.2 standard AC luminance Huffman spec
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# zigzag scan: row-major index of the k-th coefficient (generated by
# the diagonal walk so no 64-entry constant can be mistyped)
ZIGZAG = np.array(
    [i * 8 + (s - i)
     for s in range(15)
     for i in (range(s, -1, -1) if s % 2 == 0 else range(s + 1))
     if 0 <= i < 8 and 0 <= s - i < 8],
    dtype=np.int64,
)
UNZIGZAG = np.argsort(ZIGZAG)

# exact orthonormal DCT-II matrix: block_dct = C @ B @ C.T
_C = np.array([
    [(np.sqrt(1 / 8) if u == 0 else 0.5) * np.cos((2 * x + 1) * u * np.pi / 16)
     for x in range(8)] for u in range(8)
])


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """JPEG canonical Huffman: value -> (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_ENC = _canonical_codes(DC_BITS, DC_VALS)
_AC_ENC = _canonical_codes(AC_BITS, AC_VALS)


def _decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    return {cl: v for v, cl in _canonical_codes(bits, vals).items()}


def quality_tables(quality: int) -> np.ndarray:
    """IJG quality scaling of the Annex K.1 table (public libjpeg rule):
    scale = 5000/q below 50, 200-2q at 50+; entries clipped to 1..255."""
    return _scale_table(QTABLE_LUM, quality)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # 1-fill per spec

    def marker(self, m: int):
        """Byte-align and emit a bare marker (RSTn) — markers are never
        byte-stuffed."""
        self.flush()
        self.out += bytes([0xFF, m])


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude coding: value -> (category, category-bit payload)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    s = a.bit_length()
    return s, (v if v > 0 else v + (1 << s) - 1)


# K.2 chrominance quantization table (row-major)
QTABLE_CHROM = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32).reshape(8, 8)


def _scale_table(base: np.ndarray, quality: int) -> np.ndarray:
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int32)


def _plane_to_zz(plane: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """(H, W) float plane (already level-shifted) -> per-block zigzag
    quantized coefficients, vectorized over all blocks."""
    H, W = plane.shape
    blocks = plane.reshape(H // 8, 8, W // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    coeffs = np.einsum("ux,nxy,vy->nuv", _C, blocks, _C)
    return np.round(coeffs / qt).astype(np.int64).reshape(-1, 64)[:, ZIGZAG]


def _entropy_block(bw: "_BitWriter", blk: np.ndarray, prev_dc: int) -> int:
    """Huffman-encode one zigzag block (standard luminance tables);
    returns the new DC predictor."""
    dc = int(blk[0])
    s, payload = _magnitude(dc - prev_dc)
    code, ln = _DC_ENC[s]
    bw.put(code, ln)
    if s:
        bw.put(payload, s)
    run = 0
    nz = np.nonzero(blk[1:])[0]
    last = int(nz[-1]) + 1 if nz.size else 0
    for k in range(1, last + 1):
        v = int(blk[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = _AC_ENC[0xF0]  # ZRL
            bw.put(code, ln)
            run -= 16
        s, payload = _magnitude(v)
        code, ln = _AC_ENC[(run << 4) | s]
        bw.put(code, ln)
        bw.put(payload, s)
        run = 0
    if last < 63:
        code, ln = _AC_ENC[0x00]  # EOB
        bw.put(code, ln)
    return dc


def encode_gray(img: np.ndarray, quality: int = 85,
                restart_interval: int = 0) -> bytes:
    """Encode a uint8 (h, w) array as baseline grayscale JPEG.
    restart_interval > 0 emits a DRI segment and RSTn markers every N
    MCUs (the error-resilience feature real encoders use for large
    scans — and the decoder path a parallel per-segment decode would
    key on)."""
    a = np.asarray(img)
    if a.ndim != 2:
        raise ValueError("encode_gray: (h, w) uint8 arrays only")
    a = a.astype(np.float64)
    h, w = a.shape
    qt = quality_tables(quality)
    # pad to 8x8 multiples by edge replication (standard practice)
    H, W = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    pad = np.pad(a, ((0, H - h), (0, W - w)), mode="edge") - 128.0
    zz = _plane_to_zz(pad, qt)

    bw = _BitWriter()
    prev_dc = 0
    for nb in range(zz.shape[0]):
        if restart_interval and nb and nb % restart_interval == 0:
            bw.marker(0xD0 + (nb // restart_interval - 1) % 8)
            prev_dc = 0
        prev_dc = _entropy_block(bw, zz[nb], prev_dc)
    bw.flush()

    out = b"\xff\xd8"  # SOI
    out += _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xFFDB, b"\x00" + qt.reshape(64)[ZIGZAG].astype(np.uint8).tobytes())
    out += _seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00")
    out += _seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
    out += _seg(0xFFC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))
    if restart_interval:
        out += _seg(0xFFDD, struct.pack(">H", restart_interval))
    out += _seg(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")
    out += bytes(bw.out)
    out += b"\xff\xd9"  # EOI
    return out


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">HH", marker, len(payload) + 2) + payload


def encode_color(rgb: np.ndarray, quality: int = 85,
                 subsampling: str = "444") -> bytes:
    """Encode a uint8 (h, w, 3) RGB array as baseline color JPEG
    (JFIF YCbCr, K.1 luma + K.2 chroma quant tables; components share
    the standard luminance entropy tables — table choice travels in
    the DHT segments, so any decoder reads it back).

    subsampling: '444' (1x1 chroma, default), '422' (chroma halved
    horizontally, Y factors 2x1) or '420' (halved both ways, Y 2x2) —
    chroma is box-averaged down and each MCU interleaves the Y data
    units in raster order ahead of one Cb + one Cr unit (T.81 A.2.3)."""
    a = np.asarray(rgb)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError("encode_color: (h, w, 3) uint8 arrays only")
    if subsampling not in ("444", "422", "420"):
        raise ValueError("encode_color subsampling must be 444, 422 or 420")
    hs = 2 if subsampling in ("422", "420") else 1  # Y horizontal factor
    vs = 2 if subsampling == "420" else 1           # Y vertical factor
    a = a.astype(np.float64)
    h, w = a.shape[:2]
    r, g, b = a[:, :, 0], a[:, :, 1], a[:, :, 2]
    planes = [
        0.299 * r + 0.587 * g + 0.114 * b,                      # Y
        -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,         # Cb
        0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,          # Cr
    ]
    qly = quality_tables(quality)
    qlc = _scale_table(QTABLE_CHROM, quality)
    # pad to whole MCUs (8*hs x 8*vs luma pixels per MCU)
    mh, mw = 8 * vs, 8 * hs
    H, W = -(-h // mh) * mh, -(-w // mw) * mw
    pads = [np.pad(p, ((0, H - h), (0, W - w)), mode="edge") for p in planes]
    if hs == 1 and vs == 1:
        chroma = pads[1:]
    else:  # box-average chroma decimation
        chroma = [
            p.reshape(H // vs, vs, W // hs, hs).mean(axis=(1, 3))
            for p in pads[1:]
        ]
    zz_y = _plane_to_zz(pads[0] - 128.0, qly)
    zz_c = [_plane_to_zz(p - 128.0, qlc) for p in chroma]
    nbx = W // 8              # Y block-grid width
    mcux, mcuy = W // mw, H // mh
    bw = _BitWriter()
    prev = [0, 0, 0]
    for my in range(mcuy):  # interleaved MCUs: Y raster blocks, Cb, Cr
        for mx in range(mcux):
            for by in range(vs):
                for bx in range(hs):
                    yb = (my * vs + by) * nbx + (mx * hs + bx)
                    prev[0] = _entropy_block(bw, zz_y[yb], prev[0])
            cb = my * mcux + mx
            prev[1] = _entropy_block(bw, zz_c[0][cb], prev[1])
            prev[2] = _entropy_block(bw, zz_c[1][cb], prev[2])
    bw.flush()

    out = b"\xff\xd8"
    out += _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xFFDB, b"\x00" + qly.reshape(64)[ZIGZAG].astype(np.uint8).tobytes()
                + b"\x01" + qlc.reshape(64)[ZIGZAG].astype(np.uint8).tobytes())
    out += _seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 3)
                + bytes([1, (hs << 4) | vs, 0]) + b"\x02\x11\x01" + b"\x03\x11\x01")
    out += _seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
    out += _seg(0xFFC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))
    out += _seg(0xFFDA, b"\x03\x01\x00\x02\x00\x03\x00\x00\x3f\x00")
    out += bytes(bw.out)
    out += b"\xff\xd9"
    return out


class _BitReader:
    """Serial MSB-first reader over an entropy-coded segment with the
    0xFF00 stuffing already stripped and RST markers split out."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                # T.81 F.2.2.5: the encoder pads the final byte with 1-bits,
                # so the spec-legal fill past end-of-data is 1, not 0.  A
                # truncated stream then fails to resolve valid Huffman codes
                # and trips the decoded-MCU corruption check instead of
                # silently fabricating gray MCUs from 0-fill.
                return 1
            self.acc = self.data[self.pos]
            self.pos += 1
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v


def _extend(v: int, s: int) -> int:
    """Inverse magnitude coding (T.81 F.2.2.1 EXTEND)."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _read_huff(br: _BitReader, table: dict) -> int:
    code, lnn = 0, 0
    for _ in range(16):
        code = (code << 1) | br.bit()
        lnn += 1
        v = table.get((code, lnn))
        if v is not None:
            return v
    raise ValueError("corrupt JPEG: no Huffman code matched in 16 bits")


# ---------------------------------------------------------------------------
# Progressive (SOF2) scan decoding — T.81 G.2 / the classic libjpeg
# successive-approximation algorithms: DC first/refine, AC first with
# EOB runs, AC refinement with correction bits.
# ---------------------------------------------------------------------------


def _prog_dc_unit(br, out, ci, dc_id, prev, ah, al, htabs):
    if ah == 0:  # first scan: DC diff, value scaled by 2^Al
        s = _read_huff(br, htabs[(0, dc_id)])
        diff = _extend(br.bits(s), s) if s else 0
        prev[ci] += diff
        out[0] = prev[ci] << al
    else:  # refinement: one appended magnitude bit
        if br.bit():
            out[0] |= 1 << al


def _prog_ac_first(br, blk, ss, se, al, act, eobrun):
    """AC first scan for one block (G.2.2); returns the new EOB run."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _read_huff(br, act)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = 1 << r
            if r:
                eobrun += br.bits(r)
            return eobrun - 1
        k += r
        if k > se:
            raise ValueError("corrupt JPEG: AC index out of band")
        blk[k] = _extend(br.bits(s), s) << al
        k += 1
    return 0


def _prog_ac_refine(br, blk, ss, se, al, act, eobrun):
    """AC refinement scan for one block (G.2.3): newly-significant
    coefficients arrive as (run, sign); already-significant ones get a
    correction bit whenever they are crossed. Returns the EOB run."""
    p1, m1 = 1 << al, -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _read_huff(br, act)
            r, s = rs >> 4, rs & 0xF
            val = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.bits(r)
                    break
                # r == 15: ZRL — skip 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("corrupt JPEG: AC refinement s != 1")
                val = p1 if br.bit() else m1
            while k <= se:
                if blk[k] != 0:
                    if br.bit() and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                blk[k] = val
            k += 1
    if eobrun > 0:  # correction-only tail for this block
        while k <= se:
            if blk[k] != 0:
                if br.bit() and (blk[k] & p1) == 0:
                    blk[k] += p1 if blk[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _decode_progressive(frame_comps, scans, w, h, hmax, vmax):
    """Accumulate all scans into per-component coefficient arrays and
    return them in the interleaved-MCU block order the baseline
    assembly stage expects: (zz dict, comp_geom, mcux, mcuy)."""
    ncomp = len(frame_comps)
    if ncomp == 1:
        mcux, mcuy = -(-w // 8), -(-h // 8)
    else:
        mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    geom = {}
    coef = {}
    for ci, (_cid, hi, vi, _tq) in enumerate(frame_comps):
        if ncomp == 1:
            ghi = gvi = 1
            bw = tbw = mcux
            bh = tbh = mcuy
        else:
            ghi, gvi = hi, vi
            bw, bh = mcux * hi, mcuy * vi  # padded interleaved grid
            cw = -(-(w * hi) // hmax)
            ch = -(-(h * vi) // vmax)
            tbw, tbh = -(-cw // 8), -(-ch // 8)  # true block grid
        geom[ci] = (ghi, gvi, bw, bh, tbw, tbh)
        coef[ci] = np.zeros((bh * bw, 64), dtype=np.int64)

    for sc, ss, se, ah, al, segments, htabs, ri in scans:
        if ss == 0:  # DC scan (interleaved when ns > 1)
            if se != 0:
                raise ValueError("corrupt JPEG: progressive DC scan with Se != 0")
            interleaved = len(sc) > 1
            if interleaved:
                total = mcux * mcuy
            else:
                ci0 = sc[0][0]
                total = geom[ci0][4] * geom[ci0][5]
            mi = 0
            for seg in segments:
                br = _BitReader(bytes(seg))
                prev = [0] * ncomp
                limit = mi + (ri or total)
                while mi < min(limit, total):
                    if interleaved:
                        my, mx = divmod(mi, mcux)
                        for ci, dc_id, _ac in sc:
                            ghi, gvi, bw, _bh, _tw, _th = geom[ci]
                            for by in range(gvi):
                                for bx in range(ghi):
                                    idx = (my * gvi + by) * bw + (mx * ghi + bx)
                                    _prog_dc_unit(br, coef[ci][idx], ci, dc_id,
                                                  prev, ah, al, htabs)
                    else:
                        ci, dc_id, _ac = sc[0]
                        _g, _g2, bw, _bh, tbw, _th = geom[ci]
                        ry, rx = divmod(mi, tbw)
                        _prog_dc_unit(br, coef[ci][ry * bw + rx], ci, dc_id,
                                      prev, ah, al, htabs)
                    mi += 1
                if mi >= total:
                    break
            if mi < total:
                raise ValueError(
                    f"corrupt JPEG: progressive DC scan decoded {mi}/{total}")
        else:  # AC scan: single component only (T.81 G.1.1.1.1)
            if len(sc) != 1:
                raise ValueError("corrupt JPEG: interleaved progressive AC scan")
            ci, _dc, ac_id = sc[0]
            act = htabs[(1, ac_id)]
            _g, _g2, bw, _bh, tbw, tbh = geom[ci]
            total = tbw * tbh
            mi = 0
            for seg in segments:
                br = _BitReader(bytes(seg))
                eobrun = 0
                limit = mi + (ri or total)
                while mi < min(limit, total):
                    ry, rx = divmod(mi, tbw)
                    blk = coef[ci][ry * bw + rx]
                    if ah == 0:
                        eobrun = _prog_ac_first(br, blk, ss, se, al, act, eobrun)
                    else:
                        eobrun = _prog_ac_refine(br, blk, ss, se, al, act, eobrun)
                    mi += 1
                if mi >= total:
                    break
            if mi < total:
                raise ValueError(
                    f"corrupt JPEG: progressive AC scan decoded {mi}/{total}")

    # raster-padded block order -> interleaved-MCU order
    zz = {}
    comp_geom = {}
    for ci, (ghi, gvi, bw, bh, _tw, _th) in geom.items():
        comp_geom[ci] = (ghi, gvi)
        m = coef[ci].reshape(mcuy, gvi, mcux, ghi, 64).transpose(0, 2, 1, 3, 4)
        zz[ci] = np.ascontiguousarray(m).reshape(-1, 64)
    return zz, comp_geom, mcux, mcuy


def decode(buf: bytes) -> np.ndarray:
    """Decode a baseline JPEG: grayscale -> uint8 (h, w); color (any
    1..4 x 1..4 integer-ratio sampling incl. 4:4:4, 4:2:2, 4:2:0) ->
    uint8 (h, w, 3) RGB with JFIF sample-replication chroma
    upsampling.  Progressive (SOF2) multi-scan streams are fully
    decoded via _decode_progressive (spectral selection + successive
    approximation, DC and AC refinement passes)."""
    if buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    if len(buf) < 4:
        raise ValueError("JPEG: truncated header")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    h = w = 0
    frame_comps: list[tuple[int, int]] = []  # (component id, quant table id)
    scan_comps: list[tuple[int, int, int]] = []  # (comp idx, dc id, ac id)
    restart_interval = 0
    data = None
    progressive = False
    scans: list[tuple] = []
    while pos < len(buf) - 1:
        if buf[pos] != 0xFF:
            pos += 1
            continue
        marker = buf[pos + 1]
        if marker == 0xFF:  # fill byte before a marker
            pos += 1
            continue
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        (ln,) = struct.unpack_from(">H", buf, pos)
        payload = buf[pos + 2 : pos + ln]
        pos += ln
        if marker == 0xDB:  # DQT (may hold several tables)
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0xF
                p += 1
                width = 128 if pq else 64
                if p + width > len(payload):
                    raise ValueError("corrupt JPEG: truncated DQT")
                if pq == 0:
                    t = np.frombuffer(payload[p : p + 64], dtype=np.uint8).astype(np.int32)
                    p += 64
                else:
                    t = np.frombuffer(payload[p : p + 128], dtype=">u2").astype(np.int32)
                    p += 128
                zz = np.zeros(64, dtype=np.int32)
                zz[ZIGZAG] = t
                qtables[tq] = zz.reshape(8, 8)
        elif marker == 0xC4:  # DHT (may hold several tables)
            p = 0
            while p < len(payload):
                if p + 17 > len(payload):
                    raise ValueError("corrupt JPEG: truncated DHT")
                tc, th = payload[p] >> 4, payload[p] & 0xF
                bits = list(payload[p + 1 : p + 17])
                n = sum(bits)
                if p + 17 + n > len(payload):
                    raise ValueError("corrupt JPEG: truncated DHT")
                vals = list(payload[p + 17 : p + 17 + n])
                htables[(tc, th)] = _decode_table(bits, vals)
                p += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            progressive = marker == 0xC2
            _prec, h, w, ncomp = struct.unpack_from(">BHHB", payload, 0)
            if _prec != 8:
                raise NotImplementedError(
                    f"JPEG sample precision {_prec} not supported (8-bit only)")
            if ncomp not in (1, 3):
                raise NotImplementedError(
                    f"JPEG with {ncomp} components not supported (1 or 3)")
            if len(payload) < 6 + 3 * ncomp:
                raise ValueError("corrupt JPEG: truncated SOF0")
            frame_comps = []
            for i in range(ncomp):
                cid, samp, tq = payload[6 + 3 * i], payload[7 + 3 * i], payload[8 + 3 * i]
                hi, vi = samp >> 4, samp & 0xF
                if not (1 <= hi <= 4 and 1 <= vi <= 4):
                    raise ValueError(f"corrupt JPEG: sampling factors {hi}x{vi}")
                frame_comps.append((cid, hi, vi, tq))
        elif 0xC3 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            raise NotImplementedError(f"JPEG SOF{marker - 0xC0} not supported")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", payload, 0)
        elif marker == 0xDA:  # SOS — entropy data follows
            ns = payload[0]
            cid_to_idx = {cid: i for i, (cid, _hi, _vi, _tq) in enumerate(frame_comps)}
            scan_comps = []
            for i in range(ns):
                cid, tsel = payload[1 + 2 * i], payload[2 + 2 * i]
                if cid not in cid_to_idx:
                    raise ValueError(f"JPEG: scan component {cid} not in frame")
                scan_comps.append((cid_to_idx[cid], tsel >> 4, tsel & 0xF))
            ss, se = payload[1 + 2 * ns], payload[2 + 2 * ns]
            ahal = payload[3 + 2 * ns]
            if not progressive and len(scan_comps) != len(frame_comps):
                raise NotImplementedError("multi-scan (non-interleaved) JPEG")
            # scan to EOI, stripping stuffing and collecting RST splits
            data = bytearray()
            p = pos
            segments = [data]
            while p < len(buf) - 1:
                if buf[p] == 0xFF:
                    m = buf[p + 1]
                    if m == 0x00:
                        data.append(0xFF)
                        p += 2
                        continue
                    if 0xD0 <= m <= 0xD7:  # RSTn: new entropy segment
                        data = bytearray()
                        segments.append(data)
                        p += 2
                        continue
                    break  # EOI or next marker
                data.append(buf[p])
                p += 1
            # DHT may redefine tables between scans: snapshot per scan
            scans.append((scan_comps, ss, se, ahal >> 4, ahal & 0xF,
                          segments, dict(htables), restart_interval))
            data = segments
            pos = p
    if not scans or h == 0:
        raise ValueError("JPEG: no scan data found")
    scan_comps, _ss, _se, _ah, _al, data, htables, restart_interval = scans[0]

    ncomp = len(frame_comps)
    hmax = max(hi for _cid, hi, _vi, _tq in frame_comps)
    vmax = max(vi for _cid, _hi, vi, _tq in frame_comps)
    if progressive:
        zz, comp_geom, mcux, mcuy = _decode_progressive(
            frame_comps, scans, w, h, hmax, vmax)
        nmcu = mcux * mcuy
    elif len(scan_comps) == 1:
        # non-interleaved single-component scan (T.81 A.2.2): the MCU is
        # ONE data unit, ordered over the component's own block grid
        ci0 = scan_comps[0][0]
        _cid, hi0, vi0, _tq = frame_comps[ci0]
        cw0 = -(-(w * hi0) // hmax)
        ch0 = -(-(h * vi0) // vmax)
        mcux, mcuy = -(-cw0 // 8), -(-ch0 // 8)
        comp_geom = {ci0: (1, 1)}
    else:
        mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
        comp_geom = {ci: (frame_comps[ci][1], frame_comps[ci][2])
                     for ci, _dc, _ac in scan_comps}
    if not progressive:
        nmcu = mcux * mcuy
        zz = {ci: np.zeros((nmcu * ghi * gvi, 64), dtype=np.int64)
              for ci, (ghi, gvi) in comp_geom.items()}

    def read_block(br: _BitReader, out: np.ndarray, ci: int, dc_id: int,
                   ac_id: int, prev_dc: list) -> None:
        dct = htables[(0, dc_id)]
        act = htables[(1, ac_id)]
        s = _read_huff(br, dct)
        diff = _extend(br.bits(s), s) if s else 0
        prev_dc[ci] += diff
        out[0] = prev_dc[ci]
        k = 1
        while k < 64:
            rs = _read_huff(br, act)
            r, s = rs >> 4, rs & 0xF
            if s == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                break  # EOB
            k += r
            if k > 63:
                raise ValueError("corrupt JPEG: AC index out of range")
            out[k] = _extend(br.bits(s), s)
            k += 1

    if not progressive:
        mi = 0
        for si, segment in enumerate(data):
            br = _BitReader(bytes(segment))
            prev_dc = [0] * ncomp
            limit = mi + (restart_interval or nmcu)
            while mi < min(limit, nmcu):
                for ci, dc_id, ac_id in scan_comps:
                    ghi, gvi = comp_geom[ci]
                    nb = ghi * gvi
                    for b in range(nb):
                        read_block(br, zz[ci][mi * nb + b], ci, dc_id, ac_id, prev_dc)
                mi += 1
            if mi >= nmcu:
                # strictness: after the last MCU only the pad bits of the
                # current byte may remain — whole unread bytes (or whole
                # unread restart segments) mean the frame geometry and the
                # entropy stream disagree (e.g. a mispatched SOF)
                if len(br.data) - br.pos > 0 or si + 1 < len(data):
                    raise ValueError(
                        "corrupt JPEG: extraneous entropy-coded data after "
                        f"the final MCU ({len(br.data) - br.pos} bytes, "
                        f"{len(data) - si - 1} segments)")
                break
        if mi < nmcu:
            raise ValueError(f"corrupt JPEG: decoded {mi}/{nmcu} MCUs")

    planes = []
    for ci, (_cid, hi, vi, tq) in enumerate(frame_comps):
        ghi, gvi = comp_geom[ci]
        qt = qtables[tq]
        quant = np.zeros_like(zz[ci])
        quant[:, ZIGZAG] = zz[ci]  # inverse zigzag
        coeffs = quant.reshape(-1, 8, 8) * qt
        blocks = np.einsum("xu,nuv,yv->nxy", _C.T, coeffs.astype(np.float64), _C.T)
        # MCU-ordered blocks (mcuy, mcux, gvi, ghi) -> component plane
        plane = (
            blocks.reshape(mcuy, mcux, gvi, ghi, 8, 8)
            .transpose(0, 2, 4, 1, 3, 5)
            .reshape(mcuy * gvi * 8, mcux * ghi * 8)
        ) + 128.0
        # crop to the component's true dims, then upsample to (h, w)
        cw = -(-(w * hi) // hmax)
        ch = -(-(h * vi) // vmax)
        plane = plane[:ch, :cw]
        if hmax % hi or vmax % vi:
            raise NotImplementedError(
                f"non-integer chroma sampling ratio {hmax}/{hi} x {vmax}/{vi}")
        ry, rx = vmax // vi, hmax // hi
        if ry > 1 or rx > 1:  # JFIF sample replication upsampling
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes.append(plane[:h, :w])
    if ncomp == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    # JFIF YCbCr -> RGB
    Y, Cb, Cr = planes
    r = Y + 1.402 * (Cr - 128.0)
    g = Y - 0.344136 * (Cb - 128.0) - 0.714136 * (Cr - 128.0)
    b = Y + 1.772 * (Cb - 128.0)
    return np.clip(np.round(np.stack([r, g, b], axis=2)), 0, 255).astype(np.uint8)


def decode_gray(buf: bytes) -> np.ndarray:
    """Decode to single-band uint8 (h, w): grayscale files pass
    through; color files reduce to JFIF luma (the multimodal image
    tiles are single-band)."""
    out = decode(buf)
    if out.ndim == 2:
        return out
    r = out[:, :, 0].astype(np.float64)
    g = out[:, :, 1].astype(np.float64)
    b = out[:, :, 2].astype(np.float64)
    return np.clip(np.round(0.299 * r + 0.587 * g + 0.114 * b), 0, 255).astype(np.uint8)


def psnr_u8(a: np.ndarray, b: np.ndarray) -> float:
    d = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(d * d))
    return float("inf") if mse == 0 else 10.0 * np.log10(255.0 * 255.0 / mse)


# ---------------------------------------------------------------------------
# Progressive (SOF2) grayscale encoder — T.81 G.1 / the classic
# libjpeg successive-approximation script: DC first at Al=1, whole AC
# band first at Al=1 (EOB-run coded), then DC and AC refinement scans
# at Al=0.  Exercises every decoder path: DC first/refine, AC first
# with EOB runs and ZRL, AC refinement with buffered correction bits.
# ---------------------------------------------------------------------------


# The Annex-K baseline AC table has no EOBn symbols (0x10..0xE0), which
# progressive AC scans require — so the progressive encoder carries its
# own fixed canonical table: every (run<<4 | size) symbol for size 0..10
# at code length 9 (176 symbols < 2^9, all-ones code unused; the table
# travels in the DHT segment, so any decoder reads it back).
PROG_AC_BITS = [0] * 8 + [176] + [0] * 7
PROG_AC_VALS = [(r << 4) | s for r in range(16) for s in range(11)]
_PROG_AC_ENC = _canonical_codes(PROG_AC_BITS, PROG_AC_VALS)


def _enc_dc_first(zz: np.ndarray, al: int) -> bytes:
    bw = _BitWriter()
    prev = 0
    for b in zz:
        v = int(b[0]) >> al  # arithmetic shift: DC is two's-complement
        s, payload = _magnitude(v - prev)
        code, ln = _DC_ENC[s]
        bw.put(code, ln)
        if s:
            bw.put(payload, s)
        prev = v
    bw.flush()
    return bytes(bw.out)


def _enc_dc_refine(zz: np.ndarray, al: int) -> bytes:
    bw = _BitWriter()
    for b in zz:
        bw.put((int(b[0]) >> al) & 1, 1)
    bw.flush()
    return bytes(bw.out)


def _enc_ac_first(zz: np.ndarray, ss: int, se: int, al: int) -> bytes:
    bw = _BitWriter()
    eobrun = 0

    def emit_eobrun():
        nonlocal eobrun
        if eobrun == 0:
            return
        r = eobrun.bit_length() - 1
        code, ln = _PROG_AC_ENC[r << 4]
        bw.put(code, ln)
        if r:
            bw.put(eobrun - (1 << r), r)
        eobrun = 0

    for b in zz:
        r = 0
        for k in range(ss, se + 1):
            v = int(b[k])
            t = abs(v) >> al  # AC: magnitude shift (toward zero)
            if t == 0:
                r += 1
                continue
            emit_eobrun()
            while r > 15:
                code, ln = _PROG_AC_ENC[0xF0]
                bw.put(code, ln)
                r -= 16
            s, payload = _magnitude(t if v >= 0 else -t)
            code, ln = _PROG_AC_ENC[(r << 4) | s]
            bw.put(code, ln)
            bw.put(payload, s)
            r = 0
        if r > 0:
            eobrun += 1
            if eobrun == 0x7FFF:
                emit_eobrun()
    emit_eobrun()
    bw.flush()
    return bytes(bw.out)


def _enc_ac_refine(zz: np.ndarray, ss: int, se: int, al: int) -> bytes:
    bw = _BitWriter()
    eobrun = 0
    be: list[int] = []  # correction bits buffered across the EOB run

    def emit_eobrun():
        nonlocal eobrun, be
        if eobrun > 0:
            r = eobrun.bit_length() - 1
            code, ln = _PROG_AC_ENC[r << 4]
            bw.put(code, ln)
            if r:
                bw.put(eobrun - (1 << r), r)
            eobrun = 0
        for bit in be:
            bw.put(bit, 1)
        be = []

    for b in zz:
        vals = [int(b[k]) for k in range(ss, se + 1)]
        absv = [abs(v) >> al for v in vals]
        eob = -1  # last newly-significant position in this block
        for i, t in enumerate(absv):
            if t == 1:
                eob = i
        r = 0
        br_bits: list[int] = []
        for i, t in enumerate(absv):
            if t == 0:
                r += 1
                continue
            # flush ZRLs at EVERY nonzero (libjpeg order: the buffered
            # corrections belong to positions before the 16th zero)
            while r > 15 and i <= eob:
                emit_eobrun()
                code, ln = _PROG_AC_ENC[0xF0]
                bw.put(code, ln)
                r -= 16
                for bit in br_bits:
                    bw.put(bit, 1)
                br_bits = []
            if t > 1:  # already significant: buffer a correction bit
                br_bits.append(t & 1)
                continue
            emit_eobrun()
            code, ln = _PROG_AC_ENC[(r << 4) | 1]
            bw.put(code, ln)
            bw.put(1 if vals[i] >= 0 else 0, 1)
            for bit in br_bits:
                bw.put(bit, 1)
            br_bits = []
            r = 0
        if r > 0 or br_bits:
            eobrun += 1
            be.extend(br_bits)
            if eobrun == 0x7FFF:
                emit_eobrun()
    emit_eobrun()
    bw.flush()
    return bytes(bw.out)


def encode_gray_progressive(img: np.ndarray, quality: int = 85) -> bytes:
    """Encode a uint8 (h, w) array as PROGRESSIVE grayscale JPEG
    (SOF2) with a 4-scan successive-approximation script:
    DC first (Al=1) -> AC 1..63 first (Al=1) -> DC refine -> AC refine.
    Decodes to the IDENTICAL pixels as the baseline encoding at the
    same quality (same quantized coefficients, different entropy
    layout) — pinned by tests."""
    a = np.asarray(img)
    if a.ndim != 2:
        raise ValueError("encode_gray_progressive: (h, w) uint8 arrays only")
    a = a.astype(np.float64)
    h, w = a.shape
    qt = quality_tables(quality)
    H, W = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    pad = np.pad(a, ((0, H - h), (0, W - w)), mode="edge") - 128.0
    zz = _plane_to_zz(pad, qt)

    scans = [
        (0, 0, 0, 1, _enc_dc_first(zz, 1)),
        (1, 63, 0, 1, _enc_ac_first(zz, 1, 63, 1)),
        (0, 0, 1, 0, _enc_dc_refine(zz, 0)),
        (1, 63, 1, 0, _enc_ac_refine(zz, 1, 63, 0)),
    ]
    out = b"\xff\xd8"
    out += _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xFFDB, b"\x00" + qt.reshape(64)[ZIGZAG].astype(np.uint8).tobytes())
    out += _seg(0xFFC2, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00")
    out += _seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
    out += _seg(0xFFC4, b"\x10" + bytes(PROG_AC_BITS) + bytes(PROG_AC_VALS))
    for ss, se, ah, al, data in scans:
        out += _seg(0xFFDA, b"\x01\x01\x00" + bytes([ss, se, (ah << 4) | al]))
        out += data
    out += b"\xff\xd9"
    return out


def encode_color_progressive(rgb: np.ndarray, quality: int = 85,
                             subsampling: str = "444") -> bytes:
    """PROGRESSIVE color JPEG (SOF2) at 4:4:4 / 4:2:2 / 4:2:0: an
    8-scan successive-approximation script — interleaved 3-component
    DC first/refine scans (vs*hs Y data units per MCU when subsampled)
    plus per-component AC first/refine scans over each component's
    TRUE block grid (T.81 G.1.1.1.1: progressive AC scans are always
    single-component and exclude MCU padding blocks). Decodes to the
    IDENTICAL pixels as encode_color at the same quality/subsampling
    (the padding blocks that lack AC in the progressive form are
    cropped away in both)."""
    a = np.asarray(rgb)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError("encode_color_progressive: (h, w, 3) uint8 arrays only")
    if subsampling not in ("444", "422", "420"):
        raise ValueError("subsampling must be 444, 422 or 420")
    hs = 2 if subsampling in ("422", "420") else 1
    vs = 2 if subsampling == "420" else 1
    a = a.astype(np.float64)
    h, w = a.shape[:2]
    r, g, b = a[:, :, 0], a[:, :, 1], a[:, :, 2]
    planes = [
        0.299 * r + 0.587 * g + 0.114 * b,
        -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
        0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
    ]
    qly = quality_tables(quality)
    qlc = _scale_table(QTABLE_CHROM, quality)
    mh, mw = 8 * vs, 8 * hs
    H, W = -(-h // mh) * mh, -(-w // mw) * mw
    pads = [np.pad(p, ((0, H - h), (0, W - w)), mode="edge") for p in planes]
    if hs == 1 and vs == 1:
        chroma = pads[1:]
    else:
        chroma = [p.reshape(H // vs, vs, W // hs, hs).mean(axis=(1, 3))
                  for p in pads[1:]]
    zzs = [_plane_to_zz(pads[0] - 128.0, qly)]
    zzs += [_plane_to_zz(p - 128.0, qlc) for p in chroma]
    mcux, mcuy = W // mw, H // mh
    # per-component (padded block-grid width, blocks per MCU h/v,
    # TRUE block grid) — AC scans cover only the true grid
    geom = [
        (W // 8, hs, vs, -(-w // 8), -(-h // 8)),
        (W // (8 * hs), 1, 1, -(-(-(-w // hs)) // 8), -(-(-(-h // vs)) // 8)),
        (W // (8 * hs), 1, 1, -(-(-(-w // hs)) // 8), -(-(-(-h // vs)) // 8)),
    ]

    def dc_interleaved(al: int, refine: bool) -> bytes:
        bw = _BitWriter()
        prev = [0, 0, 0]
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, (bwidth, ghi, gvi, _tw, _th) in enumerate(geom):
                    for by in range(gvi):
                        for bx in range(ghi):
                            blk = zzs[ci][(my * gvi + by) * bwidth
                                          + (mx * ghi + bx)]
                            if refine:
                                bw.put((int(blk[0]) >> al) & 1, 1)
                            else:
                                v = int(blk[0]) >> al
                                s, payload = _magnitude(v - prev[ci])
                                code, ln = _DC_ENC[s]
                                bw.put(code, ln)
                                if s:
                                    bw.put(payload, s)
                                prev[ci] = v
        bw.flush()
        return bytes(bw.out)

    def true_grid_blocks(ci: int) -> np.ndarray:
        bwidth, _ghi, _gvi, tw_, th_ = geom[ci]
        idx = [ry * bwidth + rx for ry in range(th_) for rx in range(tw_)]
        return zzs[ci][idx]

    dc_comps = b"\x03" + b"\x01\x00" + b"\x02\x00" + b"\x03\x00"
    scans = [(dc_comps, 0, 0, 0, 1, dc_interleaved(1, refine=False))]
    for ci in range(3):
        scans.append((bytes([1, ci + 1, 0]), 1, 63, 0, 1,
                      _enc_ac_first(true_grid_blocks(ci), 1, 63, 1)))
    scans.append((dc_comps, 0, 0, 1, 0, dc_interleaved(0, refine=True)))
    for ci in range(3):
        scans.append((bytes([1, ci + 1, 0]), 1, 63, 1, 0,
                      _enc_ac_refine(true_grid_blocks(ci), 1, 63, 0)))

    out = b"\xff\xd8"
    out += _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xFFDB, b"\x00" + qly.reshape(64)[ZIGZAG].astype(np.uint8).tobytes()
                + b"\x01" + qlc.reshape(64)[ZIGZAG].astype(np.uint8).tobytes())
    out += _seg(0xFFC2, struct.pack(">BHHB", 8, h, w, 3)
                + bytes([1, (hs << 4) | vs, 0]) + b"\x02\x11\x01" + b"\x03\x11\x01")
    out += _seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
    out += _seg(0xFFC4, b"\x10" + bytes(PROG_AC_BITS) + bytes(PROG_AC_VALS))
    for comps, ss, se, ah, al, data in scans:
        out += _seg(0xFFDA, comps + bytes([ss, se, (ah << 4) | al]))
        out += data
    out += b"\xff\xd9"
    return out
