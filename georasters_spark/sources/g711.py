"""G.711 companded audio (mu-law / A-law), pure numpy + stdlib.

ITU-T G.711 defines the two telephony companding laws ALGORITHMICALLY
(segment + mantissa encoding; the CCITT reference g711.c is public
domain), so — unlike MP3's Huffman tables — they are safely
reproducible from the spec in-sandbox. WAV carries them as format tags
7 (mu-law) and 6 (A-law) with 8-bit samples; stdlib `wave` refuses
non-PCM, so the RIFF container here is hand-parsed/built — the one
RIFF chunk walker (`riff_chunks`) and writer (`riff_wave`) every WAV
codec goes through.

Both laws are DETERMINISTIC integer maps (16-bit -> 8-bit code ->
16-bit), which makes decode(encode(x)) exactly re-derivable in SQL —
the g711_audio gate pins every decoded sample against a DuckDB oracle
that repeats the segment arithmetic.

  mu-law: bias 132, clip 32635; code = ~(sign | exp<<4 | mant) with
          exp = floor(log2(biased)) - 7 over the biased magnitude,
          mant the next 4 bits; decode = ((mant<<3 | 0x84) << exp) - 0x84
  A-law:  13-bit magnitude (s >> 3); seg 0 passes mant = mag >> 1,
          else seg = floor(log2(mag)) - 4, mant = (mag >> seg) & 0xF;
          code xored with 0x55; decode = (mant<<4)+8 in seg 0, else
          ((mant<<4) + 0x108) << (seg - 1)
"""

from __future__ import annotations

import struct

import numpy as np

_ULAW_BIAS = 0x84  # 132
_ULAW_CLIP = 32635


def _exp_of(mag: np.ndarray, lo_bit: int) -> np.ndarray:
    """floor(log2(mag)) - lo_bit for mag >= 2**lo_bit, vectorized."""
    e = np.zeros(mag.shape, dtype=np.int32)
    v = (mag >> (lo_bit + 1)).astype(np.int64)
    while True:
        nz = v > 0
        if not nz.any():
            return e
        e[nz] += 1
        v = v >> 1


def ulaw_encode(samples: np.ndarray) -> np.ndarray:
    """int16 -> uint8 mu-law codes."""
    s = np.asarray(samples, dtype=np.int64)
    sign = np.where(s < 0, 0x80, 0).astype(np.int64)
    mag = np.minimum(np.abs(s), _ULAW_CLIP) + _ULAW_BIAS
    exp = _exp_of(mag, 7)  # biased mag >= 132 so exp in 0..7
    mant = (mag >> (exp + 3)) & 0x0F
    return (~(sign | (exp << 4) | mant) & 0xFF).astype(np.uint8)


def ulaw_decode(codes: np.ndarray) -> np.ndarray:
    """uint8 mu-law codes -> int16."""
    u = (~np.asarray(codes, dtype=np.int64)) & 0xFF
    sign = u & 0x80
    exp = (u >> 4) & 0x07
    mant = u & 0x0F
    mag = (((mant << 3) + _ULAW_BIAS) << exp) - _ULAW_BIAS
    return np.where(sign != 0, -mag, mag).astype(np.int16)


def alaw_encode(samples: np.ndarray) -> np.ndarray:
    """int16 -> uint8 A-law codes (even-bit inversion 0x55 applied).
    CCITT reference semantics: 13-bit magnitude (arithmetic >> 3, with
    negatives mapped |s|-1 style), segment 0 for mag < 0x20 passing
    mag>>1 as mantissa, else seg = floor(log2(mag)) - 4 with mantissa
    (mag >> seg) & 0xF; positive sign carries bit 0x80."""
    s = np.asarray(samples, dtype=np.int64)
    sign = np.where(s >= 0, 0x80, 0).astype(np.int64)
    mag = np.where(s >= 0, s, -s - 1) >> 3  # 13-bit, <= 0xFFF
    seg0 = mag < 0x20
    seg = np.where(seg0, 0, _exp_of(np.maximum(mag, 0x20), 4))
    mant = np.where(seg0, mag >> 1, (mag >> np.maximum(seg, 1)) & 0x0F)
    return ((sign | (seg << 4) | mant) ^ 0x55).astype(np.uint8)


def alaw_decode(codes: np.ndarray) -> np.ndarray:
    """uint8 A-law codes -> int16 (CCITT alaw2linear: segment-0 step
    midpoint (mant<<4)+8, higher segments ((mant<<4)+0x108)<<(seg-1))."""
    a = np.asarray(codes, dtype=np.int64) ^ 0x55
    sign = a & 0x80
    seg = (a >> 4) & 0x07
    mant = a & 0x0F
    mag = np.where(seg == 0, (mant << 4) + 8,
                   ((mant << 4) + 0x108) << np.maximum(seg - 1, 0))
    return np.where(sign != 0, mag, -mag).astype(np.int16)


_WAV_TAGS = {"pcm16": 1, "alaw": 6, "ulaw": 7}


def riff_wave(*chunks: tuple[bytes, bytes]) -> bytes:
    """RIFF/WAVE container from (chunk id, body) pairs, each body padded
    to an even length (chunks are word-aligned)."""
    riff = b"WAVE" + b"".join(
        cid + struct.pack("<I", len(body)) + body + b"\x00" * (len(body) & 1)
        for cid, body in chunks)
    return b"RIFF" + struct.pack("<I", len(riff)) + riff


def riff_chunks(buf: bytes) -> dict[bytes, bytes]:
    """Walk a RIFF/WAVE stream: {chunk id: body}, the last of a repeated
    id winning. Raises on a bad header or a truncated chunk."""
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("wav: not a RIFF/WAVE stream")
    pos = 12
    n = len(buf)
    chunks = {}
    while pos + 8 <= n:
        cid = buf[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", buf, pos + 4)
        body = buf[pos + 8 : pos + 8 + clen]
        if len(body) != clen:
            raise ValueError("wav: truncated chunk")
        chunks[cid] = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if b"fmt " not in chunks or b"data" not in chunks:
        raise ValueError("wav: missing fmt or data chunk")
    return chunks


def encode_wav_g711(samples: np.ndarray, rate: int, law: str = "ulaw") -> bytes:
    """Mono G.711 WAV (format tag 7 mu-law / 6 A-law, 8-bit data)."""
    if law == "ulaw":
        data = ulaw_encode(samples).tobytes()
    elif law == "alaw":
        data = alaw_encode(samples).tobytes()
    else:
        raise ValueError(f"g711: law must be ulaw|alaw, got {law!r}")
    fmt = struct.pack("<HHIIHH", _WAV_TAGS[law], 1, rate, rate, 1, 8)
    return riff_wave((b"fmt ", fmt), (b"data", data))


def decode_wav_any(buf: bytes) -> tuple[np.ndarray, int]:
    """Mono RIFF/WAVE: PCM16 (tag 1), A-law (6), mu-law (7) and IMA
    ADPCM (0x11, sources/adpcm.py). Returns (int16 samples, rate)."""
    chunks = riff_chunks(buf)
    fmt, data = chunks[b"fmt "], chunks[b"data"]
    if len(fmt) < 16:
        raise ValueError("wav: short fmt chunk")
    tag, nch, rate, _br, _ba, bits = struct.unpack_from("<HHIIHH", fmt, 0)
    if nch != 1:
        raise NotImplementedError("wav: mono only")
    if tag == 1:
        if bits != 16:
            raise NotImplementedError(f"wav: PCM with {bits} bits")
        if len(data) % 2:
            raise ValueError("wav: odd PCM16 data length")
        return np.frombuffer(data, dtype="<i2").astype(np.int16), rate
    if tag == 7:
        if bits != 8:
            raise ValueError("wav: mu-law must be 8-bit")
        return ulaw_decode(np.frombuffer(data, dtype=np.uint8)), rate
    if tag == 6:
        if bits != 8:
            raise ValueError("wav: A-law must be 8-bit")
        return alaw_decode(np.frombuffer(data, dtype=np.uint8)), rate
    if tag == 0x11:
        from . import adpcm

        return adpcm.decode_adpcm_chunks(chunks)
    raise NotImplementedError(f"wav: format tag {tag} not supported")
