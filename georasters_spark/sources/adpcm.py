"""IMA/DVI ADPCM audio (WAV format tag 0x11), pure numpy + stdlib.

The IMA ADPCM algorithm (IMA Digital Audio Focus and Technical Working
Groups, 1992; carried by WAV as format 0x11 "DVI/IMA ADPCM") is fully
specified algorithmically — an 89-entry step-size table, an 8-entry
index-adjust table, and 4-bit delta quantization — so, like G.711 and
unlike MP3's Huffman tables, it is safely reproducible from the public
spec in-sandbox.  It is the classic 4:1 speech/game-audio codec: each
block starts with an EXACT int16 predictor sample + step index, then
packs one sample per nibble.

Reference behaviors covered (georasters has no audio path; this rides
the engine's media-lake surface next to wav/flac/g711 —
operators/multimodal.py audio_features):

  * block layout: per channel a 4-byte header (int16 predictor,
    uint8 step index, uint8 reserved), then 4-byte words of 8 nibbles,
    channel-interleaved by word for stereo;
  * low nibble first within each byte;
  * samples_per_block = (block_align - 4*ch) * 2 / ch + 1 (the header
    predictor IS sample 0 of the block);
  * decode delta = (step>>3) + (step>>2 if b0) + (step>>1 if b1)
    + (step if b2), negated on b3; predictor clamped to int16, index
    clamped to [0, 88].

The codec is LOSSY (≈12 dB SNR floor on speech-like signals) but the
round-trip is bit-DETERMINISTIC, and the block-header predictor makes
sample 0 of every block EXACT — both pinned by the adpcm_audio gate's
structural oracle (the audit-gate pattern of the other lossy codecs).
"""

from __future__ import annotations

import struct

import numpy as np

from . import g711

# IMA ADPCM step-size table (89 entries) and index-adjust table — the
# normative constants from the 1992 IMA ADPCM reference algorithm
STEP_TABLE = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17,
    19, 21, 23, 25, 28, 31, 34, 37, 41, 45,
    50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
    130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
    337, 371, 408, 449, 494, 544, 598, 658, 724, 796,
    876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358,
    5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
], dtype=np.int64)

INDEX_TABLE = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int64)


def _clamp16(v: int) -> int:
    return -32768 if v < -32768 else (32767 if v > 32767 else v)


def _decode_nibbles(nibbles: np.ndarray, pred: int, idx: int) -> np.ndarray:
    """Sequential IMA decode of a nibble stream given the block-header
    state.  Per-FILE sequential inner loop — the Spark parallelism unit
    of a media lake is files (mapInPandas), same stance as the GIF LZW
    and PNG Paeth loops."""
    out = np.empty(len(nibbles), dtype=np.int16)
    for i, nib in enumerate(nibbles):
        nib = int(nib)
        step = int(STEP_TABLE[idx])
        diff = step >> 3
        if nib & 1:
            diff += step >> 2
        if nib & 2:
            diff += step >> 1
        if nib & 4:
            diff += step
        if nib & 8:
            diff = -diff
        pred = _clamp16(pred + diff)
        out[i] = pred
        idx = idx + int(INDEX_TABLE[nib & 7])
        idx = 0 if idx < 0 else (88 if idx > 88 else idx)
    return out


def _encode_block(samples: np.ndarray, idx: int) -> tuple[bytes, int]:
    """One mono block: samples[0] goes into the header verbatim; the
    rest quantize to nibbles.  Returns (block bytes sans padding, next
    start index) — the encoder state chain across blocks matches the
    common reference encoders (index carries over, predictor re-seeds
    from the true sample)."""
    pred = int(samples[0])
    head = struct.pack("<hBB", pred, idx, 0)
    nibbles = []
    for s in samples[1:]:
        step = int(STEP_TABLE[idx])
        delta = int(s) - pred
        nib = 0
        if delta < 0:
            nib = 8
            delta = -delta
        # mirror the decoder's reconstruction arithmetic exactly
        diff = step >> 3
        if delta >= step:
            nib |= 4
            delta -= step
            diff += step
        if delta >= (step >> 1):
            nib |= 2
            delta -= step >> 1
            diff += step >> 1
        if delta >= (step >> 2):
            nib |= 1
            diff += step >> 2
        pred = _clamp16(pred + (-diff if nib & 8 else diff))
        idx = idx + int(INDEX_TABLE[nib & 7])
        idx = 0 if idx < 0 else (88 if idx > 88 else idx)
        nibbles.append(nib)
    if len(nibbles) % 2:
        nibbles.append(0)
    arr = np.asarray(nibbles, dtype=np.uint8)
    packed = (arr[0::2] | (arr[1::2] << 4)).astype(np.uint8)  # low first
    return head + packed.tobytes(), idx


def encode_wav_adpcm(samples: np.ndarray, rate: int,
                     samples_per_block: int = 505) -> bytes:
    """Mono IMA ADPCM WAV (format tag 0x11).  samples_per_block must be
    odd (header sample + 2 per byte); the default 505 gives the common
    256-byte block_align.  The last block is shortened, not padded —
    the fact chunk carries the true sample count."""
    s = np.asarray(samples, dtype=np.int16)
    if samples_per_block < 3 or samples_per_block % 2 == 0:
        raise ValueError("adpcm: samples_per_block must be odd and >= 3")
    if len(s) == 0:
        raise ValueError("adpcm: empty signal")
    block_align = 4 + (samples_per_block - 1) // 2
    blocks = []
    idx = 0
    for start in range(0, len(s), samples_per_block):
        chunk = s[start:start + samples_per_block]
        body, idx = _encode_block(chunk, idx)
        if len(chunk) == samples_per_block and len(body) < block_align:
            body += b"\x00" * (block_align - len(body))
        blocks.append(body)
    data = b"".join(blocks)
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, rate,
                      rate * block_align // samples_per_block,
                      block_align, 4, 2, samples_per_block)
    return g711.riff_wave((b"fmt ", fmt),
                          (b"fact", struct.pack("<I", len(s))),
                          (b"data", data))


def decode_adpcm_data(data: bytes, block_align: int,
                      samples_per_block: int, n_samples: int) -> np.ndarray:
    """Mono IMA ADPCM data chunk -> int16 samples (fact-chunk count)."""
    if block_align < 5:
        raise ValueError(f"adpcm: block_align {block_align} too small")
    out = []
    produced = 0
    pos = 0
    while produced < n_samples:
        block = data[pos:pos + block_align]
        if len(block) < 4:
            raise ValueError("adpcm: truncated block header")
        pred, idx, _res = struct.unpack_from("<hBB", block, 0)
        if idx > 88:
            raise ValueError(f"adpcm: step index {idx} out of range")
        want = min(samples_per_block, n_samples - produced)
        nib_bytes = np.frombuffer(block[4:], dtype=np.uint8)
        nibbles = np.empty(len(nib_bytes) * 2, dtype=np.uint8)
        nibbles[0::2] = nib_bytes & 0x0F
        nibbles[1::2] = nib_bytes >> 4
        if want - 1 > len(nibbles):
            raise ValueError("adpcm: block shorter than sample count")
        rest = _decode_nibbles(nibbles[:want - 1], int(pred), int(idx))
        out.append(np.concatenate([[np.int16(pred)], rest]))
        produced += want
        pos += block_align
    return np.concatenate(out) if out else np.empty(0, dtype=np.int16)


def decode_adpcm_chunks(chunks: dict[bytes, bytes]) -> tuple[np.ndarray, int]:
    """Mono IMA ADPCM from walked RIFF chunks (g711.riff_chunks)."""
    fmt, data = chunks[b"fmt "], chunks[b"data"]
    if len(fmt) < 20:
        raise ValueError("wav: adpcm fmt chunk needs the extension")
    tag, nch, rate, _br, block_align, bits, _cb, spb = struct.unpack_from(
        "<HHIIHHHH", fmt, 0)
    if tag != 0x11:
        raise ValueError(f"wav: expected IMA ADPCM (0x11), got {tag}")
    if nch != 1:
        raise NotImplementedError("adpcm: mono only")
    if bits != 4:
        raise ValueError(f"adpcm: bits per sample must be 4, got {bits}")
    if b"fact" in chunks:
        (fact,) = struct.unpack_from("<I", chunks[b"fact"], 0)
    else:
        # fact is mandatory for compressed WAV; derive a ceiling if absent
        fact = len(data) // block_align * spb
    return decode_adpcm_data(data, block_align, spb, fact), rate


def decode_wav_adpcm(buf: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE with format tag 0x11 (mono)."""
    return decode_adpcm_chunks(g711.riff_chunks(buf))
