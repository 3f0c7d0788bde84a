"""IMA/DVI ADPCM codec (sources/adpcm.py): deterministic round-trip,
block-header exactness, index carry-over, container dispatch, and
malformed-input refusals."""

import numpy as np
import pytest

from georasters_spark.sources import adpcm, g711


def _speechish(n, seed=3):
    rng = np.random.RandomState(seed)
    t = np.arange(n)
    return (8000 * np.sin(t / 50.0) + 3000 * np.sin(t / 13.0)
            + rng.randint(-500, 500, n)).astype(np.int16)


def test_roundtrip_deterministic_and_block_exact():
    sig = _speechish(5000)
    buf = adpcm.encode_wav_adpcm(sig, 8000)
    assert adpcm.encode_wav_adpcm(sig, 8000) == buf  # bit-deterministic
    dec, rate = adpcm.decode_wav_adpcm(buf)
    assert rate == 8000 and len(dec) == len(sig)
    # every block's first sample is carried verbatim in the header
    for i in range(0, len(sig), 505):
        assert dec[i] == sig[i]
    err = dec.astype(np.float64) - sig
    snr = 10 * np.log10((sig.astype(np.float64) ** 2).mean() / (err ** 2).mean())
    assert snr > 30.0  # lossy floor on a smooth-ish signal


def test_decode_matches_stepwise_reference():
    """Hand-stepped decode of a tiny stream: the numpy decoder must
    reproduce a pure-Python walk of the published tables."""
    sig = _speechish(257, seed=9)
    buf = adpcm.encode_wav_adpcm(sig, 8000, samples_per_block=65)
    dec, _ = adpcm.decode_wav_adpcm(buf)
    # re-walk the ENCODER chain (decoded == encoder predictor chain)
    pred, idx = 0, 0
    out = []
    for i, s in enumerate(sig.astype(np.int64)):
        if i % 65 == 0:
            pred = int(s)
            out.append(pred)
            continue
        step = int(adpcm.STEP_TABLE[idx])
        delta = int(s) - pred
        nib = 8 if delta < 0 else 0
        d = -delta if delta < 0 else delta
        diff = step >> 3
        if d >= step:
            nib |= 4
            d -= step
            diff += step
        if d >= step >> 1:
            nib |= 2
            d -= step >> 1
            diff += step >> 1
        if d >= step >> 2:
            nib |= 1
            diff += step >> 2
        pred = max(-32768, min(32767, pred + (-diff if nib & 8 else diff)))
        out.append(pred)
        idx = max(0, min(88, idx + int(adpcm.INDEX_TABLE[nib & 7])))
    assert np.array_equal(dec.astype(np.int64), np.asarray(out))


def test_index_carries_across_blocks():
    """A loud first block must leave the step index high at the second
    block's start (carry-over), which changes its decode vs an
    independent re-encode of the same tail."""
    loud = _speechish(200, seed=1) * 0 + np.int16(0)
    loud[0::2] = 20000
    loud[1::2] = -20000
    quiet = (np.sin(np.arange(101) / 9.0) * 300).astype(np.int16)
    sig = np.concatenate([loud[:101], quiet]).astype(np.int16)
    whole = adpcm.decode_wav_adpcm(adpcm.encode_wav_adpcm(
        sig, 8000, samples_per_block=101))[0]
    alone = adpcm.decode_wav_adpcm(adpcm.encode_wav_adpcm(
        quiet, 8000, samples_per_block=101))[0]
    assert not np.array_equal(whole[101:], alone)


def test_wav_any_dispatch_and_refusals():
    sig = _speechish(1000)
    buf = adpcm.encode_wav_adpcm(sig, 16000)
    via_any = g711.decode_wav_any(buf)[0]
    direct = adpcm.decode_wav_adpcm(buf)[0]
    assert np.array_equal(via_any, direct)
    with pytest.raises(ValueError, match="samples_per_block"):
        adpcm.encode_wav_adpcm(sig, 8000, samples_per_block=100)  # even
    with pytest.raises(ValueError, match="empty"):
        adpcm.encode_wav_adpcm(np.empty(0, dtype=np.int16), 8000)
    with pytest.raises(ValueError, match="truncated"):
        adpcm.decode_wav_adpcm(buf[:40] + buf[40:60])
    # corrupt a block header's step index past 88
    data_at = buf.find(b"data") + 8
    bad = bytearray(buf)
    bad[data_at + 2] = 200
    with pytest.raises(ValueError, match="step index"):
        adpcm.decode_wav_adpcm(bytes(bad))


def test_adpcm_wav_walked_once(monkeypatch):
    """A 0x11 file read through decode_wav_any walks its RIFF chunks
    once: the ADPCM decoder reuses the walked chunks."""
    buf = adpcm.encode_wav_adpcm(_speechish(700), 8000, samples_per_block=65)
    calls = []
    walk = g711.riff_chunks
    monkeypatch.setattr(g711, "riff_chunks",
                        lambda b: calls.append(1) or walk(b))
    got, rate = g711.decode_wav_any(buf)
    assert len(calls) == 1 and rate == 8000
    assert np.array_equal(got, adpcm.decode_wav_adpcm(buf)[0])
