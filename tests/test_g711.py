"""G.711 mu-law / A-law companding (sources/g711.py): canonical-table
extremes, code idempotence, monotonicity, error bounds, WAV container."""

import numpy as np
import pytest

from georasters_spark.sources import g711


def test_canonical_extremes():
    """The algorithm reproduces the published tables' endpoint values:
    mu-law max decode 32124, A-law max decode 32256 — the two numbers
    every G.711 conformance table pins."""
    codes = np.arange(256, dtype=np.uint8)
    assert int(g711.ulaw_decode(codes).max()) == 32124
    assert int(g711.ulaw_decode(codes).min()) == -32124
    assert int(g711.alaw_decode(codes).max()) == 32256
    assert int(g711.alaw_decode(codes).min()) == -32256


def test_code_idempotence():
    """encode(decode(c)) == c for every code — except mu-law 0x7F,
    the inherent negative-zero dual of 0xFF (both decode to 0; the
    encoder canonically emits 0xFF)."""
    codes = np.arange(256, dtype=np.uint8)
    ue = g711.ulaw_encode(g711.ulaw_decode(codes))
    miss = np.nonzero(ue != codes)[0]
    assert list(miss) == [0x7F] and ue[0x7F] == 0xFF
    assert (g711.alaw_encode(g711.alaw_decode(codes)) == codes).all()


def test_roundtrip_monotone_and_bounded():
    s = np.arange(-32768, 32768, dtype=np.int64)
    for enc, dec, max_err in ((g711.ulaw_encode, g711.ulaw_decode, 644),
                              (g711.alaw_encode, g711.alaw_decode, 512)):
        d = dec(enc(s)).astype(np.int64)
        assert (np.diff(d) >= 0).all()  # companding preserves order
        assert int(np.abs(d - s).max()) <= max_err


def test_quantization_error_scales_with_magnitude():
    """Companding's point: small samples get small steps. Error at
    |s|<1000 must be far below error at |s|>30000."""
    small = np.arange(-1000, 1000, dtype=np.int64)
    big = np.arange(30000, 32000, dtype=np.int64)
    e_small = np.abs(g711.ulaw_decode(g711.ulaw_encode(small)).astype(np.int64) - small).max()
    e_big = np.abs(g711.ulaw_decode(g711.ulaw_encode(big)).astype(np.int64) - big).max()
    assert e_small <= 32 and e_big >= 256


@pytest.mark.parametrize("law", ["ulaw", "alaw"])
def test_wav_container_roundtrip(law):
    rng = np.random.default_rng(5)
    x = rng.integers(-32768, 32768, 3000).astype(np.int16)
    buf = g711.encode_wav_g711(x, 8000, law)
    y, rate = g711.decode_wav_any(buf)
    assert rate == 8000 and len(y) == 3000
    enc = getattr(g711, f"{law}_encode")(x)
    assert (y == getattr(g711, f"{law}_decode")(enc)).all()


def test_pcm16_through_hand_parser():
    from georasters_spark.operators.multimodal import encode_wav_pcm16

    rng = np.random.default_rng(6)
    x = rng.integers(-32768, 32768, 500).astype(np.int16)
    y, rate = g711.decode_wav_any(encode_wav_pcm16(x, 16000))
    assert rate == 16000 and (y == x).all()


def test_errors():
    with pytest.raises(ValueError, match="RIFF"):
        g711.decode_wav_any(b"nope")
    with pytest.raises(ValueError, match="law"):
        g711.encode_wav_g711(np.zeros(4, dtype=np.int16), 8000, "mp3")


def test_truncated_data_chunk_rejected():
    x = np.zeros(100, dtype=np.int16)
    buf = g711.encode_wav_g711(x, 8000, "ulaw")
    with pytest.raises(ValueError, match="truncated"):
        g711.decode_wav_any(buf[:-40])


def test_wav_odd_pcm16_length_raises():
    import struct

    import pytest

    from georasters_spark.sources import g711

    data = b"\x01\x02\x03"  # odd length
    hdr = (b"RIFF" + struct.pack("<I", 36 + len(data) + 1) + b"WAVE"
           + b"fmt " + struct.pack("<I", 16)
           + struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
           + b"data" + struct.pack("<I", len(data)) + data + b"\x00")
    with pytest.raises(ValueError, match="odd PCM16"):
        g711.decode_wav_any(hdr)


def test_pcm16_writer_matches_stdlib_wave():
    """encode_wav_pcm16 goes through the shared RIFF writer and emits
    the same bytes as the stdlib `wave` module."""
    import io
    import wave

    from georasters_spark.operators.multimodal import encode_wav_pcm16

    rng = np.random.default_rng(8)
    for n, rate in ((0, 8000), (1, 8000), (333, 16000), (1000, 44100)):
        x = rng.integers(-32768, 32768, n).astype(np.int16)
        bio = io.BytesIO()
        with wave.open(bio, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(rate)
            wf.writeframes(x.astype("<i2").tobytes())
        assert encode_wav_pcm16(x, rate) == bio.getvalue()
