"""Full PNG codec (sources/png.py): spec-anchored fixture decode,
lossless roundtrip matrix, palette/tRNS, Adam7, error paths, fuzz.

Reference parity: georasters' raster I/O is GDAL-backed and GDAL's PNG
driver reads/writes this format (georasters.py:281-291 accepts any
gdal.Open-able file); this engine implements the codec from the public
spec (ISO/IEC 15948) since no image library exists in-sandbox."""

import hashlib
import struct
import zlib

import numpy as np
import pytest

from georasters_spark.sources import codec, png


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))


def test_spec_fixture_hand_filtered():
    """A 4x3 gray8 PNG built BY HAND with one scanline per filter type
    (Sub, Up, Average, Paeth), filtered bytes derived on paper from the
    spec's recon equations — validates the decoder against the standard
    itself, not this module's own encoder."""
    # target image (h=4, w=3):
    img = np.array([
        [10, 20, 30],
        [15, 25, 35],
        [40, 40, 40],
        [41, 45, 50],
    ], dtype=np.uint8)
    # row 0, filter 1 (Sub):  raw = [10, 20-10, 30-20] = [10, 10, 10]
    # row 1, filter 2 (Up):   raw = [15-10, 25-20, 35-30] = [5, 5, 5]
    # row 2, filter 3 (Avg):  recon=[40,40,40], prev=[15,25,35]
    #   raw[0]=40-(0+15)//2=33; raw[1]=40-((40+25)//2)=40-32=8;
    #   raw[2]=40-((40+35)//2)=40-37=3
    # row 3, filter 4 (Paeth): recon=[41,45,50], prev=[40,40,40]
    #   x=0: a=0,b=40,c=0 -> p=40: pa=40,pb=0 -> pred=b=40; raw=1
    #   x=1: a=41,b=40,c=40 -> p=41: pa=0 -> pred=a=41; raw=4
    #   x=2: a=45,b=40,c=40 -> p=45: pa=0 -> pred=a=45; raw=5
    scan = bytes([1, 10, 10, 10,
                  2, 5, 5, 5,
                  3, 33, 8, 3,
                  4, 1, 4, 5])
    ihdr = struct.pack(">IIBBBBB", 3, 4, 8, 0, 0, 0, 0)
    buf = (png.SIGNATURE + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", zlib.compress(scan))
           + _chunk(b"IEND", b""))
    out = png.decode(buf)
    assert out.dtype == np.uint8
    assert (out == img).all()


def test_multiple_idat_chunks_concatenate():
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    buf = png.encode(img, filter_strategy="none")
    # split the single IDAT into two
    sig_ihdr = buf[: 8 + 25]
    idat_len = struct.unpack(">I", buf[33:37])[0]
    payload = buf[41 : 41 + idat_len]
    rest = buf[41 + idat_len + 4 :]
    two = (sig_ihdr + _chunk(b"IDAT", payload[:5])
           + _chunk(b"IDAT", payload[5:]) + rest)
    assert (png.decode(two) == img).all()


@pytest.mark.parametrize("strategy", ["none", "sub", "up", "average",
                                      "paeth", "adaptive"])
@pytest.mark.parametrize("interlace", [False, True])
def test_gray8_roundtrip_all_filters(strategy, interlace):
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (37, 53), dtype=np.uint8)
    back = png.decode(png.encode(img, filter_strategy=strategy,
                                 interlace=interlace))
    assert back.dtype == np.uint8 and (back == img).all()


@pytest.mark.parametrize("nch", [2, 3, 4])
@pytest.mark.parametrize("dtype", [np.uint8, np.uint16])
def test_color_roundtrip(nch, dtype):
    rng = np.random.default_rng(nch)
    hi = 256 if dtype == np.uint8 else 65536
    a = rng.integers(0, hi, (19, 26, nch)).astype(dtype)
    for il in (False, True):
        back = png.decode(png.encode(a, interlace=il))
        assert back.dtype == dtype and (back == a).all()


@pytest.mark.parametrize("depth", [1, 2, 4])
def test_subbyte_gray_roundtrip(depth):
    rng = np.random.default_rng(depth)
    g = rng.integers(0, 1 << depth, (23, 41), dtype=np.uint8)
    for il in (False, True):
        assert (png.decode(png.encode(g, depth=depth, interlace=il)) == g).all()


def test_adam7_tiny_images():
    """Adam7 on images smaller than one 8x8 block: several passes are
    EMPTY and must be skipped on both sides."""
    rng = np.random.default_rng(5)
    for h, w in [(1, 1), (1, 5), (5, 1), (3, 3), (2, 9), (9, 2)]:
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        assert (png.decode(png.encode(img, interlace=True)) == img).all()


def test_palette_and_trns():
    rng = np.random.default_rng(9)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (17, 29), dtype=np.uint8)
    out = png.decode(png.encode(idx, palette=pal, depth=4))
    assert out.shape == (17, 29, 3) and (out == pal[idx]).all()
    trns = bytes(range(0, 64, 4))
    out2 = png.decode(png.encode(idx, palette=pal, depth=4, trns=trns))
    assert out2.shape == (17, 29, 4)
    assert (out2[..., :3] == pal[idx]).all()
    assert (out2[..., 3] == np.frombuffer(trns, np.uint8)[idx]).all()


def _png16_reference(t: np.ndarray) -> bytes:
    """16-bit gray PNG built from the spec with struct + zlib: IHDR,
    one IDAT of zlib level 6 over filter-0 big-endian scanlines, IEND."""
    h, w = t.shape
    be = t.view(np.uint16).astype(">u2")
    scan = b"".join(b"\x00" + be[r].tobytes() for r in range(h))
    return (png.SIGNATURE
            + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0))
            + _chunk(b"IDAT", zlib.compress(scan, 6))
            + _chunk(b"IEND", b""))


def test_codec_png_tile_matches_reference():
    """The images-table 'png' fmt is a plain 16-bit gray PNG: the bytes
    equal an independent struct + zlib build, negatives and ndv are
    bit-cast through uint16 and decode back bit-identically."""
    ndv = -9999
    rng = np.random.default_rng(3)
    for h, w in [(13, 17), (1, 1), (1, 9), (8, 1), (64, 64)]:
        t = rng.integers(-32768, 32768, (h, w)).astype(np.int16)
        t[rng.random((h, w)) < 0.25] = ndv
        t.flat[0] = -1
        buf = codec.encode_tile(t, "png", ndv)
        assert buf == _png16_reference(t)
        back = codec.decode_tile(buf, "png", w, h, ndv)
        assert back.dtype == np.int16 and back.shape == (h, w)
        assert np.array_equal(back, t)


def test_codec_png_tile_rejects_wrong_layout():
    """decode_tile refuses a PNG that is not 16-bit gray of the row's
    (h, w) instead of returning the wrong pixels."""
    gray8 = png.encode(np.zeros((4, 6), dtype=np.uint8))
    rgb16 = png.encode(np.zeros((4, 6, 3), dtype=np.uint16))
    for buf in (gray8, rgb16):
        with pytest.raises(ValueError, match="16-bit gray"):
            codec.decode_tile(buf, "png", 6, 4, -9999)
    tile = codec.encode_tile(np.zeros((4, 6), dtype=np.int16), "png", -9999)
    with pytest.raises(ValueError, match="16-bit gray"):
        codec.decode_tile(tile, "png", 4, 6, -9999)


_STRATEGIES = ("none", "sub", "up", "average", "paeth", "adaptive")

# SHA-256 of the encoder output over _digest_images() per (interlace,
# strategy), and of _digest_apng(strategy): pinned from the per-scanline
# filter loop the whole-image filter pass replaced.
_PNG_DIGESTS = {
    (False, "none"):
        "d02531967f088373e11b3de2a55622e2fab0ee6171d1c7337ef6393e21573b5e",
    (False, "sub"):
        "ed97a63d993c84a0fd42502366820a1d4bafa71cd4f53ce8cc2e9c4ee6c269e7",
    (False, "up"):
        "01c6df5170b66c06aef0aafd5427c5b18c6ed91cd4706e147858f86e4b0caffe",
    (False, "average"):
        "17ddbfa5c1ee65690c53077f8aa30a3710475dbcc0b73fdf35a75b3458cf9147",
    (False, "paeth"):
        "60174125056fd5abc4ed5d00696bfe0923e8d3b2bc131384a27a29377721d2d7",
    (False, "adaptive"):
        "772ce4833a81054e4d9cbc493ec7e2a251d8e64f25cd37eb1d3c68509ddcedb5",
    (True, "none"):
        "29347c2005bdd888053833f6d6ff989d46699d353c39124b140292dbce06716c",
    (True, "sub"):
        "4f1d0f69623b581f7502495848559557f83039d69268e3d87c9e6e03aad45eec",
    (True, "up"):
        "6c9ada3505d9a147294a8bd825f1565c4004f827a66e76bcb9c3f6e51241ad4a",
    (True, "average"):
        "53b60f7cca4d401e96b8c4f1e599a1cd2d7c71f939b6e3d5473423c6f91f27e3",
    (True, "paeth"):
        "87f4dcb66856d2ee4beb0e36128be03abcfc0e642f126421de76eae9fac0b4b9",
    (True, "adaptive"):
        "b9a74bc1893e71c919af4a3767d7d785782d469cc20c88b46cbd4b9220edcb6d",
}
_APNG_DIGESTS = {
    "none": "0e2273c22c4d0f129872003c9a47a0adf01179bc591b01e80c484fe70cf10ae3",
    "sub": "5a03a9dafa95077fc0cf6dc1e03c8b0b1ce64b712579bb35530d813500eb6523",
    "up": "99e09743f170dd1a5427a75af49a6c3c73ecf0d491181ae477cb0f2ffae559c8",
    "average": "15aa17a29a35d4c439237b4d1423661d7c8a15d276509afe04e0874eca95e654",
    "paeth": "0cc8de91a7af641e194e60f949d0ec333c85f0730d7c831815125b96922a484a",
    "adaptive": "d9081a20c32cecc7735d9c394441d2a213fbd42e0a2467232a70abeca378af9f",
}


def _digest_images() -> list:
    """Seeded encode() inputs: gray 1/2/4/8/16-bit, gray+alpha / RGB /
    RGBA at 8 and 16 bits, palette 8- and 4-bit, each at three shapes.
    Smooth ramps plus noise, so adaptive picks every filter type."""
    rng = np.random.default_rng(20)
    out = []
    for h, w in ((23, 31), (1, 7), (6, 1)):
        ramp = np.add.outer(np.arange(h) * 3, np.arange(w) * 5)

        def smooth(nch, top):
            base = ramp[..., None] + np.arange(nch) * 11
            return (base + rng.integers(0, 6, (h, w, nch))) % top

        for depth in (1, 2, 4):
            out.append(dict(img=smooth(1, 1 << depth)[..., 0].astype(np.uint8),
                            depth=depth))
        out.append(dict(img=smooth(1, 256)[..., 0].astype(np.uint8)))
        out.append(dict(img=(smooth(1, 65536)[..., 0] * 37 % 65536)
                        .astype(np.uint16)))
        for nch in (2, 3, 4):
            out.append(dict(img=smooth(nch, 256).astype(np.uint8)))
            out.append(dict(img=(smooth(nch, 65536) * 131 % 65536)
                            .astype(np.uint16)))
        pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
        out.append(dict(img=smooth(1, 16)[..., 0].astype(np.uint8),
                        palette=pal))
        out.append(dict(img=smooth(1, 16)[..., 0].astype(np.uint8),
                        palette=pal, depth=4))
    return out


def _digest_apng(strategy: str) -> bytes:
    rng = np.random.default_rng(21)
    full = rng.integers(0, 256, (19, 27, 4), dtype=np.uint8)
    full[..., 3] = 255
    sub = np.cumsum(rng.integers(0, 3, (7, 9, 4)), axis=1).astype(np.uint8)
    return png.encode_apng(
        [full, sub, full[:5, :6]], offsets=[(0, 0), (4, 3), (20, 12)],
        delays=[(1, 10), (2, 25), (3, 100)], dispose=[0, 1, 2],
        blend=[0, 1, 1], filter_strategy=strategy)


@pytest.mark.parametrize("strategy", _STRATEGIES)
@pytest.mark.parametrize("interlace", [False, True])
def test_encode_bytes_pinned(strategy, interlace):
    d = hashlib.sha256()
    for kw in _digest_images():
        d.update(png.encode(filter_strategy=strategy, interlace=interlace,
                            **kw))
    assert d.hexdigest() == _PNG_DIGESTS[(interlace, strategy)]


@pytest.mark.parametrize("strategy", _STRATEGIES)
def test_encode_apng_bytes_pinned(strategy):
    got = hashlib.sha256(_digest_apng(strategy)).hexdigest()
    assert got == _APNG_DIGESTS[strategy]


def test_error_paths():
    img = np.zeros((4, 4), dtype=np.uint8)
    good = png.encode(img)
    with pytest.raises(ValueError, match="signature"):
        png.decode(b"not a png at all")
    bad = bytearray(good)
    bad[-5] ^= 0xFF  # corrupt IEND CRC
    with pytest.raises(ValueError, match="CRC"):
        png.decode(bytes(bad))
    # truncation
    with pytest.raises(ValueError):
        png.decode(good[:-6])
    # bad filter byte
    scan = bytes([9, 0, 0, 0, 0])
    ihdr = struct.pack(">IIBBBBB", 4, 1, 8, 0, 0, 0, 0)
    buf = (png.SIGNATURE + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", zlib.compress(scan)) + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="filter type"):
        png.decode(buf)
    # illegal depth/color combo
    ihdr = struct.pack(">IIBBBBB", 4, 1, 4, 2, 0, 0, 0)  # 4-bit RGB
    buf = (png.SIGNATURE + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", zlib.compress(b"\x00\x00\x00")) + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="illegal depth"):
        png.decode(buf)
    # out-of-range sample on encode
    with pytest.raises(ValueError, match="range"):
        png.encode(np.full((2, 2), 9, dtype=np.uint8), depth=2)
    # unknown critical chunk
    buf = good[:33] + _chunk(b"CRIT", b"x") + good[33:]
    with pytest.raises(ValueError, match="critical"):
        png.decode(buf)
    # ancillary unknown chunk is fine
    buf = good[:33] + _chunk(b"teXt", b"x") + good[33:]
    assert (png.decode(buf) == img).all()


def test_fuzz_roundtrip_shapes():
    rng = np.random.default_rng(42)
    for _ in range(25):
        h = int(rng.integers(1, 40))
        w = int(rng.integers(1, 40))
        kind = int(rng.integers(0, 5))
        il = bool(rng.integers(0, 2))
        if kind == 0:
            a = rng.integers(0, 256, (h, w), dtype=np.uint8)
        elif kind == 1:
            a = rng.integers(0, 65536, (h, w)).astype(np.uint16)
        elif kind == 2:
            a = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        elif kind == 3:
            a = rng.integers(0, 65536, (h, w, 4)).astype(np.uint16)
        else:
            a = rng.integers(0, 2, (h, w), dtype=np.uint8)
        d = 1 if kind == 4 else None
        back = png.decode(png.encode(a, depth=d, interlace=il))
        assert back.shape == a.shape and (back == a).all(), (h, w, kind, il)


def test_negative_samples_rejected():
    """Signed input must raise, never silently wrap (code-review fix)."""
    with pytest.raises(ValueError, match="negative"):
        png.encode(np.full((2, 2), -3, dtype=np.int16))
    with pytest.raises(ValueError, match="negative"):
        png.encode(np.full((2, 2, 3), -1, dtype=np.int32))


# --------------------------------------------------------------------------
# APNG
# --------------------------------------------------------------------------


def test_apng_full_canvas_roundtrip():
    rng = np.random.default_rng(9)
    frames = [rng.integers(0, 256, (20, 28, 4), dtype=np.uint8)
              for _ in range(4)]
    out, meta = png.decode_apng(png.encode_apng(frames, delays=[(1, 10)] * 4))
    assert len(out) == 4
    for o, f in zip(out, frames):
        assert (o == f).all()
    assert meta[0]["delay_num"] == 1 and meta[0]["delay_den"] == 10


def test_apng_blend_over_and_offsets():
    rng = np.random.default_rng(10)
    base = rng.integers(0, 256, (20, 28, 4), dtype=np.uint8)
    base[..., 3] = 255
    sub = rng.integers(0, 256, (6, 8, 4), dtype=np.uint8)
    sub[..., 3] = np.where(rng.integers(0, 2, (6, 8)) == 1, 255, 0)
    out, _ = png.decode_apng(png.encode_apng(
        [base, sub], offsets=[(0, 0), (5, 7)], blend=[0, 1]))
    exp = base.copy()
    reg = exp[7:13, 5:13]
    m = sub[..., 3] == 255
    reg[m] = sub[m]
    assert (out[1] == exp).all()


def test_apng_dispose_background_and_previous():
    rng = np.random.default_rng(11)
    base = rng.integers(0, 256, (20, 28, 4), dtype=np.uint8)
    base[..., 3] = 255
    f1 = rng.integers(0, 256, (4, 5, 4), dtype=np.uint8)
    f1[..., 3] = 255
    out, _ = png.decode_apng(png.encode_apng(
        [base, f1, f1], offsets=[(0, 0), (2, 3), (10, 9)],
        dispose=[0, 1, 2], blend=0))
    assert (out[1][3:7, 2:7] == f1).all()
    exp2 = base.copy()
    exp2[3:7, 2:7] = 0
    exp2[9:13, 10:15] = f1
    assert (out[2] == exp2).all()


def test_apng_errors():
    rng = np.random.default_rng(12)
    plain = png.encode(rng.integers(0, 256, (4, 4), dtype=np.uint8))
    with pytest.raises(ValueError, match="acTL"):
        png.decode_apng(plain)
    base = np.zeros((4, 4, 4), dtype=np.uint8)
    with pytest.raises(ValueError, match="canvas"):
        png.encode_apng([base, base], offsets=[(0, 0), (3, 3)])
    # frame-count mismatch in acTL
    buf = bytearray(png.encode_apng([base]))
    i = bytes(buf).find(b"acTL")
    struct.pack_into(">I", buf, i + 4, 7)
    crc = zlib.crc32(bytes(buf[i : i + 12])) & 0xFFFFFFFF
    struct.pack_into(">I", buf, i + 12, crc)
    with pytest.raises(ValueError, match="declares"):
        png.decode_apng(bytes(buf))


def test_colorkey_trns_gray_and_rgb():
    # tRNS on color types 0/2 is color-key transparency: the decoder
    # must emit an alpha channel (0 at the key, depth-max elsewhere)
    g = np.array([[5, 6], [7, 5]], dtype=np.uint8)
    buf = bytearray(png.encode(g))
    # splice a tRNS chunk (gray key = 5) before IDAT
    i = bytes(buf).find(b"IDAT") - 4
    chunk = struct.pack(">I", 2) + b"tRNS" + struct.pack(">H", 5)
    chunk += struct.pack(">I", zlib.crc32(chunk[4:]) & 0xFFFFFFFF)
    buf[i:i] = chunk
    out = png.decode(bytes(buf))
    assert out.shape == (2, 2, 2)
    assert (out[..., 0] == g).all()
    assert (out[..., 1] == np.where(g == 5, 0, 255)).all()

    rgb = np.zeros((2, 3, 3), dtype=np.uint8)
    rgb[0, 1] = (9, 8, 7)
    buf = bytearray(png.encode(rgb))
    i = bytes(buf).find(b"IDAT") - 4
    chunk = struct.pack(">I", 6) + b"tRNS" + struct.pack(">HHH", 9, 8, 7)
    chunk += struct.pack(">I", zlib.crc32(chunk[4:]) & 0xFFFFFFFF)
    buf[i:i] = chunk
    out = png.decode(bytes(buf))
    assert out.shape == (2, 3, 4)
    assert out[0, 1, 3] == 0 and out[0, 0, 3] == 255


def test_trns_validation():
    idx = np.array([[0, 1]], dtype=np.uint8)
    pal = np.array([[1, 2, 3], [4, 5, 6]], dtype=np.uint8)
    with pytest.raises(ValueError, match="exceeds palette"):
        png.encode(idx, palette=pal, trns=b"\xff\xff\xff")
    with pytest.raises(ValueError, match="palette encode"):
        png.encode(np.zeros((2, 2), dtype=np.uint8), trns=b"\x00\x00")
    # tRNS forbidden on already-alpha color types
    buf = bytearray(png.encode(np.zeros((2, 2, 4), dtype=np.uint8)))
    i = bytes(buf).find(b"IDAT") - 4
    chunk = struct.pack(">I", 2) + b"tRNS" + b"\x00\x00"
    chunk += struct.pack(">I", zlib.crc32(chunk[4:]) & 0xFFFFFFFF)
    buf[i:i] = chunk
    with pytest.raises(ValueError, match="forbidden"):
        png.decode(bytes(buf))


def test_apng_invalid_ops_raise():
    base = np.zeros((4, 4, 4), dtype=np.uint8)
    for field_off, bad, msg in ((33, 7, "blend_op"), (32, 3, "dispose_op")):
        buf = bytearray(png.encode_apng([base]))
        i = bytes(buf).find(b"fcTL") - 4
        buf[i + 8 + field_off - 8] = bad  # dispose/blend byte in fcTL payload
        crc = zlib.crc32(bytes(buf[i + 4 : i + 8 + 26])) & 0xFFFFFFFF
        struct.pack_into(">I", buf, i + 8 + 26, crc)
        with pytest.raises(ValueError, match=msg):
            png.decode_apng(bytes(buf))
