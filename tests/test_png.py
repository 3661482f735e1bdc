"""Pure-numpy PNG codec: round-trips, per-filter decode against an
independent python unfilter reference, probe, and bilinear resize."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from erigon_extract_spark.functions.png import (
    PngFormatError,
    decode_png,
    encode_png,
    probe_png,
    resize_bilinear,
)


def test_round_trip_all_color_types():
    rng = np.random.default_rng(3)
    for ch in (1, 2, 3, 4):
        img = rng.integers(0, 256, size=(13, 7, ch), dtype=np.uint8)
        data = encode_png(img)
        out = decode_png(data)
        assert out.shape == img.shape
        assert np.array_equal(out, img)
        w, h, c = probe_png(data)
        assert (w, h, c) == (7, 13, ch)


def _png_with_filters(img: np.ndarray, filters: list[int]) -> bytes:
    """Hand-build a PNG whose rows use the given filter types, computing
    the filtered bytes from an independent reference implementation."""
    h, w, ch = img.shape
    stride = w * ch
    recon = img.reshape(h, stride).astype(int)
    raw = bytearray()
    for y, f in enumerate(filters):
        prev = recon[y - 1] if y else np.zeros(stride, dtype=int)
        cur = recon[y]
        raw.append(f)
        for x in range(stride):
            a = cur[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if f == 0:
                v = cur[x]
            elif f == 1:
                v = cur[x] - a
            elif f == 2:
                v = cur[x] - b
            elif f == 3:
                v = cur[x] - ((a + b) >> 1)
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                v = cur[x] - pred
            raw.append(v % 256)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, {1: 0, 2: 4, 3: 2, 4: 6}[ch], 0, 0, 0)

    def chunk(t, body):
        return (struct.pack(">I", len(body)) + t + body
                + struct.pack(">I", zlib.crc32(t + body) & 0xFFFFFFFF))

    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def test_decode_every_filter_type():
    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, size=(5, 6, 3), dtype=np.uint8)
    # one row of each filter, then repeats
    data = _png_with_filters(img, [0, 1, 2, 3, 4])
    assert np.array_equal(decode_png(data), img)
    data = _png_with_filters(img, [4, 3, 2, 1, 0])
    assert np.array_equal(decode_png(data), img)


def test_unsupported_shapes_fail_loudly():
    img = np.zeros((4, 4, 3), dtype=np.uint8)
    good = encode_png(img)
    with pytest.raises(PngFormatError):
        decode_png(b"NOTAPNG" + good)
    # 16-bit depth header
    bad = bytearray(good)
    bad[24] = 16
    with pytest.raises(PngFormatError):
        decode_png(bytes(bad))
    with pytest.raises(PngFormatError):
        probe_png(b"\x00" * 40)


def test_resize_bilinear_semantics():
    # constant image stays constant at any scale
    const = np.full((10, 17, 3), 77, dtype=np.uint8)
    out = resize_bilinear(const, 224, 96)
    assert out.shape == (96, 224, 3)
    assert np.all(out == 77)
    # 2x upscale of a 2x2 checker: corners keep source values
    img = np.array([[[0], [255]], [[255], [0]]], dtype=np.uint8)
    up = resize_bilinear(img, 4, 4)
    assert up[0, 0, 0] == 0 and up[0, 3, 0] == 255
    assert up[3, 0, 0] == 255 and up[3, 3, 0] == 0
    # identity resize is exact
    rng = np.random.default_rng(4)
    rimg = rng.integers(0, 256, size=(9, 11, 3), dtype=np.uint8)
    assert np.array_equal(resize_bilinear(rimg, 11, 9), rimg)
    # downscale averages: 2x2 blocks of a flat-blocks image
    blocks = np.kron(
        np.array([[10, 200], [200, 10]], dtype=np.uint8),
        np.ones((2, 2), dtype=np.uint8),
    )[:, :, None]
    down = resize_bilinear(blocks, 2, 2)
    assert down[0, 0, 0] == 10 and down[0, 1, 0] == 200


def test_probe_rejects_what_decode_rejects():
    import numpy as np

    good = encode_png(np.zeros((4, 4, 3), dtype=np.uint8))
    # 16-bit depth: both probe and decode must reject
    bad16 = bytearray(good)
    bad16[24] = 16
    with pytest.raises(PngFormatError):
        probe_png(bytes(bad16))
    # interlaced: both reject
    badi = bytearray(good)
    badi[28] = 1
    with pytest.raises(PngFormatError):
        probe_png(bytes(badi))
    with pytest.raises(PngFormatError):
        decode_png(bytes(badi))
    # lying IHDR length -> PngFormatError, never a raw struct.error
    lied = bytearray(good)
    lied[8:12] = (12).to_bytes(4, "big")
    with pytest.raises(PngFormatError):
        decode_png(bytes(lied))


def test_wav_truncation_and_bad_fmt_fail_loudly():
    import numpy as np

    from erigon_extract_spark.functions.wav import (
        WavFormatError,
        encode_wav,
        parse_wav,
        probe_wav,
    )

    good = encode_wav(np.ones(100, dtype=np.int16) * 1000, 8000)
    # truncated PCM: quarantine, not a silently shorter clip
    with pytest.raises(WavFormatError):
        parse_wav(good[:-50])
    with pytest.raises(WavFormatError):
        probe_wav(good[:-50])
    # channels=0 in fmt: WavFormatError, never ZeroDivisionError
    import struct as _s

    bad = bytearray(good)
    bad[22:24] = _s.pack("<H", 0)
    with pytest.raises(WavFormatError):
        parse_wav(bytes(bad))
    with pytest.raises(WavFormatError):
        probe_wav(bytes(bad))
    # the cheap probe agrees with the full parse on duration
    rate, ch, bits, dur = probe_wav(good)
    r2, c2, b2, samples = parse_wav(good)
    assert (rate, ch, bits) == (r2, c2, b2)
    assert dur == len(samples) * 1000 // r2


def test_codecs_never_raise_untyped_errors_on_fuzz():
    """Decoders facing arbitrary bytes must either succeed or raise their
    typed FormatError — a stray struct/index/numpy error would escape the
    per-row quarantine contract's documentation and surprise callers
    catching the documented type. Random garbage + bit-flipped valid
    files, all three codecs."""
    import random

    import numpy as np

    from erigon_extract_spark.functions.gif import (
        GifFormatError,
        decode_gif,
        encode_gif,
        probe_gif,
    )
    from erigon_extract_spark.functions.wav import (
        WavFormatError,
        encode_wav,
        parse_wav,
        probe_wav,
    )

    rng = random.Random(31)
    png_ok = encode_png(np.zeros((5, 7, 3), dtype=np.uint8))
    gif_ok = encode_gif(
        [(10, np.zeros((4, 4), dtype=np.uint8))],
        np.zeros((2, 3), dtype=np.uint8),
    )
    wav_ok = encode_wav(np.zeros(64, dtype=np.int16), 8000)

    def fuzz_cases(valid: bytes):
        yield bytes(rng.randrange(256) for _ in range(rng.randrange(200)))
        for _ in range(60):
            b = bytearray(valid)
            for _ in range(rng.randrange(1, 6)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            yield bytes(b)
        for cut in (1, len(valid) // 3, len(valid) - 2):
            yield valid[:cut]

    for data in fuzz_cases(png_ok):
        for fn in (decode_png, probe_png):
            try:
                fn(data)
            except PngFormatError:
                pass
    for data in fuzz_cases(gif_ok):
        for fn in (decode_gif, probe_gif):
            try:
                fn(data)
            except GifFormatError:
                pass
    for data in fuzz_cases(wav_ok):
        for fn in (parse_wav, probe_wav):
            try:
                fn(data)
            except WavFormatError:
                pass


def test_decode_caps_reject_bombs_and_probe_parity():
    import struct as _s
    import zlib as _z

    import numpy as np

    from erigon_extract_spark.functions.gif import (
        GifFormatError,
        encode_gif,
        probe_gif,
    )

    # PNG: deflate bomb — tiny declared image, huge inflating IDAT
    ihdr = _s.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0)

    def chunk(t, body):
        return (_s.pack(">I", len(body)) + t + body
                + _s.pack(">I", _z.crc32(t + body) & 0xFFFFFFFF))

    bomb_idat = _z.compress(b"\x00" * 50_000_000, 9)  # ~48 KB compressed
    bomb = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", bomb_idat) + chunk(b"IEND", b""))
    with pytest.raises(PngFormatError):
        decode_png(bomb)  # bounded inflate -> mismatch, never a 50MB alloc

    # PNG: oversized canvas rejected by probe AND decode (parity)
    big_hdr = _s.pack(">IIBBBBB", 20_000, 20_000, 8, 0, 0, 0, 0)
    big = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", big_hdr)
           + chunk(b"IDAT", _z.compress(b"")) + chunk(b"IEND", b""))
    with pytest.raises(PngFormatError):
        probe_png(big)
    with pytest.raises(PngFormatError):
        decode_png(big)

    # GIF: frame-count bomb — many frames x big canvas exceeds the cap
    pal = np.zeros((2, 3), dtype=np.uint8)
    frame = np.zeros((2_000, 2_000), dtype=np.uint8)
    many = encode_gif([(10, frame)] * 20, pal)  # 20 x 4M px > 64M cap
    with pytest.raises(GifFormatError):
        probe_gif(many)
    from erigon_extract_spark.functions.gif import decode_gif as _dg

    with pytest.raises(GifFormatError):
        _dg(many)
