"""GIF codec: the module decoder must invert an INDEPENDENT textbook LZW
compressor (real dictionary growth, width changes, the cScSc case), and
frame composition must honor delays, transparency, and disposal."""

from __future__ import annotations

import random

import numpy as np
import pytest

from erigon_extract_spark.functions.gif import (
    GifFormatError,
    decode_gif,
    encode_gif,
    lzw_decode,
    probe_gif,
)


def _textbook_lzw_compress(indices: list[int], min_code_size: int) -> bytes:
    """Independent reference compressor: string-table LZW with dictionary
    growth and variable code width (the classic formulation — grows width
    when the NEXT code to assign would not fit the current width)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out_codes: list[tuple[int, int]] = []  # (code, width)

    table = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    out_codes.append((clear, width))
    w: tuple[int, ...] = ()
    for k in indices:
        wk = w + (k,)
        if wk in table:
            w = wk
            continue
        out_codes.append((table[w], width))
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
            if next_code - 1 == (1 << width) and width < 12:
                width += 1
        w = (k,)
    if w:
        out_codes.append((table[w], width))
    out_codes.append((eoi, width))
    # pack LSB-first
    acc = nbits = 0
    out = bytearray()
    for code, cw in out_codes:
        acc |= code << nbits
        nbits += cw
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def test_lzw_decode_inverts_independent_compressor():
    rng = random.Random(5)
    cases = [
        [0, 1, 2, 3] * 40,                      # growth + width change
        [1] * 500,                              # cScSc self-reference runs
        [rng.randrange(4) for _ in range(3000)],  # random, multiple widths
        [0],
        [3, 3, 3, 2, 2, 1, 0] * 123,
    ]
    for idx in cases:
        data = _textbook_lzw_compress(idx, 2)
        assert lzw_decode(data, 2) == idx
    # wider palette (min code size 7): exercises 8-bit+ codes
    big = [rng.randrange(128) for _ in range(5000)]
    assert lzw_decode(_textbook_lzw_compress(big, 7), 7) == big


def test_gif_round_trip_and_animation():
    pal = np.array(
        [[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8
    )
    f0 = np.zeros((4, 6), dtype=np.uint8)
    f1 = np.full((4, 6), 1, dtype=np.uint8)
    f1[0, 0] = 2
    data = encode_gif([(100, f0), (250, f1)], pal)
    w, h, frames = decode_gif(data)
    assert (w, h) == (6, 4) and len(frames) == 2
    assert frames[0][0] == 100 and frames[1][0] == 250
    assert np.array_equal(frames[0][1], pal[f0])
    assert np.array_equal(frames[1][1], pal[f1])
    pw, ph, n, dur = probe_gif(data)
    assert (pw, ph, n, dur) == (6, 4, 2, 350)


def test_gif_malformed_fails_loudly():
    pal = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
    good = encode_gif([(0, np.zeros((3, 3), dtype=np.uint8))], pal)
    with pytest.raises(GifFormatError):
        decode_gif(b"NOTGIF" + good[6:])
    with pytest.raises(GifFormatError):
        probe_gif(good[:20])
    # truncated LZW stream (cut mid-image)
    with pytest.raises(GifFormatError):
        decode_gif(good[:-6])


def test_gif_real_decode_of_textbook_compressed_image():
    """A GIF whose image data comes from the INDEPENDENT compressor (real
    dictionary growth) must decode to the same pixels — i.e. the decoder
    handles compressed streams from arbitrary conformant encoders, not
    just its own literal-code sibling."""
    import struct

    rng = np.random.default_rng(8)
    idx = rng.integers(0, 4, size=(16, 16), dtype=np.uint8)
    pal = np.array(
        [[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8
    )
    lzw = _textbook_lzw_compress([int(v) for v in idx.reshape(-1)], 2)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", 16, 16, 0x80 | 1, 0, 0)
    out += pal.tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, 16, 16, 0)
    out.append(2)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    out.append(0x3B)
    w, h, frames = decode_gif(bytes(out))
    assert np.array_equal(frames[0][1], pal[idx])


def _minimal_gif(
    *, min_code_byte: int = 2, left: int = 0, top: int = 0,
    iw: int = 3, ih: int = 3, cw: int = 3, ch: int = 3
) -> bytes:
    """Hand-built 2-color GIF for hostile-input tests: canvas (cw, ch),
    one image descriptor at (left, top) sized (iw, ih), arbitrary LZW
    minimum-code-size byte, empty LZW data sub-blocks."""
    import struct

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", cw, ch, 0x80, 0, 0)  # GCT, 2 entries
    out += bytes([0, 0, 0, 255, 255, 255])
    out += b"\x2c" + struct.pack("<HHHHB", left, top, iw, ih, 0)
    out.append(min_code_byte)
    out.append(0)  # no LZW sub-blocks
    out.append(0x3B)
    return bytes(out)


def test_lzw_code_size_bomb_rejected_before_allocation():
    """ADVICE r4 (high): a crafted min-code-size byte >= ~32 made
    lzw_decode allocate 2^n base-table tuples — an OS-level OOM that
    bypassed the max_out bomb guard. The byte must be bounds-checked
    (GIF spec: 2..8) before ANY allocation, in lzw_decode, decode_gif,
    and probe_gif (probe/decode parity)."""
    for bad in (0, 1, 9, 32, 64, 255):
        with pytest.raises(GifFormatError, match="code size"):
            lzw_decode(b"\x00", bad)
        hostile = _minimal_gif(min_code_byte=bad)
        with pytest.raises(GifFormatError, match="code size"):
            decode_gif(hostile)
        with pytest.raises(GifFormatError, match="code size"):
            probe_gif(hostile)
    # boundary values stay accepted by the codec itself
    assert lzw_decode(_textbook_lzw_compress([0, 1, 0], 2), 2) == [0, 1, 0]
    seq = list(range(256)) * 2
    assert lzw_decode(_textbook_lzw_compress(seq, 8), 8) == seq


def test_probe_rejects_region_exceeding_canvas_like_decode():
    """ADVICE r4 (low): probe_gif promised decode parity but skipped the
    image-descriptor canvas-bounds check, so probe-then-decode pruning
    could pass a GIF that decode rejects."""
    for kw in ({"left": 1, "iw": 3}, {"top": 2, "ih": 2}):
        hostile = _minimal_gif(**kw)
        with pytest.raises(GifFormatError, match="exceeds canvas"):
            decode_gif(hostile)
        with pytest.raises(GifFormatError, match="exceeds canvas"):
            probe_gif(hostile)
