"""Property tests for the dependency-free PNG/WAV codecs: any array in
the supported subset must round-trip bit-exactly through real encoded
bytes (the decode path exercises zlib inflate + all emitted filter
types / RIFF chunk walk on every example)."""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from mbta_etl_spark.functions.codecs import (
    decode_png,
    decode_wav_pcm16,
    encode_png,
    encode_wav_pcm16,
)


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    c=st.sampled_from([1, 3, 4]),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_roundtrip_any_shape(h, w, c, seed):
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, (h, w, c), dtype=np.uint8)
    out = decode_png(encode_png(px if c > 1 else px[:, :, 0]))
    assert out.shape == (h, w, c)
    assert np.array_equal(out, px)


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(1, 2048),
    ch=st.sampled_from([1, 2]),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(0, 2**31 - 1),
)
def test_wav_roundtrip_any_length(n, ch, rate, seed):
    rng = np.random.default_rng(seed)
    shape = (n,) if ch == 1 else (n, ch)
    s = rng.integers(-32768, 32768, shape, dtype=np.int16)
    r, back = decode_wav_pcm16(encode_wav_pcm16(s, rate))
    assert r == rate
    assert np.array_equal(back, s)


# --- baseline JPEG ----------------------------------------------------------

from mbta_etl_spark.functions.codecs import (  # noqa: E402
    _JPEG_QTABLE,
    _encode_jpeg,
    _pad8,
    decode_jpeg,
    encode_jpeg_gray,
)


def encode_jpeg_rgb(pixels: np.ndarray) -> bytes:
    """Baseline color JPEG writer (the decoder's color-path fixture):
    RGB -> JFIF YCbCr (BT.601 full range), 4:4:4 (no subsampling — the
    subset the decoder supports), interleaved 3-component MCUs with
    independent DC predictors."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError("encode_jpeg_rgb expects a (H, W, 3) RGB array")
    h, w = arr.shape[:2]
    r = arr[:, :, 0].astype(np.float64)
    g = arr[:, :, 1].astype(np.float64)
    b = arr[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    planes = [_pad8(p - 128.0) for p in (y, cb, cr)]
    return _encode_jpeg(planes, h, w)


@settings(max_examples=30, deadline=None)
@given(
    wb=st.integers(1, 3),
    hb=st.integers(1, 3),
    seed=st.integers(0, 2**31 - 1),
)
def test_jpeg_block_constant_even_values_roundtrip_exactly(wb, hb, seed):
    """The analytic-oracle property m15 relies on: block-constant EVEN
    pixel values survive the lossy pipeline bit-exactly (DC-only blocks,
    q00 = 16 ⇒ quantized DC = (v−128)/2 integral)."""
    rng = np.random.default_rng(seed)
    img = np.zeros((hb * 8, wb * 8), dtype=np.uint8)
    for b in range(wb * hb):
        by, bx = divmod(b, wb)
        img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
            2 * int(rng.integers(0, 128))
        )
    out = decode_jpeg(encode_jpeg_gray(img))
    assert out.shape == img.shape
    assert np.array_equal(out, img)


@settings(max_examples=20, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    seed=st.integers(0, 2**31 - 1),
)
def test_jpeg_arbitrary_images_bounded_error(h, w, seed):
    """General (lossy) path: dimensions exact, reconstruction error
    bounded — random noise is JPEG's worst case; the max per-pixel error
    is bounded by the quantization table's energy (empirically < 130
    with Annex-K tables at 'quality 50')."""
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg_gray(img))
    assert out.shape == (h, w)
    err = np.abs(out.astype(int) - img.astype(int))
    assert err.max() <= 130
    assert err.mean() <= 40


def test_jpeg_smooth_images_small_error():
    """Smooth gradients (JPEG's design target) reconstruct closely."""
    x = np.arange(32)
    img = ((x[:, None] * 3 + x[None, :] * 5) % 200 // 2 + 20).astype(
        np.uint8
    )
    img = np.minimum(img + np.arange(32, dtype=np.uint8)[None, :], 255)
    out = decode_jpeg(encode_jpeg_gray(img))
    err = np.abs(out.astype(int) - img.astype(int))
    assert err.mean() < 12


def test_jpeg_rejects_unsupported_features():
    import pytest

    img = np.full((8, 8), 100, dtype=np.uint8)
    data = bytearray(encode_jpeg_gray(img))
    # flip SOF0 (0xFFC0) to SOF2 (progressive) — decoder must name it
    i = bytes(data).find(b"\xff\xc0")
    data[i + 1] = 0xC2
    with pytest.raises(NotImplementedError, match="SOF2"):
        decode_jpeg(bytes(data))
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x00\x01\x02")
    # subsampled stream: rewrite sampling factors to 2x2
    data = bytearray(encode_jpeg_gray(img))
    i = bytes(data).find(b"\xff\xc0")
    # SOF0 body: depth(1) h(2) w(2) ncomp(1) then per-component
    # id/sampling/qid — the sampling byte is body[7]
    data[i + 4 + 7] = 0x22  # component 1 sampling factors -> 2x2
    with pytest.raises(NotImplementedError, match="subsampling"):
        decode_jpeg(bytes(data))


def test_jpeg_dc_quantization_identity():
    """Pin the q00 the oracle formula is derived from: a silent change
    to the quantization table would break m15's analytic replay."""
    assert int(_JPEG_QTABLE[0, 0]) == 16
    # odd values quantize lossily ((v-128)/2 non-integral) — confirm the
    # even-value restriction is load-bearing, not incidental
    img_odd = np.full((8, 8), 101, dtype=np.uint8)
    out = decode_jpeg(encode_jpeg_gray(img_odd))
    assert not np.array_equal(out, img_odd)
    assert np.abs(out.astype(int) - 101).max() <= 1


def test_jpeg_color_roundtrip_bounded_and_solid_near_exact():
    """Color (3-component 4:4:4) path: the decoder's YCbCr->RGB branch
    gets a real producer. Solid colors survive within chroma-rounding
    (±2/channel); smooth gradients reconstruct closely."""
    solid = np.zeros((8, 8, 3), np.uint8)
    solid[:] = (120, 64, 200)
    out = decode_jpeg(encode_jpeg_rgb(solid))
    assert out.shape == (8, 8, 3)
    assert np.abs(out.astype(int) - solid.astype(int)).max() <= 2

    x = np.arange(16)
    y = np.arange(24)
    rgb = np.zeros((24, 16, 3), np.uint8)
    for c in range(3):
        rgb[:, :, c] = (
            (y[:, None] * 2 + x[None, :] * 3 + c * 40) % 160 + 40
        ).astype(np.uint8)
    out = decode_jpeg(encode_jpeg_rgb(rgb))
    err = np.abs(out.astype(int) - rgb.astype(int))
    assert err.mean() < 15


@settings(max_examples=15, deadline=None)
@example(h=4, w=19, seed=5666)  # round-7 falsifier of the old <=160 bound
@given(
    h=st.integers(1, 20),
    w=st.integers(1, 20),
    seed=st.integers(0, 2**31 - 1),
)
def test_jpeg_color_any_shape_dims_exact(h, w, seed):
    """Dims are EXACT for every (h, w); the lossy envelope is bounded
    by a margin the quantization tables support. Derivation (VERDICT r7
    item 3 — the old 160 was an empirical guess that hypothesis
    falsified at max-err 163): model each DCT coefficient's
    quantization error as uniform on [-Q/2, Q/2] (the standard
    high-resolution quantization-noise model; uniform-noise input makes
    it accurate). A pixel error is the basis-weighted sum
    e = sum_uv delta_uv * d[u,x] * d[v,y], so its variance at the worst
    (x, y) is sum_uv (Q_uv * d[u,x] * d[v,y])^2 / 12; for the B channel
    (worst color weight, e_B = e_Y + 1.772 * e_Cb with independent
    coefficient sets over Annex-K K.1 on both planes) that is
    24979/12 -> sigma ~ 45.6. The deterministic worst case
    (all 64+64 coefficients simultaneously at +/-Q/2 with aligned basis
    signs) is > 255, i.e. no uint8 max-error bound is provable, so the
    test asserts the 5-sigma envelope 228 -> 230: ~18k pixel-channel
    samples per run keep the expected exceedance << 1, garbage decodes
    (uniform-independent output) still fail it almost surely, and the
    round-7 falsifier sits comfortably inside at 3.6 sigma."""
    rng = np.random.default_rng(seed)
    rgb = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg_rgb(rgb))
    assert out.shape == (h, w, 3)
    assert np.abs(out.astype(int) - rgb.astype(int)).max() <= 230


def test_jpeg_dct_matrix_matches_textbook_definition():
    """Cross-check the matrix-form FDCT against an independent O(n^4)
    implementation of the T.81 A.3.3 definition — the only part of the
    JPEG codec with no second implementation elsewhere in the stack."""
    from mbta_etl_spark.functions.codecs import _DCT

    rng = np.random.default_rng(7)
    f = rng.uniform(-128, 127, (8, 8))
    fast = _DCT @ f @ _DCT.T
    slow = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            cu = np.sqrt(0.5) if u == 0 else 1.0
            cv = np.sqrt(0.5) if v == 0 else 1.0
            acc = 0.0
            for x in range(8):
                for y in range(8):
                    acc += (
                        f[x, y]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            slow[u, v] = 0.25 * cu * cv * acc
    assert np.abs(fast - slow).max() < 1e-9
    # and the inverse really inverts
    back = _DCT.T @ fast @ _DCT
    assert np.abs(back - f).max() < 1e-9


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), cut=st.floats(0.1, 0.95))
def test_jpeg_decoder_rejects_corruption_cleanly(seed, cut):
    """Truncation and byte flips raise ValueError/NotImplementedError —
    never hangs, never silently returns garbage dims, never IndexErrors
    (executor tasks must see clean, nameable failures)."""
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    data = bytearray(encode_jpeg_gray(img))
    # truncate
    trunc = bytes(data[: max(2, int(len(data) * cut))])
    try:
        out = decode_jpeg(trunc)
        # a long-enough prefix can still decode fully — then dims hold
        assert out.shape == (16, 16)
    except (ValueError, NotImplementedError):
        pass
    # flip one byte somewhere after the header
    pos = int(rng.integers(2, len(data)))
    flipped = bytearray(data)
    flipped[pos] ^= 0xFF
    try:
        out = decode_jpeg(bytes(flipped))
        assert out.shape[0] > 0 and out.shape[1] > 0
    except (ValueError, NotImplementedError):
        pass


def test_huff_lut_cache_bounded():
    """ADVICE r4: the Huffman LUT cache must not grow without bound when
    a corpus carries many distinct custom DHT specs — past the cap, LUTs
    are built uncached (identical contents, no retention)."""
    from mbta_etl_spark.functions import codecs

    saved = dict(codecs._HUFF_LUT_CACHE)
    codecs._HUFF_LUT_CACHE.clear()
    try:
        luts = []
        for i in range(codecs._HUFF_LUT_CACHE_MAX + 8):
            # distinct single-symbol specs: one 2-bit code, symbol i
            bits = [0, 1] + [0] * 14
            vals = [i]
            luts.append(codecs._huff_lut(bits, vals))
        assert len(codecs._HUFF_LUT_CACHE) <= codecs._HUFF_LUT_CACHE_MAX
        # uncached builds are still correct: the last spec's LUT maps a
        # prefix starting with its 2-bit code to (symbol, 2)
        sym, length = luts[-1][0]
        assert length == 2 and sym == codecs._HUFF_LUT_CACHE_MAX + 7
    finally:
        codecs._HUFF_LUT_CACHE.clear()
        codecs._HUFF_LUT_CACHE.update(saved)
