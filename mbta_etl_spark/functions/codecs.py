"""Real, dependency-free media codecs: PNG (stdlib zlib + numpy), WAV
PCM16 (stdlib struct + numpy), and baseline JPEG (pure numpy DCT +
Huffman, written from the public ITU-T T.81 spec).

The container has no Pillow/ffmpeg, but PNG and RIFF/WAVE are simple
enough to implement from their public specs — so the multimodal decode
path (reference parity target: opaque-binary columns with typed decode
stages) gets a REAL round-trip instead of a stub: Spark encodes synthetic
pixels/samples to genuine on-spec bytes, ships them through the binary
column, and the decode kernel parses the container format for real
(signature, header fields, zlib inflate, per-row unfiltering / PCM
frames). Correctness is oracle-checked end-to-end because the synthetic
content is an integer function of the row id, so DuckDB can compute the
expected header fields and exact integer pixel/sample sums analytically.

Scale note: these pure-Python kernels run inside Arrow-batched
``mapInPandas`` workers, so throughput scales with executors; a real
deployment swaps the per-payload ``decode_png`` body for ``PIL.Image``
(same signature, same schema) and nothing else changes.

PNG subset: 8-bit depth, color types 0 (gray), 2 (RGB), 6 (RGBA),
non-interlaced, all five filter types on decode. WAV subset: PCM16
mono/stereo little-endian. JPEG subset: 8-bit baseline sequential
(SOF0), grayscale or 3-component 4:4:4, standard Annex-K tables on
encode (decode accepts any embedded tables); progressive/12-bit/
subsampled/restart streams raise NotImplementedError naming the
feature.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """Minimal on-spec PNG writer for uint8 arrays shaped (H, W) gray,
    (H, W, 3) RGB or (H, W, 4) RGBA. Rows cycle through filter types
    None/Sub/Up so decoders must actually unfilter."""
    arr = np.ascontiguousarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    color_type = {1: 0, 3: 2, 4: 6}[c]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = bytearray()
    prev = np.zeros(w * c, dtype=np.uint8)
    for r in range(h):
        row = arr[r].reshape(-1)
        ftype = r % 3
        if ftype == 0:
            filt = row
        elif ftype == 1:  # Sub: delta vs pixel to the left
            left = np.concatenate([np.zeros(c, np.uint8), row[:-c]])
            filt = (row.astype(np.int16) - left).astype(np.uint8)
        else:  # Up: delta vs row above
            filt = (row.astype(np.int16) - prev).astype(np.uint8)
        raw.append(ftype)
        raw.extend(filt.tobytes())
        prev = row
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    """Real PNG decode: signature check, IHDR parse, IDAT inflate, and
    full unfiltering (all five filter types incl. Paeth). Returns a
    (H, W, C) uint8 array. Raises ValueError on malformed input and
    NotImplementedError on PNG features outside the supported subset
    (non-8-bit depth, interlacing, palette)."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload (bad signature)")
    pos, width = 8, None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
            if depth != 8 or interlace != 0 or color_type not in _CHANNELS:
                raise NotImplementedError(
                    f"PNG subset: depth={depth} color_type={color_type} "
                    f"interlace={interlace} unsupported"
                )
            channels = _CHANNELS[color_type]
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG IDAT length mismatch")
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int16)
    c = channels
    for r in range(height):
        ftype = raw[r * (stride + 1)]
        line = np.frombuffer(
            raw, np.uint8, stride, r * (stride + 1) + 1
        ).astype(np.int16)
        if ftype == 0:
            cur = line
        elif ftype == 2:  # Up — vectorized
            cur = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub/Average/Paeth — left-sequential
            cur = np.zeros(stride, dtype=np.int16)
            for i in range(stride):
                a = cur[i - c] if i >= c else 0
                b = prev[i]
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                else:
                    cc = prev[i - c] if i >= c else 0
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else cc)
                cur[i] = (line[i] + pred) & 0xFF
        else:
            raise ValueError(f"PNG bad filter type {ftype}")
        out[r] = cur.astype(np.uint8)
        prev = cur
    return out.reshape(height, width, channels)


def encode_wav_pcm16(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """Minimal on-spec RIFF/WAVE writer: PCM16 little-endian. ``samples``
    is int16 shaped (N,) mono or (N, 2) stereo."""
    arr = np.ascontiguousarray(samples, dtype="<i2")
    n_ch = 1 if arr.ndim == 1 else arr.shape[1]
    payload = arr.tobytes()
    byte_rate = sample_rate * n_ch * 2
    fmt = struct.pack(
        "<HHIIHH", 1, n_ch, sample_rate, byte_rate, n_ch * 2, 16
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(payload)) + payload
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav_pcm16(data: bytes) -> tuple[int, np.ndarray]:
    """Real RIFF/WAVE parse: chunk walk, fmt validation (PCM16 only),
    frame deinterleave. Returns (sample_rate, samples[(N,) or (N, ch)])."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    rate = n_ch = None
    pcm = None
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + length]
        pos += 8 + length + (length & 1)  # chunks are word-aligned
        if tag == b"fmt ":
            audio_fmt, n_ch, rate, _br, _ba, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if audio_fmt != 1 or bits != 16:
                raise NotImplementedError("WAV subset: PCM16 only")
        elif tag == b"data":
            pcm = body
    if rate is None or pcm is None:
        raise ValueError("WAV missing fmt/data chunk")
    arr = np.frombuffer(pcm, dtype="<i2")
    if n_ch > 1:
        arr = arr.reshape(-1, n_ch)
    return rate, arr


# --- baseline JPEG (ITU-T T.81 / ISO 10918-1, public spec) -------------------
#
# Dependency-free baseline sequential DCT JPEG, written from the public
# standard the same way the PNG/WAV codecs above are: real markers, real
# Annex-K Huffman/quantization tables, real bit-level entropy coding with
# 0xFF byte stuffing, real 8x8 DCT/IDCT (orthonormal matrix form). Subset:
# 8-bit baseline (SOF0), 1 component (grayscale) or 3 components with no
# chroma subsampling (all sampling factors 1x1), no restart intervals.
# Progressive (SOF2), 12-bit, arithmetic coding, and subsampled chroma
# raise NotImplementedError naming the feature — the honest-boundary
# contract the multimodal tier uses throughout.

# Annex K Table K.1 — luminance quantization (zigzag-ORDERED below via
# _ZIGZAG at use time; stored here in natural row-major order).
_JPEG_QTABLE = np.array(
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

# zigzag scan order: _ZIGZAG[k] = (row, col) of the k-th coefficient
_ZIGZAG = [
    (0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2), (0, 3), (1, 2),
    (2, 1), (3, 0), (4, 0), (3, 1), (2, 2), (1, 3), (0, 4), (0, 5),
    (1, 4), (2, 3), (3, 2), (4, 1), (5, 0), (6, 0), (5, 1), (4, 2),
    (3, 3), (2, 4), (1, 5), (0, 6), (0, 7), (1, 6), (2, 5), (3, 4),
    (4, 3), (5, 2), (6, 1), (7, 0), (7, 1), (6, 2), (5, 3), (4, 4),
    (3, 5), (2, 6), (1, 7), (2, 7), (3, 6), (4, 5), (5, 4), (6, 3),
    (7, 2), (7, 3), (6, 4), (5, 5), (4, 6), (3, 7), (4, 7), (5, 6),
    (6, 5), (7, 4), (7, 5), (6, 6), (5, 7), (6, 7), (7, 6), (7, 7),
]

# Annex K Tables K.3/K.5 — standard luminance DC and AC Huffman specs:
# (BITS: #codes per length 1..16, HUFFVAL: symbols in code order)
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]
_AC_VALS = [
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


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per T.81 C.2 canonical assignment."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II basis D: F = D @ f @ D.T is exactly the
    T.81 FDCT (A.3.3) and D.T @ F @ D the IDCT."""
    d = np.zeros((8, 8))
    for u in range(8):
        cu = np.sqrt(0.5) if u == 0 else 1.0
        for x in range(8):
            d[u, x] = 0.5 * cu * np.cos((2 * x + 1) * u * np.pi / 16.0)
    return d


_DCT = _dct_matrix()


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def put(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            byte = (self._acc >> (self._n - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing (T.81 B.1.1.5)
                self.buf.append(0x00)
            self._n -= 8
            self._acc &= (1 << self._n) - 1

    def flush(self) -> None:
        if self._n:
            pad = 8 - self._n
            self.put((1 << pad) - 1, pad)  # 1-fill per spec


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _encode_block(bw, blk, prev_dc, dc_codes, ac_codes, q):
    """FDCT + quantize + Huffman-encode one level-shifted 8x8 block;
    returns the block's quantized DC (the next block's predictor)."""
    f = _DCT @ blk @ _DCT.T
    coef = np.floor(f / q + 0.5).astype(np.int64)
    zz = [int(coef[r, c]) for r, c in _ZIGZAG]
    diff = zz[0] - prev_dc
    cat = _category(diff)
    code, length = dc_codes[cat]
    bw.put(code, length)
    if cat:
        bits = diff if diff > 0 else diff + (1 << cat) - 1
        bw.put(bits, cat)
    run = 0
    for k in range(1, 64):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            zrl, zl = ac_codes[0xF0]
            bw.put(zrl, zl)
            run -= 16
        cat = _category(v)
        code, length = ac_codes[(run << 4) | cat]
        bw.put(code, length)
        bits = v if v > 0 else v + (1 << cat) - 1
        bw.put(bits, cat)
        run = 0
    if run:
        eob, el = ac_codes[0x00]
        bw.put(eob, el)
    return zz[0]


def _encode_jpeg(planes, h, w):
    """Shared baseline encoder core: ``planes`` are level-shifted float64
    (H, W) arrays (1 = grayscale, 3 = YCbCr 4:4:4), each already padded
    to 8-multiples. Interleaved MCU order (one block per component per
    MCU), independent DC predictors per component, one shared Annex-K
    table pair — the minimal legal baseline stream."""
    dc_codes = _huff_codes(_DC_BITS, _DC_VALS)
    ac_codes = _huff_codes(_AC_BITS, _AC_VALS)
    q = _JPEG_QTABLE.astype(np.float64)
    bw = _BitWriter()
    ph, pw = planes[0].shape
    prev_dc = [0] * len(planes)
    for by in range(ph // 8):
        for bx in range(pw // 8):
            for ci, plane in enumerate(planes):
                blk = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                prev_dc[ci] = _encode_block(
                    bw, blk, prev_dc[ci], dc_codes, ac_codes, q
                )
    bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    n = len(planes)
    zz_q = bytes(int(_JPEG_QTABLE[r, c]) for r, c in _ZIGZAG)
    dqt = seg(0xFFDB, b"\x00" + zz_q)
    sof_comps = b"".join(bytes([i + 1, 0x11, 0]) for i in range(n))
    sof = seg(0xFFC0, struct.pack(">BHHB", 8, h, w, n) + sof_comps)
    dht = seg(
        0xFFC4,
        b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS)
        + b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS),
    )
    app0 = seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    sos_comps = b"".join(bytes([i + 1, 0x00]) for i in range(n))
    sos = seg(0xFFDA, bytes([n]) + sos_comps + b"\x00\x3f\x00")
    return (
        b"\xff\xd8" + app0 + dqt + sof + dht + sos
        + bytes(bw.buf) + b"\xff\xd9"
    )


def _pad8(arr: np.ndarray) -> np.ndarray:
    h, w = arr.shape
    return np.pad(
        arr, ((0, -(-h // 8) * 8 - h), (0, -(-w // 8) * 8 - w)), mode="edge"
    )


def encode_jpeg_gray(pixels: np.ndarray) -> bytes:
    """Baseline grayscale JPEG writer (JFIF container): 8x8 FDCT,
    Annex-K luminance quantization, DC-difference + AC run-length
    Huffman with the standard tables. Width/height need not be
    multiples of 8 — edges replicate, per the usual encoder practice."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim != 2:
        raise ValueError("encode_jpeg_gray expects a (H, W) gray array")
    h, w = arr.shape
    plane = _pad8(arr.astype(np.float64) - 128.0)
    return _encode_jpeg([plane], h, w)


class _BitReader:
    """Entropy-segment bit reader: unstuffs 0xFF00 once, then serves
    bits from a single big-int buffer — each read is one shift+mask
    instead of per-bit Python loops (the naive reader measured ~10x
    slower on the per-image Huffman decode)."""

    def __init__(self, data: bytes) -> None:
        if b"\xff" in data.replace(b"\xff\x00", b""):
            raise ValueError("unexpected marker byte in entropy data")
        raw = data.replace(b"\xff\x00", b"\xff")
        # pad with 1-bits so peeks near the end never underflow (the
        # spec pads the final byte with 1s; EOB decoding stops us)
        self._total = len(raw) * 8
        self._buf = (
            int.from_bytes(raw, "big") << 16 | 0xFFFF if raw else 0xFFFF
        )
        self._end = self._total + 16
        self.bitpos = 0

    def peek16(self) -> int:
        return (self._buf >> (self._end - self.bitpos - 16)) & 0xFFFF

    def skip(self, n: int) -> None:
        self.bitpos += n
        if self.bitpos > self._total:
            raise ValueError("JPEG entropy stream truncated")

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        v = (self._buf >> (self._end - self.bitpos - n)) & ((1 << n) - 1)
        self.skip(n)
        return v


def _huff_lut(bits: list[int], vals: list[int]) -> list:
    """16-bit-prefix Huffman lookup table: lut[peek16] = (symbol,
    code_length). Built once per distinct table spec and cached — all
    standard-table JPEGs share two specs, so workers pay the 65536-entry
    build once, not per image."""
    key = (bytes(bits), bytes(vals))
    cached = _HUFF_LUT_CACHE.get(key)
    if cached is not None:
        return cached
    lut: list = [None] * 65536
    for sym, (code, length) in _huff_codes(bits, vals).items():
        base = code << (16 - length)
        for fill in range(1 << (16 - length)):
            lut[base | fill] = (sym, length)
    # Bounded cache: only the handful of standard (Annex-K) specs
    # benefit from reuse; a corpus of JPEGs with varied or adversarial
    # custom DHTs must not pin an unbounded set of 65536-entry lists in
    # a long-lived executor. Past the cap, return the LUT uncached —
    # correctness is identical, the build just isn't amortized.
    if len(_HUFF_LUT_CACHE) < _HUFF_LUT_CACHE_MAX:
        _HUFF_LUT_CACHE[key] = lut
    return lut


_HUFF_LUT_CACHE: dict = {}
_HUFF_LUT_CACHE_MAX = 16  # 4 Annex-K specs + headroom; ~8 MB ceiling


def _extend(v: int, cat: int) -> int:
    """T.81 F.2.2.1 EXTEND: map received bits back to the signed value."""
    if cat == 0:
        return 0
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def decode_jpeg(data: bytes):
    """Boundary wrapper: any structural failure inside the decoder
    (truncated header slice -> IndexError, undefined table id ->
    KeyError, short struct unpack) surfaces as ValueError so executor
    tasks fail with one nameable corruption error, never a raw
    IndexError (fuzz-test-pinned)."""
    try:
        return _decode_jpeg_impl(data)
    except (IndexError, KeyError, struct.error) as e:
        raise ValueError(
            f"malformed JPEG stream: {type(e).__name__}: {e}"
        ) from e


def _decode_jpeg_impl(data: bytes):
    """Real baseline JPEG decode: marker walk, DQT/DHT table build,
    Huffman entropy decode (with byte-unstuffing), dequantize, dezigzag,
    IDCT, level shift. Returns a (H, W) uint8 array for grayscale or
    (H, W, 3) for 3-component 4:4:4 (decoded to YCbCr then converted to
    RGB). Raises ValueError on malformed input, NotImplementedError on
    progressive / 12-bit / subsampled / restart-interval streams."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], list] = {}
    comps: list[tuple[int, int, int]] = []  # (id, sampling, q_id)
    h = w = None
    scan_comps: list[tuple[int, int, int]] = []  # (comp_idx, dc_id, ac_id)
    ecs_start = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
        # marker — skip them so spec-legal padded streams decode
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (length,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        body = data[pos + 4 : pos + 2 + length]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit quantization tables")
                tab = np.zeros((8, 8), dtype=np.int32)
                for k, (r, c) in enumerate(_ZIGZAG):
                    tab[r, c] = body[p + 1 + k]
                qtables[tq] = tab
                p += 65
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF{marker - 0xC0}: only baseline sequential (SOF0)"
                " is supported without an external codec"
            )
        elif marker == 0xC0:  # SOF0
            depth, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            if depth != 8:
                raise NotImplementedError("only 8-bit baseline JPEG")
            for i in range(ncomp):
                cid, samp, qid = body[6 + 3 * i : 9 + 3 * i]
                if samp != 0x11:
                    raise NotImplementedError(
                        "chroma subsampling unsupported (need 4:4:4)"
                    )
                comps.append((cid, samp, qid))
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(body):
                tc, th = body[p] >> 4, body[p] & 0xF
                bits = list(body[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(body[p + 17 : p + 17 + nv])
                huff[(tc, th)] = _huff_lut(bits, vals)
                p += 17 + nv
        elif marker == 0xDD:  # DRI
            (ri,) = struct.unpack(">H", body[:2])
            if ri != 0:
                raise NotImplementedError("restart intervals unsupported")
        elif marker == 0xDA:  # SOS
            ns = body[0]
            if ns != len(comps):
                raise NotImplementedError(
                    "non-interleaved JPEG (multiple scans) unsupported"
                )
            for i in range(ns):
                cid, tt = body[1 + 2 * i], body[2 + 2 * i]
                idx = next(
                    (j for j, (c, _, _) in enumerate(comps) if c == cid),
                    None,
                )
                if idx is None:
                    raise ValueError(
                        f"JPEG SOS references undefined component id {cid}"
                    )
                scan_comps.append((idx, tt >> 4, tt & 0xF))
            ecs_start = pos + 2 + length
            break
        pos += 2 + length
    if h is None or ecs_start is None:
        raise ValueError("JPEG missing SOF0/SOS")

    # find EOI so the bit reader never walks past the entropy segment
    end = data.rfind(b"\xff\xd9")
    br = _BitReader(data[ecs_start : end if end > ecs_start else len(data)])

    def read_sym(lut: list) -> int:
        hit = lut[br.peek16()]
        if hit is None:
            raise ValueError("invalid Huffman code in JPEG stream")
        sym, length = hit
        br.skip(length)
        return sym

    ncomp = len(comps)
    bh, bw_ = -(-h // 8), -(-w // 8)
    planes = [np.zeros((bh * 8, bw_ * 8), dtype=np.float64) for _ in comps]
    prev_dc = [0] * ncomp
    for by in range(bh):
        for bx in range(bw_):
            for ci, dc_id, ac_id in scan_comps:
                dct = huff[(0, dc_id)]
                act = huff[(1, ac_id)]
                q = qtables[comps[ci][2]]
                cat = read_sym(dct)
                diff = _extend(br.bits(cat), cat) if cat else 0
                prev_dc[ci] += diff
                zz = [0] * 64
                zz[0] = prev_dc[ci]
                k = 1
                while k < 64:
                    sym = read_sym(act)
                    if sym == 0x00:  # EOB
                        break
                    if sym == 0xF0:  # ZRL
                        k += 16
                        continue
                    run, cat = sym >> 4, sym & 0xF
                    k += run
                    if k > 63:
                        raise ValueError("JPEG AC index overflow")
                    zz[k] = _extend(br.bits(cat), cat)
                    k += 1
                coef = np.zeros((8, 8), dtype=np.float64)
                for kk, (r, c) in enumerate(_ZIGZAG):
                    coef[r, c] = zz[kk] * q[r, c]
                blk = _DCT.T @ coef @ _DCT
                planes[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = blk
    out = [
        np.clip(np.floor(p[:h, :w] + 0.5) + 128.0, 0, 255) for p in planes
    ]
    if ncomp == 1:
        return out[0].astype(np.uint8)
    if ncomp == 3:
        y, cb, cr = out[0], out[1] - 128.0, out[2] - 128.0
        r = np.clip(np.floor(y + 1.402 * cr + 0.5), 0, 255)
        g = np.clip(np.floor(y - 0.344136 * cb - 0.714136 * cr + 0.5), 0, 255)
        b = np.clip(np.floor(y + 1.772 * cb + 0.5), 0, 255)
        return np.stack([r, g, b], axis=-1).astype(np.uint8)
    raise NotImplementedError(f"JPEG with {ncomp} components")
