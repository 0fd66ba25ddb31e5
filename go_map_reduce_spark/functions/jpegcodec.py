"""Dependency-free JPEG (ITU-T T.81) codec — baseline and progressive.

Everything here is the public T.81 machinery, implemented fresh:
marker segments (SOI/APP0/DQT/SOF0/DHT/SOS/EOI), zigzag ordering
(generated algorithmically, not a hand-typed table), quantization,
2-D DCT/IDCT as numpy matrix products, DC differential coding,
run-length AC coding with EOB/ZRL, canonical Huffman code
construction from (BITS, HUFFVAL) per Annex C, and entropy-coded-
segment byte stuffing (0xFF -> 0xFF 0x00).

The Huffman tables are NOT the Annex K examples: the encoder emits its
own complete canonical tables (all 12 DC categories at 4 bits, all 162
AC symbols at 8 bits) and ships them in DHT — which is exactly what
forces the decoder to BUILD its tables from the bitstream the way
every real JPEG decoder must, instead of special-casing known
constants.

Scope: 8-bit grayscale (1 component) and YCbCr at the common sampling
layouts — 4:4:4, 4:2:0 (the dominant real-world layout: 16x16 MCUs of
four Y blocks + one Cb + one Cr, 2x2-averaged chroma, nearest-neighbor
upsample on decode), 4:2:2, and 4:4:0 via a generic per-component MCU
walk — in BOTH baseline sequential DCT (SOF0) and progressive DCT
(SOF2, T.81 Annex G: spectral selection + successive approximation,
DC/AC first and refinement scans, EOBRUN). Tables are keyed by their
DQT/DHT destination IDs with SOS component-spec mapping (two-table-set
layouts decode correctly). JFIF conversion matrix, per-component DC predictors,
edge-replication padding. Restart markers (DRI/RSTn) are supported in
both baseline and progressive streams — in progressive they apply per
scan with the modulo-8 sequence restarting at 0 and DC-predictor /
EOBRUN resets at each marker.
"""

from __future__ import annotations

import functools
import operator
import os
import struct

# Decompression-bomb guard: decoders run on untrusted payloads via
# multimodal.decode_image, and a tiny forged SOF can declare up to
# 65535x65535 (~34 GB of float64 per component plane). Frames whose
# declared pixel count exceeds this cap are rejected BEFORE any
# allocation (ValueError -> the caller's fallback gate engages).
# 16.7M pixels (4096x4096) covers every legitimate use of this codec
# by orders of magnitude; override via GMRS_JPEG_MAX_PIXELS.
def _max_pixels_from_env() -> int:
    # A malformed override must degrade to the default, not break
    # package import for every consumer (the parse runs at import
    # time). Nonpositive values are malformed too: a cap of 0 would
    # reject every legitimate frame, the exact failure mode this
    # guard exists to prevent.
    try:
        v = int(os.environ.get("GMRS_JPEG_MAX_PIXELS", ""))
    except ValueError:
        return 4096 * 4096
    return v if v > 0 else 4096 * 4096


JPEG_MAX_PIXELS = _max_pixels_from_env()


def _check_frame_dims(
    width: int,
    height: int,
    ncomp: int,
    payload_len: int,
    baseline: bool,
    hv: "list[tuple[int, int]] | None" = None,
) -> None:
    """Reject forged/implausible SOF dimensions before allocating.

    Two independent gates, mirroring the BMP forged-dimension guard
    (multimodal.decode_bmp): a hard pixel-count cap, and — for
    baseline only — an entropy-size plausibility floor: a sequential
    interleaved scan decodes every MCU block with at least two Huffman
    symbols (DC category + first AC symbol/EOB), i.e. >= 2 bits per
    block, so declared blocks needing more bits than the WHOLE payload
    holds cannot be real. The block count uses the ACTUAL per-component
    sampling factors (a 4:2:0 frame has half the blocks of the
    full-resolution count — overcounting would false-reject legal
    minimal-Huffman streams). (Progressive gets no block floor: one
    EOBRUN symbol can cover thousands of blocks.)"""
    if width <= 0 or height <= 0:
        raise ValueError(f"invalid JPEG dimensions {width}x{height}")
    if width * height > JPEG_MAX_PIXELS:
        raise ValueError(
            f"declared JPEG frame {width}x{height} exceeds "
            f"JPEG_MAX_PIXELS={JPEG_MAX_PIXELS}"
        )
    if baseline:
        if hv:
            hmax = max(h for h, _ in hv)
            vmax = max(v for _, v in hv)
            mcus = (-(-width // (8 * hmax))) * (-(-height // (8 * vmax)))
            blocks = mcus * sum(h * v for h, v in hv)
        else:
            blocks = (-(-width // 8)) * (-(-height // 8)) * ncomp
        if 2 * blocks > 8 * payload_len:
            raise ValueError(
                f"declared block count {blocks} implausible for a "
                f"{payload_len}-byte payload"
            )

# --------------------------------------------------------------------------
# zigzag order (generated, 64 entries: zigzag index -> (row, col))
# --------------------------------------------------------------------------


def _zigzag_order() -> list[tuple[int, int]]:
    order = []
    r = c = 0
    for _ in range(64):
        order.append((r, c))
        if (r + c) % 2 == 0:  # moving up-right
            if c == 7:
                r += 1
            elif r == 0:
                c += 1
            else:
                r -= 1
                c += 1
        else:  # moving down-left
            if r == 7:
                c += 1
            elif c == 0:
                r += 1
            else:
                r += 1
                c -= 1
    return order


ZIGZAG = _zigzag_order()
# Flat row-major index of each zigzag position (and its inverse), for
# vectorized gather/scatter instead of 64-iteration Python loops.
_ZZ_FLAT = [r * 8 + c for (r, c) in ZIGZAG]
_ZZ_INV = [0] * 64
for _i, _p in enumerate(_ZZ_FLAT):
    _ZZ_INV[_p] = _i
del _i, _p

# --------------------------------------------------------------------------
# Huffman tables: complete canonical specs shipped via DHT
# --------------------------------------------------------------------------

# DC: 12 category symbols (0..11), every code 4 bits long.
DC_BITS = [0, 0, 0, 12] + [0] * 12
DC_VALS = list(range(12))

# AC: the 162 baseline symbols — EOB (0x00), ZRL (0xF0) and
# (run 0..15, size 1..10) — every code 8 bits long.
AC_VALS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]
AC_BITS = [0] * 7 + [len(AC_VALS)] + [0] * 8

# Progressive AC table: baseline symbols PLUS the EOBn run-length
# symbols ((r<<4)|0 for r=1..14) that only exist in progressive scans
# (T.81 G.1.2.2 — EOBRUN lengths 2..32767). 176 symbols, all 8 bits.
AC_VALS_PROG = AC_VALS + [(r << 4) for r in range(1, 15)]
AC_BITS_PROG = [0] * 7 + [len(AC_VALS_PROG)] + [0] * 8

# Chroma table set (destination 1) for the two-table-set layout real
# camera JPEGs use: same canonical lengths, DELIBERATELY different
# symbol ordering, so a decoder that ignores the SOS/DQT destination
# IDs (last-defined-table-wins) decodes garbage instead of silently
# passing — this is what pins the table-keying behavior.
DC_VALS_CHROMA = list(reversed(DC_VALS))
AC_VALS_CHROMA = list(reversed(AC_VALS))


def build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Annex-C canonical construction: symbol -> (code, length).
    Memoized on the (immutable view of the) table spec — encoders used
    to rebuild the dict once per 8x8 block, which dominated encode
    time; the construction itself is unchanged."""
    return dict(_build_codes_cached(tuple(bits), tuple(vals)))


@functools.lru_cache(maxsize=64)
def _build_codes_cached(
    bits: tuple[int, ...], vals: tuple[int, ...]
) -> tuple[tuple[int, tuple[int, int]], ...]:
    codes: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return tuple(codes.items())


class _DecodeMap(dict):
    """(length, code) -> symbol map that also carries the sorted set of
    code lengths present, so the bit-serial reader can extend its probe
    by several bits at a time instead of one."""

    __slots__ = ("lengths",)

    def __init__(self, items):
        super().__init__(items)
        self.lengths = tuple(sorted({length for (length, _) in self}))


def build_decode_map(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, for bit-serial decoding."""
    return _DecodeMap(
        ((length, code), sym)
        for sym, (code, length) in build_codes(bits, vals).items()
    )


# --------------------------------------------------------------------------
# bit IO with entropy-segment byte stuffing
# --------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        # Chunked form of the bit-by-bit append: same bit order, same
        # byte-stuffing, ~8x fewer Python operations per code.
        acc = (self._acc << length) | (code & ((1 << length) - 1))
        n = self._n + length
        out = self.out
        while n >= 8:
            n -= 8
            b = (acc >> n) & 0xFF
            out.append(b)
            if b == 0xFF:
                out.append(0x00)  # byte stuffing
        self._acc = acc & ((1 << n) - 1)
        self._n = n

    def flush(self) -> None:
        while self._n:  # pad with 1-bits per T.81 F.1.2.3
            self.write(1, 1)


class _BitReader:
    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def read_bit(self) -> int:
        if self._n == 0:
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos]
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    raise ValueError("marker inside entropy-coded segment")
            self._acc = b
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def read_bits(self, n: int) -> int:
        # Chunked extraction from the one-byte buffer: identical byte
        # consumption order (bytes are pulled only when a requested bit
        # needs them), so marker/truncation errors fire at exactly the
        # same stream positions as the bit-by-bit form.
        v = 0
        while n:
            if self._n == 0:
                b = self.data[self.pos]
                self.pos += 1
                if b == 0xFF:
                    nxt = self.data[self.pos]
                    if nxt == 0x00:
                        self.pos += 1  # stuffed byte
                    else:
                        raise ValueError(
                            "marker inside entropy-coded segment"
                        )
                self._acc = b
                self._n = 8
            take = n if n < self._n else self._n
            self._n -= take
            v = (v << take) | ((self._acc >> self._n) & ((1 << take) - 1))
            n -= take
        return v

    def read_symbol(self, table: dict[tuple[int, int], int]) -> int:
        # Probe only the code lengths the table actually contains
        # (carried by _DecodeMap; this package's canonical tables are
        # uniform-length, so one chunked read + one dict lookup replaces
        # per-bit probing). Tables built elsewhere fall back to probing
        # every length, which is the original behavior.
        lengths = getattr(table, "lengths", None) or range(1, 17)
        code, length = 0, 0
        for target in lengths:
            if target > 16:
                break
            code = (code << (target - length)) | self.read_bits(
                target - length
            )
            length = target
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in scan")

    def expect_restart(self, n: int) -> None:
        """Byte-align and consume the RSTn marker (T.81 E.1.4: restart
        markers sit on byte boundaries between entropy-coded
        segments); verifies the modulo-8 sequence number."""
        self._n = 0  # discard padding bits of the finished segment
        if self.data[self.pos] != 0xFF or self.data[self.pos + 1] != (
            0xD0 | (n % 8)
        ):
            raise ValueError(
                f"expected RST{n % 8} at offset {self.pos}, found "
                f"{self.data[self.pos:self.pos + 2].hex()}"
            )
        self.pos += 2


def _parse_dqt(data: bytes, quant: dict) -> None:
    """Parse one DQT segment payload into ``quant`` keyed by Tq — a
    segment may carry several tables back to back (shared by the
    baseline and progressive decoders)."""
    at = 0
    while at < len(data):
        pq_tq = data[at]
        if pq_tq & 0xF0:
            raise ValueError("16-bit quant tables unsupported")
        zz_q = list(data[at + 1 : at + 65])
        if len(zz_q) < 64:
            raise ValueError("truncated DQT table")
        tbl = [0] * 64
        for i, (r, c) in enumerate(ZIGZAG):
            tbl[r * 8 + c] = zz_q[i]
        quant[pq_tq & 0x0F] = tbl
        at += 65


def _parse_dht(data: bytes, dc_maps: dict, ac_maps: dict) -> None:
    """Parse one DHT segment payload into the (Tc, Th)-keyed decode
    maps — may carry several tables (shared by both decoders)."""
    at = 0
    while at < len(data):
        tc_th = data[at]
        bits = list(data[at + 1 : at + 17])
        n = sum(bits)
        vals = list(data[at + 17 : at + 17 + n])
        if len(bits) < 16 or len(vals) < n:
            raise ValueError("truncated DHT table")
        table = build_decode_map(bits, vals)
        (dc_maps if tc_th >> 4 == 0 else ac_maps)[tc_th & 0x0F] = table
        at += 17 + n


# The component layouts both decoders accept: grayscale, and YCbCr
# with the common luma sampling factors (chroma always 1x1). The
# generic MCU walk handles any of these; anything else raises
# ValueError so decode_image's fallback gate engages.
_SUPPORTED_SAMPLING = (
    (0x11,),
    (0x11, 0x11, 0x11),  # 4:4:4
    (0x22, 0x11, 0x11),  # 4:2:0
    (0x21, 0x11, 0x11),  # 4:2:2 (horizontal-only chroma subsampling)
    (0x12, 0x11, 0x11),  # 4:4:0 (vertical-only)
)


def _category(v: int) -> int:
    s = 0
    a = abs(v)
    while a:
        a >>= 1
        s += 1
    return s


# --------------------------------------------------------------------------
# encoder
# --------------------------------------------------------------------------


def _dct_matrix():
    import math

    import numpy as np

    m = np.zeros((8, 8))
    for u in range(8):
        cu = (1 / math.sqrt(2)) if u == 0 else 1.0
        for x in range(8):
            m[u, x] = 0.5 * cu * math.cos((2 * x + 1) * u * math.pi / 16)
    return m


# A quantized coefficient this close to a .5 tie rounds by the last bits
# of the float DCT, and those depend on the BLAS kernel's summation
# order; _quantize decides such ties on the exact value instead.
_TIE_EPS = 1e-9


def _pow2_ints(values):
    """Float64 ``values`` as Python ints over one power-of-two
    denominator: returns ``(n, k)`` with ``values[i] == n[i] / 2**k``
    exactly."""
    ratios = [float(x).as_integer_ratio() for x in values]
    k = max(d.bit_length() - 1 for _, d in ratios)
    return [num << (k - d.bit_length() + 1) for num, d in ratios], k


@functools.lru_cache(maxsize=4)
def _dct_basis_ints(m_bytes: bytes):
    """The DCT basis ``m[u, x] * m[v, y]`` of the 8x8 matrix in
    ``m_bytes`` as exact ints: ``(basis, k)``, ``basis[u * 8 + v]`` the
    64 products over (x, y) scaled by ``2**k``."""
    import numpy as np

    mi, km = _pow2_ints(np.frombuffer(m_bytes, dtype=np.float64))
    basis = [
        [mi[u * 8 + x] * mi[v * 8 + y] for x in range(8) for y in range(8)]
        for u in range(8)
        for v in range(8)
    ]
    return basis, 2 * km


def _quantize(coef, centered, q, m):
    """``rint(coef / q)`` as int64, where ``coef`` is the float
    ``m @ centered @ m.T`` over [..., 8, 8] blocks and ``q`` the 8x8
    quant table. A quotient within ``_TIE_EPS`` of a half-integer is
    recomputed exactly over the float64 inputs and rounded half to
    even, so the ints do not depend on the order in which ``coef`` was
    summed."""
    from fractions import Fraction

    import numpy as np

    ratio = coef / q
    qc = np.rint(ratio)
    near = np.abs(ratio - np.floor(ratio) - 0.5) < _TIE_EPS
    if near.any():
        basis, kb = _dct_basis_ints(np.ascontiguousarray(m, dtype=np.float64).tobytes())
        for idx in zip(*np.nonzero(near)):
            u, v = idx[-2:]
            cn, kc = _pow2_ints(centered[idx[:-2]].ravel().tolist())
            exact = sum(map(operator.mul, basis[u * 8 + v], cn))
            qc[idx] = round(Fraction(exact, 1 << (kb + kc)) / Fraction(float(q[u, v])))
    return qc.astype(np.int64)


def _encode_block(
    w: "_BitWriter", block, q, m, prev_dc: int, dc_codes=None, ac_codes=None
) -> int:
    """Forward-DCT, quantize, and entropy-encode one 8x8 block (DC
    differential against ``prev_dc``); returns the new DC predictor.
    ``dc_codes``/``ac_codes`` select the Huffman table set (default:
    the shared table-0 spec)."""
    centered = block - 128.0
    qc = _quantize(m @ centered @ m.T, centered, q, m)
    return _encode_zz(w, qc.ravel()[_ZZ_FLAT].tolist(), prev_dc,
                      dc_codes, ac_codes)


def _encode_zz(
    w: "_BitWriter", zz, prev_dc: int, dc_codes=None, ac_codes=None
) -> int:
    """Entropy-encode one already-quantized zigzag block (the tail of
    ``_encode_block``, split out so encoders can batch the DCT/quantize
    across every block of a plane and call this per block)."""
    dc_codes = dc_codes or build_codes(DC_BITS, DC_VALS)
    ac_codes = ac_codes or build_codes(AC_BITS, AC_VALS)
    diff = zz[0] - prev_dc
    s = _category(diff)
    code, length = dc_codes[s]
    w.write(code, length)
    if s:
        w.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    k, run = 1, 0
    while k < 64:
        v = zz[k]
        if v == 0:
            run += 1
        else:
            while run > 15:
                zc, zl = ac_codes[0xF0]  # ZRL
                w.write(zc, zl)
                run -= 16
            s = _category(v)
            code, length = ac_codes[(run << 4) | s]
            w.write(code, length)
            w.write(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        k += 1
    if run:
        ec, el = ac_codes[0x00]  # EOB
        w.write(ec, el)
    return zz[0]


def encode_jpeg_gray(
    width: int,
    height: int,
    pixels: bytes,
    quant: list[int] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Encode 8-bit grayscale pixels (row-major, ``width*height`` bytes)
    as a baseline JFIF stream. ``quant`` is the 64-entry quantization
    table in natural (row-major) order; default all-ones (maximum
    fidelity — constant blocks round-trip exactly).
    ``restart_interval`` > 0 emits a DRI segment and byte-aligned RSTn
    markers every that-many MCUs (T.81 E.1.4 — the error-resilience
    feature most camera JPEGs carry), resetting the DC predictor at
    each restart."""
    import numpy as np

    quant = quant or [1] * 64
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    # pad to 8x8 multiples by edge replication
    ph, pw = -(-height // 8) * 8, -(-width // 8) * 8
    img = np.pad(img, ((0, ph - height), (0, pw - width)), mode="edge")
    m = _dct_matrix()
    q = np.array(quant, dtype=np.float64).reshape(8, 8)

    zzs = _quantized_coefs(img.astype(np.float64), q, m)
    dc_codes = build_codes(DC_BITS, DC_VALS)
    ac_codes = build_codes(AC_BITS, AC_VALS)
    w = _BitWriter()
    prev_dc = 0
    mcu = rst = 0
    for by in range(ph // 8):
        for bx in range(pw // 8):
            if restart_interval and mcu and mcu % restart_interval == 0:
                w.flush()  # byte-align the finished entropy segment
                w.out += bytes([0xFF, 0xD0 | (rst % 8)])
                rst += 1
                prev_dc = 0  # predictors reset at every restart
            prev_dc = _encode_zz(
                w, zzs[by, bx].tolist(), prev_dc, dc_codes, ac_codes
            )
            mcu += 1
    w.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    zz_quant = bytes(quant[r * 8 + c] for (r, c) in ZIGZAG)
    out = b"\xff\xd8"  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))  # DRI
    out += seg(0xFFDB, b"\x00" + zz_quant)  # DQT, table 0, 8-bit
    out += seg(
        0xFFC0, struct.pack(">BHHB", 8, height, width, 1) + b"\x01\x11\x00"
    )  # SOF0: 1 component, no subsampling
    out += seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))  # DHT DC 0
    out += seg(0xFFC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))  # DHT AC 0
    out += seg(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")  # SOS
    out += bytes(w.out)
    out += b"\xff\xd9"  # EOI
    return out


# --------------------------------------------------------------------------
# decoder
# --------------------------------------------------------------------------


def _decode_block(r: _BitReader, dc_map, ac_map, prev_dc: int):
    """Entropy-decode one 8x8 block: returns (zigzag coeffs, new DC)."""
    zz = [0] * 64
    s = r.read_symbol(dc_map)
    diff = r.read_bits(s) if s else 0
    if s and diff < (1 << (s - 1)):
        diff -= (1 << s) - 1  # extend negative
    prev_dc += diff
    zz[0] = prev_dc
    k = 1
    while k < 64:
        rs = r.read_symbol(ac_map)
        if rs == 0x00:  # EOB
            break
        if rs == 0xF0:  # ZRL
            k += 16
            continue
        k += rs >> 4
        size = rs & 0x0F
        if k > 63:
            raise ValueError("AC run overflows block")
        v = r.read_bits(size)
        if v < (1 << (size - 1)):
            v -= (1 << size) - 1
        zz[k] = v
        k += 1
    return zz, prev_dc


def _block_pixels(zz, q, m):
    """Dequantize + dezigzag + IDCT + level shift -> 8x8 float block."""
    import numpy as np

    coef = np.asarray(zz, dtype=np.float64)[_ZZ_INV].reshape(8, 8)
    return m.T @ (coef * q) @ m + 128.0


def decode_jpeg(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode a baseline JPEG (grayscale, or YCbCr 4:4:4 interleaved):
    marker walk, DQT/DHT table builds keyed by their destination IDs
    (Tq for quant, (Tc, Th) for Huffman — multi-table DQT/DHT segments
    loop their payloads), SOS component-spec parsing so each scan
    component uses the Td/Ta tables it names and the Tq table its SOF
    entry names, Huffman entropy decode with per-component DC
    prediction, dequantize, dezigzag, IDCT, level shift, color
    conversion for 3 components, clamp, crop. Malformed streams
    (truncated segments, truncated entropy data) raise ValueError.
    Returns (width, height, bits-per-pixel [8|24], row-major bytes)."""
    try:
        return _decode_jpeg_impl(payload)
    except (IndexError, struct.error) as ex:
        # truncated entropy stream / truncated marker segment — normalize
        # so callers (multimodal.decode_image) need only catch ValueError
        raise ValueError(f"malformed JPEG stream: {ex!r}") from ex


def _decode_jpeg_impl(payload: bytes) -> tuple[int, int, int, bytes]:
    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    quant: dict[int, list[int]] = {}  # Tq -> natural-order table
    width = height = ncomp = None
    comp_tq: list[int] = []  # SOF: per-component quant destination
    comp_ids: list[int] = []  # SOF: component identifiers
    dc_maps: dict[int, dict] = {}  # Th -> decode map
    ac_maps: dict[int, dict] = {}
    scan_spec: list[tuple[int, int, int]] = []  # (comp idx, Td, Ta)
    scan_at = None
    dri = 0  # restart interval in MCUs (0 = no restarts)
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (length,) = struct.unpack_from(">H", payload, pos + 2)
        data = payload[pos + 4 : pos + 2 + length]
        if marker == 0xDB:  # DQT — payload is a sequence of (PqTq, table)
            _parse_dqt(data, quant)
        elif marker == 0xC0:  # SOF0 baseline
            precision, height, width, ncomp = struct.unpack_from(">BHHB", data, 0)
            if precision != 8 or ncomp not in (1, 3):
                raise ValueError("only 8-bit 1- or 3-component baseline supported")
            # component specs follow: (id, H/V, Tq) triples from data[6]
            comp_ids = [data[6 + 3 * ci] for ci in range(ncomp)]
            samp = tuple(data[7 + 3 * ci] for ci in range(ncomp))
            comp_tq = [data[8 + 3 * ci] for ci in range(ncomp)]
            if samp not in _SUPPORTED_SAMPLING:
                raise ValueError(
                    f"unsupported sampling layout {samp} "
                    "(gray / 4:4:4 / 4:2:0 / 4:2:2 / 4:4:0 only)"
                )
            # guard AFTER the layout check: supported layouts guarantee
            # h, v >= 1, so the MCU arithmetic can't divide by a forged
            # zero sampling factor
            _check_frame_dims(
                width, height, ncomp, len(payload), baseline=True,
                hv=[(b >> 4, b & 0x0F) for b in samp],
            )
        elif marker == 0xC2:  # SOF2 — progressive DCT
            return _decode_progressive(payload)
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError("non-baseline JPEG frame unsupported")
        elif marker == 0xC4:  # DHT (may carry several tables)
            _parse_dht(data, dc_maps, ac_maps)
        elif marker == 0xDD:  # DRI
            (dri,) = struct.unpack_from(">H", data, 0)
        elif marker == 0xDA:  # SOS — parse component -> table mappings
            if ncomp is None:
                raise ValueError("SOS before SOF")
            ns = data[0]
            if ns != ncomp:
                raise ValueError(
                    "baseline decoder requires a single interleaved scan"
                )
            for si in range(ns):
                cs, td_ta = data[1 + 2 * si], data[2 + 2 * si]
                if cs not in comp_ids:
                    raise ValueError(f"SOS names unknown component {cs}")
                scan_spec.append((comp_ids.index(cs), td_ta >> 4, td_ta & 0x0F))
            if [s[0] for s in scan_spec] != list(range(ncomp)):
                raise ValueError("scan component order must match SOF order")
            scan_at = pos + 2 + length
            break
        pos += 2 + length
    if width is None or scan_at is None or not quant:
        raise ValueError("JPEG stream missing required segments")
    # resolve each component's tables up front; a missing destination is
    # a malformed (or unsupported-layout) stream -> ValueError, which
    # lets multimodal.decode_image's fallback gate engage
    try:
        comp_q = [
            np.array(quant[comp_tq[ci]], dtype=np.float64).reshape(8, 8)
            for ci in range(ncomp)
        ]
        comp_dc = [dc_maps[td] for (_, td, _) in scan_spec]
        comp_ac = [ac_maps[ta] for (_, _, ta) in scan_spec]
    except KeyError as ex:
        raise ValueError(f"scan references undefined table {ex}") from ex

    m = _dct_matrix()
    r = _BitReader(payload, scan_at)
    prev_dc = [0] * ncomp
    mcu = rst = 0

    def _maybe_restart():
        nonlocal mcu, rst
        if dri and mcu and mcu % dri == 0:
            r.expect_restart(rst)
            rst += 1
            for ci in range(ncomp):
                prev_dc[ci] = 0
        mcu += 1

    # Generic interleaved MCU walk over per-component (H, V) sampling
    # factors — one loop covers gray, 4:4:4, 4:2:0, 4:2:2, and 4:4:0
    # (block order within the MCU is component-major, raster within
    # each component, per T.81 A.2.3). Sub-sampled planes are
    # nearest-neighbor upsampled back to luma resolution afterwards.
    hv = [(b >> 4, b & 0x0F) for b in samp]
    hmax = max(h for h, _ in hv)
    vmax = max(v for _, v in hv)
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))
    # Entropy-decode every block first (inherently bit-serial), then
    # dequantize+IDCT all blocks of each component in ONE batched
    # matmul pair — bitwise identical to the former per-block
    # _block_pixels calls (same 8x8 GEMM per slice), far fewer Python
    # operations.
    comp_zz: list[list] = [[] for _ in range(ncomp)]
    comp_pos: list[list] = [[] for _ in range(ncomp)]
    for my in range(mcus_y):
        for mx in range(mcus_x):
            _maybe_restart()
            for ci, (h, v) in enumerate(hv):
                for dy in range(v):
                    for dx in range(h):
                        zz, prev_dc[ci] = _decode_block(
                            r, comp_dc[ci], comp_ac[ci], prev_dc[ci]
                        )
                        comp_zz[ci].append(zz)
                        comp_pos[ci].append((my * v + dy, mx * h + dx))
    planes = []
    for ci, (h, v) in enumerate(hv):
        bh, bw = mcus_y * v, mcus_x * h
        coef = np.asarray(comp_zz[ci], dtype=np.float64)[:, _ZZ_INV]
        pix = (
            m.T @ (coef.reshape(-1, 8, 8) * comp_q[ci]) @ m + 128.0
        )
        blocks = np.zeros((bh, bw, 8, 8), dtype=np.float64)
        pos = np.asarray(comp_pos[ci], dtype=np.int64)
        blocks[pos[:, 0], pos[:, 1]] = pix
        planes.append(
            blocks.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        )
    planes = [
        np.repeat(np.repeat(p, vmax // v, axis=0), hmax // h, axis=1)
        if (h, v) != (hmax, vmax)
        else p
        for p, (h, v) in zip(planes, hv)
    ]
    if ncomp == 1:
        out = np.clip(np.rint(planes[0][:height, :width]), 0, 255).astype(np.uint8)
        return width, height, 8, out.tobytes()
    y = planes[0][:height, :width]
    cb = planes[1][:height, :width] - 128.0
    cr = planes[2][:height, :width] - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=-1,
    )
    out = np.clip(np.rint(rgb), 0, 255).astype(np.uint8)
    return width, height, 24, out.tobytes()


def decode_jpeg_gray(payload: bytes) -> tuple[int, int, int, bytes]:
    """Single-component convenience wrapper over ``decode_jpeg``."""
    w, h, bpp, px = decode_jpeg(payload)
    if bpp != 8:
        raise ValueError("expected a grayscale JPEG")
    return w, h, bpp, px


# --------------------------------------------------------------------------
# color (YCbCr 4:4:4) encoder
# --------------------------------------------------------------------------


def encode_jpeg_color(
    width: int,
    height: int,
    rgb: bytes,
    quant: list[int] | None = None,
    chroma_quant: list[int] | None = None,
) -> bytes:
    """Encode 8-bit RGB pixels (row-major, ``width*height*3`` bytes) as
    a baseline YCbCr 4:4:4 JFIF stream: JFIF color conversion, three
    interleaved components per MCU with independent DC predictors.

    With ``chroma_quant`` omitted, one shared quant/Huffman table set
    (destination 0) serves all components. With ``chroma_quant`` given,
    the stream uses the dominant real-world two-table-set layout: one
    multi-table DQT segment carrying destinations 0 (luma) and 1
    (chroma), separate chroma Huffman tables (DC1/AC1, deliberately
    different symbol ordering), SOF Tq per component, and SOS Td/Ta
    per component — which forces the decoder to key every table by its
    destination ID (decode_jpeg parses all of these)."""
    import numpy as np

    quant = quant or [1] * 64
    img = np.frombuffer(rgb, dtype=np.uint8).reshape(height, width, 3).astype(
        np.float64
    )
    r_, g_, b_ = img[..., 0], img[..., 1], img[..., 2]
    planes = [
        0.299 * r_ + 0.587 * g_ + 0.114 * b_,  # Y
        128.0 - 0.168736 * r_ - 0.331264 * g_ + 0.5 * b_,  # Cb
        128.0 + 0.5 * r_ - 0.418688 * g_ - 0.081312 * b_,  # Cr
    ]
    ph, pw = -(-height // 8) * 8, -(-width // 8) * 8
    planes = [
        np.pad(
            np.clip(np.rint(p), 0, 255),
            ((0, ph - height), (0, pw - width)),
            mode="edge",
        )
        for p in planes
    ]
    m = _dct_matrix()
    q0 = np.array(quant, dtype=np.float64).reshape(8, 8)
    two_sets = chroma_quant is not None
    qc = np.array(chroma_quant, dtype=np.float64).reshape(8, 8) if two_sets else q0
    dc_c = build_codes(DC_BITS, DC_VALS_CHROMA) if two_sets else None
    ac_c = build_codes(AC_BITS, AC_VALS_CHROMA) if two_sets else None
    comp_q = [q0, qc, qc]
    comp_zz = [
        _quantized_coefs(planes[ci], comp_q[ci], m) for ci in range(3)
    ]
    w = _BitWriter()
    prev_dc = [0, 0, 0]
    for by in range(ph // 8):
        for bx in range(pw // 8):
            for ci in range(3):  # interleaved MCU
                prev_dc[ci] = _encode_zz(
                    w,
                    comp_zz[ci][by, bx].tolist(),
                    prev_dc[ci],
                    dc_c if ci else None,
                    ac_c if ci else None,
                )
    w.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    zz_quant = bytes(quant[r * 8 + c] for (r, c) in ZIGZAG)
    out = b"\xff\xd8"
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    if two_sets:
        zz_cq = bytes(chroma_quant[r * 8 + c] for (r, c) in ZIGZAG)
        # one DQT segment, two tables — exercises multi-table parsing
        out += seg(0xFFDB, b"\x00" + zz_quant + b"\x01" + zz_cq)
        comps = bytes([1, 0x11, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
        out += seg(0xFFC0, struct.pack(">BHHB", 8, height, width, 3) + comps)
        out += seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
        out += seg(0xFFC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))
        out += seg(0xFFC4, b"\x01" + bytes(DC_BITS) + bytes(DC_VALS_CHROMA))
        out += seg(0xFFC4, b"\x11" + bytes(AC_BITS) + bytes(AC_VALS_CHROMA))
        out += seg(0xFFDA, b"\x03\x01\x00\x02\x11\x03\x11\x00\x3f\x00")
    else:
        out += seg(0xFFDB, b"\x00" + zz_quant)
        comps = b"".join(bytes([cid, 0x11, 0x00]) for cid in (1, 2, 3))
        out += seg(0xFFC0, struct.pack(">BHHB", 8, height, width, 3) + comps)
        out += seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
        out += seg(0xFFC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))
        out += seg(0xFFDA, b"\x03\x01\x00\x02\x00\x03\x00\x00\x3f\x00")
    out += bytes(w.out)
    out += b"\xff\xd9"
    return out


# --------------------------------------------------------------------------
# 4:2:0 chroma-subsampled color encoder + MCU-aware decode support
# --------------------------------------------------------------------------


def encode_jpeg_color_420(
    width: int, height: int, rgb: bytes, quant: list[int] | None = None
) -> bytes:
    """Encode 8-bit RGB as baseline YCbCr 4:2:0 — the dominant
    real-world JPEG layout (each MCU: four Y blocks + Cb + Cr over a
    16x16 pixel area, 2x2 chroma averaging). Thin delegate to the
    generalized subsampled encoder at factors (2, 2); the byte-exact
    equivalence is pinned in tests."""
    return encode_jpeg_color_subsampled(width, height, rgb, quant, (2, 2))


def encode_jpeg_color_subsampled(
    width: int,
    height: int,
    rgb: bytes,
    quant: list[int] | None = None,
    factors: tuple[int, int] = (2, 2),
) -> bytes:
    """Encode 8-bit RGB as baseline YCbCr with luma sampling
    ``factors`` = (H, V): (2, 2) is 4:2:0, (2, 1) is 4:2:2
    (horizontal-only chroma subsampling — the common video-frame
    layout), (1, 2) is 4:4:0. Chroma planes are HxV block-mean
    subsampled before the DCT; the MCU carries H*V Y blocks + Cb + Cr
    in T.81 A.2.3 order. The generic decoder MCU walk consumes all of
    these."""
    import numpy as np

    fh, fv = factors
    if (fh, fv) not in ((2, 2), (2, 1), (1, 2)):
        raise ValueError(f"unsupported luma sampling factors {factors}")
    quant = quant or [1] * 64
    img = np.frombuffer(rgb, dtype=np.uint8).reshape(height, width, 3).astype(
        np.float64
    )
    r_, g_, b_ = img[..., 0], img[..., 1], img[..., 2]
    y = 0.299 * r_ + 0.587 * g_ + 0.114 * b_
    cb = 128.0 - 0.168736 * r_ - 0.331264 * g_ + 0.5 * b_
    cr = 128.0 + 0.5 * r_ - 0.418688 * g_ - 0.081312 * b_
    mh, mw = 8 * fv, 8 * fh  # MCU pixel dims (vertical, horizontal)
    ph, pw = -(-height // mh) * mh, -(-width // mw) * mw
    pad = lambda p: np.pad(  # noqa: E731
        p, ((0, ph - height), (0, pw - width)), mode="edge"
    )
    y = np.clip(np.rint(pad(y)), 0, 255)
    sub = lambda p: np.clip(  # noqa: E731
        np.rint(
            pad(p).reshape(ph // fv, fv, pw // fh, fh).mean(axis=(1, 3))
        ),
        0,
        255,
    )
    cb, cr = sub(cb), sub(cr)
    m = _dct_matrix()
    q = np.array(quant, dtype=np.float64).reshape(8, 8)
    zz_y = _quantized_coefs(y, q, m)
    zz_cb = _quantized_coefs(cb, q, m)
    zz_cr = _quantized_coefs(cr, q, m)
    dc_codes = build_codes(DC_BITS, DC_VALS)
    ac_codes = build_codes(AC_BITS, AC_VALS)
    w = _BitWriter()
    prev = [0, 0, 0]
    for my in range(ph // mh):
        for mx in range(pw // mw):
            for dy in range(fv):  # luma blocks, raster order within MCU
                for dx in range(fh):
                    prev[0] = _encode_zz(
                        w,
                        zz_y[my * fv + dy, mx * fh + dx].tolist(),
                        prev[0],
                        dc_codes,
                        ac_codes,
                    )
            prev[1] = _encode_zz(
                w, zz_cb[my, mx].tolist(), prev[1], dc_codes, ac_codes
            )
            prev[2] = _encode_zz(
                w, zz_cr[my, mx].tolist(), prev[2], dc_codes, ac_codes
            )
    w.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    zz_quant = bytes(quant[r * 8 + c] for (r, c) in ZIGZAG)
    out = b"\xff\xd8"
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + zz_quant)
    comps = (
        bytes([1, (fh << 4) | fv, 0x00])
        + bytes([2, 0x11, 0x00])
        + bytes([3, 0x11, 0x00])
    )
    out += seg(0xFFC0, struct.pack(">BHHB", 8, height, width, 3) + comps)
    out += seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
    out += seg(0xFFC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))
    out += seg(0xFFDA, b"\x03\x01\x00\x02\x00\x03\x00\x00\x3f\x00")
    out += bytes(w.out)
    out += b"\xff\xd9"
    return out


# --------------------------------------------------------------------------
# progressive DCT (SOF2, T.81 Annex G): decoder
# --------------------------------------------------------------------------


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: map an s-bit magnitude to its signed value."""
    if s and v < (1 << (s - 1)):
        v -= (1 << s) - 1
    return v


def _next_marker(payload: bytes, pos: int) -> int:
    """Advance past entropy-coded data to the next real marker (skips
    stuffed 0xFF00 and fill 0xFF bytes)."""
    n = len(payload)
    while pos < n - 1:
        if payload[pos] == 0xFF and payload[pos + 1] not in (0x00, 0xFF):
            return pos
        pos += 1
    raise ValueError("ran off the end of the JPEG stream looking for a marker")


def _decode_progressive(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode a progressive JPEG (SOF2): accumulate per-component
    dequantization-ready coefficient arrays across every scan — DC
    first/refinement (interleaved or single-component), AC
    first/refinement (single-component bands with EOBRUN) — then
    dequantize + IDCT once at the end. Supports the same component
    layouts as the baseline path (``_SUPPORTED_SAMPLING``) and
    per-scan restart markers."""
    import numpy as np

    pos = 2
    quant: dict[int, list[int]] = {}
    dc_maps: dict[int, dict] = {}
    ac_maps: dict[int, dict] = {}
    width = height = ncomp = None
    comp_ids: list[int] = []
    comp_hv: list[tuple[int, int]] = []
    comp_tq: list[int] = []
    coefs: list = []  # per component: int32 [bh, bw, 64] zigzag-indexed
    dims: list[tuple[int, int, int, int]] = []  # (bh_mcu, bw_mcu, bh_nat, bw_nat)
    mcus_x = mcus_y = 0
    dri = 0
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (length,) = struct.unpack_from(">H", payload, pos + 2)
        data = payload[pos + 4 : pos + 2 + length]
        if marker == 0xDB:
            _parse_dqt(data, quant)
        elif marker == 0xC4:
            _parse_dht(data, dc_maps, ac_maps)
        elif marker == 0xDD:
            (dri,) = struct.unpack_from(">H", data, 0)
        elif marker == 0xC2:  # SOF2
            precision, height, width, ncomp = struct.unpack_from(">BHHB", data, 0)
            if precision != 8 or ncomp not in (1, 3):
                raise ValueError(
                    "only 8-bit 1- or 3-component progressive supported"
                )
            _check_frame_dims(
                width, height, ncomp, len(payload), baseline=False
            )
            comp_ids = [data[6 + 3 * ci] for ci in range(ncomp)]
            hv = [data[7 + 3 * ci] for ci in range(ncomp)]
            comp_hv = [(b >> 4, b & 0x0F) for b in hv]
            comp_tq = [data[8 + 3 * ci] for ci in range(ncomp)]
            if tuple(hv) not in _SUPPORTED_SAMPLING:
                raise ValueError(
                    f"unsupported sampling layout {tuple(hv)} "
                    "(gray / 4:4:4 / 4:2:0 / 4:2:2 / 4:4:0 only)"
                )
            hmax = max(h for h, _ in comp_hv)
            vmax = max(v for _, v in comp_hv)
            mcus_x = -(-width // (8 * hmax))
            mcus_y = -(-height // (8 * vmax))
            for h, v in comp_hv:
                bw_mcu, bh_mcu = mcus_x * h, mcus_y * v
                bw_nat = -(-(-(-width * h // hmax)) // 8)
                bh_nat = -(-(-(-height * v // vmax)) // 8)
                dims.append((bh_mcu, bw_mcu, bh_nat, bw_nat))
                coefs.append(np.zeros((bh_mcu, bw_mcu, 64), dtype=np.int64))
        elif marker in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError("mixed frame types unsupported")
        elif marker == 0xDA:  # SOS — one scan of the progression
            if ncomp is None:
                raise ValueError("SOS before SOF2")
            ns = data[0]
            spec = []  # (comp index, Td, Ta)
            for si in range(ns):
                cs, td_ta = data[1 + 2 * si], data[2 + 2 * si]
                if cs not in comp_ids:
                    raise ValueError(f"SOS names unknown component {cs}")
                spec.append((comp_ids.index(cs), td_ta >> 4, td_ta & 0x0F))
            ss, se, ah_al = data[1 + 2 * ns], data[2 + 2 * ns], data[3 + 2 * ns]
            ah, al = ah_al >> 4, ah_al & 0x0F
            r = _BitReader(payload, pos + 2 + length)
            _decode_scan(
                r, coefs, dims, comp_hv, spec, ss, se, ah, al,
                dc_maps, ac_maps, mcus_x, mcus_y, dri,
            )
            pos = _next_marker(payload, r.pos)
            continue
        pos += 2 + length
    if width is None or not coefs:
        raise ValueError("progressive stream missing SOF2/scans")
    try:
        comp_q = [
            np.array(quant[comp_tq[ci]], dtype=np.float64).reshape(8, 8)
            for ci in range(ncomp)
        ]
    except KeyError as ex:
        raise ValueError(f"frame references undefined quant table {ex}") from ex
    m = _dct_matrix()
    planes = []
    for ci in range(ncomp):
        bh, bw = dims[ci][0], dims[ci][1]
        # batched dezigzag + dequantize + IDCT over the whole plane —
        # same per-slice 8x8 GEMMs as the former per-block loop
        coef = coefs[ci].astype(np.float64)[:, :, _ZZ_INV].reshape(
            bh, bw, 8, 8
        )
        blocks = m.T @ (coef * comp_q[ci]) @ m + 128.0
        plane = blocks.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        h, v = comp_hv[ci]
        hmax = max(hh for hh, _ in comp_hv)
        vmax = max(vv for _, vv in comp_hv)
        if (h, v) != (hmax, vmax):  # chroma upsample (4:2:0/4:2:2/4:4:0)
            plane = np.repeat(
                np.repeat(plane, vmax // v, axis=0), hmax // h, axis=1
            )
        planes.append(plane[:height, :width])
    if ncomp == 1:
        out = np.clip(np.rint(planes[0]), 0, 255).astype(np.uint8)
        return width, height, 8, out.tobytes()
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=-1,
    )
    out = np.clip(np.rint(rgb), 0, 255).astype(np.uint8)
    return width, height, 24, out.tobytes()


def _decode_scan(
    r, coefs, dims, comp_hv, spec, ss, se, ah, al, dc_maps, ac_maps,
    mcus_x, mcus_y, dri=0,
):
    """Decode one progressive scan into the coefficient accumulators.
    ``dri`` > 0 expects byte-aligned RSTn markers every that-many
    restart units (MCUs for an interleaved scan, blocks for a
    single-component scan — T.81 E.1.4 applied per scan, sequence
    number restarting at 0), resetting DC predictors / EOBRUN."""
    rst_n = 0

    def _restart_boundary(ui: int) -> bool:
        nonlocal rst_n
        if dri and ui and ui % dri == 0:
            r.expect_restart(rst_n)
            rst_n += 1
            return True
        return False

    units = list(_scan_units(spec, dims, comp_hv, mcus_x, mcus_y))
    if ss == 0:  # DC scan (must cover Se=0)
        if se != 0:
            raise ValueError("DC scan must have Se=0")
        if ah == 0:  # first DC scan
            try:
                maps = [dc_maps[td] for (_, td, _) in spec]
            except KeyError as ex:
                raise ValueError(f"scan references undefined table {ex}") from ex
            pred = [0] * len(spec)
            for ui, unit in enumerate(units):
                if _restart_boundary(ui):
                    pred = [0] * len(spec)
                for si, by, bx in unit:
                    s = r.read_symbol(maps[si])
                    diff = _extend(r.read_bits(s), s) if s else 0
                    pred[si] += diff
                    coefs[spec[si][0]][by, bx, 0] = pred[si] << al
        else:  # DC refinement: one raw bit per block
            for ui, unit in enumerate(units):
                _restart_boundary(ui)
                for si, by, bx in unit:
                    if r.read_bit():
                        coefs[spec[si][0]][by, bx, 0] |= 1 << al
        return
    # AC scan: exactly one component, non-interleaved
    if len(spec) != 1:
        raise ValueError("AC progressive scan must be single-component")
    ci, _td, ta = spec[0]
    try:
        ac = ac_maps[ta]
    except KeyError as ex:
        raise ValueError(f"scan references undefined table {ex}") from ex
    eobrun = 0
    if ah == 0:  # first AC scan of this band
        for ui, unit in enumerate(units):
            if _restart_boundary(ui):
                eobrun = 0  # EOB runs cannot cross a restart
            _si, by, bx = unit[0]
            if eobrun:
                eobrun -= 1
                continue
            zz = coefs[ci][by, bx]
            k = ss
            while k <= se:
                rs = r.read_symbol(ac)
                run, size = rs >> 4, rs & 0x0F
                if size == 0:
                    if run == 15:  # ZRL
                        k += 16
                        continue
                    eobrun = (1 << run) - 1
                    if run:
                        eobrun += r.read_bits(run)
                    break
                k += run
                if k > se:
                    raise ValueError("AC run overflows spectral band")
                zz[k] = _extend(r.read_bits(size), size) << al
                k += 1
    else:  # AC refinement scan
        p1, m1 = 1 << al, -1 << al
        for ui, unit in enumerate(units):
            if _restart_boundary(ui):
                eobrun = 0
            _si, by, bx = unit[0]
            zz = coefs[ci][by, bx]
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = r.read_symbol(ac)
                    run, size = rs >> 4, rs & 0x0F
                    val = 0
                    if size == 0:
                        if run < 15:
                            eobrun = 1 << run
                            if run:
                                eobrun += r.read_bits(run)
                            break
                        # run == 15: ZRL — skip 16 zero-history slots
                    else:
                        if size != 1:
                            raise ValueError(
                                "refinement scan symbol with size > 1"
                            )
                        val = p1 if r.read_bit() else m1
                    while k <= se:
                        if zz[k] != 0:
                            if r.read_bit() and (zz[k] & p1) == 0:
                                zz[k] += p1 if zz[k] > 0 else m1
                        else:
                            run -= 1
                            if run < 0:
                                break
                        k += 1
                    if val:
                        if k > se:
                            raise ValueError("refinement run overflows band")
                        zz[k] = val
                    k += 1
            if eobrun > 0:  # correction bits for the rest of the band
                while k <= se:
                    if zz[k] != 0:
                        if r.read_bit() and (zz[k] & p1) == 0:
                            zz[k] += p1 if zz[k] > 0 else m1
                    k += 1
                eobrun -= 1


def _scan_units(spec, dims, comp_hv, mcus_x, mcus_y):
    """Yield restart-countable entropy units in scan order, each a list
    of (scan-component-index, by, bx) data units: one MCU per unit for
    an interleaved scan (component-major, raster within component —
    T.81 A.2.3), one block per unit for a single-component scan in
    natural raster order over the component's un-padded block grid."""
    if len(spec) == 1:
        _bh_mcu, _bw_mcu, bh_nat, bw_nat = dims[spec[0][0]]
        for by in range(bh_nat):
            for bx in range(bw_nat):
                yield [(0, by, bx)]
        return
    for my in range(mcus_y):
        for mx in range(mcus_x):
            unit = []
            for si, (ci, _td, _ta) in enumerate(spec):
                h, v = comp_hv[ci]
                unit += [
                    (si, my * v + dy, mx * h + dx)
                    for dy in range(v)
                    for dx in range(h)
                ]
            yield unit


# --------------------------------------------------------------------------
# progressive DCT (SOF2): encoder — used to pin the decoder round-trip
# --------------------------------------------------------------------------


class _RefineWriter:
    """AC-refinement entropy writer: buffers correction bits and EOBRUN
    across blocks per T.81 G.1.2.3 (flushed before the next symbol)."""

    def __init__(self, w: _BitWriter, ac_codes) -> None:
        self.w = w
        self.ac = ac_codes
        self.eobrun = 0
        self.pending: list[int] = []

    def flush_eob(self) -> None:
        if self.eobrun:
            run = self.eobrun.bit_length() - 1
            code, length = self.ac[run << 4]
            self.w.write(code, length)
            if run:
                self.w.write(self.eobrun - (1 << run), run)
            self.eobrun = 0
        for bit in self.pending:
            self.w.write(bit, 1)
        self.pending = []

    def end_scan(self) -> None:
        self.flush_eob()


def _enc_ac_first_block(rw: "_RefineWriter", t: list, ss: int, se: int) -> None:
    """Encode one block's band for a first (Ah=0) AC scan; ``t`` holds
    the point-transformed coefficients."""
    nz = [k for k in range(ss, se + 1) if t[k]]
    if not nz:
        rw.eobrun += 1
        if rw.eobrun == 0x7FFF:
            rw.flush_eob()
        return
    rw.flush_eob()
    run = 0
    for k in range(ss, se + 1):
        v = t[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = rw.ac[0xF0]
            rw.w.write(code, length)
            run -= 16
        s = _category(v)
        code, length = rw.ac[(run << 4) | s]
        rw.w.write(code, length)
        rw.w.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if nz[-1] != se:
        rw.eobrun += 1
        if rw.eobrun == 0x7FFF:
            rw.flush_eob()


def _enc_ac_refine_block(
    rw: "_RefineWriter", zz: list, ss: int, se: int, al: int
) -> None:
    """Encode one block's band for a refinement (Ah=Al+1) AC scan:
    newly-nonzero coefficients as (run,1)+sign, history coefficients as
    buffered correction bits, trailing content as EOBRUN.

    Bit placement follows T.81 G.1.2.3 exactly: pending ZRLs are
    flushed the moment ANY nonzero coefficient is reached with more
    than 15 zero-history positions outstanding (within the EOB range),
    BEFORE the current coefficient is processed — which guarantees
    every buffered correction bit lies inside the 16-zero span of the
    ZRL (or the run of the symbol) it is emitted after, matching where
    the decoder's forward walk consumes it. Deferring the ZRL past a
    history coefficient (the pre-r05-review bug) put bits ahead of the
    symbol whose span contains them and desynchronized sparse blocks."""
    absv = [abs(zz[k]) >> al for k in range(ss, se + 1)]
    eob = -1
    for i, t in enumerate(absv):
        if t == 1:
            eob = i
    run = 0
    br: list[int] = []  # correction bits owed to the NEXT symbol
    for i, t in enumerate(absv):
        k = ss + i
        if t == 0:
            run += 1
            continue
        # any nonzero: flush pending ZRLs first (never foldable into
        # EOB once a newly-nonzero coefficient still lies ahead)
        while run > 15 and i <= eob:
            rw.flush_eob()
            code, length = rw.ac[0xF0]
            rw.w.write(code, length)
            run -= 16
            for bit in br:
                rw.w.write(bit, 1)
            br = []
        if t > 1:
            br.append(t & 1)
            continue
        # newly nonzero (t == 1)
        rw.flush_eob()
        code, length = rw.ac[(run << 4) | 1]
        rw.w.write(code, length)
        rw.w.write(1 if zz[k] > 0 else 0, 1)
        for bit in br:
            rw.w.write(bit, 1)
        br = []
        run = 0
    if run > 0 or br:
        rw.eobrun += 1
        rw.pending.extend(br)
        if rw.eobrun == 0x7FFF:
            rw.flush_eob()


def _quantized_coefs(plane, q, m):
    """Forward-DCT + quantize a padded plane into a zigzag-ordered
    int coefficient array [bh, bw, 64]."""
    import numpy as np

    bh, bw = plane.shape[0] // 8, plane.shape[1] // 8
    blocks = (
        np.asarray(plane, dtype=np.float64)
        .reshape(bh, 8, bw, 8)
        .transpose(0, 2, 1, 3)
    )
    # One batched matmul pair over all blocks: numpy dispatches the same
    # 8x8 GEMM per slice as the former per-block loop, so the float
    # results (and thus the quantized ints) are bitwise identical.
    centered = blocks - 128.0
    qc = _quantize(m @ centered @ m.T, centered, q, m)
    return qc.reshape(bh, bw, 64)[:, :, _ZZ_FLAT]


def _emit_progressive_scans(
    out: bytearray, coefs, comp_hv, comp_ids, dims, mcus_x, mcus_y,
    restart_interval: int = 0,
) -> None:
    """Append the scan script: DC first (Al=1, interleaved), DC
    refinement, then per component AC first + refinement over two
    spectral bands — which exercises spectral selection, successive
    approximation, EOBRUN, ZRL, and correction-bit buffering.
    ``restart_interval`` > 0 emits byte-aligned RSTn markers every
    that-many restart units in EVERY scan (sequence number restarting
    at 0 per scan), with DC-predictor/EOBRUN resets — the decoder's
    exact mirror. Entropy order comes from the same ``_scan_units``
    generator the decoder walks, so the two sides cannot drift."""

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    dc_codes = build_codes(DC_BITS, DC_VALS)
    ac_codes = build_codes(AC_BITS_PROG, AC_VALS_PROG)
    ncomp = len(coefs)
    all_sel = list(range(ncomp))

    def sos(comp_sel, ss, se, ah, al) -> bytes:
        body = bytes([len(comp_sel)])
        for ci in comp_sel:
            body += bytes([comp_ids[ci], 0x00])
        return seg(0xFFDA, body + bytes([ss, se, (ah << 4) | al]))

    def units_for(comp_sel):
        spec = [(ci, 0, 0) for ci in comp_sel]
        return list(_scan_units(spec, dims, comp_hv, mcus_x, mcus_y))

    class _Rst:
        """Per-scan restart emitter (modulo-8 sequence from 0)."""

        def __init__(self, w: _BitWriter, rw: "_RefineWriter" = None) -> None:
            self.w, self.rw, self.n = w, rw, 0

        def boundary(self, ui: int) -> bool:
            if restart_interval and ui and ui % restart_interval == 0:
                if self.rw is not None:
                    self.rw.flush_eob()  # EOB runs cannot cross a restart
                self.w.flush()
                self.w.out += bytes([0xFF, 0xD0 | (self.n % 8)])
                self.n += 1
                return True
            return False

    # 1) DC first, point transform Al=1, all components interleaved
    out += sos(all_sel, 0, 0, 0, 1)
    w = _BitWriter()
    rst = _Rst(w)
    pred = [0] * ncomp
    for ui, unit in enumerate(units_for(all_sel)):
        if rst.boundary(ui):
            pred = [0] * ncomp
        for si, by, bx in unit:
            t = int(coefs[all_sel[si]][by, bx, 0]) >> 1
            diff = t - pred[si]
            pred[si] = t
            s = _category(diff)
            code, length = dc_codes[s]
            w.write(code, length)
            if s:
                w.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    w.flush()
    out += bytes(w.out)
    # 2) DC refinement (Ah=1, Al=0): one raw bit per block
    out += sos(all_sel, 0, 0, 1, 0)
    w = _BitWriter()
    rst = _Rst(w)
    for ui, unit in enumerate(units_for(all_sel)):
        rst.boundary(ui)
        for si, by, bx in unit:
            w.write(int(coefs[all_sel[si]][by, bx, 0]) & 1, 1)
    w.flush()
    out += bytes(w.out)
    # 3) AC scans per component, two spectral bands each
    bands = [(1, 5), (6, 63)]
    for ci in range(ncomp):
        for ss, se in bands:
            out += sos([ci], ss, se, 0, 1)
            w = _BitWriter()
            rw = _RefineWriter(w, ac_codes)
            rst = _Rst(w, rw)
            for ui, unit in enumerate(units_for([ci])):
                rst.boundary(ui)
                _si, by, bx = unit[0]
                zz = coefs[ci][by, bx]
                t = [0] * 64
                for k in range(ss, se + 1):
                    v = int(zz[k])
                    t[k] = (abs(v) >> 1) * (1 if v >= 0 else -1)
                _enc_ac_first_block(rw, t, ss, se)
            rw.end_scan()
            w.flush()
            out += bytes(w.out)
    for ci in range(ncomp):
        for ss, se in bands:
            out += sos([ci], ss, se, 1, 0)
            w = _BitWriter()
            rw = _RefineWriter(w, ac_codes)
            rst = _Rst(w, rw)
            for ui, unit in enumerate(units_for([ci])):
                rst.boundary(ui)
                _si, by, bx = unit[0]
                _enc_ac_refine_block(
                    rw, [int(v) for v in coefs[ci][by, bx]], ss, se, 0
                )
            rw.end_scan()
            w.flush()
            out += bytes(w.out)


def encode_jpeg_progressive_gray(
    width: int,
    height: int,
    pixels: bytes,
    quant: list[int] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Encode 8-bit grayscale as a progressive (SOF2) JFIF stream using
    a 6-scan script (DC first + refinement, two AC bands first +
    refinement). With the default all-ones quant table the completed
    progression reconstructs the same coefficients as the baseline
    path, so decode matches ``encode_jpeg_gray``'s roundtrip."""
    import numpy as np

    quant = quant or [1] * 64
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    ph, pw = -(-height // 8) * 8, -(-width // 8) * 8
    img = np.pad(
        img, ((0, ph - height), (0, pw - width)), mode="edge"
    ).astype(np.float64)
    m = _dct_matrix()
    q = np.array(quant, dtype=np.float64).reshape(8, 8)
    coefs = [_quantized_coefs(img, q, m)]
    dims = [(ph // 8, pw // 8, -(-height // 8), -(-width // 8))]

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    zz_quant = bytes(quant[r * 8 + c] for (r, c) in ZIGZAG)
    out = bytearray(b"\xff\xd8")
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + zz_quant)
    out += seg(0xFFC2, struct.pack(">BHHB", 8, height, width, 1) + b"\x01\x11\x00")
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))  # DRI
    out += seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
    out += seg(0xFFC4, b"\x10" + bytes(AC_BITS_PROG) + bytes(AC_VALS_PROG))
    _emit_progressive_scans(
        out, coefs, [(1, 1)], [1], dims, pw // 8, ph // 8, restart_interval
    )
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_progressive_color(
    width: int,
    height: int,
    rgb: bytes,
    quant: list[int] | None = None,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Encode 8-bit RGB as a progressive (SOF2) YCbCr stream — 4:4:4,
    or 4:2:0 when ``subsample`` is set — with the same 2+12-scan script
    per ``_emit_progressive_scans`` (DC interleaved, AC bands per
    component)."""
    import numpy as np

    quant = quant or [1] * 64
    img = np.frombuffer(rgb, dtype=np.uint8).reshape(height, width, 3).astype(
        np.float64
    )
    r_, g_, b_ = img[..., 0], img[..., 1], img[..., 2]
    y = 0.299 * r_ + 0.587 * g_ + 0.114 * b_
    cb = 128.0 - 0.168736 * r_ - 0.331264 * g_ + 0.5 * b_
    cr = 128.0 + 0.5 * r_ - 0.418688 * g_ - 0.081312 * b_
    m = _dct_matrix()
    q = np.array(quant, dtype=np.float64).reshape(8, 8)
    if subsample:
        ph, pw = -(-height // 16) * 16, -(-width // 16) * 16
        mcus_x, mcus_y = pw // 16, ph // 16
        comp_hv = [(2, 2), (1, 1), (1, 1)]
        pad = lambda p: np.pad(  # noqa: E731
            p, ((0, ph - height), (0, pw - width)), mode="edge"
        )
        yp = np.clip(np.rint(pad(y)), 0, 255)
        sub = lambda p: np.clip(  # noqa: E731
            np.rint(
                pad(p).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            ),
            0,
            255,
        )
        planes = [yp, sub(cb), sub(cr)]
        dims = [
            (ph // 8, pw // 8, -(-height // 8), -(-width // 8)),
            (ph // 16, pw // 16, -(--(-height // 2) // 8), -(--(-width // 2) // 8)),
            (ph // 16, pw // 16, -(--(-height // 2) // 8), -(--(-width // 2) // 8)),
        ]
    else:
        ph, pw = -(-height // 8) * 8, -(-width // 8) * 8
        mcus_x, mcus_y = pw // 8, ph // 8
        comp_hv = [(1, 1)] * 3
        pad = lambda p: np.pad(  # noqa: E731
            np.clip(np.rint(p), 0, 255),
            ((0, ph - height), (0, pw - width)),
            mode="edge",
        )
        planes = [pad(y), pad(cb), pad(cr)]
        dims = [(ph // 8, pw // 8, -(-height // 8), -(-width // 8))] * 3
    coefs = [_quantized_coefs(p, q, m) for p in planes]

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    zz_quant = bytes(quant[r * 8 + c] for (r, c) in ZIGZAG)
    out = bytearray(b"\xff\xd8")
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + zz_quant)
    comps = b"".join(
        bytes([cid, (h << 4) | v, 0x00])
        for cid, (h, v) in zip((1, 2, 3), comp_hv)
    )
    out += seg(0xFFC2, struct.pack(">BHHB", 8, height, width, 3) + comps)
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))  # DRI
    out += seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
    out += seg(0xFFC4, b"\x10" + bytes(AC_BITS_PROG) + bytes(AC_VALS_PROG))
    _emit_progressive_scans(
        out, coefs, comp_hv, [1, 2, 3], dims, mcus_x, mcus_y,
        restart_interval,
    )
    out += b"\xff\xd9"
    return bytes(out)
