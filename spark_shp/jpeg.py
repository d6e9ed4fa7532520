"""Pure-numpy baseline JPEG (JFIF) codec — VERDICT r3 item 6.

No codec library exists in this environment, so the compressed-image half
of the B11 codec family is implemented from the public ITU-T T.81 spec:

  * encoder — baseline sequential DCT, 8-bit, 4:4:4 (no subsampling) or
    4:2:0, Annex K.1/K.2 quantization tables scaled by the libjpeg
    quality formula, Annex K.3 Huffman tables, JFIF APP0 header.
  * decoder — baseline sequential: DQT/DHT/SOF0/SOS/DRI parsing, byte
    destuffing, canonical-Huffman entropy decode via a 16-bit prefix LUT,
    dequantize → dezigzag → float64 IDCT → level shift, chroma
    replication upsampling for subsampled scans, JFIF YCbCr→RGB.
    Restart markers reset the DC predictors. Grayscale scans replicate Y.

Exactness story: lossy by nature, so the oracle-gated row states the
input_hint invariant (PSNR ≥ 40 dB at the default quality 90) rather than
pixel equality; pytest pins the spec-derivable cases (a uniform block
round-trips to within quantization of its DC term, dims/padding edges,
4:2:0 vs 4:4:4 agreement, header fields).

Everything here derives from the published T.81 spec + the libjpeg
quality-scaling convention (public), not from any reference source file.
"""

from __future__ import annotations

import struct

import numpy as np

# --- ITU-T T.81 Annex K tables ----------------------------------------------

_QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int32).reshape(8, 8)

_QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int32).reshape(8, 8)

_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63],
    dtype=np.int64)
_UNZIGZAG = np.argsort(_ZIGZAG)

_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))

_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
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
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA]

_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA]

# --- shared DCT basis ---------------------------------------------------------

_u = np.arange(8)
_COS = np.cos((2.0 * _u[:, None] + 1.0) * _u[None, :] * np.pi / 16.0)
_ALPHA = np.full(8, np.sqrt(0.25))
_ALPHA[0] = np.sqrt(0.125)
_C = _COS * _ALPHA[None, :]          # C[x, u]; FDCT: F = Cᵀ·A·C


def _fdct(blocks: np.ndarray) -> np.ndarray:
    """(n, 8, 8) level-shifted samples → (n, 8, 8) DCT coefficients.
    F = Cᵀ·A·C restructured as TWO large GEMMs over the whole batch
    (one (8, 8n) and one (8n, 8)) — batched 8×8 matmuls run an order of
    magnitude below BLAS throughput."""
    n = blocks.shape[0]
    tmp = (_C.T @ blocks.transpose(1, 0, 2).reshape(8, -1))
    tmp = tmp.reshape(8, n, 8).transpose(1, 0, 2)       # [n, u, y]
    return (tmp.reshape(-1, 8) @ _C).reshape(n, 8, 8)


def _idct(coef: np.ndarray) -> np.ndarray:
    """(n, 8, 8) coefficients → (n, 8, 8) samples (pre level shift):
    A = C·F·Cᵀ, same two-GEMM restructuring as :func:`_fdct`."""
    n = coef.shape[0]
    tmp = (_C @ coef.transpose(1, 0, 2).reshape(8, -1))
    tmp = tmp.reshape(8, n, 8).transpose(1, 0, 2)       # [n, x, v]
    return (tmp.reshape(-1, 8) @ _C.T).reshape(n, 8, 8)


def quality_scale(qt: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality scaling of an Annex K table (public convention)."""
    quality = min(100, max(1, int(quality)))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    out = (qt * s + 50) // 100
    return np.clip(out, 1, 255).astype(np.int32)


# --- canonical Huffman --------------------------------------------------------

def _canonical_codes(bits, vals):
    """(code, length) per symbol in spec order."""
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


_LUT_CACHE: dict = {}


def _decode_lut(bits, vals):
    """16-bit-prefix lookup: (value LUT, length LUT, packed Python list
    of (len<<8)|sym — 0 = invalid). Memoized on the DHT table definition:
    nearly every stream carries the Annex K tables, and the 65536-entry
    tolist() export costs more than decoding a small image."""
    key = (bytes(bits), bytes(vals))
    hit = _LUT_CACHE.get(key)
    if hit is not None:
        return hit
    sym = np.zeros(1 << 16, dtype=np.int16)
    ln = np.zeros(1 << 16, dtype=np.int8)
    for v, (code, length) in _canonical_codes(bits, vals).items():
        base = code << (16 - length)
        span = 1 << (16 - length)
        sym[base:base + span] = v
        ln[base:base + span] = length
    combo = ((ln.astype(np.int32) << 8)
             | sym.astype(np.int32)).tolist()
    if len(_LUT_CACHE) >= 32:       # bound the memo (few tables in practice)
        _LUT_CACHE.clear()
    _LUT_CACHE[key] = (sym, ln, combo)
    return sym, ln, combo


# --- bit IO -------------------------------------------------------------------

class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:               # byte stuffing
                self.out.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self):
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)   # pad with 1-bits per spec


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def _fill(self):
        while self.n <= 24:
            b = self.data[self.pos] if self.pos < len(self.data) else 0xFF
            self.pos += 1
            self.acc = ((self.acc << 8) | b) & 0xFFFFFFFF
            self.n += 8

    def peek16(self) -> int:
        if self.n < 16:
            self._fill()
        return (self.acc >> (self.n - 16)) & 0xFFFF

    def skip(self, k: int):
        self.n -= k

    def take(self, k: int) -> int:
        if k == 0:
            return 0
        if self.n < k:
            self._fill()
        self.n -= k
        return (self.acc >> self.n) & ((1 << k) - 1)

    def reset(self):                    # restart-interval boundary
        self.acc = 0
        self.n = 0


def _extend(v: int, t: int) -> int:
    """T.81 EXTEND: map a t-bit magnitude to its signed value."""
    return v - (1 << t) + 1 if v < (1 << (t - 1)) else v


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


# --- encoder ------------------------------------------------------------------
#
# The entropy stage is fully VECTORIZED (VERDICT r4 item 2's encode half):
# unlike decode, every symbol is known up front, so the whole scan becomes
# numpy — category/code/magnitude per coefficient via fancy indexing, ZRL
# expansion via np.repeat, MCU interleaving via one stable lexsort of
# (block-visit-key, intra-block sequence), and bit packing via a repeat/
# cumsum scatter + np.packbits + vectorized 0xFF stuffing. Same symbol
# order, canonical codes and 1-bit flush padding per restart segment as the
# original per-symbol writer, but NOT byte-identical to it: RSTn markers
# only separate segments, so none follows the final one
# (test_no_trailing_restart_marker).


def _enc_tables(codes: dict, size: int):
    """Canonical-code dict → (code, length) fancy-index arrays."""
    v = np.zeros(size, dtype=np.uint32)
    ln = np.zeros(size, dtype=np.int64)
    for s, (c, length) in codes.items():
        v[s] = c
        ln[s] = length
    return v, ln


_ENC_DC_Y = _enc_tables(_canonical_codes(_DC_LUMA_BITS, _DC_LUMA_VALS), 12)
_ENC_AC_Y = _enc_tables(_canonical_codes(_AC_LUMA_BITS, _AC_LUMA_VALS), 256)
_ENC_DC_C = _enc_tables(_canonical_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS),
                        12)
_ENC_AC_C = _enc_tables(_canonical_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS),
                        256)


def _bitlen_vec(v: np.ndarray) -> np.ndarray:
    """T.81 category (bit length of |v|), vectorized; 0 for v == 0."""
    a = np.abs(v).astype(np.int64)
    t = np.zeros(a.shape, dtype=np.int64)
    for i in range(16):
        t += a >= (1 << i)
    return t


def _component_units(zz: np.ndarray, cb: int, base: int, nslots: int,
                     restart_mcu: int, dct, act, mcu_per_img: int):
    """One component's emission units (code/magnitude/ZRL/EOB), each as
    (value, nbits, block-visit-key, intra-block-seq, pack-segment).
    ``zz``: (n_imgs · n_blocks, 64) zigzag coefficients in per-image
    MCU-visit order; ``cb`` blocks per MCU for this component, ``base``
    the slot offset of its first block inside an MCU. Pack segments
    compose (image, restart interval) — DC predictor chains reset at
    every segment boundary, so image boundaries reset them too."""
    dc_v, dc_l = dct
    ac_v, ac_l = act
    ni = zz.shape[0]
    b = np.arange(ni, dtype=np.int64)
    mcu = b // cb                       # global = img * mcu_per_img + local
    gk = mcu * nslots + base + (b % cb)
    img = mcu // mcu_per_img
    if restart_mcu:
        nseg = -(-mcu_per_img // restart_mcu)
        seg = img * nseg + (mcu % mcu_per_img) // restart_mcu
    else:
        seg = img
    # DC: per-segment predictor chains
    dc = zz[:, 0].astype(np.int64)
    prev = np.concatenate([[0], dc[:-1]])
    seg_start = np.concatenate([[True], seg[1:] != seg[:-1]])
    diff = dc - np.where(seg_start, 0, prev)
    t = _bitlen_vec(diff)
    mag = np.where(diff >= 0, diff,
                   diff + np.left_shift(1, t) - 1).astype(np.uint32)
    z = np.zeros(ni, dtype=np.int64)
    units = [(dc_v[t], dc_l[t], gk, z, seg),
             (mag, t, gk, z + 1, seg)]
    # AC: run-length + category per nonzero, ZRLs expanded by np.repeat
    bi, kk = np.nonzero(zz[:, 1:])
    k = kk + 1
    v = zz[bi, kk + 1].astype(np.int64)
    first = np.concatenate([[True], bi[1:] != bi[:-1]]) \
        if len(bi) else np.zeros(0, bool)
    pk = np.where(first, 0, np.concatenate([[0], k[:-1]]))
    run = k - pk - 1
    nzrl = run >> 4
    tA = _bitlen_vec(v)
    sym = ((run & 15) << 4) | tA
    magA = np.where(v >= 0, v,
                    v + np.left_shift(1, tA) - 1).astype(np.uint32)
    cgk, cseg = gk[bi], seg[bi]
    zr = np.repeat(np.arange(len(bi)), nzrl)
    nz = len(zr)
    units.append((np.full(nz, ac_v[0xF0], np.uint32),
                  np.full(nz, ac_l[0xF0], np.int64),
                  cgk[zr], 3 * k[zr], cseg[zr]))
    units.append((ac_v[sym], ac_l[sym], cgk, 3 * k + 1, cseg))
    units.append((magA, tA, cgk, 3 * k + 2, cseg))
    # EOB wherever the last nonzero sits before k=63 (incl. empty blocks)
    last = np.zeros(ni, dtype=np.int64)
    if len(bi):
        tail = np.flatnonzero(
            np.concatenate([bi[1:] != bi[:-1], [True]]))
        last[bi[tail]] = k[tail]
    eob = last < 63
    ne = int(eob.sum())
    units.append((np.full(ne, ac_v[0x00], np.uint32),
                  np.full(ne, ac_l[0x00], np.int64),
                  gk[eob], np.full(ne, 3 * 64, np.int64), seg[eob]))
    return units


def _pack_bits(v: np.ndarray, ln: np.ndarray) -> bytes:
    """MSB-first bit packing of variable-width units + 1-bit flush
    padding + 0xFF byte stuffing — all vectorized."""
    off = np.concatenate([[0], np.cumsum(ln)])
    total = int(off[-1])
    unit_of = np.repeat(np.arange(len(ln)), ln)
    pos = np.arange(total, dtype=np.int64) - off[unit_of]
    bits = ((v[unit_of].astype(np.int64)
             >> (ln[unit_of] - 1 - pos)) & 1).astype(np.uint8)
    pad = (-total) % 8
    if pad:
        bits = np.concatenate([bits, np.ones(pad, np.uint8)])
    by = np.packbits(bits)
    ffpos = np.flatnonzero(by == 0xFF)
    if len(ffpos):
        by = np.insert(by, ffpos + 1, 0)
    return by.tobytes()


def _entropy_encode(comp_blocks, cbs, tables, restart_mcu: int,
                    mcu_per_img: int, n_imgs: int = 1) -> list:
    """Interleave per-component units into per-image scan byte streams,
    one packed run per (image, restart segment) joined by RSTn markers
    within each image. ONE unit build + ONE stable lexsort covers the
    whole batch — the per-image work left is just bit packing."""
    units = []
    base = 0
    for zz, cb, (dct, act) in zip(comp_blocks, cbs, tables):
        units += _component_units(zz, cb, base, sum(cbs), restart_mcu,
                                  dct, act, mcu_per_img)
        base += cb
    v = np.concatenate([u[0].astype(np.uint32) for u in units])
    ln = np.concatenate([u[1] for u in units])
    gk = np.concatenate([u[2] for u in units])
    seq = np.concatenate([u[3] for u in units])
    seg = np.concatenate([u[4] for u in units])
    order = np.lexsort((seq, gk))          # stable: ZRLs keep build order
    v, ln, seg = v[order], ln[order], seg[order]
    nseg_img = -(-mcu_per_img // restart_mcu) if restart_mcu else 1
    nseg = n_imgs * nseg_img
    bounds = np.searchsorted(seg, np.arange(nseg + 1))
    scans = []
    for ii in range(n_imgs):
        out = bytearray()
        for si in range(nseg_img):
            gs = ii * nseg_img + si
            lo, hi = bounds[gs], bounds[gs + 1]
            if si:
                out += bytes([0xFF, 0xD0 + ((si - 1) % 8)])
            out += _pack_bits(v[lo:hi], ln[lo:hi])
        scans.append(bytes(out))
    return scans


def _encode_blocks(wr: _BitWriter, zz: np.ndarray, dc_codes, ac_codes,
                   pred: int) -> int:
    """Entropy-encode one component's zigzagged blocks (n, 64)."""
    for row in zz:
        diff = int(row[0]) - pred
        pred = int(row[0])
        t = _category(diff)
        code, ln = dc_codes[t]
        wr.put(code, ln)
        if t:
            wr.put(diff if diff >= 0 else diff + (1 << t) - 1, t)
        run = 0
        nz = np.nonzero(row[1:])[0]
        last = nz[-1] + 1 if len(nz) else 0
        for k in range(1, last + 1):
            v = int(row[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[0xF0]       # ZRL
                wr.put(code, ln)
                run -= 16
            t = _category(v)
            code, ln = ac_codes[(run << 4) | t]
            wr.put(code, ln)
            wr.put(v if v >= 0 else v + (1 << t) - 1, t)
            run = 0
        if last < 63:
            code, ln = ac_codes[0x00]           # EOB
            wr.put(code, ln)
    return pred


def _component_blocks(planes: np.ndarray, qt: np.ndarray) -> np.ndarray:
    """(n_imgs, h, w) planes → pad (replicate) to 8-multiples,
    FDCT+quantize the WHOLE batch at once → zigzagged (n_imgs·blocks, 64)
    int32, per-image blocks contiguous in raster order. A single 2-D
    plane is treated as a batch of one."""
    if planes.ndim == 2:
        planes = planes[None]
    n, h, w = planes.shape
    ph, pw = -h % 8, -w % 8
    p = np.pad(planes, ((0, 0), (0, ph), (0, pw)),
               mode="edge").astype(np.float64)
    hb, wb = p.shape[1] // 8, p.shape[2] // 8
    blocks = (p.reshape(n, hb, 8, wb, 8).transpose(0, 1, 3, 2, 4)
              .reshape(-1, 8, 8) - 128.0)
    coef = _fdct(blocks)
    q = np.round(coef / qt[None, :, :]).astype(np.int32)
    return q.reshape(-1, 64)[:, _ZIGZAG]


def _marker(tag: int, payload: bytes) -> bytes:
    return struct.pack(">HH", 0xFF00 | tag, len(payload) + 2) + payload


_RGB2YCC_T = np.array([[0.299, 0.587, 0.114],
                       [-0.168736, -0.331264, 0.5],
                       [0.5, -0.418688, -0.081312]]).T


def _jfif_header(h: int, w: int, qty, qtc, subsample: bool,
                 restart_mcu: int) -> bytes:
    """SOI..SOS marker run — shared by every image of a uniform batch."""
    out = bytearray(b"\xFF\xD8")                      # SOI
    out += _marker(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _marker(0xDB, b"\x00" + bytes(qty.reshape(64)[_ZIGZAG]
                                         .astype(np.uint8)))
    out += _marker(0xDB, b"\x01" + bytes(qtc.reshape(64)[_ZIGZAG]
                                         .astype(np.uint8)))
    sf_y = 0x22 if subsample else 0x11
    sof = struct.pack(">BHHB", 8, h, w, 3)
    sof += bytes([1, sf_y, 0, 2, 0x11, 1, 3, 0x11, 1])
    out += _marker(0xC0, sof)
    for cls_id, bits, vals in ((0x00, _DC_LUMA_BITS, _DC_LUMA_VALS),
                               (0x10, _AC_LUMA_BITS, _AC_LUMA_VALS),
                               (0x01, _DC_CHROMA_BITS, _DC_CHROMA_VALS),
                               (0x11, _AC_CHROMA_BITS, _AC_CHROMA_VALS)):
        out += _marker(0xC4, bytes([cls_id]) + bytes(bits) + bytes(vals))
    if restart_mcu:
        out += _marker(0xDD, struct.pack(">H", restart_mcu))
    out += _marker(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    return bytes(out)


def jpeg_encode_batch(pixels: np.ndarray, quality: int = 90,
                      subsample: bool = False,
                      restart_mcu: int = 0) -> list:
    """(n, h, w, 3) uint8 RGB → n baseline JFIF byte strings,
    bit-identical to per-image :func:`jpeg_encode`. The whole batch runs
    through ONE color transform, ONE batched FDCT, ONE unit build and ONE
    lexsort — per-image numpy fixed overhead is what dominates encode of
    QA-sized images, and this amortizes it across the batch (the
    distributed decode path hands us stacked same-shape images already)."""
    p = np.ascontiguousarray(pixels, dtype=np.uint8).astype(np.float64)
    n, h, w, _ = p.shape
    # RGB→YCbCr as ONE (npx, 3)·(3, 3) GEMM instead of nine broadcast
    # passes (dgemm's k=3 accumulation order matches the a·r+b·g+c·b
    # left-to-right sum, keeping the transform bit-identical)
    ycc = p.reshape(-1, 3) @ _RGB2YCC_T
    y = ycc[:, 0].reshape(n, h, w)
    cb = ycc[:, 1].reshape(n, h, w) + 128.0
    cr = ycc[:, 2].reshape(n, h, w) + 128.0
    if subsample:
        ph, pw = -h % 2, -w % 2
        cb = np.pad(cb, ((0, 0), (0, ph), (0, pw)), mode="edge")
        cr = np.pad(cr, ((0, 0), (0, ph), (0, pw)), mode="edge")
        cb = cb.reshape(n, cb.shape[1] // 2, 2,
                        cb.shape[2] // 2, 2).mean((2, 4))
        cr = cr.reshape(n, cr.shape[1] // 2, 2,
                        cr.shape[2] // 2, 2).mean((2, 4))
    qty = quality_scale(_QT_LUMA, quality)
    qtc = quality_scale(_QT_CHROMA, quality)
    zzs = [_component_blocks(y, qty),
           _component_blocks(cb, qtc),
           _component_blocks(cr, qtc)]
    header = _jfif_header(h, w, qty, qtc, subsample, restart_mcu)

    tables = [(_ENC_DC_Y, _ENC_AC_Y), (_ENC_DC_C, _ENC_AC_C),
              (_ENC_DC_C, _ENC_AC_C)]
    if not subsample:
        # 4:4:4 — MCU = one block per component, interleaved; raster
        # block order IS the MCU visit order
        comp_blocks = [zzs[0], zzs[1], zzs[2]]
        cbs = [1, 1, 1]
        mcu_per_img = ((h + 7) // 8) * ((w + 7) // 8)
    else:
        # 4:2:0 — MCU = 4 luma blocks (2×2) + 1 Cb + 1 Cr; regroup luma
        # into per-MCU visit order (2×2 tiles) with one transpose
        wb_y = (w + 15) // 16 * 2            # luma blocks per padded row
        hb_y = (h + 15) // 16 * 2
        hb, wb = (h + 7) // 8, (w + 7) // 8
        yb = zzs[0].reshape(n, hb, wb, 64)
        # re-pad luma block grid to even counts (replicate edge blocks)
        if hb < hb_y:
            yb = np.concatenate([yb, yb[:, -1:, :, :]], axis=1)
        if wb < wb_y:
            yb = np.concatenate([yb, yb[:, :, -1:, :]], axis=2)
        ybv = (yb.reshape(n, hb_y // 2, 2, wb_y // 2, 2, 64)
               .transpose(0, 1, 3, 2, 4, 5).reshape(-1, 64))
        comp_blocks = [ybv, zzs[1], zzs[2]]
        cbs = [4, 1, 1]
        mcu_per_img = (hb_y // 2) * (wb_y // 2)
    scans = _entropy_encode(comp_blocks, cbs, tables, restart_mcu,
                            mcu_per_img, n)
    return [header + s + b"\xFF\xD9" for s in scans]


def jpeg_encode(pixels: np.ndarray, quality: int = 90,
                subsample: bool = False, restart_mcu: int = 0) -> bytes:
    """(h, w, 3) uint8 RGB → baseline JFIF bytes (4:4:4, or 4:2:0 when
    ``subsample``; ``restart_mcu`` > 0 emits DRI + RSTn markers every
    that many MCUs — the error-resilience feature real encoders use)."""
    return jpeg_encode_batch(pixels[None], quality, subsample,
                             restart_mcu)[0]


# --- decoder ------------------------------------------------------------------

def _decode_one_block(rd: _BitReader, dc_lut, ac_lut, pred: int):
    zz = np.zeros(64, dtype=np.int32)
    v16 = rd.peek16()
    t = int(dc_lut[0][v16])
    ln = int(dc_lut[1][v16])
    if ln == 0:
        raise ValueError("invalid DC Huffman code")
    rd.skip(ln)
    diff = _extend(rd.take(t), t) if t else 0
    pred += diff
    zz[0] = pred
    k = 1
    while k < 64:
        v16 = rd.peek16()
        rs = int(ac_lut[0][v16])
        ln = int(ac_lut[1][v16])
        if ln == 0:
            raise ValueError("invalid AC Huffman code")
        rd.skip(ln)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:                 # ZRL
                k += 16
                continue
            break                       # EOB
        k += r
        if k > 63:
            raise ValueError("AC run past end of block")
        zz[k] = _extend(rd.take(s), s)
        k += 1
    return zz, pred


# --- batched entropy decode (VERDICT r4 item 2) --------------------------------
#
# The per-symbol cost of the reference loop above is dominated by numpy
# SCALAR work (peek16 via a Python bit accumulator, two 0-d array indexes
# per code, a fresh np.zeros(64) per block). The batched path moves every
# per-bit computation into numpy up front and leaves only an int-and-list
# Python walk per symbol:
#
#   1. win16: the 16-bit big-endian window at EVERY bit position of the
#      destuffed scan, computed vectorized from a 32-bit sliding view
#      (8 shift/mask ops over the byte array) and exported once to a
#      Python list (C-int access, no numpy scalars in the loop).
#   2. Huffman LUTs become 65536-entry Python lists packing
#      (length << 8 | symbol); one list index replaces peek16+two array
#      reads, and advancing the cursor is plain int addition.
#   3. Coefficients aren't written per symbol: the walk appends
#      (block, k, value) to flat lists and ONE vectorized scatter builds
#      each component's (n_blocks, 64) zigzag array; DC predictions are
#      plain int adds. Block placement into the plane is likewise one
#      fancy-index scatter instead of a per-block slice write.


def _win32_list(ecs: bytes) -> list:
    """Destuffed entropy bytes → Python list where entry i is the 32-bit
    window starting at bit i: the top 16 bits feed the Huffman prefix LUT
    and the bits right after the code are the magnitude — ONE list read
    serves both. Padded with 1-bits past the end (the spec's pad
    convention; _BitReader fills 0xFF the same way)."""
    b = np.frombuffer(ecs + b"\xFF" * 8, dtype=np.uint8).astype(np.uint64)
    v40 = ((b[:-4] << np.uint64(32)) | (b[1:-3] << np.uint64(24))
           | (b[2:-2] << np.uint64(16)) | (b[3:-1] << np.uint64(8))
           | b[4:])
    cols = [((v40 >> np.uint64(8 - r)) & np.uint64(0xFFFFFFFF))
            .astype(np.uint32) for r in range(8)]
    return np.stack(cols, axis=1).reshape(-1).tolist()


_EXT_HALF = [0] + [1 << (t - 1) for t in range(1, 17)]
_EXT_OFF = [0] + [1 - (1 << t) for t in range(1, 17)]
_EXT_MASK = [0] + [(1 << t) - 1 for t in range(1, 17)]


def jpeg_dims(data: bytes) -> tuple[int, int]:
    """JFIF bytes → (h, w) from the SOF0/SOF1 frame header, via the same
    marker walk as :func:`jpeg_decode` but stopping at SOF — the cheap
    header-integrity probe ``multimodal.header_audit`` uses (JFIF carries
    no dims at a fixed offset, so auditing it like a qb header silently
    misreads — ADVICE r4 #5). Raises on non-JPEG / truncated input."""
    if data[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("marker expected")
        tag = data[pos + 1]
        pos += 2
        if tag in (0xD8, 0x01) or 0xD0 <= tag <= 0xD7:
            continue
        if tag in (0xD9, 0xDA):
            break
        seg_len = struct.unpack(">H", data[pos:pos + 2])[0]
        if tag in (0xC0, 0xC1):
            _, h, w, _ = struct.unpack(">BHHB", data[pos + 2:pos + 8])
            return h, w
        pos += seg_len
    raise ValueError("no SOF0/SOF1 frame header found")


def jpeg_decode(data: bytes) -> np.ndarray:
    """Baseline JFIF bytes → (h, w, 3) uint8 RGB."""
    return _decode_scan(*_parse_stream(data))


def _parse_stream(data: bytes):
    """Marker walk: JFIF bytes → (frame, scan, qts, huff, destuffed ecs,
    RST segment offsets, restart interval) — everything _decode_scan (or
    the batch walker) needs."""
    if data[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], tuple] = {}
    frame = None
    restart = 0
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("marker expected")
        tag = data[pos + 1]
        pos += 2
        if tag in (0xD8, 0x01) or 0xD0 <= tag <= 0xD7:
            continue
        if tag == 0xD9:
            break
        seg_len = struct.unpack(">H", data[pos:pos + 2])[0]
        seg = data[pos + 2:pos + seg_len]
        pos += seg_len
        if tag == 0xDB:
            o = 0
            while o < len(seg):
                pq, tq = seg[o] >> 4, seg[o] & 0x0F
                if pq:
                    raise ValueError("16-bit quant tables not baseline")
                tbl = np.frombuffer(seg, np.uint8, 64, o + 1)
                qts[tq] = tbl.astype(np.int32)[_UNZIGZAG].reshape(8, 8)
                o += 65
        elif tag == 0xC4:
            o = 0
            while o < len(seg):
                tc, th = seg[o] >> 4, seg[o] & 0x0F
                bits = list(seg[o + 1:o + 17])
                n = sum(bits)
                vals = list(seg[o + 17:o + 17 + n])
                huff[(tc, th)] = _decode_lut(bits, vals)
                o += 17 + n
        elif tag in (0xC0, 0xC1):
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError("only 8-bit baseline supported")
            comps = []
            for ci in range(nc):
                cid, sf, tq = seg[6 + 3 * ci:9 + 3 * ci]
                comps.append({"id": cid, "h": sf >> 4, "v": sf & 0x0F,
                              "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
        elif tag in (0xC2, 0xC3) or 0xC5 <= tag <= 0xCF:
            raise ValueError(f"non-baseline SOF marker 0xFF{tag:02X}")
        elif tag == 0xDD:
            restart = struct.unpack(">H", seg[:2])[0]
        elif tag == 0xDA:
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan = []
            for si in range(ns):
                cs, tt = seg[1 + 2 * si], seg[2 + 2 * si]
                comp = next(c for c in frame["comps"] if c["id"] == cs)
                scan.append((comp, tt >> 4, tt & 0x0F))
            # entropy-coded bytes run to the next non-RST marker —
            # destuffed VECTORIZED: locate every 0xFF, classify its
            # follower (0x00 = stuffed, D0-D7 = RST, else = terminating
            # marker), drop stuffing/RST bytes with one boolean mask and
            # map RST positions to destuffed offsets via a removal cumsum
            arr = np.frombuffer(data, dtype=np.uint8)[pos:]
            ff = np.nonzero(arr[:-1] == 0xFF)[0]
            nxt = arr[ff + 1]
            stop = ff[(nxt != 0x00) & ((nxt < 0xD0) | (nxt > 0xD7))]
            end_rel = int(stop[0]) if len(stop) else len(arr)
            ff = ff[ff < end_rel]
            nxt = arr[ff + 1]
            drop = np.zeros(end_rel, dtype=bool)
            drop[ff[nxt == 0x00] + 1] = True        # stuffed 0x00
            rst = ff[(nxt >= 0xD0) & (nxt <= 0xD7)]
            for r in rst:                            # few RSTs per scan
                drop[r:r + 2] = True
            removed = np.cumsum(drop)
            segments = [0] + [int(r - (removed[r - 1] if r else 0))
                              for r in rst]
            ecs = arr[:end_rel][~drop].tobytes()
            pos += end_rel
            return frame, scan, qts, huff, ecs, segments, restart
    raise ValueError("no SOS scan found")


def _decode_scan(frame, scan, qts, huff, ecs, segments, restart):
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    win = _win32_list(ecs)
    n_bits = len(win)
    # per-slot loop constants: one schedule entry per block of one MCU
    slots = []                    # (slot_index, dc_combo, ac_combo)
    for si, (comp, td, ta) in enumerate(scan):
        dc_l = huff[(0, td)][2]
        ac_l = huff[(1, ta)][2]
        for _ in range(comp["v"] * comp["h"]):
            slots.append((si, dc_l, ac_l))
    n_slots = len(scan)
    preds = [0] * n_slots
    dc_out = [[] for _ in range(n_slots)]     # predicted DC per block
    ac_kk = [[] for _ in range(n_slots)]      # AC scatter records: k, value
    ac_vv = [[] for _ in range(n_slots)]
    ac_cnt = [[] for _ in range(n_slots)]     # AC coeffs per block
    half, ext, mask = _EXT_HALF, _EXT_OFF, _EXT_MASK
    p = 0
    seg_i = 1
    n_mcu = mcuy * mcux
    try:
        for mi in range(n_mcu):
            if restart and mi and mi % restart == 0:
                # align to the recorded RST boundary, reset predictors
                if seg_i < len(segments):
                    p = segments[seg_i] * 8
                    seg_i += 1
                preds = [0] * n_slots
            for si, dc_l, ac_l in slots:
                v = win[p]
                c = dc_l[v >> 16]
                if c < 256:
                    raise ValueError("invalid DC Huffman code")
                ln = c >> 8
                t = c & 0xFF
                if t:
                    m = (v >> (32 - ln - t)) & mask[t]
                    if m < half[t]:
                        m += ext[t]
                    preds[si] += m
                p += ln + t
                dc_out[si].append(preds[si])
                kk = ac_kk[si]
                ka = kk.append
                va = ac_vv[si].append
                n0 = len(kk)
                k = 1
                while k < 64:
                    v = win[p]
                    c = ac_l[v >> 16]
                    if c < 256:
                        raise ValueError("invalid AC Huffman code")
                    ln = c >> 8
                    rs = c & 0xFF
                    s = rs & 0x0F
                    if s:
                        k += rs >> 4
                        if k > 63:
                            raise ValueError("AC run past end of block")
                        m = (v >> (32 - ln - s)) & mask[s]
                        if m < half[s]:
                            m += ext[s]
                        p += ln + s
                        ka(k)
                        va(m)
                        k += 1
                    elif rs == 0xF0:            # ZRL
                        k += 16
                        p += ln
                    else:                       # EOB
                        p += ln
                        break
                ac_cnt[si].append(len(kk) - n0)
            if p > n_bits:
                raise IndexError
    except IndexError:
        raise ValueError("truncated entropy-coded scan") from None
    zz_list = []
    for si in range(n_slots):
        nb = len(dc_out[si])
        zzs = np.zeros((nb, 64), dtype=np.int32)
        zzs[:, 0] = dc_out[si]
        if ac_kk[si]:
            bi = np.repeat(np.arange(nb),
                           np.asarray(ac_cnt[si], dtype=np.int64))
            zzs[bi, ac_kk[si]] = ac_vv[si]
        zz_list.append(zzs[None])
    return _reconstruct(frame, scan, qts, zz_list, mcux, mcuy)[0]


def _reconstruct(frame, scan, qts, zz_list, mcux, mcuy) -> np.ndarray:
    """Coefficients → pixels for a WHOLE batch: ``zz_list[si]`` is
    (n_imgs, nb, 64) zigzag coefficients of scan component ``si`` in
    MCU-visit order. Dequantize → dezigzag → one two-GEMM IDCT over
    every block of every image → fancy-index block placement → chroma
    upsample → YCbCr→RGB, all batched. Returns (n_imgs, h, w, 3)."""
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    n_imgs = zz_list[0].shape[0]
    full = {}
    for si, (comp, _, _) in enumerate(scan):
        zzs = zz_list[si]
        nb = zzs.shape[1]
        qt = qts[comp["tq"]].reshape(64)[_ZIGZAG]
        coef = (zzs.reshape(-1, 64) * qt).astype(np.float64)[:, _UNZIGZAG] \
            .reshape(-1, 8, 8)
        blks = (_idct(coef) + 128.0).reshape(n_imgs, nb, 8, 8)
        # vectorized block placement: blocks arrive in MCU raster order,
        # v*h per MCU — scatter into the (hb, wb, 8, 8) grid then unfold
        cv, ch = comp["v"], comp["h"]
        ph, pw = 8 * mcuy * cv, 8 * mcux * ch
        hb, wb = ph // 8, pw // 8
        b = np.arange(nb)
        mcu, within = b // (cv * ch), b % (cv * ch)
        by = (mcu // mcux) * cv + within // ch
        bx = (mcu % mcux) * ch + within % ch
        grid = np.zeros((n_imgs, hb, wb, 8, 8), dtype=np.float64)
        grid[:, by, bx] = blks
        p = grid.transpose(0, 1, 3, 2, 4).reshape(n_imgs, ph, pw)
        # upsample to full (padded) resolution by replication
        ry, rx = vmax // cv, hmax // ch
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=1), rx, axis=2)
        full[comp["id"]] = p[:, :h, :w]
    if len(scan) == 1:
        y = np.clip(full[scan[0][0]["id"]], 0.0, 255.0)
        return np.repeat(y[:, :, :, None], 3, axis=3).astype(np.uint8)
    ids = [c["id"] for c, _, _ in scan]
    y, cb, cr = full[ids[0]], full[ids[1]] - 128.0, full[ids[2]] - 128.0
    rgb = np.empty(y.shape + (3,), dtype=np.float64)
    rgb[..., 0] = y + 1.402 * cr
    rgb[..., 1] = y - 0.344136 * cb - 0.714136 * cr
    rgb[..., 2] = y + 1.772 * cb
    # in-place rint (== np.round at 0 decimals, without its scale/copy
    # passes) + clip: these two full-array passes dominated batch decode
    np.rint(rgb, out=rgb)
    np.clip(rgb, 0.0, 255.0, out=rgb)
    return rgb.astype(np.uint8)


# --- cross-image batched decode (VERDICT r4 item 2) ---------------------------
#
# Huffman decode is serial WITHIN a stream (the next code's position
# depends on the current code's length), but a QA/curation task hands the
# executor THOUSANDS of same-shape streams — so the walker below advances
# ONE symbol in EVERY active stream per iteration with numpy ops over the
# batch axis. Per-symbol Python cost is amortized across the batch: the
# scalar loop pays ~25 bytecodes per symbol per image, the walker ~60
# numpy calls per BATCH of symbols.


def jpeg_decode_batch(blobs, min_batch: int = 16) -> list:
    """Iterable of JFIF byte strings → list of (h, w, 3) uint8 arrays,
    identical to per-blob :func:`jpeg_decode`. Streams sharing a frame
    config (dims, sampling, tables, restart cadence) decode together
    through the multi-stream walker; leftovers and sub-``min_batch``
    groups fall back to the scalar path."""
    blobs = list(blobs)
    parsed = [_parse_stream(b) for b in blobs]
    groups: dict = {}
    for i, (frame, scan, qts, huff, ecs, segments, restart) in \
            enumerate(parsed):
        key = (frame["h"], frame["w"],
               tuple((c["id"], c["h"], c["v"], c["tq"])
                     for c in frame["comps"]),
               tuple(sorted((k, v.tobytes()) for k, v in qts.items())),
               tuple(sorted((k, id(v)) for k, v in huff.items())),
               restart, len(segments))
        groups.setdefault(key, []).append(i)
    out: list = [None] * len(blobs)
    for idx in groups.values():
        if len(idx) < min_batch:
            for i in idx:
                out[i] = _decode_scan(*parsed[i])
            continue
        f0 = parsed[idx[0]]
        pix = _decode_scan_batch(
            f0[0], f0[1], f0[2], f0[3],
            [parsed[i][4] for i in idx],
            np.asarray([parsed[i][5] for i in idx], dtype=np.int64),
            f0[6])
        for j, i in enumerate(idx):
            out[i] = pix[j]
    return out


def _decode_scan_batch(frame, scan, qts, huff, ecs_list, segments2d,
                       restart) -> np.ndarray:
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    n_mcu = mcux * mcuy
    N = len(ecs_list)
    # ONE 32-bit-window array over every stream's bits: concatenate the
    # destuffed streams (each padded with 8 spec 1-bits bytes) and build
    # the sliding windows in one vectorized pass — windows that straddle
    # a stream boundary are garbage but no cursor ever reads them (each
    # stream ends inside its own padding)
    lens = np.asarray([len(e) + 8 for e in ecs_list], dtype=np.int64)
    byte_base = np.concatenate([[0], np.cumsum(lens)])
    base = byte_base[:-1] * 8
    pad = b"\xFF" * 8
    b = np.frombuffer(b"".join(e + pad for e in ecs_list) + b"\xFF" * 4,
                      dtype=np.uint8).astype(np.uint64)
    v40 = ((b[:-4] << np.uint64(32)) | (b[1:-3] << np.uint64(24))
           | (b[2:-2] << np.uint64(16)) | (b[3:-1] << np.uint64(8))
           | b[4:])
    win = np.empty((len(v40), 8), dtype=np.uint32)
    for r in range(8):
        win[:, r] = ((v40 >> np.uint64(8 - r))
                     & np.uint64(0xFFFFFFFF)).astype(np.uint32)
    win = win.reshape(-1)
    # schedule: which scan component owns each block slot of an MCU
    sched = []
    for si, (comp, _, _) in enumerate(scan):
        sched += [si] * (comp["v"] * comp["h"])
    sched = np.asarray(sched, dtype=np.int64)
    B = len(sched)
    n_si = len(scan)
    # ONE flat LUT: row (phase * n_si + si) → that table's packed combos;
    # a single gather decodes every active stream's next code, DC or AC
    lut_rows = [np.asarray(huff[(0, td)][2], dtype=np.int64)
                for _, td, _ in scan]
    lut_rows += [np.asarray(huff[(1, ta)][2], dtype=np.int64)
                 for _, _, ta in scan]
    lut_flat = np.concatenate(lut_rows)
    sched_of_slot = sched                  # alias for clarity
    coefs = np.zeros((N, n_mcu * B, 64), dtype=np.int32)
    pos = base.copy()               # absolute bit cursor per stream
    slot = np.zeros(N, dtype=np.int64)
    phase = np.zeros(N, dtype=np.int64)    # 0 = DC next, 1 = AC
    kk = np.zeros(N, dtype=np.int64)
    mcu = np.zeros(N, dtype=np.int64)
    preds = np.zeros((N, n_si), dtype=np.int64)
    done = np.zeros(N, dtype=bool)
    bad = np.zeros(N, dtype=bool)
    n_win = len(win)
    one = np.int64(1)
    while not done.all():
        a = np.flatnonzero(~done)
        pa = pos[a]
        over_end = pa >= n_win
        if over_end.any():                 # runaway stream(s)
            bad[a[over_end]] = True
            done[a[over_end]] = True
            a = a[~over_end]
            if not len(a):
                continue
            pa = pos[a]
        wv = win[pa].astype(np.int64)
        si_a = sched_of_slot[slot[a]]
        isdc = phase[a] == 0
        c = lut_flat[((phase[a] * n_si + si_a) << 16) + (wv >> 16)]
        inv = c < 256
        if inv.any():
            bad[a[inv]] = True
            done[a[inv]] = True
            c = np.where(inv, 0x100, c)    # harmless 0-bit, 0-sym code
        ln = c >> 8
        sym = c & 0xFF
        s = np.where(isdc, sym, sym & 0x0F)       # magnitude bit count
        run = np.where(isdc, 0, sym >> 4)
        mag = (wv >> (32 - ln - s)) & (np.left_shift(one, s) - 1)
        half = np.left_shift(one, np.maximum(s, 1) - 1)
        val = np.where(s > 0,
                       np.where(mag < half,
                                mag + 1 - np.left_shift(one, s), mag), 0)
        pos[a] += ln + s
        # DC: accumulate predictor, emit at k=0
        pr = preds[a, si_a] + np.where(isdc, val, 0)
        preds[a, si_a] = pr
        zrl = ~isdc & (sym == 0xF0)
        kc = kk[a] + np.where(zrl, 16, run)     # ZRL: 16 zeros, no coeff
        kover = ~isdc & (s > 0) & (kc > 63)
        if kover.any():
            bad[a[kover]] = True
            done[a[kover]] = True
        emit = isdc | ((s > 0) & ~kover)
        blockpos = mcu[a] * B + slot[a]
        kpos = np.where(isdc, 0, kc)
        cval = np.where(isdc, pr, val)
        coefs[a[emit], blockpos[emit], kpos[emit]] = cval[emit]
        kk[a] = np.where(isdc, 1, kc + (s > 0))
        fin = ~isdc & ((sym == 0x00) | (kk[a] >= 64))
        phase[a] = np.where(fin, 0, 1)
        # --- block transitions for finished AC runs ---
        if fin.any():
            ai = a[fin]
            slot_n = slot[ai] + 1
            wrap = slot_n == B
            slot[ai] = np.where(wrap, 0, slot_n)
            mcu_n = mcu[ai] + wrap
            mcu[ai] = mcu_n
            ended = mcu_n == n_mcu
            done[ai[ended]] = True
            if restart:
                rst = ~ended & wrap & (mcu_n % restart == 0)
                if rst.any():
                    ar = ai[rst]
                    seg_i = mcu_n[rst] // restart
                    pos[ar] = base[ar] + segments2d[ar, seg_i] * 8
                    preds[ar] = 0
    if bad.any():
        # surface the precise per-stream error via the scalar path
        first = int(np.flatnonzero(bad)[0])
        _decode_scan(frame, scan, qts, huff, ecs_list[first],
                     list(segments2d[first]), restart)
        raise ValueError("corrupt stream in batch")   # pragma: no cover
    # slice per-component coefficient tensors in visit order
    zz_list = []
    for si in range(n_si):
        sl = np.flatnonzero(sched == si)
        vis = (np.arange(n_mcu, dtype=np.int64)[:, None] * B
               + sl[None, :]).reshape(-1)
        zz_list.append(coefs[:, vis, :])
    return _reconstruct(frame, scan, qts, zz_list, mcux, mcuy)
