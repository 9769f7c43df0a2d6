"""Minimal baseline JPEG codec in pure NumPy/stdlib (no PIL available).

Scope: baseline sequential DCT, 8-bit, 4:4:4 (no chroma subsampling),
standard Annex-K Huffman tables on encode; the decoder handles any
baseline 4:4:4 stream with embedded DQT/DHT.  Lossy: the engine's
per-row invariant only requires decoded pixels at PSNR ≥ 40 dB vs the
source (north rule / BASELINE.json input_hint), which quality=95
delivers on the synthetic gradient images.

The reference accepts JPEG via PIL (/root/reference/pic2vec/
feature_preprocessing.py:118 format filter); this codec supplies the
same capability for the decode UDF.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------- tables

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
)
UNZIGZAG = np.argsort(ZIGZAG)

BASE_LUMA_Q = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ]
).reshape(8, 8)
BASE_CHROMA_Q = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ]
).reshape(8, 8)

# Annex K Huffman specs: (bits[1..16], values)
DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
        0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
        0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
        0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
        0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
        0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
        0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
        0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
        0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
        0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
        0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

_C = np.sqrt(2.0 / 8.0) * np.cos(
    np.pi * np.outer(np.arange(8), 2 * np.arange(8) + 1) / 16.0
)
_C[0] /= np.sqrt(2.0)  # orthonormal DCT-II matrix: F = C f C^T


def _quality_scale(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(max(quality, 1), 100)
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    tbl = (base.astype(np.int64) * s + 50) // 100
    return np.clip(tbl, 1, 255).astype(np.int32)


def _canonical_codes(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length)."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _rgb_to_ycbcr(img: np.ndarray) -> np.ndarray:
    r, g, b = (img[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0, 255).astype(np.uint8)


def _to_blocks(chan: np.ndarray) -> tuple[np.ndarray, int, int]:
    h, w = chan.shape
    bh, bw = -(-h // 8), -(-w // 8)
    padded = np.pad(chan, ((0, bh * 8 - h), (0, bw * 8 - w)), mode="edge")
    blocks = padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    return blocks, bh, bw


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1

    def byte_align(self) -> None:
        """Pad to a byte boundary with 1-bits (spec padding)."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)

    def raw_marker(self, second_byte: int) -> None:
        """Append an unstuffed marker (e.g. a restart FFD0-FFD7)."""
        self.out += bytes([0xFF, second_byte])

    def flush(self) -> bytes:
        self.byte_align()
        return bytes(self.out)


def _magnitude(v: int) -> tuple[int, int]:
    """JPEG magnitude coding: value -> (size, amplitude bits)."""
    if v == 0:
        return 0, 0
    size = int(abs(v)).bit_length()
    amp = v if v >= 0 else v + (1 << size) - 1
    return size, amp


def encode_jpeg(
    img: np.ndarray, quality: int = 95, restart_interval: int = 0
) -> bytes:
    """Baseline 4:4:4 JPEG.  ``restart_interval`` > 0 emits a DRI
    segment and an RSTn marker (with DC-predictor reset) every that
    many MCUs — what hardware encoders produce for error resilience."""
    if img.ndim == 2:
        img = np.repeat(img[..., None], 3, axis=2)
    h, w = img.shape[:2]
    qy = _quality_scale(BASE_LUMA_Q, quality)
    qc = _quality_scale(BASE_CHROMA_Q, quality)
    ycc = _rgb_to_ycbcr(img)

    dc_codes = [_canonical_codes(*DC_LUMA), _canonical_codes(*DC_CHROMA)]
    ac_codes = [_canonical_codes(*AC_LUMA), _canonical_codes(*AC_CHROMA)]

    # quantized zigzag coefficients per component
    comp_zz = []
    for ci in range(3):
        blocks, _, _ = _to_blocks(ycc[..., ci] - 128.0)
        coef = np.einsum("ij,njk,lk->nil", _C, blocks, _C)
        q = qy if ci == 0 else qc
        zz = np.round(coef / q).astype(np.int32).reshape(-1, 64)[:, ZIGZAG]
        comp_zz.append(zz)

    bw_ = _BitWriter()
    nblocks = comp_zz[0].shape[0]
    prev_dc = [0, 0, 0]
    rst = 0
    for bi in range(nblocks):
        if restart_interval and bi and bi % restart_interval == 0:
            bw_.byte_align()
            bw_.raw_marker(0xD0 + (rst % 8))
            rst += 1
            prev_dc = [0, 0, 0]
        for ci in range(3):
            tsel = 0 if ci == 0 else 1
            zz = comp_zz[ci][bi]
            diff = int(zz[0]) - prev_dc[ci]
            prev_dc[ci] = int(zz[0])
            size, amp = _magnitude(diff)
            code, length = dc_codes[tsel][size]
            bw_.write(code, length)
            if size:
                bw_.write(amp, size)
            run = 0
            last_nz = np.nonzero(zz[1:])[0]
            end = last_nz[-1] + 1 if last_nz.size else 0
            for k in range(1, end + 1):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, length = ac_codes[tsel][0xF0]
                    bw_.write(code, length)
                    run -= 16
                size, amp = _magnitude(v)
                code, length = ac_codes[tsel][(run << 4) | size]
                bw_.write(code, length)
                bw_.write(amp, size)
                run = 0
            if end < 63:
                code, length = ac_codes[tsel][0x00]  # EOB
                bw_.write(code, length)
    scan = bw_.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + qy.reshape(-1)[ZIGZAG].astype(np.uint8).tobytes())
    out += seg(0xFFDB, b"\x01" + qc.reshape(-1)[ZIGZAG].astype(np.uint8).tobytes())
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for cid, tq in ((1, 0), (2, 1), (3, 1)):
        sof += struct.pack(">BBB", cid, 0x11, tq)  # 4:4:4
    out += seg(0xFFC0, sof)
    for cls, tid, (bits, vals) in (
        (0, 0, DC_LUMA), (1, 0, AC_LUMA), (0, 1, DC_CHROMA), (1, 1, AC_CHROMA)
    ):
        out += seg(
            0xFFC4,
            bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals),
        )
    if restart_interval:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))
    sos = struct.pack(">B", 3)
    for cid, tsel in ((1, 0x00), (2, 0x11), (3, 0x11)):
        sos += struct.pack(">BB", cid, tsel)
    sos += b"\x00\x3f\x00"
    out += seg(0xFFDA, sos)
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------- decoder


class _BitReader:
    """Accumulator bit reader with bulk refill (hot path of decode)."""

    __slots__ = ("data", "pos", "acc", "nbits", "n")

    def __init__(self, data: bytes) -> None:
        # un-stuff 0xFF00 -> 0xFF
        self.data = data.replace(b"\xff\x00", b"\xff")
        self.n = len(self.data)
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _refill(self, need: int) -> None:
        while self.nbits < need:
            if self.pos < self.n:
                self.acc = (self.acc << 8) | self.data[self.pos]
                self.pos += 1
            else:
                self.acc <<= 8  # zero-pad past the end (trailing EOB bits)
            self.nbits += 8

    def peek16(self) -> int:
        if self.nbits < 16:
            self._refill(16)
        return (self.acc >> (self.nbits - 16)) & 0xFFFF

    def skip(self, n: int) -> None:
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1

    def read_bits(self, n: int) -> int:
        if n == 0:
            return 0
        if self.nbits < n:
            self._refill(n)
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def restart(self) -> None:
        """Consume an RSTn marker: drop partial padding bits to the byte
        boundary, then expect FF D0-D7 (the marker bytes may already sit
        in the accumulator)."""
        self.skip(self.nbits % 8)
        b1, b2 = self.read_bits(8), self.read_bits(8)
        if b1 != 0xFF or not (0xD0 <= b2 <= 0xD7):
            raise ValueError(
                f"expected restart marker, got {b1:#04x}{b2:02x}"
            )


_LUT_CACHE: dict[tuple, list] = {}


def _decode_tree(bits: list[int], values: list[int]) -> list[tuple[int, int]]:
    """16-bit peek LUT: index by the next 16 bits -> (symbol, code length).

    65536-entry list built once per distinct table (cached — the Annex-K
    tables repeat across every image); symbol decode becomes one peek +
    one list index instead of a bit-by-bit tree walk (~10x).
    """
    key = (tuple(bits), tuple(values))
    cached = _LUT_CACHE.get(key)
    if cached is not None:
        return cached
    lut: list[tuple[int, int]] = [(-1, 0)] * 65536
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            prefix = code << (16 - length)
            span = 1 << (16 - length)
            entry = (values[k], length)
            lut[prefix : prefix + span] = [entry] * span
            code += 1
            k += 1
        code <<= 1
    _LUT_CACHE[key] = lut
    return lut


def _read_symbol(br: _BitReader, lut: list[tuple[int, int]]) -> int:
    sym, length = lut[br.peek16()]
    if sym < 0:
        raise ValueError("bad Huffman code")
    br.skip(length)
    return sym


def _extend(amp: int, size: int) -> int:
    if size == 0:
        return 0
    return amp if amp >= (1 << (size - 1)) else amp - (1 << size) + 1


def decode_jpeg(data: bytes) -> np.ndarray:
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}
    h = w = None
    comps: list[tuple[int, int, int]] = []  # (cid, sampling, tq)
    scan_comps: list[tuple[int, int, int]] = []
    scan_data = b""
    restart_interval = 0
    while pos < len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        (length,) = struct.unpack_from(">H", data, pos)
        payload = data[pos + 2 : pos + length]
        pos += length
        if marker == 0xDB:
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                tbl = np.frombuffer(payload, np.uint8, 64, p + 1).astype(np.int32)
                qtables[tq] = tbl[UNZIGZAG].reshape(8, 8)
                p += 65
        elif marker == 0xC0:
            _, h, w, nc = struct.unpack_from(">BHHB", payload, 0)
            for i in range(nc):
                cid, samp, tq = struct.unpack_from(">BBB", payload, 6 + 3 * i)
                if samp != 0x11:
                    raise ValueError("only 4:4:4 baseline JPEG supported")
                comps.append((cid, samp, tq))
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError("only baseline JPEG supported")
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack_from(">H", payload, 0)
        elif marker == 0xC4:
            p = 0
            while p < len(payload):
                cls, tid = payload[p] >> 4, payload[p] & 0xF
                bits = list(payload[p + 1 : p + 17])
                nvals = sum(bits)
                vals = list(payload[p + 17 : p + 17 + nvals])
                htables[(cls, tid)] = _decode_tree(bits, vals)
                p += 17 + nvals
        elif marker == 0xDA:
            ns = payload[0]
            for i in range(ns):
                cid, tsel = payload[1 + 2 * i], payload[2 + 2 * i]
                scan_comps.append((cid, tsel >> 4, tsel & 0xF))
            scan_data = data[pos:]
            break
    if h is None or not scan_data:
        raise ValueError("truncated JPEG")
    end = scan_data.find(b"\xff\xd9")
    if end >= 0:
        scan_data = scan_data[:end]

    br = _BitReader(scan_data)
    bh, bw_ = -(-h // 8), -(-w // 8)
    nblocks = bh * bw_
    out_coefs = [np.zeros((nblocks, 64), dtype=np.float64) for _ in comps]
    prev_dc = [0] * len(comps)
    for bi in range(nblocks):
        if restart_interval and bi and bi % restart_interval == 0:
            br.restart()
            prev_dc = [0] * len(comps)
        for ci, (cid, dc_t, ac_t) in enumerate(scan_comps):
            dct = htables[(0, dc_t)]
            act = htables[(1, ac_t)]
            size = _read_symbol(br, dct)
            diff = _extend(br.read_bits(size), size) if size else 0
            prev_dc[ci] += diff
            zz = out_coefs[ci][bi]
            zz[0] = prev_dc[ci]
            k = 1
            while k < 64:
                sym = _read_symbol(br, act)
                if sym == 0x00:
                    break
                run, size = sym >> 4, sym & 0xF
                if sym == 0xF0:
                    k += 16
                    continue
                k += run
                if k > 63:
                    raise ValueError("AC index overflow")
                zz[k] = _extend(br.read_bits(size), size)
                k += 1

    planes = []
    for ci, (cid, samp, tq) in enumerate(comps):
        q = qtables[tq].astype(np.float64)
        coefs = out_coefs[ci][:, UNZIGZAG].reshape(-1, 8, 8) * q
        # C^T F C as two BLAS matmuls: a 3-operand einsum without
        # optimize runs the naive 8^4 loop per block (~50x slower)
        blocks = _C.T @ coefs @ _C
        plane = (
            blocks.reshape(bh, bw_, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw_ * 8)[:h, :w]
        )
        planes.append(plane + 128.0)
    return _ycbcr_to_rgb(np.stack(planes, axis=-1))


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)
