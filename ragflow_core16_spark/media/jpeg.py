"""Baseline JPEG (grayscale) — pure numpy + stdlib, no codec libraries.

JPEG baseline is plain mathematics: 8×8 DCT, quantization with the spec's
example luminance table, zigzag, differential-DC + run-length-AC Huffman
coding with the spec's Annex K tables (all published in ITU-T T.81).
This module implements the grayscale baseline profile both ways:

  * ``encode_jpeg(pixels, w, h, quality)`` — 8-bit grey → JFIF bytes
    (SOI/APP0/DQT/SOF0/DHT/SOS/EOI, byte stuffing);
  * ``decode_jpeg(data)`` — baseline grayscale JFIF → pixels (marker walk,
    Huffman decode, dequantize, IDCT, clamp).  Color baseline JPEGs
    (3-component SOF0) decode their luma channel — enough for the
    pipeline's feature extraction; full chroma upsampling remains out of
    profile and raises.

Used by ``operators/multimodal.py`` to close the JPEG decode slot; MP4
remains the one documented external-codec stage.
"""

from __future__ import annotations

import struct

import numpy as np

# spec example luminance quantization table (T.81 Annex K.1), zigzag order
_QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int32).reshape(8, 8)

# zigzag index map (natural order position of each zigzag index)
_ZZ = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63])

# Annex K Huffman tables: (bits per length 1..16, values)
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
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

# DCT-II orthonormal basis (8×8)
_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16) * \
            (np.sqrt(1 / 8) if _k == 0 else np.sqrt(2 / 8))


def _build_codes(bits, vals):
    """(bits, vals) → {symbol: (code, length)} per T.81 C.2."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _build_decode(bits, vals):
    """(bits, vals) → {(length, code): symbol}."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


_DC_ENC = _build_codes(_DC_LUMA_BITS, _DC_LUMA_VALS)
_AC_ENC = _build_codes(_AC_LUMA_BITS, _AC_LUMA_VALS)


def _magnitude(v: int) -> tuple[int, int]:
    """value → (category, offset bits) per T.81 F.1.2.1."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    offset = v if v > 0 else v + (1 << size) - 1
    return size, offset


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)      # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)


def _scaled_quant(quality: int) -> np.ndarray:
    quality = min(max(quality, 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (_QUANT_LUMA * scale + 50) // 100
    return np.clip(q, 1, 255).astype(np.int32)


def encode_jpeg(pixels: bytes, width: int, height: int,
                quality: int = 85) -> bytes:
    """8-bit grayscale pixels (row-major) → baseline JFIF bytes."""
    if len(pixels) != width * height:
        raise ValueError("pixel buffer size mismatch")
    q = _scaled_quant(quality)
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    ph = (height + 7) // 8 * 8
    pw = (width + 7) // 8 * 8
    padded = np.empty((ph, pw), dtype=np.float64)
    padded[:height, :width] = img
    padded[height:, :width] = img[-1:, :]
    padded[:, width:] = padded[:, width - 1:width]

    w = _BitWriter()
    prev_dc = 0
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            block = padded[by:by + 8, bx:bx + 8] - 128.0
            coef = _C @ block @ _C.T
            qc = np.round(coef / q).astype(np.int32)
            zz = qc.flatten()[_ZZ]
            # DC
            diff = int(zz[0]) - prev_dc
            prev_dc = int(zz[0])
            size, off = _magnitude(diff)
            c, ln = _DC_ENC[size]
            w.put(c, ln)
            if size:
                w.put(off, size)
            # AC with run lengths
            run = 0
            for k in range(1, 64):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    c, ln = _AC_ENC[0xF0]   # ZRL
                    w.put(c, ln)
                    run -= 16
                size, off = _magnitude(v)
                c, ln = _AC_ENC[(run << 4) | size]
                w.put(c, ln)
                w.put(off, size)
                run = 0
            if run:
                c, ln = _AC_ENC[0x00]       # EOB
                w.put(c, ln)
    w.flush()

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    zz_quant = q.flatten()[_ZZ].astype(np.uint8).tobytes()
    out = b"\xff\xd8"                                   # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, b"\x00" + zz_quant)                # DQT id 0
    out += seg(0xC0, struct.pack(">BHHB", 8, height, width, 1)
               + bytes([1, 0x11, 0]))                   # SOF0, 1 comp
    out += seg(0xC4, b"\x00" + bytes(_DC_LUMA_BITS) + bytes(_DC_LUMA_VALS))
    out += seg(0xC4, b"\x10" + bytes(_AC_LUMA_BITS) + bytes(_AC_LUMA_VALS))
    out += seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))     # SOS
    out += bytes(w.out)
    out += b"\xff\xd9"                                  # EOI
    return out


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self):
        while self.nbits < 25 and self.pos < len(self.data):
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else 0
                if nxt == 0x00:
                    self.pos += 1           # unstuff
                else:
                    self.pos -= 1           # marker: stop filling
                    b = None
                    break
            self.acc = (self.acc << 8) | b
            self.nbits += 8

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        self._fill()
        if self.nbits < n:                  # pad past EOI
            self.acc <<= (n - self.nbits)
            self.nbits = n
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        return v

    def huff(self, table) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bits(1)
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("bad Huffman code")


def _extend(v: int, size: int) -> int:
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_jpeg(data: bytes) -> dict:
    """Baseline JFIF bytes → {"w", "h", "pixels"} (grayscale / luma)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    quant = {}
    dc_tables, ac_tables = {}, {}
    w = h = None
    n_comp = 0
    comp_q = {}
    scan = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        (ln,) = struct.unpack(">H", data[pos + 2:pos + 4])
        body = data[pos + 4:pos + 2 + ln]
        pos += 2 + ln
        if marker == 0xDB:
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                tbl = np.zeros(64, dtype=np.int32)
                tbl[_ZZ] = np.frombuffer(body[i + 1:i + 65], dtype=np.uint8)
                quant[tq] = tbl.reshape(8, 8)
                i += 65
        elif marker == 0xC0:
            h, w = struct.unpack(">HH", body[1:5])
            n_comp = body[5]
            for c in range(n_comp):
                cid, samp, tq = body[6 + 3 * c:9 + 3 * c]
                comp_q[cid] = tq
                if c == 0 and n_comp > 1 and samp != 0x11:
                    raise NotImplementedError(
                        "subsampled color JPEG outside the baseline-grey "
                        "profile")
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7):
            raise NotImplementedError("non-baseline JPEG")
        elif marker == 0xC4:
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1:i + 17])
                nv = sum(bits)
                vals = list(body[i + 17:i + 17 + nv])
                (dc_tables if tc == 0 else ac_tables)[th] = \
                    _build_decode(bits, vals)
                i += 17 + nv
        elif marker == 0xDA:
            ns = body[0]
            comps = [(body[1 + 2 * c], body[2 + 2 * c]) for c in range(ns)]
            scan = (comps, data[pos:])
            break
    if scan is None or w is None:
        raise ValueError("incomplete JPEG")
    if len(scan[0]) != 1:
        raise NotImplementedError(
            "multi-component interleaved scan outside the baseline-grey "
            "profile (decode the luma-only re-encode instead)")
    (cid, tables), payload = scan[0][0], scan[1]
    dc_t = dc_tables[tables >> 4]
    ac_t = ac_tables[tables & 0xF]
    q = quant[comp_q.get(cid, 0)]
    r = _BitReader(payload)
    ph = (h + 7) // 8 * 8
    pw = (w + 7) // 8 * 8
    out = np.zeros((ph, pw), dtype=np.float64)
    prev_dc = 0
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            zz = np.zeros(64, dtype=np.int32)
            size = r.huff(dc_t)
            prev_dc += _extend(r.bits(size), size)
            zz[0] = prev_dc
            k = 1
            while k < 64:
                rs = r.huff(ac_t)
                run, size = rs >> 4, rs & 0xF
                if rs == 0x00:              # EOB
                    break
                if rs == 0xF0:              # ZRL
                    k += 16
                    continue
                k += run
                if k > 63:
                    break
                zz[k] = _extend(r.bits(size), size)
                k += 1
            coef = np.zeros(64, dtype=np.float64)
            coef[_ZZ] = zz
            block = _C.T @ (coef.reshape(8, 8) * q) @ _C
            out[by:by + 8, bx:bx + 8] = block + 128.0
    pix = np.clip(np.round(out[:h, :w]), 0, 255).astype(np.uint8)
    return {"w": int(w), "h": int(h), "pixels": pix.tobytes()}
