"""Baseline JPEG codec — pure numpy + stdlib, no codec library.

Public-knowledge implementation of ITU-T T.81 (1992) baseline sequential
DCT: SOI/APP/DQT/SOF0/DHT/DRI/SOS/RSTn/EOI marker parsing, canonical
Huffman decode with 0xFF00 byte unstuffing, DC prediction + EXTEND,
run/size AC with ZRL/EOB, dequantization, zigzag, float IDCT (8x8 DCT-II
basis matrix product), chroma upsampling for arbitrary 1-2 sampling
factors, JFIF YCbCr→RGB.  The encoder (for fixtures and the write path)
uses the Annex K quantization tables scaled by the IJG quality formula,
the Annex K typical Huffman tables, and optional 4:2:0 subsampling.

Scope (documented subset): baseline 8-bit sequential (SOF0) with 1 or 3
components — what cameras and the web overwhelmingly emit; progressive
(SOF2), arithmetic coding, hierarchical, and 12-bit raise
NotImplementedError.

This module exists so the multimodal column plumbing
(:mod:`lucene_spark.multimodal`) can decode real compressed payloads in
this container; at 100 TB the same mapInPandas kernels can swap in a
native codec without changing any Spark-side shape.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["decode_jpeg", "encode_jpeg"]

# ---------------------------------------------------------------- tables

ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63], dtype=np.int32)

# T.81 Annex K.1 — luminance / chrominance quantization tables
K1_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int64)
K1_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int64)

# T.81 Annex K.3 — typical Huffman tables: (bits[1..16], huffval)
K3_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
              list(range(12)))
K3_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
                list(range(12)))
K3_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
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
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
K3_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
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
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])

# 8x8 DCT-II basis: A[u, x] = c(u)/2 * cos((2x+1) u pi / 16)
_A = np.zeros((8, 8))
for _u in range(8):
    _c = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
    for _x in range(8):
        _A[_u, _x] = (_c / 2.0) * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


def _idct2(coef: np.ndarray) -> np.ndarray:
    return _A.T @ coef @ _A


def _fdct2(block: np.ndarray) -> np.ndarray:
    return _A @ block @ _A.T


# ---------------------------------------------------------------- huffman


def _canonical_codes(bits, huffval):
    """T.81 Annex C: generate canonical (code, length) per symbol."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[huffval[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _HuffDecoder:
    """length-indexed canonical decode: mincode/maxcode/valptr (T.81 F.2.2.3)."""

    def __init__(self, bits, huffval):
        self.huffval = huffval
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code = 0
        k = 0
        for length in range(1, 17):
            if bits[length - 1]:
                self.valptr[length] = k
                self.mincode[length] = code
                code += bits[length - 1]
                k += bits[length - 1]
                self.maxcode[length] = code - 1
            else:
                self.maxcode[length] = -1
            code <<= 1

    def decode(self, br) -> int:
        code = br.read_bit()
        length = 1
        while code > self.maxcode[length]:
            length += 1
            if length > 16:
                raise ValueError("bad Huffman code")
            code = (code << 1) | br.read_bit()
        return self.huffval[self.valptr[length] + code - self.mincode[length]]


class _BitReader:
    """Entropy-coded-segment reader: unstuffs 0xFF00, stops at markers."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0
        self.marker = None

    def _fill(self):
        if self.marker is not None:
            # past a marker: T.81 F.2.2.5 pads with 1-bits
            self.bitbuf = (self.bitbuf << 8) | 0xFF
            self.nbits += 8
            return
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1
            else:
                self.marker = nxt
                self.pos += 1
                self.bitbuf = (self.bitbuf << 8) | 0xFF
                self.nbits += 8
                return
        self.bitbuf = (self.bitbuf << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_restart(self):
        """Discard pad bits, consume the RSTn marker, resume
        (T.81 F.2.1.3.1).  The marker may already have been buffered by a
        fill past the segment end, or still lie ahead in the stream."""
        self.bitbuf = 0
        self.nbits = 0
        if self.marker is not None:
            if 0xD0 <= self.marker <= 0xD7:
                self.marker = None
            return
        while self.pos + 1 < len(self.data):
            if (self.data[self.pos] == 0xFF
                    and 0xD0 <= self.data[self.pos + 1] <= 0xD7):
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("expected restart marker")


def _extend(v: int, n: int) -> int:
    """T.81 F.2.2.1 EXTEND: map the n-bit magnitude to its signed value."""
    if n == 0:
        return 0
    return v if v >= (1 << (n - 1)) else v - (1 << n) + 1


# ---------------------------------------------------------------- decode


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline JPEG → HxWx3 uint8 RGB (grayscale replicated)."""
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffDecoder] = {}
    huff_ac: dict[int, _HuffDecoder] = {}
    frame = None
    restart_interval = 0
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        (seglen,) = struct.unpack_from(">H", payload, pos)
        body = payload[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 0x0F
                b += 1
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                qt[tq] = np.frombuffer(body, np.uint8, 64, b).astype(np.int64)
                b += 64
        elif marker == 0xC4:  # DHT
            b = 0
            while b < len(body):
                tc, th = body[b] >> 4, body[b] & 0x0F
                bits = list(body[b + 1 : b + 17])
                n = sum(bits)
                vals = list(body[b + 17 : b + 17 + n])
                (huff_dc if tc == 0 else huff_ac)[th] = _HuffDecoder(bits, vals)
                b += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, nc = body[0], *struct.unpack_from(">HH", body, 1), body[5]
            if prec != 8:
                raise NotImplementedError("12-bit JPEG")
            comps = []
            for ci in range(nc):
                cid, hv, tq = body[6 + 3 * ci : 9 + 3 * ci]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"only baseline sequential JPEG (SOF marker 0x{marker:02X})")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scan = []
            for si in range(ns):
                cs, tdta = body[1 + 2 * si], body[2 + 2 * si]
                scan.append({"id": cs, "td": tdta >> 4, "ta": tdta & 0x0F})
            return _decode_scan(payload, pos + seglen, frame, scan, qt,
                                huff_dc, huff_ac, restart_interval)
        pos += seglen
    raise ValueError("JPEG without SOS scan")


def _decode_scan(data, pos, frame, scan, qt, huff_dc, huff_ac, dri):
    if frame is None:
        raise ValueError("SOS before SOF0")
    h, w, comps = frame["h"], frame["w"], frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    planes = []
    for c in comps:
        planes.append(np.zeros((mcuy * 8 * c["v"], mcux * 8 * c["h"]),
                               dtype=np.float64))
    by_id = {s["id"]: s for s in scan}
    br = _BitReader(data, pos)
    pred = {c["id"]: 0 for c in comps}
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and mcu_count and mcu_count % dri == 0:
                br.align_restart()
                pred = {c["id"]: 0 for c in comps}
            for ci, c in enumerate(comps):
                s = by_id[c["id"]]
                dct = huff_dc[s["td"]]
                act = huff_ac[s["ta"]]
                q = qt[c["tq"]]
                for vy in range(c["v"]):
                    for vx in range(c["h"]):
                        coef = np.zeros(64, dtype=np.int64)
                        t = dct.decode(br)
                        diff = _extend(br.receive(t), t)
                        pred[c["id"]] += diff
                        coef[0] = pred[c["id"]]
                        k = 1
                        while k < 64:
                            rs = act.decode(br)
                            r, ssss = rs >> 4, rs & 0x0F
                            if ssss == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC run overflow")
                            coef[k] = _extend(br.receive(ssss), ssss)
                            k += 1
                        blk = np.zeros(64, dtype=np.int64)
                        blk[ZIGZAG] = coef * q
                        spatial = _idct2(blk.reshape(8, 8).astype(np.float64))
                        y0 = (my * c["v"] + vy) * 8
                        x0 = (mx * c["h"] + vx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = spatial
            mcu_count += 1

    # level shift, upsample to full size, color convert
    out = []
    for c, p in zip(comps, planes):
        p = p + 128.0
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        out.append(p[:h, :w])
    if len(out) == 1:
        g = np.clip(out[0], 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    y, cb, cr = out[0], out[1] - 128.0, out[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=2).round(), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------- encode


def _quality_tables(quality: int):
    """IJG quality scaling of the Annex K tables."""
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    tabs = []
    for base in (K1_LUMA, K1_CHROMA):
        t = (base * scale + 50) // 100
        tabs.append(np.clip(t, 1, 255).astype(np.int64))
    return tabs


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)


def _csize(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _encode_block(bw, coef_zz, pred, dc_codes, ac_codes):
    diff = int(coef_zz[0]) - pred
    s = _csize(diff)
    code, ln = dc_codes[s]
    bw.write(code, ln)
    if s:
        bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    for k in range(1, 64):
        v = int(coef_zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]
            bw.write(code, ln)
            run -= 16
        s = _csize(v)
        code, ln = ac_codes[(run << 4) | s]
        bw.write(code, ln)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        code, ln = ac_codes[0x00]
        bw.write(code, ln)
    return int(coef_zz[0])


def encode_jpeg(img: np.ndarray, quality: int = 90,
                subsample: bool = False, restart_interval: int = 0) -> bytes:
    """HxW (gray) or HxWx3 (RGB) uint8 → baseline JFIF JPEG bytes.
    ``subsample=True`` emits 4:2:0 chroma (2x2 averaged);
    ``restart_interval`` > 0 emits a DRI segment and RSTn markers every
    that many MCUs (exercising the decoder's restart path)."""
    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    qluma, qchroma = _quality_tables(quality)

    if gray:
        comps_cfg = [(1, 1, 1, 0)]  # id, h, v, tq
        planes = [img.astype(np.float64) - 128.0]
    else:
        rgb = img.astype(np.float64)
        r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample:
            comps_cfg = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
            he, we = (h + 1) // 2 * 2, (w + 1) // 2 * 2
            cbp = np.pad(cb, ((0, he - h), (0, we - w)), mode="edge")
            crp = np.pad(cr, ((0, he - h), (0, we - w)), mode="edge")
            cb = cbp.reshape(he // 2, 2, we // 2, 2).mean(axis=(1, 3))
            cr = crp.reshape(he // 2, 2, we // 2, 2).mean(axis=(1, 3))
        else:
            comps_cfg = [(1, 1, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
        planes = [y - 128.0, cb - 128.0, cr - 128.0]

    hmax = max(c[1] for c in comps_cfg)
    vmax = max(c[2] for c in comps_cfg)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    padded = []
    for (cid, ch, cv, tq), p in zip(comps_cfg, planes):
        ph, pw = mcuy * 8 * cv, mcux * 8 * ch
        pp = np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])),
                    mode="edge")
        padded.append(pp)

    dc_l = _canonical_codes(*K3_DC_LUMA)
    ac_l = _canonical_codes(*K3_AC_LUMA)
    dc_c = _canonical_codes(*K3_DC_CHROMA)
    ac_c = _canonical_codes(*K3_AC_CHROMA)

    bw = _BitWriter()
    pred = {c[0]: 0 for c in comps_cfg}
    mcu_count = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bw.flush()
                bw.out += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                pred = {c[0]: 0 for c in comps_cfg}
            mcu_count += 1
            for (cid, ch, cv, tq), p in zip(comps_cfg, padded):
                q = qluma if tq == 0 else qchroma
                qmat = q.reshape(8, 8)  # K1 tables are in natural order
                for vy in range(cv):
                    for vx in range(ch):
                        y0 = (my * cv + vy) * 8
                        x0 = (mx * ch + vx) * 8
                        blk = p[y0 : y0 + 8, x0 : x0 + 8]
                        coef = np.round(_fdct2(blk) / qmat).astype(np.int64)
                        zz = coef.reshape(-1)[ZIGZAG]
                        pred[cid] = _encode_block(
                            bw, zz, pred[cid],
                            dc_l if tq == 0 else dc_c,
                            ac_l if tq == 0 else ac_c)
    bw.flush()

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    # T.81 B.2.4.1: DQT elements are stored in zigzag order
    out += seg(0xDB, bytes([0x00]) + bytes(qluma[ZIGZAG].tolist()))
    if not gray:
        out += seg(0xDB, bytes([0x01]) + bytes(qchroma[ZIGZAG].tolist()))
    sof = bytearray(struct.pack(">BHHB", 8, h, w, len(comps_cfg)))
    for cid, ch, cv, tq in comps_cfg:
        sof += bytes([cid, (ch << 4) | cv, tq])
    out += seg(0xC0, bytes(sof))

    def dht(tc, th, table):
        bits, vals = table
        return seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))

    out += dht(0, 0, K3_DC_LUMA) + dht(1, 0, K3_AC_LUMA)
    if not gray:
        out += dht(0, 1, K3_DC_CHROMA) + dht(1, 1, K3_AC_CHROMA)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytearray([len(comps_cfg)])
    for cid, ch, cv, tq in comps_cfg:
        td_ta = 0x00 if tq == 0 else 0x11
        sos += bytes([cid, td_ta])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, bytes(sos))
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)
