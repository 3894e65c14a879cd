"""GIF87a/GIF89a codec — pure numpy + stdlib, no codec library.

Public-knowledge implementation of the GIF specification (CompuServe
GIF89a, 1990): logical screen descriptor, global/local color tables,
graphic-control extensions (transparency), image descriptors with the
4-pass interlace layout, and the GIF variant of LZW (variable code width
3..12 bits, CLEAR/EOI codes, 255-byte sub-block framing) in both
directions.  The decoder returns the FIRST frame composited onto the
logical screen (background-filled, transparency honored); `gif_frames`
yields every frame's raw (top, left, array) without disposal compositing
— a documented subset (full animation disposal is out of scope for
feature extraction).

The encoder writes a single-frame GIF from an image with ≤256 distinct
colors (fixtures + the write path for palette imagery).
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = ["decode_gif", "encode_gif", "gif_frames"]


# ---------------------------------------------------------------- LZW


def _lzw_decode(min_code_size: int, data: bytes) -> list[int]:
    """GIF-LZW: variable width starting at min_code_size+1, dictionary
    reset on CLEAR, stop at EOI."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out: list[int] = []
    prev: bytes | None = None

    bitpos = 0
    nbits = len(data) * 8

    def read_code(w):
        nonlocal bitpos
        if bitpos + w > nbits:
            return eoi
        v = 0
        for i in range(w):
            byte = data[(bitpos + i) >> 3]
            v |= ((byte >> ((bitpos + i) & 7)) & 1) << i
        bitpos += w
        return v

    while True:
        code = read_code(width)
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("corrupt GIF LZW stream")
        out.extend(entry)
        if prev is not None and len(table) >= (1 << width) and width < 12:
            width += 1
        # (the append above already happened for code < len(table))
        prev = entry
    return out


def _lzw_encode(min_code_size: int, indices: np.ndarray) -> bytes:
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1

    outbits = bytearray()
    acc = 0
    accbits = 0

    def emit(code, w):
        nonlocal acc, accbits
        acc |= code << accbits
        accbits += w
        while accbits >= 8:
            outbits.append(acc & 0xFF)
            acc >>= 8
            accbits -= 8

    emit(clear, width)
    cur = b""
    for v in indices.tolist():
        nxt = cur + bytes([v])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur], width)
        table[nxt] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code >= 4096:
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        cur = bytes([v])
    if cur:
        emit(table[cur], width)
    emit(eoi, width)
    if accbits:
        outbits.append(acc & 0xFF)
    return bytes(outbits)


_INTERLACE_PASSES = [(0, 8), (4, 8), (2, 4), (1, 2)]


def _deinterlace(rows: np.ndarray) -> np.ndarray:
    h = rows.shape[0]
    out = np.empty_like(rows)
    src = 0
    for start, step in _INTERLACE_PASSES:
        for y in range(start, h, step):
            out[y] = rows[src]
            src += 1
    return out


def _interlace_order(h: int) -> list[int]:
    order = []
    for start, step in _INTERLACE_PASSES:
        order.extend(range(start, h, step))
    return order


# ---------------------------------------------------------------- decode


def _parse_blocks(payload: bytes):
    """Yield (kind, info) for every frame; kind='frame' with dict info."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    w, h, flags, bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    transparent = None
    while pos < len(payload):
        b = payload[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            label = payload[pos + 1]
            pos += 2
            if label == 0xF9:  # graphic control
                size = payload[pos]
                gcflags = payload[pos + 1]
                tindex = payload[pos + 1 + 3]
                transparent = tindex if (gcflags & 1) else None
                pos += 1 + size
            while payload[pos] != 0:  # skip remaining sub-blocks
                pos += 1 + payload[pos]
            pos += 1
        elif b == 0x2C:  # image descriptor
            left, top, iw, ih, iflags = struct.unpack_from("<HHHHB", payload, pos + 1)
            pos += 10
            lct = None
            if iflags & 0x80:
                n = 2 << (iflags & 0x07)
                lct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
                pos += n * 3
            min_code = payload[pos]
            pos += 1
            data = bytearray()
            while payload[pos] != 0:
                ln = payload[pos]
                data += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            yield {
                "screen": (w, h, bg), "gct": gct, "left": left, "top": top,
                "w": iw, "h": ih, "interlaced": bool(iflags & 0x40),
                "palette": lct if lct is not None else gct,
                "min_code": min_code, "data": bytes(data),
                "transparent": transparent,
            }
            transparent = None
        else:
            raise ValueError(f"bad GIF block 0x{b:02X}")


def _frame_indices(fr) -> np.ndarray:
    idx = np.array(_lzw_decode(fr["min_code"], fr["data"]), dtype=np.int32)
    need = fr["w"] * fr["h"]
    if len(idx) < need:
        raise ValueError("truncated GIF image data")
    rows = idx[:need].reshape(fr["h"], fr["w"])
    if fr["interlaced"]:
        rows = _deinterlace(rows)
    return rows


def gif_frames(payload: bytes):
    """Yield (top, left, HxWx3 uint8 RGB, transparency_mask|None) per
    frame, without disposal compositing (documented subset)."""
    for fr in _parse_blocks(payload):
        if fr["palette"] is None:
            raise ValueError("GIF frame without a color table")
        rows = _frame_indices(fr)
        rgb = fr["palette"][np.clip(rows, 0, len(fr["palette"]) - 1)]
        mask = (rows == fr["transparent"]) if fr["transparent"] is not None else None
        yield fr["top"], fr["left"], rgb.astype(np.uint8), mask


def decode_gif(payload: bytes) -> np.ndarray:
    """GIF → first frame composited on the logical screen (background
    color fill, transparency honored) as HxWx3 uint8 RGB."""
    for fr in _parse_blocks(payload):
        w, h, bg = fr["screen"]
        pal = fr["palette"]
        if pal is None:
            raise ValueError("GIF frame without a color table")
        canvas = np.zeros((h, w, 3), dtype=np.uint8)
        if fr["gct"] is not None and bg < len(fr["gct"]):
            canvas[:, :] = fr["gct"][bg]
        rows = _frame_indices(fr)
        rgb = pal[np.clip(rows, 0, len(pal) - 1)].astype(np.uint8)
        y0, x0 = fr["top"], fr["left"]
        target = canvas[y0 : y0 + fr["h"], x0 : x0 + fr["w"]]
        # a frame descriptor may extend past the logical screen: clip it
        th, tw = target.shape[:2]
        rows, rgb = rows[:th, :tw], rgb[:th, :tw]
        if fr["transparent"] is not None:
            m = rows != fr["transparent"]
            target[m] = rgb[m]
        else:
            target[:, :] = rgb
        return canvas
    raise ValueError("GIF without an image block")


# ---------------------------------------------------------------- encode


def encode_gif(img: np.ndarray, interlaced: bool = False,
               transparent_color=None) -> bytes:
    """HxWx3 uint8 (≤256 distinct colors) → single-frame GIF89a bytes.
    ``transparent_color`` (r, g, b) marks that palette entry transparent
    via a graphic-control extension."""
    img = np.asarray(img, dtype=np.uint8)
    h, w, _ = img.shape
    flat = img.reshape(-1, 3)
    colors, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError("encode_gif needs <= 256 distinct colors")
    # palette size: power of two >= max(2, n)
    bits = max(1, int(np.ceil(np.log2(max(2, len(colors))))))
    psize = 1 << bits
    pal = np.zeros((psize, 3), dtype=np.uint8)
    pal[: len(colors)] = colors
    idx = inverse.astype(np.int32).reshape(h, w)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += pal.tobytes()
    tindex = None
    if transparent_color is not None:
        want = np.array(transparent_color, np.uint8)
        hits = np.where((colors == want).all(axis=1))[0]
        if len(hits):
            tindex = int(hits[0])
    if tindex is not None:
        out += bytes([0x21, 0xF9, 4, 0x01, 0, 0, tindex, 0])
    iflags = 0x40 if interlaced else 0
    out += bytes([0x2C]) + struct.pack("<HHHHB", 0, 0, w, h, iflags)
    rows = idx[_interlace_order(h)] if interlaced else idx
    min_code = max(2, bits)
    out += bytes([min_code])
    body = _lzw_encode(min_code, rows.reshape(-1))
    for i in range(0, len(body), 255):
        chunk = body[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += bytes([0, 0x3B])
    return bytes(out)
