"""Stdlib-only PNG decoder, one of the codecs `extensions/multimodal.py`
routes payloads through — PNG is DEFLATE plus five byte filters, so the
most common lossless image format decodes with nothing beyond ``zlib``.

Everything follows the PUBLIC PNG specification (W3C/ISO, RFC 2083):
8-byte signature; length/type/data/CRC chunks; IHDR carries
width/height/bit-depth/color-type/interlace; IDAT chunks concatenate
into one zlib stream; each scanline is a filter byte (0 None, 1 Sub,
2 Up, 3 Average, 4 Paeth) followed by the packed pixels. Supported
here: bit depth 8, color types 0 (gray), 2 (RGB), 3 (palette),
4 (gray+alpha), 6 (RGBA), non-interlaced. Adam7 interlace, 16-bit
depth, and sub-byte palette depths raise loudly with remediation —
never a wrong pixel. Chunk CRCs are verified (zlib.crc32).

Grayscale conversion uses integer ITU-R BT.601 luma
((299 R + 587 G + 114 B) // 1000); alpha is ignored (features and
difference hashes compare luminance structure, not transparency).
"""

from __future__ import annotations

import struct
import zlib

_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def is_png(payload: bytes) -> bool:
    return len(payload) > 8 and bytes(payload[:8]) == _SIG


def png_size(payload: bytes) -> tuple[int, int]:
    """(width, height) from IHDR — no pixel decode, O(1)."""
    if not is_png(payload):
        raise ValueError("not a PNG (bad signature)")
    # first chunk must be IHDR: len(4) type(4) data(13)
    if payload[12:16] != b"IHDR":
        raise ValueError("corrupt PNG: first chunk is not IHDR")
    w, h = struct.unpack(">II", payload[16:24])
    return w, h


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def png_decode_gray(payload: bytes) -> tuple[int, int, bytearray]:
    """Full decode → (width, height, row-major 8-bit grayscale)."""
    if not is_png(payload):
        raise ValueError("not a PNG (bad signature)")
    payload = bytes(payload)
    i = 8
    n = len(payload)
    ihdr = None
    plte = b""
    idat_parts = []
    while i + 8 <= n:
        (length,) = struct.unpack(">I", payload[i : i + 4])
        ctype = payload[i + 4 : i + 8]
        data = payload[i + 8 : i + 8 + length]
        (crc,) = struct.unpack(">I", payload[i + 8 + length : i + 12 + length])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"corrupt PNG: CRC mismatch in {ctype!r} chunk")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat_parts.append(data)
        elif ctype == b"IEND":
            break
        i += 12 + length
    if ihdr is None:
        raise ValueError("corrupt PNG: no IHDR chunk")
    w, h, depth, ct, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0:
        raise ValueError("corrupt PNG: unknown compression/filter method")
    if interlace != 0:
        raise NotImplementedError(
            "Adam7-interlaced PNG not supported by the stdlib decoder; "
            "re-encode non-interlaced"
        )
    if depth != 8 or ct not in _CHANNELS:
        raise NotImplementedError(
            f"PNG bit depth {depth} / color type {ct} not supported by the "
            "stdlib decoder (8-bit gray/RGB/palette/GA/RGBA only)"
        )
    ch = _CHANNELS[ct]
    raw = zlib.decompress(b"".join(idat_parts))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("corrupt PNG: IDAT length does not match dimensions")

    gray = bytearray(w * h)
    prev = bytearray(stride)
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        pos += 1
        cur = bytearray(raw[pos : pos + stride])
        pos += stride
        if ftype == 1:  # Sub
            for x in range(ch, stride):
                cur[x] = (cur[x] + cur[x - ch]) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                cur[x] = (cur[x] + prev[x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                left = cur[x - ch] if x >= ch else 0
                cur[x] = (cur[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                left = cur[x - ch] if x >= ch else 0
                up_left = prev[x - ch] if x >= ch else 0
                cur[x] = (cur[x] + _paeth(left, prev[x], up_left)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"corrupt PNG: unknown filter type {ftype}")
        row_off = y * w
        if ct == 0:
            gray[row_off : row_off + w] = cur
        elif ct == 4:  # gray + alpha: take the gray byte
            for x in range(w):
                gray[row_off + x] = cur[2 * x]
        elif ct == 3:  # palette index → PLTE triple → luma
            for x in range(w):
                p3 = cur[x] * 3
                r, g, b = plte[p3], plte[p3 + 1], plte[p3 + 2]
                gray[row_off + x] = (299 * r + 587 * g + 114 * b) // 1000
        else:  # RGB / RGBA
            for x in range(w):
                px = ch * x
                r, g, b = cur[px], cur[px + 1], cur[px + 2]
                gray[row_off + x] = (299 * r + 587 * g + 114 * b) // 1000
        prev = cur
    return w, h, gray


def png_gray_band_row(payload: bytes, n: int) -> list[int]:
    """Decode and box-average into an n-pixel row: band k averages the
    grayscale over columns [k*w/n, (k+1)*w/n) across ALL rows — the
    area-true downscale feeding the difference hash."""
    w, h, gray = png_decode_gray(payload)
    if w == 0 or h == 0:
        return [0] * n
    out = []
    for k in range(n):
        x0 = k * w // n
        x1 = max((k + 1) * w // n, x0 + 1)
        total = 0
        for y in range(h):
            row = y * w
            total += sum(gray[row + x0 : row + x1])
        out.append(total // ((x1 - x0) * h))
    return out
