"""Pure-stdlib BMP codec — fifth leg of the in-container
real-image-decode family (`png_stdlib.py`, `jpeg_stdlib.py`,
`gif_stdlib.py`, `tiff_stdlib.py`). BMP is the simplest of the
classic raster formats but has two famously easy-to-get-wrong
details this module treats as first-class: rows are stored
BOTTOM-UP unless the height is negative, and every row is padded to
a four-byte boundary.

Scope — the profile Windows tooling and ImageIO actually emit:
BITMAPINFOHEADER-or-newer (40/52/56/108/124-byte DIB headers),
24-bit BGR and 32-bit BGRX truecolor, 8-bit palette (BGRX quads)
uncompressed or RLE8 (end-of-line / end-of-bitmap / delta escapes
included), both row orders. 1/4/16-bit depths, RLE4 and non-trivial
BITFIELDS refuse loudly by name; `bmp_size` still reports true
dimensions for them from the header. Gray conversion is the shared
integer BT.601 form, so the dHash family stays format-uniform.

The ENCODER writes 24-bit BI_RGB and 8-bit palette rasters (plain or
RLE8) for fixture generation. Everything is lossless, so
tests/test_bmp_stdlib.py proves both directions against the JVM's
canonical ImageIO BMP plugin with exact equality.

Reference parity: the reference treats media as opaque binary
columns (SURVEY.md §2.E4); this codec extends the worker-side
real-decode path (`extensions/multimodal.py`) to BMP payloads,
fleet-deterministically and with no third-party image library.
"""

from __future__ import annotations

import struct


def is_bmp(payload: bytes) -> bool:
    return bytes(payload[:2]) == b"BM" and len(payload) >= 26


def _header(payload: bytes):
    """(width, height, top_down, bpp, compression, data_off, palette)"""
    if not is_bmp(payload):
        raise ValueError("not a BMP (bad signature)")
    (data_off,) = struct.unpack_from("<I", payload, 10)
    (dib,) = struct.unpack_from("<I", payload, 14)
    if dib < 40:
        raise NotImplementedError(
            f"BMP DIB header size {dib} not supported (BITMAPINFOHEADER+ only)"
        )
    if len(payload) < 14 + dib:
        raise ValueError("corrupt BMP: truncated DIB header")
    w, h, planes, bpp, comp = struct.unpack_from("<iihhI", payload, 18)
    (colors_used,) = struct.unpack_from("<I", payload, 46)
    if w <= 0 or h == 0:
        raise ValueError("corrupt BMP: non-positive dimensions")
    top_down = h < 0
    h = abs(h)
    palette: list[tuple[int, int, int]] = []
    if bpp == 8:
        n = colors_used or 256
        pal_off = 14 + dib
        if pal_off + 4 * n > len(payload):
            raise ValueError("corrupt BMP: truncated palette")
        palette = [
            (payload[pal_off + 4 * i + 2], payload[pal_off + 4 * i + 1], payload[pal_off + 4 * i])
            for i in range(n)
        ]
    return w, h, top_down, bpp, comp, data_off, palette


def bmp_size(payload: bytes) -> tuple[int, int]:
    """(width, height) from the DIB header (height made positive)."""
    w, h, _, _, _, _, _ = _header(bytes(payload))
    return w, h


def _rle8_decode(data: bytes, w: int, h: int) -> bytearray:
    """RLE8 → row-major (still bottom-up order) index raster. Handles
    encoded runs, absolute runs (word-aligned), and the 0/1/2 escapes
    (end of line / end of bitmap / delta)."""
    out = bytearray(w * h)
    x = y = pos = 0
    n = len(data)
    while True:
        if pos + 2 > n:
            raise ValueError("corrupt BMP: RLE8 stream ended without end-of-bitmap")
        c, v = data[pos], data[pos + 1]
        pos += 2
        if c:
            if x + c > w or y >= h:
                raise ValueError("corrupt BMP: RLE8 run beyond row")
            out[y * w + x : y * w + x + c] = bytes((v,)) * c
            x += c
        elif v == 0:  # end of line
            x, y = 0, y + 1
        elif v == 1:  # end of bitmap
            return out
        elif v == 2:  # delta
            if pos + 2 > n:
                raise ValueError("corrupt BMP: RLE8 delta truncated")
            x += data[pos]
            y += data[pos + 1]
            pos += 2
            if x > w or y > h:
                raise ValueError("corrupt BMP: RLE8 delta beyond bitmap")
        else:  # absolute run of v literal indices, padded to a word
            if y >= h or x + v > w or pos + v > n:
                raise ValueError("corrupt BMP: RLE8 absolute run beyond row")
            out[y * w + x : y * w + x + v] = data[pos : pos + v]
            x += v
            pos += v + (v & 1)


def bmp_decode_gray(payload: bytes) -> tuple[int, int, bytearray]:
    """Full decode → (width, height, row-major top-down 8-bit gray)."""
    payload = bytes(payload)
    w, h, top_down, bpp, comp, data_off, palette = _header(payload)
    if bpp not in (8, 24, 32):
        raise NotImplementedError(
            f"BMP bit depth {bpp} not supported (8/24/32 only)"
        )
    if comp == 3 and bpp == 32:
        # BI_BITFIELDS with the standard BGRX masks decodes like BI_RGB
        rm, gm, bm = struct.unpack_from("<III", payload, 54)
        if (rm, gm, bm) != (0x00FF0000, 0x0000FF00, 0x000000FF):
            raise NotImplementedError("BMP non-standard bitfield masks not supported")
    elif comp == 1:
        if bpp != 8:
            raise ValueError("corrupt BMP: RLE8 requires 8-bit depth")
    elif comp != 0:
        raise NotImplementedError(f"BMP compression {comp} not supported")

    gray = bytearray(w * h)
    if comp == 1:
        idx = _rle8_decode(payload[data_off:], w, h)
        lut = bytes(
            (299 * r + 587 * g + 114 * b) // 1000
            for r, g, b in palette
        ) + bytes(256 - len(palette))
        for row in range(h):
            src = row * w
            dst = (h - 1 - row) * w if not top_down else row * w
            gray[dst : dst + w] = bytes(map(lut.__getitem__, idx[src : src + w]))
        return w, h, gray

    bypp = bpp // 8
    stride = (w * bypp + 3) & ~3
    if data_off + stride * h > len(payload):
        raise ValueError("corrupt BMP: pixel data beyond file")
    for row in range(h):
        src = data_off + row * stride
        dst = (h - 1 - row) * w if not top_down else row * w
        if bpp == 8:
            for x in range(w):
                i = payload[src + x]
                if i >= len(palette):
                    raise ValueError("corrupt BMP: pixel index beyond palette")
                r, g, b = palette[i]
                gray[dst + x] = (299 * r + 587 * g + 114 * b) // 1000
        else:
            for x in range(w):
                p = src + x * bypp  # BGR(X) order
                b, g, r = payload[p], payload[p + 1], payload[p + 2]
                gray[dst + x] = (299 * r + 587 * g + 114 * b) // 1000
    return w, h, gray


def bmp_gray_band_row(payload: bytes, n: int) -> list[int]:
    """Box-average into an n-pixel row — the shared dHash downscale."""
    w, h, gray = bmp_decode_gray(payload)
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


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------


def _rle8_encode(indices: bytes, w: int, h: int) -> bytes:
    """Row-at-a-time encoded runs (no absolute/delta — every decoder
    must handle plain runs); input rows are already bottom-up."""
    out = bytearray()
    for row in range(h):
        line = indices[row * w : (row + 1) * w]
        i = 0
        while i < w:
            run = 1
            while i + run < w and run < 255 and line[i + run] == line[i]:
                run += 1
            out += bytes((run, line[i]))
            i += run
        out += b"\x00\x00"  # end of line
    out[-2:] = b"\x00\x01"  # last EOL becomes end of bitmap
    return bytes(out)


def encode_bmp(
    width: int,
    height: int,
    pixels,
    *,
    palette: bytes | None = None,
    rle: bool = False,
    top_down: bool = False,
) -> bytes:
    """24-bit BI_RGB (``pixels`` = row-major top-down interleaved RGB
    triples) or, with ``palette`` (packed RGB triples, ≤256), 8-bit
    palette BMP (``pixels`` = row-major top-down indices), optionally
    RLE8-compressed. ``top_down`` writes a negative height with rows
    in natural order."""
    if width <= 0 or height <= 0:
        raise ValueError("empty image")
    pixels = bytes(pixels)
    if palette is not None:
        if len(palette) % 3 or not 1 <= len(palette) // 3 <= 256:
            raise ValueError("palette must hold 1..256 RGB triples")
        if len(pixels) != width * height:
            raise ValueError(f"need {width * height} indices, got {len(pixels)}")
        if max(pixels) >= len(palette) // 3:
            raise ValueError("pixel index beyond palette")
        bpp, comp = 8, (1 if rle else 0)
    else:
        if rle:
            raise ValueError("RLE8 requires a palette image")
        if len(pixels) != 3 * width * height:
            raise ValueError(f"need {3 * width * height} RGB bytes, got {len(pixels)}")
        bpp, comp = 24, 0
    if rle and top_down:
        raise ValueError("RLE8 BMPs cannot be top-down (spec)")

    rows = range(height) if top_down else range(height - 1, -1, -1)
    if palette is not None:
        n = len(palette) // 3
        pal_quads = b"".join(
            bytes((palette[3 * i + 2], palette[3 * i + 1], palette[3 * i], 0))
            for i in range(n)
        )
        if rle:
            bottom_up = b"".join(
                pixels[r * width : (r + 1) * width] for r in rows
            )
            data = _rle8_encode(bottom_up, width, height)
        else:
            stride = (width + 3) & ~3
            data = b"".join(
                pixels[r * width : (r + 1) * width].ljust(stride, b"\x00")
                for r in rows
            )
    else:
        n = 0
        pal_quads = b""
        stride = (3 * width + 3) & ~3
        parts = []
        for r in rows:
            line = bytearray()
            for x in range(width):
                p = 3 * (r * width + x)
                line += bytes((pixels[p + 2], pixels[p + 1], pixels[p]))  # BGR
            parts.append(bytes(line).ljust(stride, b"\x00"))
        data = b"".join(parts)

    data_off = 14 + 40 + len(pal_quads)
    dib = struct.pack(
        "<IiihhIIiiII",
        40,
        width,
        -height if top_down else height,
        1,
        bpp,
        comp,
        len(data),
        2835,
        2835,
        n,
        0,
    )
    head = struct.pack("<2sIHHI", b"BM", data_off + len(data), 0, 0, data_off)
    return head + dib + pal_quads + data
