"""Pure-stdlib baseline TIFF codec — fourth leg of the in-container
real-image-decode family (`png_stdlib.py`, `jpeg_stdlib.py`,
`gif_stdlib.py`), aimed at the scanned-document slice of a crawled
corpus where TIFF actually shows up.

Scope — the baseline-TIFF profile every mainstream writer emits:
both byte orders (II/MM), strip- OR tile-organized chunky
(PlanarConfig 1) rasters of 8-bit samples (tiles are how large
scanned TIFFs ship; edge tiles are stored full-size and cropped on
read, per TIFF 6.0 §15), PhotometricInterpretation 0/1 (gray, either
polarity), 2 (RGB, extra samples such as alpha ignored per TIFF 6.0
§7) and 3 (palette via the 16-bit ColorMap), with per-strip/tile
compression None (1), LZW (5, with the optional horizontal
predictor, tag 317=2), PackBits (32773), and zlib Deflate (8 and the
legacy 32946). 1-BIT BILEVEL gray (the scanned-fax staple) also
decodes — MSB-first packed rows, both polarities, any of the above
codecs. 16-BIT UNSIGNED GRAY (the scientific-instrument staple)
decodes through `tiff_decode_gray16` — both byte orders, strips or
tiles, all four codecs, with the horizontal predictor applied on
16-bit SAMPLE values per TIFF 6.0 §14. Everything else — planar
separates, 4-bit depths, CCITT fax codes, floating samples — refuses
loudly by tag name rather than decoding wrongly (each refusal class
pinned by a test, VERDICT r09 item 6).

TIFF's LZW differs from GIF's in exactly three ways, all honored
here: MSB-first bit packing, 9-bit initial width over a 256-literal
alphabet (Clear=256, EOI=257), and the spec's "early change" — the
code width bumps one entry EARLIER than the power of two (at table
size (1<<width)-1). Like `gif_stdlib`, the ENCODER derives its width
schedule by simulating the decoder's table counter (which lags the
encoder's by one entry), which is what makes its streams canonical;
tests/test_tiff_stdlib.py proves both directions against the JVM's
bundled ImageIO TIFF plugin (reader AND writer, every compression
above) — TIFF is lossless at this profile, so every bound is exact
equality.

The decoder never materializes the whole file twice: strips
decompress independently (the natural unit a 100 TB scan pipeline
would also parallelize over), and the predictor/gray conversions are
single-pass per row.

Reference parity: the reference treats media as opaque binary
columns (SURVEY.md §2.E4); this codec extends the worker-side
real-decode path (`extensions/multimodal.py`) to TIFF payloads with
no third-party image library, fleet-deterministically.
"""

from __future__ import annotations

import struct
import zlib

_II = b"II*\x00"
_MM = b"MM\x00*"

# IFD entry types → (struct char, byte size); rationals read as 2 longs
_TYPES = {1: ("B", 1), 2: ("B", 1), 3: ("H", 2), 4: ("I", 4)}


def is_tiff(payload: bytes) -> bool:
    return bytes(payload[:4]) in (_II, _MM)


def _read_ifd(payload: bytes, order: str) -> dict[int, list[int]]:
    """First IFD → {tag: [values…]} for the integer types we use."""
    (ifd_off,) = struct.unpack_from(order + "I", payload, 4)
    if ifd_off + 2 > len(payload):
        raise ValueError("corrupt TIFF: IFD offset beyond file")
    (n,) = struct.unpack_from(order + "H", payload, ifd_off)
    tags: dict[int, list[int]] = {}
    for i in range(n):
        off = ifd_off + 2 + 12 * i
        if off + 12 > len(payload):
            raise ValueError("corrupt TIFF: truncated IFD")
        tag, typ, cnt = struct.unpack_from(order + "HHI", payload, off)
        if typ not in _TYPES:
            continue  # rationals, ASCII notes, … — not load-bearing here
        ch, sz = _TYPES[typ]
        total = cnt * sz
        if total <= 4:
            src = off + 8
        else:
            (src,) = struct.unpack_from(order + "I", payload, off + 8)
            if src + total > len(payload):
                raise ValueError(f"corrupt TIFF: tag {tag} values beyond file")
        tags[tag] = list(struct.unpack_from(order + ch * cnt, payload, src))
    return tags


def _tag1(tags: dict[int, list[int]], tag: int, default: int | None = None) -> int:
    v = tags.get(tag)
    if not v:
        if default is None:
            raise ValueError(f"corrupt TIFF: required tag {tag} missing")
        return default
    return v[0]


def tiff_size(payload: bytes) -> tuple[int, int]:
    """(width, height) from the first IFD."""
    payload = bytes(payload)
    if not is_tiff(payload):
        raise ValueError("not a TIFF (bad signature)")
    order = "<" if payload[:2] == b"II" else ">"
    tags = _read_ifd(payload, order)
    return _tag1(tags, 256), _tag1(tags, 257)


def _lzw_decode(data: bytes, expected: int) -> bytearray:
    """TIFF-variant LZW: MSB-first, 9-bit start, early change."""
    clear, eoi = 256, 257
    base = [bytes((i,)) for i in range(256)] + [b"", b""]
    table = list(base)
    width = 9
    prev: bytes | None = None
    out = bytearray()
    acc = nbits = pos = 0
    n = len(data)
    while len(out) < expected:
        while nbits < width:
            if pos >= n:
                raise ValueError("corrupt TIFF: LZW strip ended before EOI")
            acc = (acc << 8) | data[pos]
            nbits += 8
            pos += 1
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        if code == clear:
            table = list(base)
            width = 9
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code > 255:
                raise ValueError("corrupt TIFF: first LZW code is not a literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]
        else:
            raise ValueError("corrupt TIFF: LZW code beyond dictionary")
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) - 1 and width < 12:
                width += 1  # the spec's early change
        out += entry
        prev = entry
    if len(out) < expected:
        raise ValueError(
            f"corrupt TIFF: LZW strip decoded {len(out)} of {expected} bytes"
        )
    del out[expected:]
    return out


def _packbits_decode(data: bytes, expected: int) -> bytearray:
    out = bytearray()
    pos, n = 0, len(data)
    while len(out) < expected:
        if pos >= n:
            raise ValueError("corrupt TIFF: PackBits strip ended early")
        c = data[pos]
        pos += 1
        if c < 128:
            out += data[pos : pos + c + 1]
            if n - pos < c + 1:
                raise ValueError("corrupt TIFF: PackBits literal run truncated")
            pos += c + 1
        elif c > 128:
            if pos >= n:
                raise ValueError("corrupt TIFF: PackBits repeat run truncated")
            out += bytes((data[pos],)) * (257 - c)
            pos += 1
        # 128 is a no-op per the spec
    del out[expected:]
    return out


def _decode_strip(comp: int, data: bytes, expected: int) -> bytearray:
    if comp == 1:
        if len(data) < expected:
            raise ValueError("corrupt TIFF: uncompressed strip shorter than raster")
        return bytearray(data[:expected])
    if comp == 5:
        return _lzw_decode(data, expected)
    if comp in (8, 32946):
        raw = zlib.decompress(data)
        if len(raw) < expected:
            raise ValueError("corrupt TIFF: deflate strip shorter than raster")
        return bytearray(raw[:expected])
    if comp == 32773:
        return _packbits_decode(data, expected)
    raise NotImplementedError(
        f"TIFF compression {comp} not supported by the stdlib decoder "
        "(None/LZW/Deflate/PackBits only)"
    )


def _row_to_gray(
    raster, src: int, w: int, spp: int, photo: int, cmap, gray, dst: int
) -> None:
    """One raster row → gray, shared by the strip and tile paths."""
    if photo == 1 and spp == 1:
        gray[dst : dst + w] = raster[src : src + w]
    elif photo in (0, 1):  # gray, maybe + alpha; 0 inverts
        for x in range(w):
            v = raster[src + x * spp]
            gray[dst + x] = 255 - v if photo == 0 else v
    elif photo == 2:
        for x in range(w):
            p = src + x * spp
            gray[dst + x] = (
                299 * raster[p] + 587 * raster[p + 1] + 114 * raster[p + 2]
            ) // 1000
    else:  # palette: 16-bit ColorMap channels, high byte is the 8-bit value
        for x in range(w):
            i = raster[src + x]
            r8, g8, b8 = cmap[i] >> 8, cmap[256 + i] >> 8, cmap[512 + i] >> 8
            gray[dst + x] = (299 * r8 + 587 * g8 + 114 * b8) // 1000


def tiff_decode_gray(payload: bytes) -> tuple[int, int, bytearray]:
    """Full first-IFD decode → (width, height, row-major 8-bit
    grayscale), same gray form as the PNG/JPEG/GIF paths. Both strip
    and tile organizations decode (tiles are how large scanned TIFFs
    ship; each tile decompresses independently — at scale, the unit a
    reader parallelizes over)."""
    payload = bytes(payload)
    if not is_tiff(payload):
        raise ValueError("not a TIFF (bad signature)")
    order = "<" if payload[:2] == b"II" else ">"
    tags = _read_ifd(payload, order)
    w, h = _tag1(tags, 256), _tag1(tags, 257)
    comp = _tag1(tags, 259, 1)
    photo = _tag1(tags, 262)
    spp = _tag1(tags, 277, 1)
    predictor = _tag1(tags, 317, 1)
    planar = _tag1(tags, 284, 1)
    fmt = _tag1(tags, 339, 1)
    bits = tags.get(258, [1])  # spec default is 1 (writers omit it for bilevel)
    if planar != 1:
        raise NotImplementedError("planar-separate TIFF not supported")
    if fmt != 1:
        raise NotImplementedError(f"TIFF sample format {fmt} not supported")
    onebit = bits == [1] and photo in (0, 1) and spp == 1
    if not onebit and any(b != 8 for b in bits):
        raise NotImplementedError(
            f"TIFF bits-per-sample {bits} not supported here "
            "(8-bit, or 1-bit bilevel; 16-bit gray → tiff_decode_gray16)"
        )
    if onebit and predictor == 2:
        raise NotImplementedError("TIFF horizontal predictor on bilevel data")
    if predictor not in (1, 2):
        raise NotImplementedError(f"TIFF predictor {predictor} not supported")
    if photo not in (0, 1, 2, 3):
        raise NotImplementedError(f"TIFF photometric {photo} not supported")
    if photo in (0, 1) and spp not in (1, 2):
        raise ValueError(f"corrupt TIFF: gray image with {spp} samples")
    if photo == 2 and spp not in (3, 4):
        raise ValueError(f"corrupt TIFF: RGB image with {spp} samples")
    if photo == 3:
        if spp != 1:
            raise ValueError(f"corrupt TIFF: palette image with {spp} samples")
        cmap = tags.get(320)
        if not cmap or len(cmap) != 3 * 256:
            raise ValueError("corrupt TIFF: palette image without a 256-entry ColorMap")

    cmap = tags.get(320) if photo == 3 else None
    gray = bytearray(w * h)

    def expand_bilevel(packed, src_bytes: int, ncols: int, dst: int) -> None:
        """MSB-first packed bits → 0/255 gray (photometric 0 is the
        fax WhiteIsZero convention: bit 0 = white)."""
        on, off_v = (0, 255) if photo == 0 else (255, 0)
        for x in range(ncols):
            b = (packed[src_bytes + (x >> 3)] >> (7 - (x & 7))) & 1
            gray[dst + x] = on if b else off_v

    if 322 in tags or 323 in tags:  # tile organization
        tw, tl = _tag1(tags, 322), _tag1(tags, 323)
        offsets = tags.get(324)
        counts = tags.get(325)
        if tw <= 0 or tl <= 0:
            raise ValueError("corrupt TIFF: non-positive tile size")
        across = (w + tw - 1) // tw
        down = (h + tl - 1) // tl
        if not offsets or not counts or len(offsets) != len(counts) or len(
            offsets
        ) != across * down:
            raise ValueError(
                "corrupt TIFF: tile offsets/counts missing or not matching the grid"
            )
        tstride = (tw + 7) // 8 if onebit else tw * spp
        for i, (off, cnt) in enumerate(zip(offsets, counts)):
            ty, tx = divmod(i, across)
            if off + cnt > len(payload):
                raise ValueError("corrupt TIFF: tile beyond file")
            tile = _decode_strip(comp, payload[off : off + cnt], tl * tstride)
            if onebit:
                x0, y0 = tx * tw, ty * tl
                ncols = min(tw, w - x0)
                for r in range(min(tl, h - y0)):
                    expand_bilevel(tile, r * tstride, ncols, (y0 + r) * w + x0)
                continue
            if predictor == 2:
                for r in range(tl):
                    base = r * tstride
                    for x in range(spp, tstride):
                        tile[base + x] = (tile[base + x] + tile[base + x - spp]) & 0xFF
            x0, y0 = tx * tw, ty * tl
            ncols = min(tw, w - x0)
            for r in range(min(tl, h - y0)):
                _row_to_gray(
                    tile, r * tstride, ncols, spp, photo, cmap, gray, (y0 + r) * w + x0
                )
        return w, h, gray

    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("corrupt TIFF: strip offsets/counts missing or mismatched")
    rps = _tag1(tags, 278, h)
    stride = (w + 7) // 8 if onebit else w * spp

    row0 = 0
    for off, cnt in zip(offsets, counts):
        rows = min(rps, h - row0)
        if rows <= 0:
            break
        if off + cnt > len(payload):
            raise ValueError("corrupt TIFF: strip beyond file")
        strip = _decode_strip(comp, payload[off : off + cnt], rows * stride)
        if onebit:
            for r in range(rows):
                expand_bilevel(strip, r * stride, w, (row0 + r) * w)
            row0 += rows
            continue
        if predictor == 2:
            for r in range(rows):
                base = r * stride
                for x in range(spp, stride):
                    strip[base + x] = (strip[base + x] + strip[base + x - spp]) & 0xFF
        for r in range(rows):
            _row_to_gray(strip, r * stride, w, spp, photo, cmap, gray, (row0 + r) * w)
        row0 += rows
    if row0 < h:
        raise ValueError(f"corrupt TIFF: strips cover {row0} of {h} rows")
    return w, h, gray


def tiff_gray_band_row(payload: bytes, n: int) -> list[int]:
    """Box-average into an n-pixel row — the shared dHash downscale."""
    w, h, gray = tiff_decode_gray(payload)
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


def tiff_decode_gray16(payload: bytes) -> tuple[int, int, list[int]]:
    """(width, height, row-major 0..65535 samples) of a 16-bit
    unsigned single-channel gray TIFF — the scientific-instrument
    profile (VERDICT r09 item 6): both byte orders, strip- or
    tile-organized, compression None/LZW/PackBits/Deflate, and the
    horizontal predictor applied on 16-bit SAMPLE values (TIFF 6.0
    §14 — differencing operates per sample, not per byte). Everything
    outside that profile refuses loudly by tag name; proven
    sample-exact against the JVM ImageIO TIFF plugin in
    tests/test_tiff_stdlib.py."""
    payload = bytes(payload)
    if not is_tiff(payload):
        raise ValueError("not a TIFF (bad signature)")
    order = "<" if payload[:2] == b"II" else ">"
    tags = _read_ifd(payload, order)
    w, h = _tag1(tags, 256), _tag1(tags, 257)
    comp = _tag1(tags, 259, 1)
    photo = _tag1(tags, 262)
    spp = _tag1(tags, 277, 1)
    predictor = _tag1(tags, 317, 1)
    planar = _tag1(tags, 284, 1)
    fmt = _tag1(tags, 339, 1)
    bits = tags.get(258, [1])
    if planar != 1:
        raise NotImplementedError("planar-separate TIFF not supported")
    if fmt != 1:
        raise NotImplementedError(f"TIFF sample format {fmt} not supported")
    if photo not in (0, 1):
        raise NotImplementedError(
            f"TIFF photometric {photo} not supported for 16-bit gray"
        )
    if spp != 1 or bits != [16]:
        raise NotImplementedError(
            f"tiff_decode_gray16 expects one 16-bit sample/pixel, got "
            f"{spp} × {bits}"
        )
    if predictor not in (1, 2):
        raise NotImplementedError(f"TIFF predictor {predictor} not supported")

    out = [0] * (w * h)

    def put_rows(chunk: bytearray, nrows: int, ncols_stored: int, ncols: int, x0: int, y0: int) -> None:
        """Decode `nrows`×`ncols_stored` stored samples; write the
        left `ncols` of each row at (x0, y0+r)."""
        stride = ncols_stored * 2
        for r in range(nrows):
            base = r * stride
            row = struct.unpack_from(f"{order}{ncols_stored}H", chunk, base)
            if predictor == 2:
                acc = list(row)
                for x in range(1, ncols_stored):
                    acc[x] = (acc[x] + acc[x - 1]) & 0xFFFF
                row = acc
            dst = (y0 + r) * w + x0
            if photo == 0:  # WhiteIsZero inverts
                for x in range(ncols):
                    out[dst + x] = 0xFFFF - row[x]
            else:
                out[dst : dst + ncols] = row[:ncols]

    if 322 in tags or 323 in tags:  # tile organization
        tw, tl = _tag1(tags, 322), _tag1(tags, 323)
        offsets, counts = tags.get(324), tags.get(325)
        if tw <= 0 or tl <= 0:
            raise ValueError("corrupt TIFF: non-positive tile size")
        across = (w + tw - 1) // tw
        down = (h + tl - 1) // tl
        if not offsets or not counts or len(offsets) != len(counts) or len(
            offsets
        ) != across * down:
            raise ValueError(
                "corrupt TIFF: tile offsets/counts missing or not matching the grid"
            )
        for i, (off, cnt) in enumerate(zip(offsets, counts)):
            ty, tx = divmod(i, across)
            if off + cnt > len(payload):
                raise ValueError("corrupt TIFF: tile beyond file")
            tile = _decode_strip(comp, payload[off : off + cnt], tl * tw * 2)
            x0, y0 = tx * tw, ty * tl
            put_rows(tile, min(tl, h - y0), tw, min(tw, w - x0), x0, y0)
        return w, h, out

    offsets, counts = tags.get(273), tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("corrupt TIFF: strip offsets/counts missing or mismatched")
    rps = _tag1(tags, 278, h)
    row0 = 0
    for off, cnt in zip(offsets, counts):
        rows = min(rps, h - row0)
        if rows <= 0:
            break
        if off + cnt > len(payload):
            raise ValueError("corrupt TIFF: strip beyond file")
        strip = _decode_strip(comp, payload[off : off + cnt], rows * w * 2)
        put_rows(strip, rows, w, w, 0, row0)
        row0 += rows
    if row0 < h:
        raise ValueError(f"corrupt TIFF: strips cover {row0} of {h} rows")
    return w, h, out


# ---------------------------------------------------------------------------
# Encoder — gray-8 / RGB-8 strips, both byte orders, all four codecs.
# ---------------------------------------------------------------------------


class _TiffLZWWriter:
    """MSB-first packer with the decoder-simulated early-change width
    schedule (see module docstring)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0
        self.width = 9
        self.dec_table = 258
        self.codes_since_clear = 0

    def _put(self, code: int) -> None:
        self.acc = (self.acc << self.width) | code
        self.nbits += self.width
        while self.nbits >= 8:
            self.out.append((self.acc >> (self.nbits - 8)) & 0xFF)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def emit(self, code: int) -> None:
        self._put(code)
        self.codes_since_clear += 1
        if self.codes_since_clear >= 2 and self.dec_table < 4096:
            self.dec_table += 1
            if self.dec_table == (1 << self.width) - 1 and self.width < 12:
                self.width += 1

    def emit_clear(self) -> None:
        self._put(256)
        self.width = 9
        self.dec_table = 258
        self.codes_since_clear = 0

    def finish(self) -> bytes:
        self._put(257)
        if self.nbits:
            self.out.append((self.acc << (8 - self.nbits)) & 0xFF)
            self.acc = self.nbits = 0
        return bytes(self.out)


def _lzw_encode(data: bytes) -> bytes:
    w = _TiffLZWWriter()
    w.emit_clear()
    if not data:
        return w.finish()
    d: dict[tuple[int, int], int] = {}
    enc_next = 258
    prev = data[0]
    for k in data[1:]:
        key = (prev, k)
        nxt = d.get(key)
        if nxt is not None:
            prev = nxt
            continue
        w.emit(prev)
        if enc_next < 4096:
            d[key] = enc_next
            enc_next += 1
        else:
            w.emit_clear()
            d.clear()
            enc_next = 258
        prev = k
    w.emit(prev)
    return w.finish()


def _packbits_encode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out += bytes((257 - run, data[i]))
            i += run
            continue
        j = i + 1
        while (
            j < n
            and j - i < 128
            and not (j + 1 < n and data[j + 1] == data[j])
        ):
            j += 1
        out.append(j - i - 1)
        out += data[i:j]
        i = j
    return bytes(out)


_COMPRESSORS = {
    1: lambda b: bytes(b),
    5: _lzw_encode,
    8: zlib.compress,
    32773: _packbits_encode,
}


def encode_tiff_gray16(
    width: int,
    height: int,
    samples: list[int],
    *,
    compression: int = 8,
    predictor: bool = False,
    rows_per_strip: int | None = None,
    big_endian: bool = False,
) -> bytes:
    """Strip-TIFF from a 16-bit unsigned gray raster (row-major
    0..65535 ints) — the writer twin of `tiff_decode_gray16`. The
    horizontal predictor differences 16-bit SAMPLE values (TIFF 6.0
    §14), and sample bytes follow the file's byte order."""
    if width <= 0 or height <= 0:
        raise ValueError("empty image")
    if len(samples) != width * height:
        raise ValueError(f"need {width * height} samples, got {len(samples)}")
    if compression not in _COMPRESSORS:
        raise ValueError(f"unsupported compression {compression}")
    if predictor and compression not in (5, 8):
        raise ValueError("the horizontal predictor pairs with LZW/Deflate")
    order = ">" if big_endian else "<"
    rps = rows_per_strip or height

    strips: list[bytes] = []
    for row0 in range(0, height, rps):
        rows = min(rps, height - row0)
        raw = bytearray()
        for r in range(rows):
            row = samples[(row0 + r) * width : (row0 + r + 1) * width]
            if predictor:
                row = [row[0]] + [
                    (row[x] - row[x - 1]) & 0xFFFF for x in range(1, width)
                ]
            raw += struct.pack(f"{order}{width}H", *row)
        strips.append(_COMPRESSORS[compression](bytes(raw)))

    header = struct.pack(order + "2sHI", b"MM" if big_endian else b"II", 42, 0)
    data = bytearray(header)
    offsets = []
    for s in strips:
        offsets.append(len(data))
        data += s
    if len(data) % 2:
        data += b"\x00"
    ifd_off = len(data)
    data[4:8] = struct.pack(order + "I", ifd_off)

    entries: list[tuple[int, int, list[int]]] = [
        (256, 4, [width]),
        (257, 4, [height]),
        (258, 3, [16]),
        (259, 3, [compression]),
        (262, 3, [1]),
        (273, 4, offsets),
        (277, 3, [1]),
        (278, 4, [rps]),
        (279, 4, [len(s) for s in strips]),
        (284, 3, [1]),
        (339, 3, [1]),
    ]
    if predictor:
        entries.append((317, 3, [2]))
    entries.sort()

    overflow = bytearray()
    overflow_base = ifd_off + 2 + 12 * len(entries) + 4
    ifd = bytearray(struct.pack(order + "H", len(entries)))
    for tag, typ, vals in entries:
        ch, sz = _TYPES[typ]
        packed = struct.pack(order + ch * len(vals), *vals)
        if len(packed) <= 4:
            field = packed + b"\x00" * (4 - len(packed))
        else:
            field = struct.pack(order + "I", overflow_base + len(overflow))
            overflow += packed
            if len(overflow) % 2:
                overflow += b"\x00"
        ifd += struct.pack(order + "HHI", tag, typ, len(vals)) + field
    ifd += struct.pack(order + "I", 0)  # no next IFD
    return bytes(data + ifd + overflow)


def encode_tiff(
    width: int,
    height: int,
    samples: bytes,
    *,
    rgb: bool = False,
    compression: int = 1,
    predictor: bool = False,
    rows_per_strip: int | None = None,
    big_endian: bool = False,
) -> bytes:
    """Baseline strip-TIFF from an 8-bit raster (`samples` is row-major
    gray, or interleaved RGB when `rgb`). `compression` is the TIFF
    tag value (1/5/8/32773); `predictor` applies the horizontal
    differencing predictor (LZW/Deflate only, per spec usage)."""
    spp = 3 if rgb else 1
    if width <= 0 or height <= 0:
        raise ValueError("empty image")
    if len(samples) != width * height * spp:
        raise ValueError(f"need {width * height * spp} samples, got {len(samples)}")
    if compression not in _COMPRESSORS:
        raise ValueError(f"unsupported compression {compression}")
    if predictor and compression not in (5, 8):
        raise ValueError("the horizontal predictor pairs with LZW/Deflate")
    order = ">" if big_endian else "<"
    rps = rows_per_strip or height
    stride = width * spp

    strips: list[bytes] = []
    for row0 in range(0, height, rps):
        rows = min(rps, height - row0)
        raw = bytearray(samples[row0 * stride : (row0 + rows) * stride])
        if predictor:
            for r in range(rows):
                base = r * stride
                for x in range(stride - 1, spp - 1, -1):
                    raw[base + x] = (raw[base + x] - raw[base + x - spp]) & 0xFF
        strips.append(_COMPRESSORS[compression](bytes(raw)))

    # layout: header(8) | strip data | IFD
    header = struct.pack(order + "2sHI", b"MM" if big_endian else b"II", 42, 0)
    data = bytearray(header)
    offsets = []
    for s in strips:
        offsets.append(len(data))
        data += s
    if len(data) % 2:
        data += b"\x00"
    ifd_off = len(data)
    data[4:8] = struct.pack(order + "I", ifd_off)

    entries: list[tuple[int, int, list[int]]] = [
        (256, 4, [width]),
        (257, 4, [height]),
        (258, 3, [8] * spp),
        (259, 3, [compression]),
        (262, 3, [2 if rgb else 1]),
        (273, 4, offsets),
        (277, 3, [spp]),
        (278, 4, [rps]),
        (279, 4, [len(s) for s in strips]),
        (284, 3, [1]),
    ]
    if predictor:
        entries.append((317, 3, [2]))
    entries.sort()

    overflow = bytearray()
    overflow_base = ifd_off + 2 + 12 * len(entries) + 4
    ifd = bytearray(struct.pack(order + "H", len(entries)))
    for tag, typ, vals in entries:
        ch, sz = _TYPES[typ]
        packed = struct.pack(order + ch * len(vals), *vals)
        if len(packed) <= 4:
            field = packed + b"\x00" * (4 - len(packed))
        else:
            field = struct.pack(order + "I", overflow_base + len(overflow))
            overflow += packed
            if len(overflow) % 2:
                overflow += b"\x00"
        ifd += struct.pack(order + "HHI", tag, typ, len(vals)) + field
    ifd += struct.pack(order + "I", 0)  # no next IFD
    return bytes(data + ifd + overflow)
