"""Stdlib-only baseline JPEG decoder, one of the codecs
`extensions/multimodal.py` routes payloads through — the sequel to
png_stdlib.py: JPEG is the most common LOSSY image format, and baseline
(SOF0/SOF1) huffman-coded JPEG decodes with nothing beyond integer
arithmetic, so real width/height and difference hashes need no codec
library for the two formats that dominate real corpora.

Everything follows the PUBLIC specification (ITU-T T.81 / ISO 10918-1
+ the JFIF colorspace conventions):

- marker stream: SOI, APPn/COM (skipped), DQT (8/16-bit tables, zigzag
  order), SOF0/SOF1 (baseline / extended sequential — identical
  decode), DHT (canonical huffman: BITS counts then HUFFVAL), DRI
  (restart interval), SOS, RST0-7, EOI;
- entropy-coded segment: byte-stuffed (FF 00 = literal FF), DC
  difference + AC run/size coding per T.81 F.2, EXTEND sign recovery,
  restart markers byte-align and reset DC predictors;
- dequantize → de-zigzag → 8×8 inverse DCT → level shift (+128);
- chroma upsampling by sample replication (box); YCbCr→RGB per the
  JFIF fixed-point coefficients; grayscale via integer BT.601 luma
  ((299 R + 587 G + 114 B) // 1000 — same formula as png_stdlib).

Unsupported shapes raise LOUDLY with remediation, never a wrong pixel:
progressive (SOF2), arithmetic coding (SOF9+), lossless/hierarchical,
12-bit precision, and component counts other than 1 (gray) or 3
(YCbCr). `jpeg_size` reads dimensions from ANY SOFn header (dims are
lossless metadata even for shapes the pixel decoder refuses).

Determinism: the whole pixel path is INTEGER arithmetic — the IDCT is
a fixed-point (13-bit) 64×64 basis matrix, so the same bytes decode to
the same pixels on every worker, with no libjpeg/SIMD variance
(the fleet-uniformity property ADVICE r06 established for PNG hashes).
The float→int basis quantization happens once at import from 8 distinct
cosine values and is pinned by a test fingerprint; conformance against
the JVM ImageIO codec (encode there, decode here vs there) is asserted
within the decoder-variance tolerance T.81 itself allows — JPEG
decoders legitimately differ by ±1-2 gray levels (IDCT rounding), more
at chroma edges (upsampling filters).
"""

from __future__ import annotations

import math
import struct

# zigzag index k (scan order) -> natural index u*8+v
ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)

_SOF_SUPPORTED = (0xC0, 0xC1)  # baseline, extended sequential (huffman)
_SOF_ALL = set(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}  # every SOFn marker


def _build_idct_basis() -> list[list[int]]:
    """64×64 fixed-point IDCT basis: OUT[p] = Σ_z B[p][z]·COEF[z] with
    B = round(8192 · ¼·cu·cv·cos((2x+1)uπ/16)·cos((2y+1)vπ/16)),
    p = y*8+x, z = u*8+v (natural order). 13 fractional bits keep the
    worst-case reconstruction within ±1 of the real-valued IDCT."""
    inv_sqrt2 = 1.0 / math.sqrt(2.0)
    cos = [
        [math.cos((2 * n + 1) * k * math.pi / 16.0) for n in range(8)]
        for k in range(8)
    ]
    basis = []
    for p in range(64):
        y, x = p >> 3, p & 7
        row = []
        for z in range(64):
            u, v = z >> 3, z & 7
            c = 0.25 * cos[u][y] * cos[v][x]
            if u == 0:
                c *= inv_sqrt2
            if v == 0:
                c *= inv_sqrt2
            row.append(round(c * 8192.0))
        basis.append(row)
    return basis


_IDCT_BASIS = _build_idct_basis()


def is_jpeg(payload: bytes) -> bool:
    return len(payload) > 3 and bytes(payload[:2]) == b"\xff\xd8"


def _iter_segments(payload: bytes):
    """Yield (marker, offset_of_segment_data, length_of_segment_data)
    for every marker segment up to SOS/EOI. Stops AT SOS (entropy data
    follows) — callers needing pixels continue from there."""
    i = 2
    n = len(payload)
    while i < n:
        if payload[i] != 0xFF:
            raise ValueError(f"corrupt JPEG: expected marker at byte {i}")
        while i < n and payload[i] == 0xFF:  # fill bytes are legal
            i += 1
        if i >= n:
            raise ValueError("corrupt JPEG: truncated marker")
        marker = payload[i]
        i += 1
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:  # no payload
            continue
        if marker == 0xD9:  # EOI
            return
        if i + 2 > n:
            raise ValueError("corrupt JPEG: truncated segment length")
        (seg_len,) = struct.unpack(">H", payload[i : i + 2])
        if seg_len < 2 or i + seg_len > n:
            raise ValueError("corrupt JPEG: segment overruns file")
        yield marker, i + 2, seg_len - 2
        i += seg_len
        if marker == 0xDA:  # SOS: entropy-coded data follows
            return


def jpeg_size(payload: bytes) -> tuple[int, int]:
    """(width, height) from the SOF header — dims only, no pixel
    decode; works for ANY SOFn (progressive included)."""
    if not is_jpeg(payload):
        raise ValueError("not a JPEG (bad SOI signature)")
    payload = bytes(payload)
    for marker, off, ln in _iter_segments(payload):
        if marker in _SOF_ALL:
            if ln < 5:
                raise ValueError("corrupt JPEG: SOF segment too short")
            h, w = struct.unpack(">HH", payload[off + 1 : off + 5])
            return w, h
    raise ValueError("corrupt JPEG: no SOF marker before SOS/EOI")


def _build_huffman(counts: list[int], symbols: bytes):
    """Canonical JPEG huffman tables (T.81 annex C): per code length
    L∈[1,16], (min_code, max_code, first-symbol index); max_code=-1
    marks unused lengths."""
    mincode, maxcode, valptr = [0] * 17, [-1] * 17, [0] * 17
    code = 0
    k = 0
    for length in range(1, 17):
        if counts[length - 1]:
            valptr[length] = k
            mincode[length] = code
            code += counts[length - 1]
            k += counts[length - 1]
            maxcode[length] = code - 1
        code <<= 1
    return mincode, maxcode, valptr, symbols


class _BitReader:
    """Entropy-coded-segment bit reader: FF 00 unstuffs to FF; any
    other FF xx is a marker — RSTn are consumed by `restart()`, the
    rest end the scan (bits then read as 0 per T.81 F.2.2.5)."""

    def __init__(self, payload: bytes, pos: int) -> None:
        self.data = payload
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker = None  # pending non-RST marker that ended the scan

    def _fill(self) -> None:
        if self.marker is not None:
            self.acc = (self.acc << 8) & 0xFFFFFFFF
            self.nbits += 8
            return
        b = self.data[self.pos] if self.pos < len(self.data) else None
        if b is None:
            self.marker = 0xD9  # implicit EOI on truncation
            self._fill()
            return
        self.pos += 1
        if b == 0xFF:
            nxt = self.data[self.pos] if self.pos < len(self.data) else 0xD9
            if nxt == 0x00:
                self.pos += 1
            else:
                self.marker = nxt
                self.pos += 1
                self.acc = (self.acc << 8) & 0xFFFFFFFF
                self.nbits += 8
                return
        self.acc = ((self.acc << 8) | b) & 0xFFFFFFFF
        self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def restart(self, expect: int) -> None:
        """Byte-align and consume the next RSTn marker."""
        self.nbits = 0
        if self.marker is None:
            # scan forward to the marker (tolerate pad bits already buffered)
            while self.pos + 1 < len(self.data):
                if self.data[self.pos] == 0xFF and self.data[self.pos + 1] != 0x00:
                    self.marker = self.data[self.pos + 1]
                    self.pos += 2
                    break
                self.pos += 1
        if self.marker != 0xD0 + expect:
            found = f"{self.marker:#x}" if self.marker is not None else "nothing"
            raise ValueError(f"corrupt JPEG: expected RST{expect}, found {found}")
        self.marker = None

    def decode_huff(self, table) -> int:
        mincode, maxcode, valptr, symbols = table
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bit()
            if maxcode[length] >= code >= mincode[length] and maxcode[length] != -1:
                return symbols[valptr[length] + code - mincode[length]]
        raise ValueError("corrupt JPEG: invalid huffman code in scan")


def _extend(v: int, s: int) -> int:
    """T.81 F.12: recover the signed value from s magnitude bits."""
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def _decode_block(br: _BitReader, dc_tab, ac_tab, qt, pred: int):
    """One 8×8 block: huffman → dequantized coefficients in NATURAL
    order; returns (coef[64], new DC predictor)."""
    t = br.decode_huff(dc_tab)
    diff = _extend(br.bits(t), t) if t else 0
    pred += diff
    coef = [0] * 64
    coef[0] = pred * qt[0]
    k = 1
    while k < 64:
        rs = br.decode_huff(ac_tab)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r != 15:
                break  # EOB
            k += 16
            continue
        k += r
        if k > 63:
            raise ValueError("corrupt JPEG: AC coefficient index overrun")
        coef[ZIGZAG[k]] = _extend(br.bits(s), s) * qt[k]
        k += 1
    return coef, pred


def _idct_block(coef: list[int]) -> list[int]:
    """Fixed-point IDCT + level shift → 64 clamped samples (natural
    row-major order). Integer-only: bit-identical on every worker."""
    out = [0] * 64
    for p in range(64):
        row = _IDCT_BASIS[p]
        acc = 4096  # rounding term for the >>13
        for z in range(64):
            c = coef[z]
            if c:
                acc += row[z] * c
        v = (acc >> 13) + 128
        out[p] = 0 if v < 0 else (255 if v > 255 else v)
    return out


def jpeg_decode_gray(payload: bytes) -> tuple[int, int, bytearray]:
    """Full baseline decode → (width, height, row-major 8-bit
    grayscale). 3-component scans decode Y/Cb/Cr fully, upsample by
    replication, convert via JFIF fixed-point, then integer BT.601."""
    if not is_jpeg(payload):
        raise ValueError("not a JPEG (bad SOI signature)")
    payload = bytes(payload)
    qtables: dict[int, list[int]] = {}
    huff_dc: dict[int, tuple] = {}
    huff_ac: dict[int, tuple] = {}
    frame = None  # (w, h, comps) comps: list of (cid, hi, vi, tq)
    restart_interval = 0
    scan = None

    for marker, off, ln in _iter_segments(payload):
        seg = payload[off : off + ln]
        if marker == 0xDB:  # DQT
            j = 0
            while j < ln:
                pq, tq = seg[j] >> 4, seg[j] & 15
                j += 1
                if pq == 0:
                    qtables[tq] = list(seg[j : j + 64])
                    j += 64
                else:
                    qtables[tq] = [
                        (seg[j + 2 * z] << 8) | seg[j + 2 * z + 1] for z in range(64)
                    ]
                    j += 128
        elif marker in _SOF_SUPPORTED:
            prec, h, w, nc = seg[0], (seg[1] << 8) | seg[2], (seg[3] << 8) | seg[4], seg[5]
            if prec != 8:
                raise NotImplementedError(
                    f"{prec}-bit JPEG not supported by the stdlib decoder "
                    "(8-bit baseline only)"
                )
            if nc not in (1, 3):
                raise NotImplementedError(
                    f"{nc}-component JPEG (CMYK?) not supported by the "
                    "stdlib decoder"
                )
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c], seg[7 + 3 * c], seg[8 + 3 * c]
                comps.append((cid, hv >> 4, hv & 15, tq))
            frame = (w, h, comps)
        elif marker in _SOF_ALL:
            kind = {0xC2: "progressive", 0xC3: "lossless"}.get(
                marker, "arithmetic/hierarchical"
            )
            raise NotImplementedError(
                f"{kind} JPEG (SOF{marker - 0xC0}) not supported by the "
                "stdlib decoder (baseline huffman only); re-encode baseline"
            )
        elif marker == 0xC4:  # DHT
            j = 0
            while j < ln:
                tc, th = seg[j] >> 4, seg[j] & 15
                counts = list(seg[j + 1 : j + 17])
                nsym = sum(counts)
                symbols = seg[j + 17 : j + 17 + nsym]
                (huff_dc if tc == 0 else huff_ac)[th] = _build_huffman(counts, symbols)
                j += 17 + nsym
        elif marker == 0xDD:  # DRI
            restart_interval = (seg[0] << 8) | seg[1]
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            sel = []
            for c in range(ns):
                cs, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                sel.append((cs, tt >> 4, tt & 15))
            scan = (sel, off + ln)  # entropy data starts after the header
            break

    if frame is None or scan is None:
        raise ValueError("corrupt JPEG: missing SOF/SOS")
    w, h, comps = frame
    if w == 0 or h == 0:
        raise ValueError("corrupt JPEG: zero dimension")
    sel, ecs_start = scan
    if len(sel) != len(comps):
        raise NotImplementedError(
            "multi-scan (non-interleaved) baseline JPEG not supported by "
            "the stdlib decoder"
        )
    if len(comps) == 1:
        # T.81: a single-component scan is non-interleaved — one data
        # unit per MCU, ceil(w/8)×ceil(h/8) blocks regardless of the
        # declared sampling factors (libjpeg does the same).
        cid, _, _, tq = comps[0]
        comps = [(cid, 1, 1, tq)]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)

    # per-component plane buffers at the component's own resolution
    planes = []
    order = []  # (comp_idx, hi, vi, dc_tab, ac_tab, qt, blocks_per_row)
    by_id = {s[0]: (s[1], s[2]) for s in sel}
    for ci, (cid, hi, vi, tq) in enumerate(comps):
        if cid not in by_id:
            raise ValueError("corrupt JPEG: SOS names unknown component")
        td, ta = by_id[cid]
        if td not in huff_dc or ta not in huff_ac or tq not in qtables:
            raise ValueError("corrupt JPEG: scan references missing table")
        cw, chh = mcux * hi * 8, mcuy * vi * 8
        planes.append(bytearray(cw * chh))
        order.append((ci, hi, vi, huff_dc[td], huff_ac[ta], qtables[tq], cw))

    br = _BitReader(payload, ecs_start)
    preds = [0] * len(comps)
    rst = 0
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                br.restart(rst)
                rst = (rst + 1) & 7
                preds = [0] * len(comps)
            for ci, hi, vi, dc_tab, ac_tab, qt, cw in order:
                for by in range(vi):
                    for bx in range(hi):
                        coef, preds[ci] = _decode_block(
                            br, dc_tab, ac_tab, qt, preds[ci]
                        )
                        px = _idct_block(coef)
                        x0 = (mx * hi + bx) * 8
                        y0 = (my * vi + by) * 8
                        plane = planes[ci]
                        for yy in range(8):
                            row = (y0 + yy) * cw + x0
                            plane[row : row + 8] = bytes(px[yy * 8 : yy * 8 + 8])
            mcu_count += 1

    gray = bytearray(w * h)
    if len(comps) == 1:
        cw = order[0][6]
        plane = planes[0]
        for y in range(h):
            gray[y * w : (y + 1) * w] = plane[y * cw : y * cw + w]
        return w, h, gray

    # YCbCr: upsample chroma by replication, JFIF fixed-point to RGB,
    # integer BT.601 to gray
    (_, yh, yv, _, _, _, ycw) = order[0]
    (_, bh, bv, _, _, _, bcw) = order[1]
    (_, rh, rv, _, _, _, rcw) = order[2]
    yp, bp, rp = planes[0], planes[1], planes[2]
    for y in range(h):
        yrow = (y * yv // vmax) * ycw
        brow = (y * bv // vmax) * bcw
        rrow = (y * rv // vmax) * rcw
        grow = y * w
        for x in range(w):
            lum = yp[yrow + (x * yh // hmax)]
            cb = bp[brow + (x * bh // hmax)] - 128
            cr = rp[rrow + (x * rh // hmax)] - 128
            r = lum + ((91881 * cr + 32768) >> 16)
            g = lum - ((22554 * cb + 46802 * cr + 32768) >> 16)
            b = lum + ((116130 * cb + 32768) >> 16)
            r = 0 if r < 0 else (255 if r > 255 else r)
            g = 0 if g < 0 else (255 if g > 255 else g)
            b = 0 if b < 0 else (255 if b > 255 else b)
            gray[grow + x] = (299 * r + 587 * g + 114 * b) // 1000
    return w, h, gray


def jpeg_gray_band_row(payload: bytes, n: int) -> list[int]:
    """Decode and box-average into an n-pixel row — the same area-true
    downscale contract as png_stdlib.png_gray_band_row, feeding the
    difference hash in multimodal.py."""
    w, h, gray = jpeg_decode_gray(payload)
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


# ---- minimal baseline encoder ----------------------------------------------
#
# Grayscale-only, std Annex K tables: the fixture/test generator that
# (a) exercises the decoder's restart-marker path (ImageIO's writer
# exposes no DRI knob), and (b) produces the driver-provable
# `multimodal_real_jpeg` payloads — callers hand over QUANTIZED
# coefficients, so the decoded pixels are an exact integer function of
# those coefficients (DC-only/low-AC blocks make that function
# SQL-expressible; see sources/staged_r9.py). Encoder correctness is
# itself proven against the canonical decoder: tests decode these
# bytes with JVM ImageIO and compare raster samples.

# T.81 Annex K.1 luminance quantization table, NATURAL (row-major) order
STD_LUMA_QUANT = (
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
)

# T.81 Annex K.3.1: standard luminance DC/AC huffman specs
STD_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
STD_DC_VALS = tuple(range(12))
STD_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
STD_AC_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
)


def _huff_codes(bits, vals) -> dict[int, tuple[int, int]]:
    """Canonical huffman assignment (T.81 Annex C): symbol → (code, length)."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def pad_align(self) -> None:
        if self.nbits:
            self.put((1 << (8 - self.nbits)) - 1, 8 - self.nbits)


def encode_gray_baseline(
    width: int,
    height: int,
    quant_blocks,
    qtable=STD_LUMA_QUANT,
    restart_interval: int = 0,
) -> bytes:
    """Baseline single-component JPEG from QUANTIZED coefficients.

    `quant_blocks`: one 64-int list per 8×8 block in MCU (row-major
    block) order, NATURAL coefficient order, already divided by
    `qtable` (natural order too). ceil(w/8)·ceil(h/8) blocks required.
    `restart_interval` > 0 emits DRI and RST0-7 every that many MCUs
    (one block per MCU here) — the decoder path ImageIO can't produce.
    """
    nbx = (width + 7) // 8
    nby = (height + 7) // 8
    blocks = list(quant_blocks)
    if len(blocks) != nbx * nby:
        raise ValueError(f"need {nbx * nby} blocks, got {len(blocks)}")

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    dqt = bytes([0x00]) + bytes(qtable[ZIGZAG[k]] for k in range(64))
    sof = bytes([8]) + struct.pack(">HH", height, width) + bytes([1, 1, 0x11, 0])
    dht_dc = bytes([0x00]) + bytes(STD_DC_BITS) + bytes(STD_DC_VALS)
    dht_ac = bytes([0x10]) + bytes(STD_AC_BITS) + bytes(STD_AC_VALS)
    sos = bytes([1, 1, 0x00, 0, 63, 0])

    dc_codes = _huff_codes(STD_DC_BITS, STD_DC_VALS)
    ac_codes = _huff_codes(STD_AC_BITS, STD_AC_VALS)
    bw = _BitWriter()
    pred = 0
    rst = 0
    for i, blk in enumerate(blocks):
        if restart_interval and i and i % restart_interval == 0:
            bw.pad_align()
            bw.out.extend((0xFF, 0xD0 + rst))
            rst = (rst + 1) & 7
            pred = 0
        diff = blk[0] - pred
        pred = blk[0]
        mag = abs(diff)
        s = mag.bit_length()
        code, ln = dc_codes[s]
        bw.put(code, ln)
        if s:
            bw.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
        # AC in zigzag scan order
        run = 0
        for k in range(1, 64):
            v = blk[ZIGZAG[k]]
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_codes[0xF0]  # ZRL
                bw.put(code, ln)
                run -= 16
            mag = abs(v)
            s = mag.bit_length()
            if s > 10:
                raise ValueError("AC coefficient magnitude exceeds baseline range")
            code, ln = ac_codes[(run << 4) | s]
            bw.put(code, ln)
            bw.put(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if run:
            code, ln = ac_codes[0x00]  # EOB
            bw.put(code, ln)
    bw.pad_align()

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, dqt)
    out += seg(0xC0, sof)
    out += seg(0xC4, dht_dc)
    out += seg(0xC4, dht_ac)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    out += seg(0xDA, sos)
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def encode_ycbcr_baseline(
    width: int,
    height: int,
    blocks_y,
    blocks_cb,
    blocks_cr,
    sampling: tuple[int, int] = (2, 2),
    qtable=STD_LUMA_QUANT,
    restart_interval: int = 0,
) -> bytes:
    """Baseline 3-component JPEG from QUANTIZED coefficients — the
    color sibling of `encode_gray_baseline`, here so the decoder's
    4:4:4 / 4:2:2 / 4:2:0 interleave+upsample paths can be cross-
    proven against the JVM decoder (ImageIO's writer only ever emits
    4:2:0, so those paths are otherwise untestable in-container).

    `sampling` is (h1, v1) for Y; Cb/Cr are 1×1 — (1,1)=4:4:4,
    (2,1)=4:2:2, (2,2)=4:2:0. Y blocks: (mcux·h1)×(mcuy·v1) in
    row-major grid order; chroma blocks: mcux×mcuy each. One shared
    quant table and the std luminance huffman tables serve all three
    components (spec-legal: SOF/SOS select tables per component, and
    every selector here points at slot 0)."""
    h1, v1 = sampling
    if h1 not in (1, 2) or v1 not in (1, 2):
        raise ValueError("sampling factors must be 1 or 2")
    mcux = (width + 8 * h1 - 1) // (8 * h1)
    mcuy = (height + 8 * v1 - 1) // (8 * v1)
    ys = list(blocks_y)
    cbs = list(blocks_cb)
    crs = list(blocks_cr)
    if len(ys) != mcux * h1 * mcuy * v1:
        raise ValueError(f"need {mcux * h1 * mcuy * v1} Y blocks, got {len(ys)}")
    if len(cbs) != mcux * mcuy or len(crs) != mcux * mcuy:
        raise ValueError(f"need {mcux * mcuy} blocks per chroma component")

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    dqt = bytes([0x00]) + bytes(qtable[ZIGZAG[k]] for k in range(64))
    sof = (
        bytes([8])
        + struct.pack(">HH", height, width)
        + bytes([3, 1, (h1 << 4) | v1, 0, 2, 0x11, 0, 3, 0x11, 0])
    )
    dht_dc = bytes([0x00]) + bytes(STD_DC_BITS) + bytes(STD_DC_VALS)
    dht_ac = bytes([0x10]) + bytes(STD_AC_BITS) + bytes(STD_AC_VALS)
    sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])

    dc_codes = _huff_codes(STD_DC_BITS, STD_DC_VALS)
    ac_codes = _huff_codes(STD_AC_BITS, STD_AC_VALS)
    bw = _BitWriter()

    def put_block(blk, pred: int) -> int:
        diff = blk[0] - pred
        mag = abs(diff)
        s = mag.bit_length()
        code, ln = dc_codes[s]
        bw.put(code, ln)
        if s:
            bw.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
        run = 0
        for k in range(1, 64):
            v = blk[ZIGZAG[k]]
            if v == 0:
                run += 1
                continue
            while run > 15:
                c, l2 = ac_codes[0xF0]
                bw.put(c, l2)
                run -= 16
            mag = abs(v)
            s = mag.bit_length()
            if s > 10:
                raise ValueError("AC coefficient magnitude exceeds baseline range")
            c, l2 = ac_codes[(run << 4) | s]
            bw.put(c, l2)
            bw.put(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if run:
            c, l2 = ac_codes[0x00]
            bw.put(c, l2)
        return blk[0]

    preds = [0, 0, 0]
    rst = 0
    mcu = 0
    ybw = mcux * h1  # Y block-grid width
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw.pad_align()
                bw.out.extend((0xFF, 0xD0 + rst))
                rst = (rst + 1) & 7
                preds = [0, 0, 0]
            for by in range(v1):
                for bx in range(h1):
                    preds[0] = put_block(ys[(my * v1 + by) * ybw + mx * h1 + bx], preds[0])
            preds[1] = put_block(cbs[my * mcux + mx], preds[1])
            preds[2] = put_block(crs[my * mcux + mx], preds[2])
            mcu += 1
    bw.pad_align()

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, dqt)
    out += seg(0xC0, sof)
    out += seg(0xC4, dht_dc)
    out += seg(0xC4, dht_ac)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    out += seg(0xDA, sos)
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)
