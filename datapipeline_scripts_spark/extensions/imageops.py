"""Pixel-level image operators over the stdlib codec family — the
resize step of the brief's decode / feature-extract / RESIZE /
frame-sample multimodal chain (SURVEY.md §2.E4), as a standalone,
exactly-specified operator rather than the phash-internal band
average.

`box_resize_gray` is an EXACT INTEGER area-weighted (box) resample:
target pixel (tx, ty) covers the source rectangle
[tx·w/tw, (tx+1)·w/tw) × [ty·h/th, (ty+1)·h/th); every source pixel
contributes its overlap area, all arithmetic in integers on a
(w·tw) × (h·th) subgrid, final value = floor(Σ pixel·area / Σ area).
Exact means: fleet-deterministic (no float rounding anywhere, same
bytes on every worker) and ORACLE-EXPRESSIBLE — for divisor
geometries (tw | w, th | h) each output pixel is literally
floor(block_sum / block_size), which DuckDB can recompute from a
pixel formula, so the resize chain sits under the driver's hash gate
like the codecs do (`multimodal_resize` in extensions/multimodal.py).

Scale shape: per-image CPU inside an Arrow worker, embarrassingly
parallel like the decode family; only (doc_id, output pixels) cross
the worker boundary. Upscaling replicates area-weighted too (the
same formula handles tw > w), matching area-true semantics rather
than introducing an interpolation kernel that no oracle could check.
"""

from __future__ import annotations


def box_resize_gray(
    pixels: bytes, w: int, h: int, tw: int, th: int
) -> bytes:
    """Area-weighted resize of a row-major 8-bit grayscale image from
    (w, h) to (tw, th). Exact integer arithmetic throughout — see the
    module docstring. Refuses loudly on size mismatches."""
    if w <= 0 or h <= 0 or tw <= 0 or th <= 0:
        raise ValueError("image and target dimensions must be positive")
    pixels = bytes(pixels)
    if len(pixels) != w * h:
        raise ValueError(f"need {w * h} gray bytes for {w}x{h}, got {len(pixels)}")
    if (tw, th) == (w, h):
        return pixels

    def spans(n: int, tn: int) -> list[list[tuple[int, int]]]:
        """For each target index: [(source index, overlap weight)] on
        the 1/tn subgrid — weights sum to n per target cell."""
        out = []
        for t in range(tn):
            lo, hi = t * n, (t + 1) * n  # in units of 1/tn
            cells = []
            s0, s1 = lo // tn, (hi - 1) // tn
            for s in range(s0, s1 + 1):
                overlap = min(hi, (s + 1) * tn) - max(lo, s * tn)
                cells.append((s, overlap))
            out.append(cells)
        return out

    xs = spans(w, tw)
    ys = spans(h, th)
    denom = w * h  # Σ wx·wy per target pixel, exactly
    out = bytearray(tw * th)
    for ty, ycells in enumerate(ys):
        row_base = ty * tw
        for tx, xcells in enumerate(xs):
            acc = 0
            for sy, wy in ycells:
                src = sy * w
                for sx, wx in xcells:
                    acc += pixels[src + sx] * wx * wy
            out[row_base + tx] = acc // denom
    return bytes(out)
