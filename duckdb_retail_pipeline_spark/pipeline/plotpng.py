"""Dependency-free PNG chart rendering.

The reference's EP2 entry point ends in a rendered 4-panel dashboard
(/root/reference/analysis/analyze_monthly_sales.py:140-143) — so
this module implements the minimum needed to produce a real PNG from
the already-computed insight frames using only the stdlib (zlib,
struct) and numpy: an RGB canvas, bar/line marks, a 5x7 bitmap font
for titles, and a spec-compliant PNG encoder (IHDR/IDAT/IEND, filter
type 0, zlib-compressed scanlines).

This is not a plotting library: axes are implicit (bars/lines are
min-max scaled into their panel), and only the glyphs the dashboard
titles need exist in the font.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Sequence

import numpy as np

# -- PNG encoding ----------------------------------------------------------


def write_png(rgb: np.ndarray, path: str) -> str:
    """Encode an (H, W, 3) uint8 array as an 8-bit/channel RGB PNG."""
    if rgb.ndim != 3 or rgb.shape[2] != 3 or rgb.dtype != np.uint8:
        raise ValueError("expected (H, W, 3) uint8 array")
    h, w, _ = rgb.shape

    def chunk(tag: bytes, payload: bytes) -> bytes:
        body = tag + payload
        return struct.pack(">I", len(payload)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit truecolor
    # filter byte 0 (None) before every scanline
    raw = b"".join(b"\x00" + rgb[y].tobytes() for y in range(h))
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )
    with open(path, "wb") as f:
        f.write(png)
    return path


# -- tiny bitmap font (5x7, titles only) -----------------------------------

_GLYPHS: dict[str, tuple[str, ...]] = {
    "A": ("01110", "10001", "10001", "11111", "10001", "10001", "10001"),
    "B": ("11110", "10001", "10001", "11110", "10001", "10001", "11110"),
    "C": ("01110", "10001", "10000", "10000", "10000", "10001", "01110"),
    "D": ("11110", "10001", "10001", "10001", "10001", "10001", "11110"),
    "E": ("11111", "10000", "10000", "11110", "10000", "10000", "11111"),
    "G": ("01110", "10001", "10000", "10111", "10001", "10001", "01110"),
    "H": ("10001", "10001", "10001", "11111", "10001", "10001", "10001"),
    "I": ("01110", "00100", "00100", "00100", "00100", "00100", "01110"),
    "L": ("10000", "10000", "10000", "10000", "10000", "10000", "11111"),
    "M": ("10001", "11011", "10101", "10101", "10001", "10001", "10001"),
    "N": ("10001", "11001", "10101", "10011", "10001", "10001", "10001"),
    "O": ("01110", "10001", "10001", "10001", "10001", "10001", "01110"),
    "P": ("11110", "10001", "10001", "11110", "10000", "10000", "10000"),
    "R": ("11110", "10001", "10001", "11110", "10100", "10010", "10001"),
    "S": ("01111", "10000", "10000", "01110", "00001", "00001", "11110"),
    "T": ("11111", "00100", "00100", "00100", "00100", "00100", "00100"),
    "U": ("10001", "10001", "10001", "10001", "10001", "10001", "01110"),
    "V": ("10001", "10001", "10001", "10001", "10001", "01010", "00100"),
    "Y": ("10001", "10001", "01010", "00100", "00100", "00100", "00100"),
    "5": ("11111", "10000", "11110", "00001", "00001", "10001", "01110"),
    "(": ("00010", "00100", "01000", "01000", "01000", "00100", "00010"),
    ")": ("01000", "00100", "00010", "00010", "00010", "00100", "01000"),
    " ": ("00000", "00000", "00000", "00000", "00000", "00000", "00000"),
}


#: screen pixels per glyph pixel
GLYPH_PX = 2


def draw_text(canvas: np.ndarray, x: int, y: int, text: str) -> None:
    """Blit ``text`` (chars outside the font render as space) at
    (x, y) top-left, ``GLYPH_PX``x pixel size."""
    cx = x
    for ch in text.upper():
        glyph = _GLYPHS.get(ch, _GLYPHS[" "])
        for gy, row in enumerate(glyph):
            for gx, bit in enumerate(row):
                if bit == "1":
                    y0, x0 = y + gy * GLYPH_PX, cx + gx * GLYPH_PX
                    canvas[y0 : y0 + GLYPH_PX, x0 : x0 + GLYPH_PX] = (30, 30, 30)
        cx += 6 * GLYPH_PX


# -- marks -----------------------------------------------------------------


def _scaled(values: Sequence[float], hi_px: int) -> list[int]:
    vals = [float(v) for v in values]
    vmax = max(vals) if vals else 1.0
    vmin = min(0.0, min(vals)) if vals else 0.0
    span = (vmax - vmin) or 1.0
    return [int(hi_px * (v - vmin) / span) for v in vals]


def draw_bars(
    canvas: np.ndarray,
    panel: tuple[int, int, int, int],
    values: Sequence[float],
) -> None:
    """Bar chart filling ``panel`` = (y0, x0, y1, x1). Bars grow from
    the ZERO line, not the panel bottom — a signed series renders
    negatives downward instead of as invisible slivers that
    misrepresent sign (the dashboard's own series are positive by
    construction, but this is the shared mark library)."""
    y0, x0, y1, x1 = panel
    if not len(values):
        return
    vals = [float(v) for v in values]
    vmax = max(max(vals), 0.0)
    vmin = min(min(vals), 0.0)
    span = (vmax - vmin) or 1.0
    height = y1 - y0
    n = len(vals)
    slot = (x1 - x0) // n
    bar_w = max(1, int(slot * 0.7))
    zero_px = int(height * (0.0 - vmin) / span)
    for i, v in enumerate(vals):
        vpx = int(height * (v - vmin) / span)
        lo, hi = sorted((vpx, zero_px))
        hi = max(hi, lo + 1)  # a 0-height bar stays a visible tick
        bx = x0 + i * slot + (slot - bar_w) // 2
        canvas[y1 - hi : y1 - lo, bx : bx + bar_w] = (61, 90, 241)

def draw_polyline(
    canvas: np.ndarray,
    panel: tuple[int, int, int, int],
    values: Sequence[float],
) -> None:
    """Line chart across ``panel`` (x spread evenly, y min-max
    scaled); simple integer interpolation, no anti-aliasing."""
    y0, x0, y1, x1 = panel
    if len(values) < 2:
        return
    n = len(values)
    xs = [x0 + i * (x1 - x0) // (n - 1) for i in range(n)]
    ys = [y1 - h for h in _scaled(values, y1 - y0)]
    for i in range(n - 1):
        ax, ay, bx, by = xs[i], ys[i], xs[i + 1], ys[i + 1]
        steps = max(abs(bx - ax), abs(by - ay), 1)
        for s in range(steps + 1):
            px = ax + (bx - ax) * s // steps
            py = ay + (by - ay) * s // steps
            canvas[py : py + 2, px : px + 2] = (200, 80, 60)


def panel_frame(canvas: np.ndarray, panel: tuple[int, int, int, int]) -> None:
    y0, x0, y1, x1 = panel
    canvas[y0, x0:x1] = canvas[y1, x0:x1] = (120, 120, 120)
    canvas[y0:y1, x0] = canvas[y0 : y1 + 1, x1] = (120, 120, 120)
