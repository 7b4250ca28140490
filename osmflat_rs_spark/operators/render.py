"""Render sinks: raster (PGM) and vector (SVG) outputs.

Restates the reference's render programs without image libraries (none in
this environment): render-roads' grayscale PNG (render-roads.rs:200-214)
becomes a binary PGM (P5) — same pixel semantics, pure bytes; render-
features' styled SVG (render-features.rs:236-347) becomes an SVG document
string with per-category styling and fixed 5-decimal coordinate
formatting (F11, render-features.rs:285).

The pixel/geometry computation is distributed (the DataFrames produced by
tiling.raster_assign — the fused Arrow DDA stage — / queries.classify); only the final image assembly
is driver-side — exactly like the reference, which accumulates the raster
in RAM before writing (render-roads.rs:161-214).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SVG_STYLE = {
    # category → (stroke, stroke-width, fill) — stand-ins for the style
    # table at render-features.rs:251-276
    "Road": ("#111111", 1, "none"),
    "River": ("#3d9dd9", 1, "none"),
    "Park": ("#a3c98f", 1, "#cdebb0"),
    "Water": ("#3d9dd9", 1, "#aad3df"),
}


def _raster_array(raster: DataFrame, width: int, height: int) -> np.ndarray:
    """distinct (x, y) pixel DataFrame → uint8 canvas (background 0, road
    pixels 255 — the reference's luma convention, render-roads.rs:161-214).
    Pixel computation is distributed; only the bounded-size image
    assembles on the driver (same shape as the reference's in-RAM raster)."""
    img = np.zeros((height, width), dtype=np.uint8)
    pix = raster.select("x", "y").distinct().toPandas()
    xs = pix["x"].to_numpy(np.int64)
    ys = pix["y"].to_numpy(np.int64)
    keep = (xs >= 0) & (xs < width) & (ys >= 0) & (ys < height)
    img[ys[keep], xs[keep]] = 255
    return img


def raster_to_pgm(raster: DataFrame, width: int, height: int) -> bytes:
    """Binary PGM (P5) raster sink."""
    img = _raster_array(raster, width, height)
    header = f"P5\n{width} {height}\n255\n".encode()
    return header + img.tobytes()


def raster_to_png(raster: DataFrame, width: int, height: int) -> bytes:
    """8-bit grayscale PNG raster sink — the reference's actual artifact
    (render-roads.rs:200-214 writes PNG). Stdlib-only encoder: zlib
    deflate over filter-0 scanlines + CRC-32 chunk framing per the PNG
    spec; no image libraries required."""
    import struct
    import zlib

    img = _raster_array(raster, width, height)
    raw = b"".join(b"\x00" + img[y].tobytes() for y in range(height))

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)  # 8-bit grayscale
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 9))
        + chunk(b"IEND", b"")
    )


def features_to_svg(
    feature_lines: DataFrame,
    width: int = 800,
    height: int = 600,
) -> str:
    """(feature_id, category, line_pos, points: array<struct<x:double,y:double>>)
    → SVG document. Coordinates are already pixel-space doubles; formatted
    with exactly 5 decimals (render-features.rs:285)."""
    rows = feature_lines.select("feature_id", "category", "line_pos", "points").collect()
    by_cat: dict[str, list] = {}
    for r in rows:
        by_cat.setdefault(r["category"], []).append(r)
    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{width}" height="{height}" '
        f'viewBox="0 0 {width} {height}">'
    ]
    for cat in sorted(by_cat):
        stroke, sw, fill = SVG_STYLE.get(cat, ("#000000", 1, "none"))
        parts.append(f'<g stroke="{stroke}" stroke-width="{sw}" fill="{fill}" data-category="{cat}">')
        for r in sorted(by_cat[cat], key=lambda r: (str(r["feature_id"]), r["line_pos"])):
            pts = " ".join(f"{p['x']:.5f},{p['y']:.5f}" for p in r["points"])
            parts.append(f'<polyline points="{pts}"/>')
        parts.append("</g>")
    parts.append("</svg>")
    return "\n".join(parts)


def cities_json(cities_df: DataFrame) -> DataFrame:
    """S9 JSON sink (cities.rs:42-43): one JSON object per row."""
    return cities_df.select(F.to_json(F.struct("name", "population")).alias("json"))
