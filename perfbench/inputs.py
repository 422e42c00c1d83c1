"""Seeded benchmark inputs and the plain-NumPy truth they are checked against.

Everything here is a pure function of the seed: the same seed gives the same
points, polygon layer and images.  Nothing here starts Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

PIXEL_DEG = 1e-4  # ground sample distance pixels_to_cells uses by default


# --------------------------------------------------------------- sjoin_points

def star_ring(cx: float, cy: float, r_out: float, r_in: float, rot: float,
              spikes: int = 7) -> list:
    """Closed concave star ring with 2*spikes vertices (lon/lat degrees)."""
    k = np.arange(2 * spikes)
    rad = np.where(k % 2 == 0, r_out, r_in)
    ang = rot + np.pi * k / spikes
    ring = np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], axis=1)
    ring = np.vstack([ring, ring[:1]])
    return ring.tolist()


# (outer radius, |centre latitude|) of the six stars, in degrees.  Fixed so
# that every seed asks for the same amount of work: the seed moves, mirrors
# and turns the stars, it does not resize them.
STARS = ((10.0, 10.0), (8.8, 25.0), (7.6, 40.0), (6.4, 5.0), (5.2, 30.0), (4.0, 50.0))


def polygon_layer(rng: np.random.Generator, point: tuple) -> dict:
    """Six concave 14-vertex stars (radius 4-10 degrees, inner radius half
    the outer, the largest with a hexagonal hole) plus one Point feature at
    ``point``."""
    features = []
    for i, (r_out, lat) in enumerate(STARS):
        cx = float(rng.uniform(-150.0, 150.0))
        cy = lat * float(rng.choice([-1.0, 1.0]))
        rings = [star_ring(cx, cy, r_out, 0.5 * r_out, float(rng.uniform(0, 2 * np.pi)))]
        if i == 0:
            hole = star_ring(cx, cy, 0.25 * r_out, 0.25 * r_out, 0.0, spikes=3)
            rings.append(hole[::-1])
        features.append({"type": "Feature", "properties": {"part": f"star{i}"},
                         "geometry": {"type": "Polygon", "coordinates": rings}})
    features.append({"type": "Feature", "properties": {"part": "pin"},
                     "geometry": {"type": "Point",
                                  "coordinates": [float(point[0]), float(point[1])]}})
    return {"type": "FeatureCollection", "features": features}


def uniform_points(rng: np.random.Generator, n: int) -> tuple:
    """``n`` points uniform on the sphere, as (lon, lat) degree arrays."""
    lon = rng.uniform(-180.0, 180.0, n)
    lat = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n)))
    return lon, lat


def even_odd(px: np.ndarray, py: np.ndarray, rings: list) -> np.ndarray:
    """Even-odd crossing test over all rings of one polygon, with the same
    crossing formula as the engine's refine step (boundary points are
    implementation-defined either way)."""
    inside = np.zeros(px.shape, dtype=bool)
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        for (x1, y1), (x2, y2) in zip(r[:-1], r[1:]):
            if x1 == x2 and y1 == y2:
                continue
            straddle = (y1 > py) != (y2 > py)
            with np.errstate(divide="ignore", invalid="ignore"):
                xs = (x2 - x1) * (py - y1) / (y2 - y1) + x1
            inside ^= straddle & (px < xs)
    return inside


def expected_part_counts(fc: dict, lon: np.ndarray, lat: np.ndarray) -> dict:
    """part -> number of points inside it, by plain NumPy (no A5 at all)."""
    out = {}
    for f in fc["features"]:
        g = f["geometry"]
        part = f["properties"]["part"]
        if g["type"] == "Point":
            x, y = g["coordinates"]
            n = int(np.count_nonzero((lon == x) & (lat == y)))
        else:
            outer = np.asarray(g["coordinates"][0])
            m = ((lon >= outer[:, 0].min()) & (lon <= outer[:, 0].max())
                 & (lat >= outer[:, 1].min()) & (lat <= outer[:, 1].max()))
            n = int(np.count_nonzero(even_odd(lon[m], lat[m], g["coordinates"])))
        if n:
            out[part] = n
    return out


def write_points(path: str, lon: np.ndarray, lat: np.ndarray, row_groups: int) -> None:
    tbl = pa.table({"lon": lon, "lat": lat})
    pq.write_table(tbl, path, row_group_size=-(-len(lon) // row_groups))


# ------------------------------------------------------------------ images

def image_offset(seed: int) -> int:
    """First generator row index for ``seed``: past the generator's pinned
    golden rows, with 10^6 rows per seed, and below 3*10^9 so the
    generator's pixel field stays inside int64."""
    return 1_000 + (seed % 1_000) * 1_000_000


def image_rows(seed: int, n: int) -> pd.DataFrame:
    from a5pg_spark.sources.images import make_rows

    lo = image_offset(seed)
    return make_rows(lo, lo + n)


def write_images(path: str, rows: pd.DataFrame, files: int) -> None:
    """The image table as a directory of ``files`` equal parquet files.  The
    compressed images are small, so one file would be one Spark split and
    the tiling would run as a single task."""
    os.makedirs(path)
    step = -(-len(rows) // files)
    for k in range(files):
        tbl = pa.Table.from_pandas(rows.iloc[k * step:(k + 1) * step], preserve_index=False)
        pq.write_table(tbl, os.path.join(path, f"part-{k:03d}.parquet"))


def image_index(image_id: str) -> int:
    return int(image_id[3:])


def true_pixels(i: int, w: int, h: int, fmt: str) -> np.ndarray:
    """Decoded pixels of generator row ``i`` from the generator's closed-form
    field, without any codec: lossless png keeps the field, the jpeg stub
    quantizes it to (v // 4) * 4 + 2."""
    yy, xx = np.mgrid[0:h, 0:w]
    v = (i * 2654435761 + yy * 977 + xx * 131) % 256
    if fmt != "png":
        v = (v // 4) * 4 + 2
    return v.astype(np.float64)


def pixel_totals(rows: pd.DataFrame) -> tuple:
    """(sum of w*h, sum of decoded pixel values) over the image table."""
    n_px = 0
    total = 0.0
    for r in rows.itertuples():
        n_px += int(r.w) * int(r.h)
        total += float(true_pixels(image_index(r.image_id), r.w, r.h, r.fmt).sum())
    return n_px, total


def pixel_lonlat(row) -> tuple:
    """Pixel-centre lon/lat arrays of one image row: a PIXEL_DEG grid centred
    on the image's capture point, row-major from the top-left pixel."""
    from a5pg_spark.sources.images import capture_point

    w, h = int(row.w), int(row.h)
    lon0, lat0 = capture_point(np.array([row.phash]))
    mesh_x = (np.arange(w) - w / 2.0) * PIXEL_DEG
    mesh_y = (h / 2.0 - np.arange(h)) * PIXEL_DEG
    glon = np.broadcast_to(lon0[0] + mesh_x[None, :], (h, w)).ravel()
    glat = np.broadcast_to(lat0[0] + mesh_y[:, None], (h, w)).ravel()
    return glon, glat


def image_tiles(row, res: int) -> pd.DataFrame:
    """Per-(image, cell) aggregates of one image at ``res``, with the pixels
    encoded by the NumPy kernel.  Columns: cell, n_pixels, sum_value,
    min_value, max_value."""
    from a5pg_spark.core import cells

    glon, glat = pixel_lonlat(row)
    ids = cells.lonlat_to_cell(glon, glat, res)
    vals = true_pixels(image_index(row.image_id), int(row.w), int(row.h), row.fmt).ravel()
    g = pd.DataFrame({"cell": ids, "v": vals}).groupby("cell")["v"]
    return pd.DataFrame({"n_pixels": g.size(), "sum_value": g.sum(),
                         "min_value": g.min(), "max_value": g.max()}).reset_index()
