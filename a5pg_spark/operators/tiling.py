"""Raster ↔ vector tiling: assign decoded image pixels to A5 cells
(SURVEY.md §2.4.3; north-star tiling stage).

``mapInPandas`` iterator-of-batches keeps memory bounded: each Arrow batch of
(image_id, bytes, w, h, fmt, phash) is decoded (vectorized codecs,
sources/images.py), and the images of one shape are encoded to cells together
by ``cells.raster_runs``.  It takes the pixel grid as the capture points plus
one row of column offsets and one column of row offsets, models each image's
sector points from nine projected anchors, and walks each row from one
cell's exit to the next, so it returns runs of pixels with one cell each
(DESIGN.md §7.1) and every id equals the per-pixel encode's.  The pixels
are reduced per run and the runs pre-aggregated *within the batch*
(map-side combine) before the shuffle — the per-cell partial aggregates are
what crosses the wire, never raw pixels.  At 100 TB this is the difference
between shuffling ~10^15 pixels and ~10^12 partial rows.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..core import cells as _cells
from ..sources.images import capture_point, decode_image

TILE_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("cell", LongType()),
        StructField("n_pixels", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("min_value", DoubleType()),
        StructField("max_value", DoubleType()),
    ]
)


def pixels_to_cells(
    images: DataFrame,
    res: int = 15,
    pixel_deg: float = 1e-4,
) -> DataFrame:
    """images(image_id, bytes, w, h, fmt, phash, …) → per-(image, cell) pixel
    aggregates at resolution ``res``.  ``pixel_deg`` is the ground sample
    distance in degrees (images are anchored at their capture point); it
    must be finite and positive."""
    if not (np.isfinite(pixel_deg) and pixel_deg > 0):
        raise ValueError(f"pixel_deg must be a finite number > 0, got {pixel_deg!r}")

    SUB_BATCH = 1000  # images per kernel pass — bounds the per-worker working
    # set (13.6 MB traced peak per pass on the benchmark's images: pixels,
    # runs and the combine; 7.0 MB at 512) so N workers don't churn
    # gigabytes of fresh pages per batch

    def tile(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for big in batches:
            for lo in range(0, len(big), SUB_BATCH):
                out = tile_batch(big.iloc[lo : lo + SUB_BATCH], res, pixel_deg)
                if out is not None:
                    yield out

    cols = ["image_id", "bytes", "w", "h", "fmt", "phash"]
    return images.select(*cols).mapInPandas(tile, TILE_SCHEMA)


def tile_batch(pdf: pd.DataFrame, res: int, pixel_deg: float) -> pd.DataFrame | None:
    """One batch of images → its ``TILE_SCHEMA`` rows (None for no images)."""
    # decode is per-image (variable shapes); the encode is one call per
    # image shape, and the pixels are reduced once per run of one cell
    imgs = [decode_image(bytes(r.bytes), r.fmt) for r in pdf.itertuples()]
    if not imgs:
        return None
    lon0, lat0 = capture_point(pdf.phash.to_numpy())
    by_shape: dict = {}
    for i, im in enumerate(imgs):
        by_shape.setdefault(im.shape, []).append(i)
    parts = []
    for (h, w), idxs in by_shape.items():
        idxs = np.asarray(idxs)
        mesh_x = (np.arange(w) - w / 2.0) * pixel_deg  # (w,)
        mesh_y = (h / 2.0 - np.arange(h)) * pixel_deg  # (h,)
        start, cell = _cells.raster_runs(lon0[idxs], lat0[idxs], mesh_x, mesh_y, res)
        px = np.stack([imgs[i] for i in idxs]).reshape(-1)
        parts.append((idxs[start // (h * w)], cell, np.diff(start, append=len(px)),
                      np.add.reduceat(px, start, dtype=np.float64),
                      np.minimum.reduceat(px, start), np.maximum.reduceat(px, start)))
    gi, gc, n, s, mn, mx = combine_runs(*(np.concatenate(c) for c in zip(*parts)))
    return pd.DataFrame({"image_id": pdf.image_id.to_numpy()[gi], "cell": gc, "n_pixels": n,
                         "sum_value": s, "min_value": mn.astype(np.float64),
                         "max_value": mx.astype(np.float64)})


def combine_runs(img: np.ndarray, cell: np.ndarray, n: np.ndarray, s: np.ndarray,
                 mn: np.ndarray, mx: np.ndarray) -> tuple:
    """Map-side combine: runs of pixels (image, cell, count, sum, min, max)
    → the same per distinct (image, cell), sorted by (image, cell).  Exact:
    min and max do not depend on order, and the sums add integer pixel
    values far below 2^53."""
    order = np.lexsort((cell, img))
    gi, gc, n, s, mn, mx = (a[order] for a in (img, cell, n, s, mn, mx))
    g = np.flatnonzero(np.r_[True, (gi[1:] != gi[:-1]) | (gc[1:] != gc[:-1])])
    return (gi[g], gc[g], np.add.reduceat(n, g), np.add.reduceat(s, g),
            np.minimum.reduceat(mn, g), np.maximum.reduceat(mx, g))


def cell_mosaic(tiles: DataFrame, target_res: int) -> DataFrame:
    """Roll per-image tiles up to a global mosaic at ``target_res`` — native
    bit-op parent + one shuffle agg (partial aggregation map-side)."""
    return (
        tiles.withColumn(
            "mosaic_cell",
            F.call_function("a5_cell_to_parent", F.col("cell"), F.lit(target_res)),
        )
        .groupBy("mosaic_cell")
        .agg(
            F.sum("n_pixels").alias("n_pixels"),
            (F.sum("sum_value") / F.sum("n_pixels")).alias("mean_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
            F.countDistinct("image_id").alias("n_images"),
        )
    )


def rasterize_cells(spark, cell_values: DataFrame, bbox: tuple, w: int, h: int,
                    res: int, cell_col: str = "cell") -> DataFrame:
    """Vector→raster: render per-cell values onto a w×h pixel grid — the
    inverse of :func:`pixels_to_cells`/:func:`cell_mosaic` (together they
    close the north-rule's raster↔vector tiling loop).

    Each pixel CENTER is georeferenced inside ``bbox = (lon0, lat0, lon1,
    lat1)``, assigned its containing A5 cell with the JVM-native encode, and
    left-joined to ``cell_values`` (uncovered pixels keep NULLs).  100 TB
    shape: the grid is generated distributed from ``range(w·h)`` (never
    collected), the encode is one codegen span, and the cell layer — the
    small side by construction (a cover / aggregate) — broadcasts.
    """
    from pyspark.sql import functions as F

    from ..functions_native import encode_native

    lon0, lat0, lon1, lat1 = (float(v) for v in bbox)
    grid = spark.range(w * h).selectExpr(
        f"CAST(id % {w} AS INT) AS x",
        f"CAST(id DIV {w} AS INT) AS y",
        f"{lon0!r}D + (CAST(id % {w} AS DOUBLE) + 0.5D) * "
        f"{(lon1 - lon0)!r}D / {float(w)!r}D AS lon",
        f"{lat0!r}D + (CAST(id DIV {w} AS DOUBLE) + 0.5D) * "
        f"{(lat1 - lat0)!r}D / {float(h)!r}D AS lat",
    )
    px = encode_native(grid.select("x", "y", "lon", "lat"),
                       "lon", "lat", res, "__cell")
    vals = F.broadcast(cell_values.withColumnRenamed(cell_col, "__vc"))
    return (
        px.join(vals, px["__cell"] == vals["__vc"], "left")
        .drop("__vc")
        .withColumnRenamed("__cell", "cell")
    )
