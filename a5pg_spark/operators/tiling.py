"""Raster ↔ vector tiling: assign decoded image pixels to A5 cells
(SURVEY.md §2.4.3; north-star tiling stage).

``mapInPandas`` iterator-of-batches keeps memory bounded: each Arrow batch of
(image_id, bytes, w, h, fmt, phash) is decoded (vectorized codecs,
sources/images.py), pixels are georeferenced around the capture point, encoded
to cells in one NumPy call, and pre-aggregated *within the batch* (map-side
combine) before the shuffle — the per-cell partial aggregates are what crosses
the wire, never raw pixels.  At 100 TB this is the difference between
shuffling ~10^15 pixels and ~10^12 partial rows.
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
    distance in degrees (images are anchored at their capture point)."""

    SUB_BATCH = 512  # images per kernel pass — bounds the per-worker working
    # set (~30 MB) so N workers don't churn gigabytes of fresh pages per batch

    def tile(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for big in batches:
            for lo in range(0, len(big), SUB_BATCH):
                yield from _tile_one(big.iloc[lo : lo + SUB_BATCH])

    def _tile_one(pdf: pd.DataFrame) -> Iterator[pd.DataFrame]:
        for pdf in [pdf]:
            # decode is per-image (variable shapes); everything downstream is
            # vectorized across ALL pixels of the batch in single NumPy calls
            imgs = [decode_image(bytes(r.bytes), r.fmt) for r in pdf.itertuples()]
            if not imgs:
                continue
            lon0, lat0 = capture_point(pdf.phash.to_numpy())
            # group images by shape: coordinate grids are built with ONE
            # broadcast per (h, w) group instead of per image
            by_shape: dict = {}
            for i, im in enumerate(imgs):
                by_shape.setdefault(im.shape, []).append(i)
            parts_idx, parts_lon, parts_lat, parts_val = [], [], [], []
            for (h, w), idxs in by_shape.items():
                idxs = np.asarray(idxs)
                k = len(idxs)
                mesh_x = (np.arange(w) - w / 2.0) * pixel_deg  # (w,)
                mesh_y = (h / 2.0 - np.arange(h)) * pixel_deg  # (h,)
                gl = (lon0[idxs][:, None, None] + mesh_x[None, None, :])
                ga = (lat0[idxs][:, None, None] + mesh_y[None, :, None])
                parts_lon.append(np.broadcast_to(gl, (k, h, w)).reshape(-1))
                parts_lat.append(np.broadcast_to(ga, (k, h, w)).reshape(-1))
                parts_val.append(
                    np.stack([imgs[i] for i in idxs]).reshape(-1).astype(np.float64)
                )
                parts_idx.append(np.repeat(idxs, h * w))
            glon = np.concatenate(parts_lon)
            glat = np.concatenate(parts_lat)
            vals = np.concatenate(parts_val)
            img_idx = np.concatenate(parts_idx)
            ids = _cells.lonlat_to_cell(glon, glat, res)

            # map-side combine across the batch: group by (image, cell) via
            # lexsort + reduceat — no per-image Python loop
            order = np.lexsort((ids, img_idx))
            gi, gc, gv = img_idx[order], ids[order], vals[order]
            bnd = np.empty(len(gi), dtype=bool)
            bnd[0] = True
            np.logical_or(gi[1:] != gi[:-1], gc[1:] != gc[:-1], out=bnd[1:])
            starts = np.nonzero(bnd)[0]
            n = np.diff(np.append(starts, len(gi)))
            s = np.add.reduceat(gv, starts)
            mn = np.minimum.reduceat(gv, starts)
            mx = np.maximum.reduceat(gv, starts)
            yield pd.DataFrame(
                {
                    "image_id": pdf.image_id.to_numpy()[gi[starts]],
                    "cell": gc[starts],
                    "n_pixels": n,
                    "sum_value": s,
                    "min_value": mn,
                    "max_value": mx,
                }
            )

    cols = ["image_id", "bytes", "w", "h", "fmt", "phash"]
    return images.select(*cols).mapInPandas(tile, TILE_SCHEMA)


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
                    res: int, cell_col: str = "cell",
                    broadcast_values: bool = True) -> DataFrame:
    """Vector→raster: render per-cell values onto a w×h pixel grid — the
    inverse of :func:`pixels_to_cells`/:func:`cell_mosaic` (together they
    close the north-rule's raster↔vector tiling loop).

    Each pixel CENTER is georeferenced inside ``bbox = (lon0, lat0, lon1,
    lat1)``, assigned its containing A5 cell with the JVM-native encode, and
    left-joined to ``cell_values`` (uncovered pixels keep NULLs).  100 TB
    shape: the grid is generated distributed from ``range(w·h)`` (never
    collected), the encode is one codegen span, and the cell layer — the
    small side by construction (a cover / aggregate) — broadcasts; a giant
    value layer can set ``broadcast_values=False`` for a shuffle join keyed
    on the cell.
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
    # Materialize the values side before joining (localCheckpoint: executor
    # blocks, no driver round-trip).  A live aggregate over the unrolled
    # Catalyst encode spun the optimizer (>10 min at sf0.001 vs 1 s); that
    # encode is gone, and ROADMAP item 3 A/Bs removing the checkpoint.  The
    # values layer is the small side; pass broadcast_values=False for a huge one.
    vals = cell_values.withColumnRenamed(cell_col, "__vc").localCheckpoint()
    if broadcast_values:
        vals = F.broadcast(vals)
    return (
        px.join(vals, px["__cell"] == vals["__vc"], "left")
        .drop("__vc")
        .withColumnRenamed("__cell", "cell")
    )
