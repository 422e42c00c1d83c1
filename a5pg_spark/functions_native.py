"""JVM-native ``a5_lonlat_to_cell``: the encode hot path without Python.

:func:`encode_native` calls the compiled Java kernel ``a5_encode_jvm``
(``a5pg_spark/jvm/A5Encode.java``, registered in the frame's session on first
use): one scalar function inside the task's generated code, so a call plans
in milliseconds at any resolution and no Python worker starts (the Arrow-UDF
encode ``functions.a5_lonlat_to_cell`` runs one beside every task).  The
kernel's projection performs the NumPy kernel's double-precision operations
in the same order, and its bisection is the same exact integer recurrence,
with constants generated from ``core/``; tests/test_native_encode.py asserts
bit-exact equality at every resolution, edge rows included.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from . import jvm
from .core import bits


def encode_native(df, lon_col: str, lat_col: str, res: int, out_col: str = "cell"):
    """DataFrame transform: add ``out_col`` = A5 cell id of (lon, lat) at
    ``res``, computed in the JVM (no Python workers).  A NULL, NaN or
    infinite lon or lat gives a NULL cell.

    The encode is one scalar call in a projection, so Catalyst prunes
    columns and pushes predicates through it as through any projection.  A
    predicate on ``out_col`` is pushed as a filter on the kernel call itself,
    so the kernel runs in that filter and again in the projection for the
    rows that pass; it cannot reach the scan, which only has lon/lat.  To
    prune the *scan* by a cell region, use :func:`cell_bbox_prefilter`.
    """
    if res < 0 or res > bits.MAX_RES:
        raise ValueError(f"resolution out of range 0..{bits.MAX_RES}")
    jvm.ensure(df.sparkSession)
    cell = F.call_function(jvm.FUNCTION, F.col(lon_col).cast("double"),
                           F.col(lat_col).cast("double"), F.lit(res))
    return df.select(*df.columns, cell.alias(out_col))


def cell_bbox_prefilter(df, lon_col: str, lat_col: str, cells,
                        margin_deg: float = 0.0):
    """Scan-prunable region filter: keep rows whose (lon, lat) falls inside
    the bounding box of any of ``cells`` (int A5 ids, any resolutions).

    A predicate on the *encoded* column can never reach the parquet scan
    (the scan only has lon/lat), so region pruning is expressed on the
    source columns.  The boxes are computed driver-side from the
    cells' densified boundaries (tiny: O(len(cells)) NumPy) and emitted as a
    plain OR-of-ranges predicate — Catalyst pushes it into the scan as
    PushedFilters, so file and row-group statistics prune.

    Superset semantics: a bbox keeps every point of the cell plus a fringe;
    follow with an exact equality/contains filter on the encoded cell (cheap
    — it runs on the already-pruned rows).  Cells whose
    boundary spans the antimeridian fall back to a latitude-only band for
    that cell (correct, just less selective).  ``margin_deg`` widens every
    box, e.g. to retain kNN ring candidates around the region.
    """
    from .core import cells as _cells

    ids = np.asarray(list(cells), dtype=np.int64)
    if ids.size == 0:
        return df.filter(F.lit(False))
    # Cell edges are CURVES in lon/lat (inverse-projected planar chords), so
    # a bbox of sampled vertices alone is NOT a guaranteed superset — the
    # curve can bulge past the extremum of any finite sample.  Sample at two
    # densities and use the box growth as an adaptive error estimate: the
    # sampling error of a smooth curve decays ~4x per doubling, so the
    # residual beyond the denser box is <= growth/3; each box is padded by
    # 2x the observed growth (plus the caller's margin_deg).
    rings_lo = _cells.cell_to_boundary_batch(ids, closed_ring=False, segments=8)
    rings_hi = _cells.cell_to_boundary_batch(ids, closed_ring=False, segments=16)
    disj = None
    for rlo, rhi in zip(rings_lo, rings_hi):
        lons, lats = rhi[:, 0], rhi[:, 1]
        growth = max(
            abs(float(rhi[:, 0].min()) - float(rlo[:, 0].min())),
            abs(float(rhi[:, 0].max()) - float(rlo[:, 0].max())),
            abs(float(rhi[:, 1].min()) - float(rlo[:, 1].min())),
            abs(float(rhi[:, 1].max()) - float(rlo[:, 1].max())),
        )
        pad = 2.0 * growth + margin_deg
        lat_pred = (F.col(lat_col) >= float(lats.min()) - pad) & (
            F.col(lat_col) <= float(lats.max()) + pad)
        if lons.max() - lons.min() > 180.0:  # antimeridian wrap
            pred = lat_pred
        else:
            pred = lat_pred & (
                F.col(lon_col) >= float(lons.min()) - pad) & (
                F.col(lon_col) <= float(lons.max()) + pad)
        disj = pred if disj is None else (disj | pred)
    return df.filter(disj)
