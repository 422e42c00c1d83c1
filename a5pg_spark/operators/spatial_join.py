"""Point-in-polygon spatial join via A5 cell covers.

Re-expresses the reference's demonstrated pattern
(tests/elephant_a5_cells.sql: polygon → sampled points → cells → DISTINCT)
as a scale-first DataFrame program (SURVEY.md §2.4.1), in the standard
filter-and-refine shape:

1. **MBR filter**: one inclusive lon/lat box per part (from the polygon
   layer's edges, collected once) and the OR of the boxes as a plain filter
   on the points, *below* the encode — it reaches the parquet scan as
   PushedFilters, and only rows some part could contain are encoded.
2. **native encode**: the surviving points get their res-R cell from the
   JVM-native encode (functions_native.encode_native), no Python worker.
3. **broadcast equi-join**: each polygon's covering cell set at resolution
   R, classified ``interior`` (cell fully inside — accepted without
   refinement) or ``boundary`` (needs the exact test), is built in NumPy on
   the driver from the same collected layer, once per (layer, res, session),
   and broadcast as an Arrow-built local relation; points equi-join it on
   ``cell``, then attach their part's edge list through a second tiny
   broadcast.
4. **native refine**: rows matched through *boundary* cells run an exact
   even-odd crossing test as a native Catalyst expression (higher-order
   aggregate over the part's edge list).  No Python operator after the
   join: a pandas UDF downstream of a broadcast join measured ~10× slower
   per stage than the native filter.

The box filter is exact for the refine step: the even-odd test and the
Point equality test are both planar in lon/lat, so a row outside every box
fails both.  Rings that cross the antimeridian get a latitude-only band
instead (see ``_mbr_filter``).
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..core import cells as _cells
from ..functions import a5_lonlat_to_cell
from . import geometry as G

COVER_SCHEMA = StructType(
    [
        StructField("part", StringType()),
        StructField("cell", LongType()),
        StructField("interior", BooleanType()),
    ]
)

EDGE_TYPE = ArrayType(
    StructType(
        [
            StructField("x1", DoubleType()),
            StructField("y1", DoubleType()),
            StructField("x2", DoubleType()),
            StructField("y2", DoubleType()),
        ]
    )
)


def _segments_cross(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Inclusive segment-intersection matrix: A (n,4) × B (m,4) → (n,) any-hit.

    Touching/collinear contact counts as a hit — conservative for interior
    classification (a touched cell is demoted to ``boundary`` and refined
    exactly per point)."""
    if len(A) == 0 or len(B) == 0:
        return np.zeros(len(A), dtype=bool)
    ax1, ay1, ax2, ay2 = (A[:, i][:, None] for i in range(4))
    bx1, by1, bx2, by2 = (B[:, i][None, :] for i in range(4))

    def orient(px, py, qx, qy, rx, ry):
        return (qx - px) * (ry - py) - (qy - py) * (rx - px)

    d1 = orient(ax1, ay1, ax2, ay2, bx1, by1)
    d2 = orient(ax1, ay1, ax2, ay2, bx2, by2)
    d3 = orient(bx1, by1, bx2, by2, ax1, ay1)
    d4 = orient(bx1, by1, bx2, by2, ax2, ay2)
    proper = ((d1 * d2) < 0) & ((d3 * d4) < 0)
    # collinear / endpoint touches (inclusive)
    def on_seg(px, py, qx, qy, rx, ry, d):
        return (
            (d == 0)
            & (np.minimum(px, qx) <= rx) & (rx <= np.maximum(px, qx))
            & (np.minimum(py, qy) <= ry) & (ry <= np.maximum(py, qy))
        )
    touch = (
        on_seg(ax1, ay1, ax2, ay2, bx1, by1, d1)
        | on_seg(ax1, ay1, ax2, ay2, bx2, by2, d2)
        | on_seg(bx1, by1, bx2, by2, ax1, ay1, d3)
        | on_seg(bx1, by1, bx2, by2, ax2, ay2, d4)
    )
    return (proper | touch).any(axis=1)


def _classify_cells(cell_ids: np.ndarray, poly: list, edges: np.ndarray,
                    poly_pts: np.ndarray, segments: int,
                    lon_center: float | None = None):
    """Exact cell-vs-polygon classification → (intersects, interior) masks.

    cell ⊆ polygon  ⇔ all ring vertices inside ∧ no edge crossing ∧ no
                       polygon vertex strictly inside the cell
    cell ∩ polygon ≠ ∅ ⇔ any ring vertex inside ∨ any edge crossing ∨ any
                       polygon vertex inside the cell
    (cell edges are the projected ring chords; see module docstring)."""
    n = len(cell_ids)
    rings = _cells.cell_to_boundary_batch(cell_ids, closed_ring=False, segments=segments)
    k = rings[0].shape[0]
    allv = np.concatenate(rings, axis=0)
    if lon_center is not None:
        allv = allv.copy()
        allv[:, 0] = np.mod(allv[:, 0] - lon_center + 180.0, 360.0) + lon_center - 180.0
    vin = G.point_in_polygon(allv[:, 0], allv[:, 1], poly).reshape(n, k)
    vin_all = vin.all(axis=1)
    vin_any = vin.any(axis=1)

    # cell edges (n*k, 4) — closed ring chords
    starts = allv.reshape(n, k, 2)
    ends = np.roll(starts, -1, axis=1)
    cell_edges = np.concatenate([starts, ends], axis=2).reshape(n * k, 4)
    cross = _segments_cross(cell_edges, edges).reshape(n, k).any(axis=1)

    # any polygon vertex inside a cell: vectorized bbox prefilter over the
    # (cells × vertices) grid, exact PIP only on the (rare) bbox hits
    pv_in = np.zeros(n, dtype=bool)
    bmin = starts.min(axis=1)
    bmax = starts.max(axis=1)
    hit = (
        (poly_pts[None, :, 0] >= bmin[:, 0:1]) & (poly_pts[None, :, 0] <= bmax[:, 0:1])
        & (poly_pts[None, :, 1] >= bmin[:, 1:2]) & (poly_pts[None, :, 1] <= bmax[:, 1:2])
    )
    for i in np.nonzero(hit.any(axis=1))[0]:
        m = hit[i]
        pv_in[i] = bool(
            G.point_in_ring(poly_pts[m, 0], poly_pts[m, 1], starts[i]).any()
        )
    interior = vin_all & ~cross & ~pv_in
    intersects = vin_any | cross | pv_in
    return intersects, interior


def exact_cover_cells(poly: list, res: int) -> tuple:
    """Exact covering cell set of one GeoJSON polygon (list of rings) at
    ``res`` → (cells, interior_mask).  Hierarchical descent from res 2:
    fully-inside cells stop subdividing (their descendants are inside — our
    triangle cells nest exactly, DESIGN.md §4); boundary cells descend.
    Cost is O(perimeter / cell_width) exact tests, not O(area)."""
    from ..core import bits as B
    from ..core.areas import res0_cells

    from ..core.areas import cell_area

    if res < 2:
        # the descent starts at res 2; silently returning an empty cover for
        # coarser resolutions was a footgun (round-3 ADVICE) — refuse loudly
        raise ValueError("exact_cover_cells requires res >= 2")

    rings = [np.asarray(r, dtype=np.float64) for r in poly]
    E = []
    for r in rings:
        a, b = r, np.roll(r, -1, axis=0)
        m = ~((a[:, 0] == b[:, 0]) & (a[:, 1] == b[:, 1]))
        E.append(np.concatenate([a[m], b[m]], axis=1))
    edges = np.concatenate(E, axis=0)
    poly_pts = np.concatenate(rings, axis=0)

    # spherical prefilter state: lon/lat planar tests are meaningless for
    # cells on the far side of the globe (antimeridian wrap turns their rings
    # into map-spanning slivers) — reject by angular distance first
    pc_lon, pc_lat = poly_pts[:, 0].mean(), poly_pts[:, 1].mean()
    prad = G.haversine_np(
        poly_pts[:, 0], poly_pts[:, 1], np.full(len(poly_pts), pc_lon),
        np.full(len(poly_pts), pc_lat)
    ).max()

    def _near(cell_ids: np.ndarray, r: int) -> np.ndarray:
        lon, lat = _cells.cell_to_lonlat(cell_ids)
        d = G.haversine_np(lon, lat, np.full(len(lon), pc_lon), np.full(len(lon), pc_lat))
        circum = 2.0 * np.sqrt(cell_area(r))  # generous cell circumdiameter, m
        return d <= prad + 1.5 * circum

    cur = np.concatenate([B.cell_to_children(int(c), 2) for c in res0_cells()])
    out_cells, out_int = [], []
    for r in range(2, res + 1):
        cur = cur[_near(cur, r)]
        if len(cur) == 0:
            break
        segs = max(1, min(8, 2 ** max(0, 6 - r)))  # denser chords at low res
        intersects, interior = _classify_cells(
            cur, poly, edges, poly_pts, segs, lon_center=pc_lon
        )
        inner = cur[interior]
        if len(inner):
            expanded = B.uncompact(inner, res) if r < res else inner
            out_cells.append(expanded)
            out_int.append(np.ones(len(expanded), dtype=bool))
        bnd = cur[intersects & ~interior]
        if r == res:
            out_cells.append(bnd)
            out_int.append(np.zeros(len(bnd), dtype=bool))
            break
        cur = B.uncompact(bnd, r + 1)
        if len(cur) == 0:
            break
    if not out_cells:
        return np.array([], dtype=np.int64), np.array([], dtype=bool)
    return np.concatenate(out_cells), np.concatenate(out_int)


def _members(geom: dict) -> list:
    """A Polygon or MultiPolygon geometry → its polygons (lists of rings)."""
    return [geom["coordinates"]] if geom["type"] == "Polygon" else geom["coordinates"]


def _layer_cover(feats: list, res: int) -> pd.DataFrame:
    """Driver-side, from the parsed (part, geometry) features: one
    (part, cell, interior) row per covering cell of each part at ``res``.  A
    Point covers its own cell as boundary.  Where two members of a part
    disagree on a cell, boundary wins (the cell is refined exactly)."""
    frames = []
    for part, geom in feats:
        if geom["type"] == "Point":
            lon, lat = geom["coordinates"]
            covers = [(_cells.lonlat_to_cell(np.array([lon]), np.array([lat]), res),
                       np.zeros(1, dtype=bool))]
        else:
            covers = [exact_cover_cells(poly, res) for poly in _members(geom)]
        frames += [pd.DataFrame({"part": part, "cell": np.asarray(ids, dtype=np.int64),
                                 "interior": interior}) for ids, interior in covers]
    if not frames:  # an empty layer
        return pd.DataFrame({"part": [], "cell": [], "interior": []}).astype(
            {"part": object, "cell": np.int64, "interior": bool})
    return (pd.concat(frames, ignore_index=True)
            .groupby(["part", "cell"], as_index=False, sort=False)["interior"].all())


def polygon_cover(polygons: DataFrame, res: int) -> DataFrame:
    """(part, geom_json) → (part, cell, interior) covering cells at ``res``,
    built on the driver (the layer is the small side) as a local relation.

    EXACT (round 2): hierarchical descent with cell-vs-polygon intersection
    tests (vertex PIP + inclusive segment crossing + polygon-vertex-in-cell)
    replaces round 1's point sampling, which missed cells whose polygon
    overlap was smaller than the sampling density and accepted concave-edge
    false positives.
    """
    feats = [(r.part, json.loads(r.geom_json)) for r in polygons.collect()]
    return _local_relation(polygons.sparkSession, _layer_cover(feats, res), COVER_SCHEMA)


EDGES_SCHEMA = StructType(
    [
        StructField("part", StringType()),
        StructField("edges", EDGE_TYPE),
        StructField("is_point", BooleanType()),
        StructField("px", DoubleType()),
        StructField("py", DoubleType()),
    ]
)


def _edge_rows(feats: list) -> pd.DataFrame:
    """Driver-side, from the parsed (part, geometry) features: one
    (part, edges, is_point, px, py) row per feature — all rings' edges
    concatenated (even-odd works across outer ring + holes and across
    MultiPolygon members)."""
    rows = []
    for part, geom in feats:
        if geom["type"] == "Point":
            x, y = geom["coordinates"]
            rows.append((part, [], True, float(x), float(y)))
            continue
        edges = []
        for poly in _members(geom):
            for ring in poly:
                arr = np.asarray(ring, dtype=np.float64)
                for a, b in zip(arr, np.roll(arr, -1, axis=0)):
                    if a[0] == b[0] and a[1] == b[1]:
                        continue
                    edges.append({"x1": float(a[0]), "y1": float(a[1]),
                                  "x2": float(b[0]), "y2": float(b[1])})
        rows.append((part, edges, False, 0.0, 0.0))
    return pd.DataFrame(rows, columns=EDGES_SCHEMA.fieldNames())


def _local_relation(spark, pdf: pd.DataFrame, schema: StructType) -> DataFrame:
    """A small driver-side table as a relation.  With Arrow on (the session
    default) it plans as a LocalTableScan, so reading it starts no Python
    worker; ``createDataFrame`` over a Python list or RDD plans a Python
    RDD scan instead."""
    return spark.createDataFrame(pdf, schema)


def _mbr_filter(edge_rows: pd.DataFrame, lon: Column, lat: Column) -> Column:
    """OR of one inclusive lon/lat box per part (a Point gets a degenerate
    box).  A point outside every box matches no part: the even-odd test and
    the Point equality test are both planar in lon/lat.

    A part whose ring longitudes leave [-180, 180] gets a latitude-only band
    instead, as in ``cell_bbox_prefilter``: its cover is classified with
    longitudes wrapped around the ring's centre, so an interior cell can
    accept a point whose longitude lies outside the ring's box.  That band
    also drops NULL and NaN longitudes, as a box does by itself (NaN sorts
    above every double), so neither reaches the encode."""
    pred = F.lit(False)
    for part in edge_rows.itertuples(index=False):
        if part.is_point:
            xs, ys = [part.px], [part.py]
        else:
            xs = [v for e in part.edges for v in (e["x1"], e["x2"])]
            ys = [v for e in part.edges for v in (e["y1"], e["y2"])]
            if not xs:
                continue
        box = lat.between(min(ys), max(ys))
        if -180.0 <= min(xs) and max(xs) <= 180.0:
            box = box & lon.between(min(xs), max(xs))
        else:
            box = box & lon.isNotNull() & ~F.isnan(lon)
        pred = pred | box
    return pred


def pip_native(lon: Column, lat: Column, edges: Column) -> Column:
    """Exact even-odd crossing test as a pure Catalyst expression:
    count edges whose span straddles ``lat`` and whose crossing x exceeds
    ``lon``; odd count ⇒ inside.  Same semantics as geometry.point_in_ring."""
    # nested WHEN so the division is only evaluated for straddling edges
    # (y2 != y1 there) — ANSI mode errors on divide-by-zero otherwise
    crossing = F.aggregate(
        edges,
        F.lit(0),
        lambda acc, e: acc
        + F.when(
            (e["y1"] > lat) != (e["y2"] > lat),
            F.when(
                lon
                < (e["x2"] - e["x1"]) * (lat - e["y1"]) / (e["y2"] - e["y1"])
                + e["x1"],
                F.lit(1),
            ).otherwise(F.lit(0)),
        ).otherwise(F.lit(0)),
    )
    return (crossing % 2) == 1


# (layer rows, res, lon_col, lat_col) → (session, broadcast cover, broadcast
# per-part edges, box filter, refine predicate).  Rebuilding the two
# Arrow-built relations costs ~0.1–0.2 s of CPU per call, and the two
# Columns ~0.05 s of py4j round trips each.
_JOIN_SIDES: dict = {}
_JOIN_SIDES_MAX = 32  # keys embed full geom_json strings — bound the memory


def _join_sides(spark, feats: list, res: int, lon: Column, lat: Column) -> tuple:
    """The layer's side of the join: both broadcasts and both predicates."""
    edge_rows = _edge_rows(feats)
    # the cover goes out slim (part, cell, interior); the per-part edge
    # lists attach through a second tiny broadcast AFTER the cell
    # equi-join, so only the matched rows ever read them
    cover = F.broadcast(_local_relation(spark, _layer_cover(feats, res), COVER_SCHEMA))
    edges = F.broadcast(_local_relation(spark, edge_rows, EDGES_SCHEMA))
    keep = (
        F.col("interior")
        | (F.col("is_point") & (lon == F.col("px")) & (lat == F.col("py")))
        | (~F.col("is_point") & pip_native(lon, lat, F.col("edges")))
    )
    return spark, cover, edges, _mbr_filter(edge_rows, lon, lat), keep


def spatial_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Join points (lon/lat) against polygons (part, geom_json) → points
    annotated with the containing ``part``.  Exact: MBR filter, then
    interior-cell fast path; boundary cells refined by the native even-odd
    test (zero Python after the join).  A NULL, NaN or infinite coordinate
    matches no part."""
    spark = points.sparkSession
    rows = polygons.collect()  # the ONE collect of the small layer
    key = (tuple((r.part, r.geom_json) for r in rows), res, lon_col, lat_col)
    sides = _JOIN_SIDES.pop(key, None)
    if sides is None or sides[0] is not spark:
        feats = [(r.part, json.loads(r.geom_json)) for r in rows]
        sides = _join_sides(spark, feats, res, F.col(lon_col), F.col(lat_col))
        if len(_JOIN_SIDES) >= _JOIN_SIDES_MAX:
            _JOIN_SIDES.pop(next(iter(_JOIN_SIDES)))  # least recently used
    _JOIN_SIDES[key] = sides
    _, cover, edges, box, keep = sides

    # filter step on the source columns, below the encode: it reaches the
    # parquet scan as PushedFilters, and only rows some part could contain
    # run the JVM-native encode (functions_native.py — bit-exact vs the
    # Arrow-UDF kernel; no Python workers in the probe path)
    from ..functions_native import encode_native

    pts = encode_native(points.filter(box), lon_col, lat_col, res, "__cell")
    joined = pts.join(cover, pts["__cell"] == cover["cell"], "inner").join(edges, "part")
    return joined.filter(keep).drop(
        "cell", "interior", "edges", "is_point", "px", "py", "__cell"
    )


def assign_cells_distinct(points: DataFrame, res: int, part_col: str = "part",
                          lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
    """The reference's elephant final stage: SELECT DISTINCT part, cell
    (tests/elephant_a5_cells.sql:104-110) — hash-distinct after vectorized
    encode; dropDuplicates shuffles on (part, cell) only."""
    return (
        points.withColumn("cell_id", a5_lonlat_to_cell(F.col(lon_col), F.col(lat_col), res))
        .select(part_col, "cell_id")
        .dropDuplicates([part_col, "cell_id"])
    )
