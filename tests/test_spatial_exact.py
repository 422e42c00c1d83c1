"""Property tests for the exact polygon cover (round-2 VERDICT item 3):
random concave polygons x dense point grids -> spatial_join output must equal
brute-force PIP on every point (no false positives from concave interiors,
no false negatives from cover gaps)."""
import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from a5pg_spark.core import cells as C
from a5pg_spark.operators import geometry as G
from a5pg_spark.operators.spatial_join import exact_cover_cells


def _random_concave_polygon(rng, cx, cy, scale):
    """Star-ish concave polygon: jittered radial profile around (cx, cy)."""
    n = int(rng.integers(7, 15))
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = scale * rng.uniform(0.25, 1.0, n)  # wild radius swings => concave
    xs = cx + rad * np.cos(ang)
    ys = cy + rad * np.sin(ang)
    ring = [[float(x), float(y)] for x, y in zip(xs, ys)]
    ring.append(ring[0])
    return [ring]


@pytest.mark.parametrize("seed", [7, 19, 101])
def test_cover_matches_bruteforce_pip(seed):
    rng = np.random.default_rng(seed)
    # place polygons in different faces/quintants incl. the golden region
    cx, cy = float(rng.uniform(-30, 30)), float(rng.uniform(-40, 40))
    poly = _random_concave_polygon(rng, cx, cy, scale=1.5)
    res = 7
    cov, interior = exact_cover_cells(poly, res)
    cov_set = set(int(c) for c in cov)
    int_set = set(int(c) for c, i in zip(cov, interior) if i)

    # dense grid over bbox + margin
    outer = np.asarray(poly[0])
    m = 0.3
    xs = np.linspace(outer[:, 0].min() - m, outer[:, 0].max() + m, 60)
    ys = np.linspace(outer[:, 1].min() - m, outer[:, 1].max() + m, 60)
    gx, gy = np.meshgrid(xs, ys)
    gx, gy = gx.ravel(), gy.ravel()
    truth = G.point_in_polygon(gx, gy, poly)
    ids = C.lonlat_to_cell(gx, gy, np.full(len(gx), res))

    # completeness: every inside point's cell is in the cover
    missing = [i for i in range(len(gx)) if truth[i] and int(ids[i]) not in cov_set]
    assert not missing, f"{len(missing)} inside points missed by the cover"

    # interior soundness: every point in an interior-classified cell is inside
    bad = [i for i in range(len(gx)) if int(ids[i]) in int_set and not truth[i]]
    assert not bad, f"{len(bad)} outside points admitted via interior cells"


def test_spatial_join_equals_bruteforce(spark):
    """End-to-end spatial_join vs per-point brute force on a concave poly."""
    rng = np.random.default_rng(42)
    poly = _random_concave_polygon(rng, 5.0, -10.0, scale=2.0)
    geom = {"type": "Polygon", "coordinates": poly}
    polys = spark.createDataFrame(
        [("blob", json.dumps(geom))], "part string, geom_json string"
    )
    xs = np.linspace(2.0, 8.0, 35)
    ys = np.linspace(-13.0, -7.0, 35)
    gx, gy = np.meshgrid(xs, ys)
    gx, gy = gx.ravel(), gy.ravel()
    pts = spark.createDataFrame(
        [(int(i), float(x), float(y)) for i, (x, y) in enumerate(zip(gx, gy))],
        "pid long, lon double, lat double",
    )
    from a5pg_spark.operators.spatial_join import spatial_join

    got = set(
        r.pid for r in spatial_join(pts, polys, res=7).select("pid").collect()
    )
    truth = set(np.nonzero(G.point_in_polygon(gx, gy, poly))[0].astype(int).tolist())
    assert got == truth


def test_dissolve_union(spark):
    """Dissolving a full sibling block yields the parent's ring area; interior
    edges cancel exactly."""
    import json as _json

    import numpy as np

    from a5pg_spark.core import bits
    from a5pg_spark.operators.dissolve import dissolve, _dissolve_cells_np

    parent = bits.encode_components(19, 123, 7)
    kids = bits.cell_to_children(parent, 9)  # 16 cells
    rings = _dissolve_cells_np(np.asarray(kids))
    # exact nesting => the union of 16 children is the parent triangle: 1 ring
    assert len(rings) == 1

    def area(r):
        a = np.asarray(r)
        return 0.5 * abs(np.sum(a[:-1, 0] * a[1:, 1] - a[1:, 0] * a[:-1, 1]))

    from a5pg_spark.core import cells as C

    pring = C.cell_to_boundary(parent, closed_ring=True, segments=1)
    assert abs(area(rings[0]) - area(pring)) / area(pring) < 2e-3

    # distributed path: two groups
    rows = [("a", int(k)) for k in kids[:8]] + [("b", int(k)) for k in kids[8:]]
    df = spark.createDataFrame(rows, "part string, cell long")
    out = {r.part: _json.loads(r.geom_json) for r in dissolve(df).collect()}
    assert set(out) == {"a", "b"}
    assert all(g["type"] == "MultiPolygon" for g in out.values())


# ---------------------------------------------------------------------------
# spatial_join against a per-point even-odd brute force, over the inputs that
# pin the MBR filter's semantics: concave polygon with a hole, MultiPolygon,
# Point feature, a ring past the antimeridian, NULL/NaN coordinates, and an
# empty layer.

JOIN_RES = 7


def _star(cx, cy, r_out, r_in, spikes, turn=0.0):
    """Closed concave star ring, counter-clockwise."""
    ang = turn + np.arange(2 * spikes) * np.pi / spikes
    rad = np.where(np.arange(2 * spikes) % 2 == 0, r_out, r_in)
    ring = [[float(cx + r * np.cos(a)), float(cy + r * np.sin(a))]
            for a, r in zip(ang, rad)]
    return ring + [ring[0]]


def _even_odd(x, y, rings) -> bool:
    """One point against every ring (outer rings, holes and MultiPolygon
    members alike), with the refine step's crossing formula."""
    if x is None or y is None:
        return False
    inside = False
    for ring in rings:
        for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
            if (y1 > y) != (y2 > y) and x < (x2 - x1) * (y - y1) / (y2 - y1) + x1:
                inside = not inside
    return inside


@pytest.fixture(scope="module")
def exact_layer(spark, tmp_path_factory):
    """Layer + points written as parquet (the scan the box filter is pushed
    into; parquet keeps NaN and NULL apart)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # NaN rows sit inside the holey polygon's latitude band, so only the
    # box filter's NaN rule (and the encode's NULL) keeps them out
    holey = [_star(160.0, 53.0, 3.0, 1.6, 7),
             _star(160.8, 53.5, 0.3, 0.3, 3)[::-1]]
    pair = [[_star(5.0, -10.0, 1.5, 0.7, 5)], [_star(9.0, -7.0, 1.2, 0.5, 6, 0.3)]]
    # ring longitudes 174..186: the cover wraps cells around lon 180
    wrap = [_star(180.0, 52.0, 6.0, 3.5, 6, 0.2)]

    rng = np.random.default_rng(3)
    lon, lat = [], []
    for (x0, x1, y0, y1), n in (((156.5, 163.5, 49.5, 56.5), 900),
                                ((3.0, 10.5, -12.0, -5.5), 900),
                                ((172.0, 188.0, 45.0, 59.0), 900),
                                ((-180.0, -172.0, 45.0, 59.0), 600)):
        lon.append(rng.uniform(x0, x1, n))
        lat.append(rng.uniform(y0, y1, n))
    # just inside each outer ring's extreme vertices (on the segment to the
    # star's centre), so a box tighter than the ring's own would drop them
    for ring, (cx, cy) in ((holey[0], (160.0, 53.0)), (pair[0][0], (5.0, -10.0)),
                           (pair[1][0], (9.0, -7.0)), (wrap[0], (180.0, 52.0))):
        r = np.asarray(ring)
        for v in r[[r[:, 0].argmin(), r[:, 0].argmax(),
                    r[:, 1].argmin(), r[:, 1].argmax()]]:
            lon.append([v[0] + 1e-7 * (cx - v[0])])
            lat.append([v[1] + 1e-7 * (cy - v[1])])
    lon, lat = list(np.concatenate(lon)), list(np.concatenate(lat))
    # the Point lies outside every polygon's box: only its own degenerate box
    # admits it, and not its near misses
    pin = (-60.0, 10.0)
    bad = [(np.nan, 53.0), (160.0, np.nan), (np.nan, np.nan), (np.nan, 52.9),
           (None, 53.0), (160.0, None), (None, None), (None, 52.0)]
    for x, y in [pin, (-60.0 + 1e-9, 10.0), (-60.0, 10.0 - 1e-9), *bad]:
        lon.append(x)
        lat.append(y)
    src = str(tmp_path_factory.mktemp("exact") / "pts")
    pq.write_table(pa.table({
        "pid": np.arange(len(lon)),
        "lon": pa.array(lon, pa.float64(), from_pandas=False),
        "lat": pa.array(lat, pa.float64(), from_pandas=False),
    }), src)

    feats = {
        "holey": {"type": "Polygon", "coordinates": holey},
        "pair": {"type": "MultiPolygon", "coordinates": pair},
        "wrap": {"type": "Polygon", "coordinates": wrap},
        "pin": {"type": "Point", "coordinates": list(pin)},
    }
    rings = {"holey": holey, "pair": [r for p in pair for r in p], "wrap": wrap}
    want = set()
    for pid, (x, y) in enumerate(zip(lon, lat)):
        for part, rs in rings.items():
            if _even_odd(x, y, rs):
                want.add((pid, part))
        if (x, y) == pin:
            want.add((pid, "pin"))

    # The wrap ring's cover is classified with longitudes wrapped around
    # lon 180, so a point given at lon < -174 is accepted through the
    # ring's interior cells (and only through them: the planar refine
    # rejects it).  These rows survive only via the latitude-only band.
    cov, interior = exact_cover_cells(wrap, JOIN_RES)
    wrap_inner = set(int(c) for c in cov[interior])
    far = np.asarray([x is not None and x < -172.0 for x in lon])
    idx = np.nonzero(far)[0]
    ids = C.lonlat_to_cell(np.asarray(lon, dtype=float)[idx],
                           np.asarray(lat, dtype=float)[idx],
                           np.full(len(idx), JOIN_RES))
    via_wrap = {(int(i), "wrap") for i, c in zip(idx, ids) if int(c) in wrap_inner}
    assert via_wrap, "no far-side point lands in an interior wrap cell"

    # and a NaN coordinate has no cell (a VALUES relation, not a FROM-less
    # SELECT, which the optimizer would fold through the encode)
    from a5pg_spark.functions_native import encode_native

    nan = spark.sql(
        "SELECT * FROM VALUES (CAST('NaN' AS DOUBLE), 53.0D) AS t(lon, lat)")
    assert encode_native(nan, "lon", "lat", JOIN_RES, "cell").first().cell is None
    return {"src": src, "feats": feats, "want": want | via_wrap}


def _layer(spark, feats):
    from a5pg_spark.sources.polygons import from_feature_collection

    return from_feature_collection(spark, {
        "type": "FeatureCollection",
        "features": [{"type": "Feature", "properties": {"part": p}, "geometry": g}
                     for p, g in feats.items()],
    })


def test_spatial_join_exact_edge_inputs(spark, exact_layer):
    from a5pg_spark.operators.spatial_join import spatial_join

    pts = spark.read.parquet(exact_layer["src"])
    polys = _layer(spark, exact_layer["feats"])
    out = spatial_join(pts, polys, res=JOIN_RES)
    got = {(r.pid, r.part) for r in out.select("pid", "part").collect()}
    want = exact_layer["want"]
    assert {p for _, p in want} == {"holey", "pair", "wrap", "pin"}
    assert got == want, (sorted(got - want)[:10], sorted(want - got)[:10])


def test_box_filter_drops_nan_rows(spark, exact_layer):
    """No NaN or NULL coordinate passes the box filter, so none reaches the
    encode: the latitude-only band of the wrap ring tests lon for both."""
    from a5pg_spark.operators import spatial_join as SJ

    feats = [(p, g) for p, g in exact_layer["feats"].items()]
    lon, lat = F.col("lon"), F.col("lat")
    kept = spark.read.parquet(exact_layer["src"]).filter(
        SJ._mbr_filter(SJ._edge_rows(feats), lon, lat))
    assert kept.count() > 0
    assert kept.filter(F.isnan(lon) | F.isnan(lat)).collect() == []
    # the fixture's (NULL, 52.0) row lies in the wrap ring's band
    assert kept.filter(lon.isNull() | lat.isNull()).collect() == []


def test_spatial_join_empty_layer(spark, exact_layer):
    from a5pg_spark.operators.spatial_join import spatial_join

    pts = spark.read.parquet(exact_layer["src"])
    out = spatial_join(pts, _layer(spark, {}), res=JOIN_RES)
    assert out.count() == 0
    assert set(out.columns) == {"part", "pid", "lon", "lat"}


# per part: (cover rows, interior rows) at JOIN_RES, as built by the
# distributed applyInPandas cover this driver-side build replaced
COVER_COUNTS = {"holey": (78, 15), "pair": (66, 8), "pin": (1, 0), "wrap": (300, 178)}


def _cover_counts(cover) -> dict:
    pdf = cover.toPandas()
    return {p: (len(g), int(g.interior.sum())) for p, g in pdf.groupby("part")}


def test_polygon_cover_counts(spark, exact_layer):
    from a5pg_spark.operators.spatial_join import polygon_cover

    cover = polygon_cover(_layer(spark, exact_layer["feats"]), JOIN_RES)
    assert _cover_counts(cover) == COVER_COUNTS


def test_cover_and_join_plan_without_python(spark, exact_layer):
    """The cover is built on the driver: neither the cover nor the join
    plans a Python worker."""
    from a5pg_spark.operators.spatial_join import polygon_cover, spatial_join

    polys = _layer(spark, exact_layer["feats"])
    for df in (polygon_cover(polys, JOIN_RES),
               spatial_join(spark.read.parquet(exact_layer["src"]), polys, res=JOIN_RES)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        for node in ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
            assert node not in plan, plan


def test_join_builds_each_cover_once(spark, exact_layer, monkeypatch, tmp_path):
    """One cover build per (layer, res, session), and nothing written
    under the cwd."""
    from a5pg_spark.operators import spatial_join as SJ

    built = []

    def counting(poly, res):
        built.append(res)
        return exact_cover_cells(poly, res)

    monkeypatch.setattr(SJ, "exact_cover_cells", counting)
    monkeypatch.setattr(SJ, "_JOIN_SIDES", {})
    monkeypatch.chdir(tmp_path)
    pts = spark.read.parquet(exact_layer["src"])
    polys = _layer(spark, exact_layer["feats"])
    members = 4  # holey, the pair's two polygons, wrap
    first = {(r.pid, r.part) for r in SJ.spatial_join(pts, polys, JOIN_RES).collect()}
    assert built == [JOIN_RES] * members
    again = {(r.pid, r.part) for r in SJ.spatial_join(pts, polys, JOIN_RES).collect()}
    assert again == first and len(built) == members
    SJ.spatial_join(pts, polys, JOIN_RES - 1).count()
    assert built[members:] == [JOIN_RES - 1] * members
    assert _cover_counts(SJ.polygon_cover(polys, JOIN_RES)) == COVER_COUNTS
    assert list(tmp_path.iterdir()) == []


def test_repeated_join_reuses_its_predicates(spark, exact_layer, monkeypatch):
    """The box filter and the refine predicate are built once per cached
    layer side, and a different coordinate column builds them anew."""
    from a5pg_spark.operators import spatial_join as SJ

    calls = []
    for name in ("_edge_rows", "_mbr_filter", "pip_native"):
        def counting(*args, _f=getattr(SJ, name), _n=name):
            calls.append(_n)
            return _f(*args)
        monkeypatch.setattr(SJ, name, counting)
    monkeypatch.setattr(SJ, "_JOIN_SIDES", {})
    pts = spark.read.parquet(exact_layer["src"])
    polys = _layer(spark, exact_layer["feats"])
    first = SJ.spatial_join(pts, polys, JOIN_RES).count()
    assert sorted(calls) == ["_edge_rows", "_mbr_filter", "pip_native"]
    assert SJ.spatial_join(pts, polys, JOIN_RES).count() == first
    assert len(calls) == 3
    moved = pts.withColumnRenamed("lon", "x")
    assert SJ.spatial_join(moved, polys, JOIN_RES, lon_col="x").count() == first
    assert len(calls) == 6


def test_layer_cover_boundary_wins():
    """Members of one part that disagree on a cell give one row for it, as
    boundary."""
    from a5pg_spark.operators.spatial_join import _layer_cover

    big, small = [_star(5.0, -10.0, 1.5, 0.7, 5)], [_star(5.0, -10.0, 0.3, 0.3, 4)]
    got = _layer_cover([("p", {"type": "MultiPolygon", "coordinates": [big, small]})],
                       JOIN_RES)
    covers = [{int(c): bool(i) for c, i in zip(*exact_cover_cells(m, JOIN_RES))}
              for m in (big, small)]
    assert any(covers[0].get(c) for c, i in covers[1].items() if not i)
    want = {}
    for cov in covers:
        for c, i in cov.items():
            want[c] = want.get(c, True) and i
    assert len(got) == len(want)
    assert {int(c): bool(i) for c, i in zip(got.cell, got.interior)} == want
