"""Bit-exact equivalence of the three encoders (NumPy, the JVM kernel and the
DuckDB oracle SQL), their contract for non-finite coordinates, and how the
integer bisection relates to the float cross-product form it replaced."""
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

from a5pg_spark.core import cells as C
from a5pg_spark.core.dodecahedron import FACE_AXES
from a5pg_spark.core.hilbert import point_to_s, s_to_triangle
from a5pg_spark.core.projection import TRI_APEX, TRI_ENTRY, TRI_EXIT, forward, inverse

TRI = (TRI_ENTRY, TRI_APEX, TRI_EXIT)
N_FACES = len(FACE_AXES)


@pytest.mark.parametrize("res", range(0, 30))
def test_native_encode_matches_kernel(spark, res):
    from a5pg_spark.functions_native import encode_native

    rng = np.random.default_rng(11 + res)
    n = 50_000
    lon = rng.uniform(-180, 180, n)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    pdf = encode_native(df, "lon", "lat", res, "c").toPandas()
    ref = C.lonlat_to_cell(pdf.lon.to_numpy(), pdf.lat.to_numpy(), np.full(len(pdf), res))
    assert int((pdf.c.to_numpy() != ref).sum()) == 0


def _point_to_s_product(px, py, res, entry, apex, exit_):
    """Float reference bisection: the second child iff ``cr_pt · cr_p < 0``,
    with both cross products computed at every step.  Also returns, per
    point and level, the point's distance from that level's bisector QM."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    n = px.shape[0]
    P = [np.full(n, entry[0]), np.full(n, entry[1])]
    Q = [np.full(n, apex[0]), np.full(n, apex[1])]
    R = [np.full(n, exit_[0]), np.full(n, exit_[1])]
    s = np.zeros(n, dtype=np.uint64)
    dist = []
    for _ in range(2 * (res - 1)):
        mx = (P[0] + R[0]) * 0.5
        my = (P[1] + R[1]) * 0.5
        dx, dy = mx - Q[0], my - Q[1]
        cr_pt = (py - Q[1]) * dx - (px - Q[0]) * dy
        cr_p = (P[1] - Q[1]) * dx - (P[0] - Q[0]) * dy
        dist.append(np.abs(cr_pt) / np.hypot(dx, dy))
        b = (cr_pt * cr_p) < 0
        s = (s << np.uint64(1)) | b.astype(np.uint64)
        P = [np.where(b, Q[0], P[0]), np.where(b, Q[1], P[1])]
        R = [np.where(b, R[0], Q[0]), np.where(b, R[1], Q[1])]
        Q = [mx, my]
    return s, np.array(dist).reshape(-1, n).T


# coordinates that have no cell: NumPy refuses them, SQL gives NULL
NON_FINITE = [(np.nan, 10.0), (10.0, np.nan), (np.nan, np.nan), (np.inf, 10.0),
              (10.0, -np.inf), (-np.inf, np.inf)]


def _edge_lonlat(cell_points: bool):
    """Lon/lat rows on which an inexact bisection test would show: face
    centres, poles, ±180 and signed zeros, plus (with ``cell_points``)
    the centres and corners of cells, which lie on bisection lines.  The
    JVM's and libm's trig differ by an ulp on some of those, moving them
    across a face, quintant or bisection edge, so only the NumPy-only test
    uses them."""
    ax = np.asarray(FACE_AXES, dtype=np.float64)  # the first N_FACES rows
    rows = list(zip(np.degrees(np.arctan2(ax[:, 1], ax[:, 0])),
                    np.degrees(np.arcsin(np.clip(ax[:, 2], -1.0, 1.0)))))
    rows += [(0.0, 90.0), (0.0, -90.0), (123.4, 90.0), (-180.0, -90.0),
             (180.0, 0.0), (-180.0, 0.0), (180.0, 45.5), (-180.0, -45.5),
             (0.0, 0.0), (-0.0, 0.0), (0.0, -0.0), (-0.0, -0.0)]
    rng = np.random.default_rng(3)
    for res in (2, 5, 8, 14) if cell_points else ():
        lon = rng.uniform(-180, 180, 40)
        lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 40)))
        ids = C.lonlat_to_cell(lon, lat, np.full(40, res))
        rows += list(zip(*C.cell_to_lonlat(ids)))
        for ring in C.cell_to_boundary_batch(ids, closed_ring=False, segments=1):
            rows += [tuple(v) for v in ring]
    lon, lat = np.array(rows, dtype=np.float64).T
    return lon, lat


def _edge_sector_points():
    """Sector-frame points exactly on triangle vertices and bisection lines
    of random cells at several depths, plus signed zeros."""
    rng = np.random.default_rng(5)
    pts = [np.asarray(v, dtype=np.float64) for v in TRI]
    for res in (2, 3, 8, 14, 22, 29):
        s = rng.integers(0, 1 << (2 * (res - 1)), 64, dtype=np.uint64)
        P, Q, R = s_to_triangle(s, res, *TRI)
        M = 0.5 * (P + R)
        pts += [P, Q, R, M, 0.5 * (Q + M), 0.5 * (P + Q), 0.5 * (Q + R)]
    x, y = np.concatenate([np.atleast_2d(p) for p in pts]).T
    z = [0.0, -0.0]
    return np.concatenate([x, z, z]), np.concatenate([y, z, z[::-1]])


def _x_axis_lonlat():
    """Lon/lat rows that project exactly onto the sector x axis (y == 0),
    the first bisector of every quintant, three per quintant where a
    longitude within 8 ulps of the exact inverse lands there."""
    f, q = np.divmod(np.repeat(np.arange(60), 3), 5)
    lon0, lat = inverse(f, q, np.tile([0.1, 0.3, 0.5], 60), np.zeros(180))
    lon, up, down = [lon0], lon0, lon0
    for _ in range(8):
        up, down = np.nextafter(up, np.inf), np.nextafter(down, -np.inf)
        lon += [up, down]
    lon = np.stack(lon)
    _, _, _, y = forward(lon.ravel(), np.tile(lat, len(lon)))
    on = (y == 0.0).reshape(lon.shape)
    hit = np.flatnonzero(on.any(axis=0))
    return lon[np.argmax(on, axis=0)[hit], hit], lat[hit]


def test_x_axis_points_take_digit_zero():
    lon, lat = _x_axis_lonlat()
    assert len(lon) >= 120
    _, _, x, y = forward(lon, lat)
    assert not y.any() and (x > 0).all()
    for res in (2, 8, 29):
        ids = C.lonlat_to_cell(lon, lat, res).view(np.uint64)
        assert not np.any((ids >> np.uint64(57)) & np.uint64(1))  # the first digit


@pytest.mark.parametrize("res", range(1, 30))
def test_parity_bisection_matches_product_form(res):
    """The exact integer bisection against the float cross-product form it
    replaced, on random, edge and on-bisector points.  The random points
    agree; where others disagree, the point lies within a few ulps of the
    bisector of the first level that differs (float rounding decides those
    points, exact integers do not)."""
    rng = np.random.default_rng(100 + res)
    lon = rng.uniform(-180, 180, 20_000)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 20_000)))
    elon, elat = _edge_lonlat(cell_points=True)
    _, _, x, y = forward(np.concatenate([lon, elon]), np.concatenate([lat, elat]))
    sx, sy = _edge_sector_points()
    x, y = np.concatenate([x, sx]), np.concatenate([y, sy])
    got = point_to_s(x, y, res)
    want, dist = _point_to_s_product(x, y, res, *TRI)
    assert np.array_equal(got[:20_000], want[:20_000])
    depth = 2 * (res - 1)
    for i in np.flatnonzero(got != want):
        level = depth - int(got[i] ^ want[i]).bit_length()  # first differing digit
        assert dist[i, level] < 8 * np.spacing(1.0), (x[i], y[i], level, dist[i, level])


def test_integer_bisection_matches_product_form_on_1m_points():
    """No disagreement at res 20, so none at any coarser res (digits are
    prefixes), on a million sphere-uniform points."""
    rng = np.random.default_rng(20)
    lon = rng.uniform(-180, 180, 1_000_000)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 1_000_000)))
    _, _, x, y = forward(lon, lat)
    assert np.array_equal(point_to_s(x, y, 20), _point_to_s_product(x, y, 20, *TRI)[0])


def test_non_finite_coordinates_are_refused():
    for bad in NON_FINITE:
        lon, lat = np.array([10.0, 20.0, 30.0, 40.0]), np.array([10.0, 20.0, 30.0, 40.0])
        lon[2], lat[2] = bad
        with pytest.raises(ValueError, match=r"non-finite coordinate at \(2,\)"):
            C.lonlat_to_cell(lon, lat, 8)
        with pytest.raises(ValueError, match=r"non-finite coordinate at \(2,\)"):
            C.lonlat_to_cell(lon, lat, np.full(4, 8))


def _oracle_cells(lon, lat, res):
    import duckdb

    from a5pg_spark.oracle_gen import encode_cte_chain

    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"key": np.arange(len(lon)), "lon": lon, "lat": lat}))
    ctes, final = encode_cte_chain(res)
    return con.sql(f"WITH {ctes} SELECT cell FROM {final} ORDER BY key").fetchnumpy()["cell"]


@pytest.mark.parametrize("res", [1, 2, 8, 14, 29])
def test_oracle_sql_equals_kernel(res):
    """The DuckDB oracle chain (oracle_gen.encode_cte_chain) equals the
    NumPy kernel on random points and the edge rows but the face centres."""
    rng = np.random.default_rng(7)
    elon, elat = _edge_lonlat(cell_points=False)
    lon = np.concatenate([rng.uniform(-180, 180, 20_000), elon[N_FACES:]])
    lat = np.concatenate([np.degrees(np.arcsin(rng.uniform(-1, 1, 20_000))), elat[N_FACES:]])
    assert np.array_equal(_oracle_cells(lon, lat, res), C.lonlat_to_cell(lon, lat, res))


@pytest.mark.xfail(strict=True, reason="at a face centre the quintant rests on atan2 of "
                   "rounding residues, and DuckDB's libm and NumPy's differ there by ulps")
def test_oracle_sql_equals_kernel_at_face_centres():
    elon, elat = _edge_lonlat(cell_points=False)
    lon, lat = elon[:N_FACES], elat[:N_FACES]
    assert np.array_equal(_oracle_cells(lon, lat, 2), C.lonlat_to_cell(lon, lat, 2))


def _sector_points():
    """Sector-frame points: random ones in and just around the canonical
    triangle, the edge sector points, and points on the x axis (the first
    bisector, where every encoder must take digit 0)."""
    rng = np.random.default_rng(9)
    x = rng.uniform(-0.01, TRI_EXIT[0] + 0.01, 2_000)
    y = rng.uniform(-1.0, 1.0, 2_000) * x * TRI_EXIT[1] / TRI_EXIT[0]
    sx, sy = _edge_sector_points()
    ax = np.linspace(0.0, TRI_EXIT[0], 101)
    return np.concatenate([x, sx, ax]), np.concatenate([y, sy, np.zeros(101)]), len(ax)


def test_oracle_bisection_equals_kernel():
    """The DuckDB bisection equals point_to_s bit for bit on the same
    sector points, on-bisector ones included."""
    import duckdb

    from a5pg_spark.oracle_gen import bisection_ctes

    x, y, n_axis = _sector_points()
    con = duckdb.connect()
    con.register("xy", pd.DataFrame({"key": np.arange(len(x)), "face": 0, "q": 0,
                                     "ppx": x, "ppy": y}))
    for res in (2, 8, 14, 29):
        ctes = ",\n".join(bisection_ctes(res, "xy"))
        got = con.sql(f"WITH {ctes} SELECT s FROM bis{2 * (res - 1)} ORDER BY key").fetchnumpy()["s"]
        want = point_to_s(x, y, res)
        assert np.array_equal(got.astype(np.uint64), want), res
        assert not np.any(want[-n_axis:] >> np.uint64(2 * res - 3))  # digit 0 on the x axis


def test_jvm_bisection_equals_kernel(spark):
    """The JVM kernel's bisection equals point_to_s bit for bit on the same
    sector points, on-bisector ones included."""
    from a5pg_spark import jvm

    jvm.ensure(spark)
    x, y, n_axis = _sector_points()
    bisect = spark._jvm.A5Encode.bisect
    for res in (2, 8, 14, 29):
        got = np.array([bisect(float(a), float(b), res) for a, b in zip(x, y)], dtype=np.int64)
        assert np.array_equal(got.view(np.uint64), point_to_s(x, y, res)), res


@pytest.fixture(scope="module")
def edge_rows(spark):
    """The edge rows and the non-finite rows, as numpy arrays and as a
    cached DataFrame keyed by ``k``."""
    elon, elat = _edge_lonlat(cell_points=False)
    nlon, nlat = np.array(NON_FINITE).T
    lon, lat = np.concatenate([elon, nlon]), np.concatenate([elat, nlat])
    # pandas → Arrow turns NaN into NULL, so NaN is rebuilt in SQL
    df = spark.createDataFrame(pd.DataFrame({
        "k": np.arange(len(lon)), "lon": np.where(np.isnan(lon), 0.0, lon),
        "lat": np.where(np.isnan(lat), 0.0, lat),
        "lon_nan": np.isnan(lon), "lat_nan": np.isnan(lat),
    })).selectExpr("k", "IF(lon_nan, CAST('NaN' AS DOUBLE), lon) AS lon",
                   "IF(lat_nan, CAST('NaN' AS DOUBLE), lat) AS lat").cache()
    yield lon, lat, df
    df.unpersist()


@pytest.mark.parametrize("res", range(0, 30))
def test_native_encode_matches_kernel_on_edge_rows(edge_rows, res):
    """The JVM kernel equals NumPy at every resolution on face centres,
    poles, ±180 and signed zeros, and gives NULL where NumPy refuses a NaN
    or infinite coordinate."""
    from a5pg_spark.functions_native import encode_native

    lon, lat, df = edge_rows
    got = [r.c for r in encode_native(df, "lon", "lat", res, "c").orderBy("k").collect()]
    finite = np.isfinite(lon) & np.isfinite(lat)
    want = np.zeros(len(lon), dtype=np.int64)
    want[finite] = C.lonlat_to_cell(lon[finite], lat[finite], res)
    assert got == [int(c) if f else None for c, f in zip(want, finite)]


def test_native_encode_null_coordinates_give_null(spark):
    from a5pg_spark.functions_native import encode_native

    df = spark.sql("SELECT * FROM VALUES (1, CAST(NULL AS DOUBLE), 10.0D), "
                   "(2, 10.0D, CAST(NULL AS DOUBLE)), (3, CAST(NULL AS DOUBLE), "
                   "CAST(NULL AS DOUBLE)), (4, 10.0D, 10.0D) AS t(k, lon, lat)")
    got = {r.k: r.c for r in encode_native(df, "lon", "lat", 8, "c").collect()}
    assert got[1] is None and got[2] is None and got[3] is None
    assert got[4] == int(C.lonlat_to_cell(np.array([10.0]), np.array([10.0]),
                                          np.array([8]))[0])


def test_sql_encode_non_finite_gives_null(spark):
    """The Arrow-UDF encodes give NULL where NumPy refuses the coordinate."""
    rows = ", ".join(f"({k}, CAST('{x}' AS DOUBLE), CAST('{y}' AS DOUBLE))"
                     for k, (x, y) in enumerate(NON_FINITE + [(10.0, 10.0)]))
    got = spark.sql(f"SELECT k, a5_lonlat_to_cell(lon, lat, 8) AS c, "
                    f"a5_lonlat_to_cell_strict(lon, lat, 8) AS s "
                    f"FROM VALUES {rows} AS t(k, lon, lat) ORDER BY k").collect()
    want = int(C.lonlat_to_cell(10.0, 10.0, 8))
    assert [(r.c, r.s) for r in got] == [(None, None)] * len(NON_FINITE) + [(want, want)]


def test_kernel_rejects_resolution_out_of_range(spark):
    """From SQL too, where encode_native's own check does not run."""
    assert spark.sql("SELECT a5_encode_jvm(10D, 10D, 29) AS c").first().c is not None
    for res in (-1, 30, 35):
        with pytest.raises(Exception, match="out of range"):
            spark.sql(f"SELECT a5_encode_jvm(10D, 10D, {res})").collect()


def test_native_encode_registers_kernel_in_a_new_session(spark):
    from a5pg_spark.functions_native import encode_native

    s2 = spark.newSession()
    assert not s2.catalog.functionExists("a5_encode_jvm")
    df = s2.createDataFrame(pd.DataFrame({"lon": [10.0, -73.9], "lat": [10.0, 40.7]}))
    got = encode_native(df, "lon", "lat", 8, "c").toPandas()
    want = C.lonlat_to_cell(got.lon.to_numpy(), got.lat.to_numpy(), np.full(2, 8))
    assert np.array_equal(got.c.to_numpy(), want)


def test_native_encode_on_a_jvm_started_without_the_jar(tmp_path):
    """A session that session.get_spark did not build (its JVM lacks the
    kernel's jar) gets the jar and the function on first use."""
    script = tmp_path / "plain_session.py"
    script.write_text(
        "import numpy as np\n"
        "from pyspark.sql import SparkSession\n"
        "from a5pg_spark.core import cells as C\n"
        "from a5pg_spark.functions_native import encode_native\n"
        "spark = (SparkSession.builder.master('local[1]').config('spark.driver.memory', '512m')\n"
        "         .config('spark.ui.enabled', 'false').getOrCreate())\n"
        "df = spark.range(1000).selectExpr('id * 0.36D - 180D AS lon', 'id * 0.17D - 85D AS lat')\n"
        "got = encode_native(df, 'lon', 'lat', 12, 'c').toPandas()\n"
        "want = C.lonlat_to_cell(got.lon.to_numpy(), got.lat.to_numpy(), np.full(1000, 12))\n"
        "assert np.array_equal(got.c.to_numpy(), want)\n"
        "print('MATCH')\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))}
    done = subprocess.run([sys.executable, str(script)], cwd=tmp_path, env=env,
                          capture_output=True, text=True, timeout=300)
    assert done.returncode == 0 and "MATCH" in done.stdout, done.stderr[-3000:]


def test_kernel_source_carries_core_constants(monkeypatch):
    """The Java constants are core/'s floats, written so they parse back
    exactly, and the jar's cache key follows them."""
    from a5pg_spark import jvm
    from a5pg_spark.core import dodecahedron, hilbert, projection

    src = jvm.source()
    assert "/*CONSTANTS*/" not in src and f"ONE = {hilbert.ONE}L;" in src
    for v in [projection._K, projection.TAN_36, projection.AREA_TOT,
              dodecahedron.TAN_DM, hilbert.WX, hilbert.WY, *projection._ALPHAS,
              *projection._SIGNS, *np.ravel(FACE_AXES), *np.ravel(dodecahedron.FACE_ROT)]:
        assert repr(float(v)) in src, v
    key = jvm.jar_path(src)
    monkeypatch.setattr(projection, "_K", np.nextafter(projection._K, 2.0))
    changed = jvm.source()
    assert repr(float(projection._K)) in changed
    assert jvm.jar_path(changed) != key


def test_get_spark_without_javac_names_it(monkeypatch, tmp_path):
    """With no cached jar and no javac, get_spark fails before starting a
    JVM, with an error that names javac."""
    from a5pg_spark import jvm
    from a5pg_spark.session import get_spark

    monkeypatch.setattr(jvm, "BUILD_DIR", str(tmp_path))
    monkeypatch.setattr(jvm.shutil, "which", lambda name: None)
    with pytest.raises(RuntimeError, match="javac"):
        get_spark()
