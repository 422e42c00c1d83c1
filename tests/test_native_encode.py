"""Bit-exact equivalence of the JVM-native encode with the NumPy kernel, and
of the kernel's orientation-parity bisection test with the product form."""
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

from a5pg_spark.core import cells as C
from a5pg_spark.core.dodecahedron import FACE_AXES
from a5pg_spark.core.hilbert import point_to_s, s_to_triangle
from a5pg_spark.core.projection import TRI_APEX, TRI_ENTRY, TRI_EXIT, forward

TRI = (TRI_ENTRY, TRI_APEX, TRI_EXIT)


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
    """Reference bisection: the second child iff ``cr_pt · cr_p < 0``, with
    both cross products computed at every step (the form the parity test in
    ``hilbert.point_to_s`` replaces)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    n = px.shape[0]
    P = [np.full(n, entry[0]), np.full(n, entry[1])]
    Q = [np.full(n, apex[0]), np.full(n, apex[1])]
    R = [np.full(n, exit_[0]), np.full(n, exit_[1])]
    s = np.zeros(n, dtype=np.uint64)
    for _ in range(2 * (res - 1)):
        mx = (P[0] + R[0]) * 0.5
        my = (P[1] + R[1]) * 0.5
        dx, dy = mx - Q[0], my - Q[1]
        cr_pt = (py - Q[1]) * dx - (px - Q[0]) * dy
        cr_p = (P[1] - Q[1]) * dx - (P[0] - Q[0]) * dy
        b = (cr_pt * cr_p) < 0
        s = (s << np.uint64(1)) | b.astype(np.uint64)
        P = [np.where(b, Q[0], P[0]), np.where(b, Q[1], P[1])]
        R = [np.where(b, R[0], Q[0]), np.where(b, R[1], Q[1])]
        Q = [mx, my]
    return s


def _edge_lonlat(cell_points: bool):
    """Lon/lat rows on which an inexact bisection test would show: face
    centres, poles, ±180, signed zeros and NaN, plus (with ``cell_points``)
    the centres and corners of cells, which lie on bisection lines.  The
    JVM's and libm's trig differ by an ulp on some of those, moving them
    across a face, quintant or bisection edge, so only the NumPy-only test
    uses them."""
    ax = np.asarray(FACE_AXES, dtype=np.float64)
    rows = list(zip(np.degrees(np.arctan2(ax[:, 1], ax[:, 0])),
                    np.degrees(np.arcsin(np.clip(ax[:, 2], -1.0, 1.0)))))
    rows += [(0.0, 90.0), (0.0, -90.0), (123.4, 90.0), (-180.0, -90.0),
             (180.0, 0.0), (-180.0, 0.0), (180.0, 45.5), (-180.0, -45.5),
             (0.0, 0.0), (-0.0, 0.0), (0.0, -0.0), (-0.0, -0.0),
             (np.nan, 10.0), (10.0, np.nan), (np.nan, np.nan)]
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
    of random cells at several depths, plus signed zeros and NaN."""
    rng = np.random.default_rng(5)
    pts = [np.asarray(v, dtype=np.float64) for v in TRI]
    for res in (2, 3, 8, 14, 22, 29):
        s = rng.integers(0, 1 << (2 * (res - 1)), 64, dtype=np.uint64)
        P, Q, R = s_to_triangle(s, res, *TRI)
        M = 0.5 * (P + R)
        pts += [P, Q, R, M, 0.5 * (Q + M), 0.5 * (P + Q), 0.5 * (Q + R)]
    x, y = np.concatenate([np.atleast_2d(p) for p in pts]).T
    z, nan = [0.0, -0.0], np.nan
    x = np.concatenate([x, z, z, [nan, 0.0, nan, 0.3]])
    y = np.concatenate([y, z, z[::-1], [0.0, nan, nan, nan]])
    return x, y


@pytest.mark.parametrize("res", range(1, 30))
def test_parity_bisection_matches_product_form(res):
    rng = np.random.default_rng(100 + res)
    lon = rng.uniform(-180, 180, 20_000)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, 20_000)))
    elon, elat = _edge_lonlat(cell_points=True)
    _, _, x, y = forward(np.concatenate([lon, elon]), np.concatenate([lat, elat]))
    sx, sy = _edge_sector_points()
    x, y = np.concatenate([x, sx]), np.concatenate([y, sy])
    got = point_to_s(x, y, res, *TRI)
    want = _point_to_s_product(x, y, res, *TRI)
    assert np.array_equal(got, want)


@pytest.fixture(scope="module")
def edge_rows(spark):
    """The NaN-preserving edge rows, as numpy arrays and as a cached
    DataFrame keyed by ``k``."""
    lon, lat = _edge_lonlat(cell_points=False)
    # pandas → Arrow turns NaN into NULL, so NaN is rebuilt in SQL
    df = spark.createDataFrame(pd.DataFrame({
        "k": np.arange(len(lon)), "lon": np.nan_to_num(lon), "lat": np.nan_to_num(lat),
        "lon_nan": np.isnan(lon), "lat_nan": np.isnan(lat),
    })).selectExpr("k", "IF(lon_nan, CAST('NaN' AS DOUBLE), lon) AS lon",
                   "IF(lat_nan, CAST('NaN' AS DOUBLE), lat) AS lat").cache()
    yield lon, lat, df
    df.unpersist()


@pytest.mark.parametrize("res", range(0, 30))
def test_native_encode_matches_kernel_on_edge_rows(edge_rows, res):
    """The JVM kernel equals NumPy at every resolution on face centres,
    poles, ±180, signed zeros and NaN.  The NaN rows pin the side test's
    NaN rule: a flipped test written as ``cr >= 0`` gives them 1 bits."""
    from a5pg_spark.functions_native import encode_native

    lon, lat, df = edge_rows
    got = encode_native(df, "lon", "lat", res, "c").toPandas().sort_values("k")
    want = C.lonlat_to_cell(lon, lat, np.full(len(lon), res))
    assert np.array_equal(got.c.to_numpy(), want)


def test_native_encode_null_coordinates_give_null(spark):
    from a5pg_spark.functions_native import encode_native

    df = spark.sql("SELECT * FROM VALUES (1, CAST(NULL AS DOUBLE), 10.0D), "
                   "(2, 10.0D, CAST(NULL AS DOUBLE)), (3, CAST(NULL AS DOUBLE), "
                   "CAST(NULL AS DOUBLE)), (4, 10.0D, 10.0D) AS t(k, lon, lat)")
    got = {r.k: r.c for r in encode_native(df, "lon", "lat", 8, "c").collect()}
    assert got[1] is None and got[2] is None and got[3] is None
    assert got[4] == int(C.lonlat_to_cell(np.array([10.0]), np.array([10.0]),
                                          np.array([8]))[0])


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
    from a5pg_spark.core import dodecahedron, projection

    src = jvm.source()
    assert "/*CONSTANTS*/" not in src
    for v in [projection._K, projection.TAN_36, projection.AREA_TOT,
              dodecahedron.TAN_DM, *TRI_ENTRY, *TRI_EXIT, *projection._ALPHAS,
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
