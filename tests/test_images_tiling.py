"""Images source + raster tiling: codec invariants (lossless allclose,
lossy PSNR ≥ 40 dB), deterministic generation, pixel→cell tiling laws,
caption preservation through joins (BASELINE.json per-row invariants)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from a5pg_spark.core import bits
from a5pg_spark.operators import tiling
from a5pg_spark.sources import images as I


class TestCodecs:
    def test_png_lossless_roundtrip(self):
        rng = np.random.default_rng(0)
        img = rng.integers(0, 256, size=(24, 32), dtype=np.uint8)
        out = I.png_decode(I.png_encode(img))
        assert np.array_equal(img, out)  # decoded-pixel allclose (exact)

    def test_fake_jpeg_psnr(self):
        rng = np.random.default_rng(1)
        img = rng.integers(0, 256, size=(48, 64), dtype=np.uint8)
        out = I.fake_jpeg_decode(I.fake_jpeg_encode(img))
        assert I.psnr(img, out) >= 40.0  # lossy invariant

    def test_bmp_lossless_roundtrip_and_padding(self):
        rng = np.random.default_rng(2)
        # widths exercising all four 4-byte row-padding cases
        for w in (32, 33, 34, 35):
            img = rng.integers(0, 256, size=(24, w), dtype=np.uint8)
            data = I.bmp_encode(img)
            assert data[:2] == b"BM" and len(data) % 4 == 2  # 14-byte header
            out = I.bmp_decode(data)
            assert np.array_equal(img, out)

    def test_lossless_codecs_agree(self):
        """PNG and BMP are independent byte layouts of the same pixels."""
        rng = np.random.default_rng(3)
        img = rng.integers(0, 256, size=(48, 33), dtype=np.uint8)
        assert np.array_equal(
            I.png_decode(I.png_encode(img)),
            I.bmp_decode(I.bmp_encode(img)),
        )

    def test_bmp_tiling_end_to_end(self, spark):
        """A BMP-encoded image flows through decode→georef→encode tiling
        with exact pixel conservation, same as PNG."""
        rng = np.random.default_rng(4)
        img = rng.integers(0, 256, size=(24, 33), dtype=np.uint8)
        ph = I.phash_for_point(-3.7037, 40.41677)
        row = [("bmp0", I.bmp_encode(img), 33, 24, "bmp", "cap bmp0", ph)]
        df = spark.createDataFrame(
            row, "image_id string, bytes binary, w int, h int, fmt string, "
            "caption string, phash long")
        tiles = tiling.pixels_to_cells(df, res=14)
        agg = tiles.agg(F.sum("n_pixels").alias("n"),
                        F.sum("sum_value").alias("s")).collect()[0]
        assert int(agg.n) == 24 * 33
        assert int(agg.s) == int(img.sum())

    def test_dct_real_lossy_codec(self):
        """The ADCT codec is REAL transform coding: PSNR ≥ 40 dB (the
        north-rule lossy invariant) with genuine frequency-domain loss,
        analytic error bound from orthonormality, and actual compression
        on smooth content."""
        rng = np.random.default_rng(5)
        for h, w in ((48, 64), (37, 53)):       # non-multiple-of-8 too
            img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
            data = I.dct_encode(img)
            out = I.dct_decode(data)
            assert out.shape == img.shape
            p = I.psnr(img, out)
            assert 40.0 <= p < float("inf")     # lossy but within invariant
            # orthonormal DCT: MSE ≈ q²/12 → PSNR within a few dB of 45
            assert p <= 55.0
        # smooth content compresses hard (transform coding, not a pixel map)
        yy, xx = np.mgrid[0:64, 0:64]
        smooth = ((yy + xx) // 2).astype(np.uint8)
        assert len(I.dct_encode(smooth)) < 64 * 64 // 8

    def test_dct_tiling_end_to_end(self, spark):
        """A DCT-encoded image flows through decode→georef→encode tiling;
        pixel COUNT is conserved exactly and values are allclose within the
        codec's analytic error bound."""
        rng = np.random.default_rng(6)
        img = rng.integers(0, 256, size=(24, 33), dtype=np.uint8)
        ph = I.phash_for_point(-3.7037, 40.41677)
        row = [("dct0", I.dct_encode(img), 33, 24, "dct", "cap dct0", ph)]
        df = spark.createDataFrame(
            row, "image_id string, bytes binary, w int, h int, fmt string, "
            "caption string, phash long")
        tiles = tiling.pixels_to_cells(df, res=14)
        agg = tiles.agg(F.sum("n_pixels").alias("n"),
                        F.sum("sum_value").alias("s")).collect()[0]
        assert int(agg.n) == 24 * 33
        rec = I.dct_decode(I.dct_encode(img))
        assert int(agg.s) == int(rec.sum())
        assert abs(int(agg.s) - int(img.sum())) <= 2 * 24 * 33  # q/2 ≈ 2/px

    def test_unknown_format_raises(self):
        with pytest.raises(NotImplementedError):
            I.decode_image(b"xxxx", "webp")


class TestGeneration:
    def test_deterministic(self):
        a = I.make_rows(0, 20)
        b = I.make_rows(0, 20)
        assert (a.phash == b.phash).all()
        assert all(x == y for x, y in zip(a.bytes, b.bytes))

    def test_schema_and_golden_pins(self, spark):
        df = I.build_images_df(spark, 64, slices=4)
        pdf = df.toPandas().sort_values("image_id").reset_index(drop=True)
        assert len(pdf) == 64
        assert list(pdf.columns) == ["image_id", "bytes", "w", "h", "fmt",
                                     "caption", "phash"]
        # golden rows: derived capture point == reference golden coordinates
        lon, lat = I.capture_point(pdf.phash.to_numpy()[: len(I.GOLDEN_POINTS)])
        for i, (glon, glat) in enumerate(I.GOLDEN_POINTS):
            assert abs(lon[i] - glon) < 1e-9 and abs(lat[i] - glat) < 1e-9

    def test_capture_point_sql_matches_numpy(self, spark):
        df = I.build_images_df(spark, 32, slices=2)
        out = I.with_capture_point(df).select("phash", "lon", "lat").toPandas()
        lon, lat = I.capture_point(out.phash.to_numpy())
        assert np.allclose(out.lon.to_numpy(), lon, atol=1e-12)
        assert np.allclose(out.lat.to_numpy(), lat, atol=1e-12)


class TestTiling:
    @pytest.fixture(scope="class")
    def imgs(self, spark):
        return I.build_images_df(spark, 24, slices=2).cache()

    def test_pixel_conservation(self, spark, imgs):
        tiles = tiling.pixels_to_cells(imgs, res=15).cache()
        got = (
            tiles.groupBy("image_id").agg(F.sum("n_pixels").alias("n"))
            .toPandas().set_index("image_id").n
        )
        want = imgs.select("image_id", (F.col("w") * F.col("h")).alias("n")) \
            .toPandas().set_index("image_id").n
        for k in want.index:
            assert got[k] == want[k]  # every pixel lands in exactly one cell

    def test_value_conservation_lossless(self, spark, imgs):
        # for png rows, sum of pixel values through tiling == sum in the image
        png = imgs.filter(F.col("fmt") == "png")
        tiles = tiling.pixels_to_cells(png, res=15)
        got = tiles.groupBy("image_id").agg(F.sum("sum_value").alias("s")) \
            .toPandas().set_index("image_id").s
        for row in png.select("image_id", "bytes").collect():
            img = I.png_decode(bytes(row.bytes))
            assert abs(got[row.image_id] - float(img.sum())) < 1e-6

    def test_tiles_near_capture_point(self, spark, imgs):
        tiles = tiling.pixels_to_cells(imgs.limit(4), res=15)
        rows = tiles.collect()
        metas = {r.image_id: r.phash for r in imgs.limit(4).collect()}
        from a5pg_spark.core import cells as C
        for r in rows[:50]:
            lon0, lat0 = I.capture_point(np.array([metas[r.image_id]]))
            clon, clat = C.cell_to_lonlat(np.array([r.cell]))
            assert abs(clon[0] - lon0[0]) < 0.1 and abs(clat[0] - lat0[0]) < 0.1

    def test_mosaic_rollup(self, spark, imgs):
        tiles = tiling.pixels_to_cells(imgs, res=15)
        mosaic = tiling.cell_mosaic(tiles, target_res=8).toPandas()
        assert (mosaic.n_pixels > 0).all()
        assert all(bits.res_of(int(c)) == 8 for c in mosaic.mosaic_cell)
        assert (mosaic.mean_value >= 0).all() and (mosaic.mean_value <= 255).all()

    def test_caption_preserved_through_join(self, spark, imgs):
        # the per-row caption-equality invariant through a cell join
        pts = I.with_capture_point(imgs)
        enc = pts.withColumn(
            "cell", F.expr("a5_lonlat_to_cell(lon, lat, 12)"))
        back = enc.alias("a").join(
            enc.select("cell", F.col("caption").alias("caption2")).alias("b"),
            "cell")
        same = back.filter(F.col("caption") == F.col("caption2")).count()
        assert same >= imgs.count()  # every row at least rejoins itself


def _lexsort_combine(img, cell, vals):
    """The one-pass combine the run-length pre-combine replaced: lexsort
    every pixel by (img, cell), then reduce each group."""
    order = np.lexsort((cell, img))
    gi, gc, gv = img[order], cell[order], vals[order]
    starts = np.flatnonzero(np.r_[True, (gi[1:] != gi[:-1]) | (gc[1:] != gc[:-1])])
    return (gi[starts], gc[starts], np.diff(np.append(starts, len(gi))),
            np.add.reduceat(gv, starts), np.minimum.reduceat(gv, starts),
            np.maximum.reduceat(gv, starts))


@pytest.mark.parametrize("repeat", [False, True])
def test_tile_batch_equals_one_pass_combine(repeat):
    """The benchmark's images (and a batch that repeats image ids) tile to
    the rows of the lexsort combine over independently georeferenced
    pixels."""
    import pandas as pd

    from a5pg_spark.core import cells
    from perfbench import inputs

    rows = inputs.image_rows(1, 120)
    if repeat:
        rows = pd.concat([rows, rows.iloc[[3, 0, 3]]], ignore_index=True)
    got = tiling.tile_batch(rows, 14, inputs.PIXEL_DEG)
    img, lon, lat, vals = [], [], [], []
    for i, r in enumerate(rows.itertuples()):
        glon, glat = inputs.pixel_lonlat(r)
        img.append(np.full(len(glon), i))
        lon.append(glon)
        lat.append(glat)
        vals.append(inputs.true_pixels(inputs.image_index(r.image_id), r.w, r.h, r.fmt).ravel())
    ids = cells.lonlat_to_cell(np.concatenate(lon), np.concatenate(lat), 14)
    gi, gc, n, s, mn, mx = _lexsort_combine(np.concatenate(img), ids, np.concatenate(vals))
    assert len(gi) < sum(map(len, vals)) // 10  # a real combine
    assert got.image_id.tolist() == rows.image_id.to_numpy()[gi].tolist()
    for col, want in (("cell", gc), ("n_pixels", n), ("sum_value", s),
                      ("min_value", mn), ("max_value", mx)):
        assert np.array_equal(got[col].to_numpy(), want), col


def _edge_centres():
    """(lon, lat) image centres where the encode is hardest: on a face edge,
    on a quintant edge, on a dodecahedron vertex, at and within 1e-3 rad of
    a face centre, next to both poles and across lon ±180."""
    from a5pg_spark.core.dodecahedron import FACE_AXES, VERTICES
    from a5pg_spark.core.projection import xyz_to_lonlat

    def unit(v):
        return v / np.linalg.norm(v)

    pairs = [(i, j) for i in range(12) for j in range(i + 1, 12)
             if abs(FACE_AXES[i] @ FACE_AXES[j] - 1 / np.sqrt(5)) < 1e-9]
    on_face_edge = [unit(FACE_AXES[i] + FACE_AXES[j]) for i, j in pairs[:3]]
    vertex = VERTICES[np.argmax(VERTICES @ FACE_AXES[3])]
    on_quintant_edge = [unit(FACE_AXES[3] + vertex), unit(FACE_AXES[7] + VERTICES[
        np.argmax(VERTICES @ FACE_AXES[7])])]
    lon, lat = xyz_to_lonlat(np.stack(on_face_edge + on_quintant_edge + [vertex, FACE_AXES[3]]))
    near_centre = (lon[-1], lat[-1] + np.degrees(5e-4))
    more = [near_centre, (33.3, 89.99), (-120.0, -89.99), (179.9999, 10.0), (-179.9999, -20.0)]
    return (np.r_[lon, [p[0] for p in more]], np.r_[lat, [p[1] for p in more]])


@pytest.mark.parametrize("pixel_deg", [1e-5, 1e-4, 1e-3])
@pytest.mark.parametrize("res", [1, 8, 14, 20])
def test_raster_to_cell_equals_per_pixel_on_edge_images(res, pixel_deg):
    """The certified-run raster encode gives every pixel of images placed
    across face, quintant and vertex edges, at face centres, at the poles
    and across the antimeridian the id of the per-pixel encode."""
    from a5pg_spark.core import cells

    lon0, lat0 = _edge_centres()
    k = len(lon0)
    for h, w in ((24, 32), (48, 64)):
        mesh_x = (np.arange(w) - w / 2.0) * pixel_deg
        mesh_y = (h / 2.0 - np.arange(h)) * pixel_deg
        want = cells.lonlat_to_cell(
            np.broadcast_to(lon0[:, None, None] + mesh_x[None, None, :], (k, h, w)),
            np.broadcast_to(lat0[:, None, None] + mesh_y[None, :, None], (k, h, w)), res)
        got = cells.raster_to_cell(lon0, lat0, mesh_x, mesh_y, res)
        assert np.array_equal(got, want)


@pytest.mark.parametrize("res", [14, 16, 18])
def test_raster_to_cell_equals_per_pixel_on_benchmark_images(res):
    """Held-out benchmark images at res 14 and 16, and at res 18, where a
    cell is only a few pixels wide and most runs are split."""
    from a5pg_spark.core import cells
    from perfbench import inputs

    rows = inputs.image_rows(7, 300)
    lon0, lat0 = I.capture_point(rows.phash.to_numpy())
    for (h, w), g in rows.groupby(["h", "w"]).indices.items():
        mesh_x = (np.arange(w) - w / 2.0) * inputs.PIXEL_DEG
        mesh_y = (h / 2.0 - np.arange(h)) * inputs.PIXEL_DEG
        k = len(g)
        want = cells.lonlat_to_cell(
            np.broadcast_to(lon0[g][:, None, None] + mesh_x[None, None, :], (k, h, w)),
            np.broadcast_to(lat0[g][:, None, None] + mesh_y[None, :, None], (k, h, w)), res)
        assert np.array_equal(cells.raster_to_cell(lon0[g], lat0[g], mesh_x, mesh_y, res), want)


@pytest.mark.parametrize("res", [1, 5, 9])
def test_point_to_s_final_weights_are_barycentric(res):
    """``point_to_s(weights=True)`` returns the point's smallest barycentric
    weight in its final triangle, in units of ONE."""
    from a5pg_spark.core.hilbert import ONE, point_to_s, s_to_triangle
    from a5pg_spark.core.projection import TRI_APEX, TRI_ENTRY, TRI_EXIT

    rng = np.random.default_rng(res)
    x = rng.uniform(0.0, TRI_EXIT[0], 2000)
    y = rng.uniform(-1.0, 1.0, 2000) * x * TRI_EXIT[1] / TRI_EXIT[0]
    s, wmin = point_to_s(x, y, res, weights=True)
    assert np.array_equal(s, point_to_s(x, y, res))
    P, Q, R = s_to_triangle(s, res, TRI_ENTRY, TRI_APEX, TRI_EXIT)

    def area(a, b, c):
        return (b[:, 0] - a[:, 0]) * (c[:, 1] - a[:, 1]) - (b[:, 1] - a[:, 1]) * (c[:, 0] - a[:, 0])

    p = np.stack([x, y], axis=1)
    bary = np.stack([area(p, Q, R), area(P, p, R), area(P, Q, p)]) / area(P, Q, R)
    assert np.abs(bary.min(axis=0) - wmin / ONE).max() < 1e-12


@pytest.mark.parametrize("res", [1, 2, 5, 14, 20])
def test_point_to_s_turn_carries_the_final_weights(res):
    """``point_to_s(weights="all")``: for two points of one final triangle,
    the final weights differ by 2^(res−1)·J^turn applied to the difference
    of the rounded first weights, exactly (DESIGN.md §7.1)."""
    from a5pg_spark.core.cells import _TURN
    from a5pg_spark.core.hilbert import WX, WY, point_to_s
    from a5pg_spark.core.projection import TRI_EXIT

    rng = np.random.default_rng(res)
    x = rng.uniform(0.05, TRI_EXIT[0], 5000)
    y = rng.uniform(-1.0, 1.0, 5000) * x * TRI_EXIT[1] / TRI_EXIT[0]
    eps = 1e-3 * 2.0 ** -res
    x2, y2 = x + rng.uniform(-eps, eps, 5000), y + rng.uniform(-eps, eps, 5000)
    s, w, turn = point_to_s(x, y, res, weights="all")
    s2, w2, _ = point_to_s(x2, y2, res, weights="all")
    assert np.array_equal(s, point_to_s(x, y, res))
    assert np.array_equal(np.min(w, axis=0), point_to_s(x, y, res, weights=True)[1])
    inside = (s == s2) & (np.min(w, axis=0) > 0) & (np.min(w2, axis=0) > 0)
    assert inside.mean() > 0.99

    def first(px, py):
        return (np.rint(px * WX - py * WY).astype(np.int64),
                np.rint(px * WX + py * WY).astype(np.int64))

    (a, g), (a2, g2) = first(x, y), first(x2, y2)
    R = _TURN[turn].astype(np.int64) << (res - 1)
    da, dg = a2 - a, g2 - g
    ra, rg = R[:, 0] * da + R[:, 1] * dg, R[:, 2] * da + R[:, 3] * dg
    for got, want in zip((w2[0] - w[0], w2[1] - w[1], w2[2] - w[2]), (ra, -ra - rg, rg)):
        assert np.array_equal(got[inside], want[inside])


@pytest.mark.parametrize("pixel_deg", [1e-4, 1e-3, 1e-2])
def test_model_bound_covers_the_first_weights(pixel_deg):
    """On 200 benchmark images, the largest gap between each pixel's
    modelled first weights (the biquadratic through its image's 3×3
    anchors) and the ones the per-pixel encode computes stays below
    model_bound / SAFETY: the margin is the measured bound times SAFETY,
    not a value tuned to pass."""
    from a5pg_spark.core import cells, projection
    from a5pg_spark.core.hilbert import ONE, WX, WY
    from perfbench import inputs

    rows = inputs.image_rows(1, 200)
    lon0, lat0 = I.capture_point(rows.phash.to_numpy())
    worst, checked = 0.0, 0
    for (h, w), g in rows.groupby(["h", "w"]).indices.items():
        mesh_x = (np.arange(w) - w / 2.0) * pixel_deg
        mesh_y = (h / 2.0 - np.arange(h)) * pixel_deg
        k = len(g)
        zero = np.zeros(k, dtype=np.int64)
        tiles = (np.arange(k), zero, zero + h, zero, zero + w)
        modelled, origin, X, Y, bound, _ = cells._fit(
            tiles, lon0[g], lat0[g], mesh_x, mesh_y, cells._step(mesh_x), cells._step(mesh_y), 14)
        img = np.repeat(np.arange(k), h)
        row = np.tile(np.arange(h), k)
        (x0, x1, x2), (y0, y1, y2) = cells._row_model(X[img], Y[img], row, zero[img] + h,
                                                      zero[img] + w)
        j = np.arange(w)
        mx = x0[:, None] + j * (x1[:, None] + j * x2[:, None])   # (k·h, w)
        my = y0[:, None] + j * (y1[:, None] + j * y2[:, None])
        face, q, x, y = projection.forward(
            np.broadcast_to(lon0[g][:, None, None] + mesh_x, (k, h, w)).reshape(-1),
            np.broadcast_to(lat0[g][:, None, None] + mesh_y[:, None], (k, h, w)).reshape(-1))
        x, y = x.reshape(k * h, w), y.reshape(k * h, w)
        gap = np.maximum(np.abs((mx - x) * WX - (my - y) * WY),
                         np.abs((mx - x) * WX + (my - y) * WY)) / ONE
        same = (5 * face + q).reshape(k * h, w) == origin[img][:, None]
        ok = modelled[img][:, None] & same
        ratio = gap / (bound[img] / cells.SAFETY)[:, None]
        worst = max(worst, ratio[ok].max())
        checked += ok.sum()
    assert checked > 0.9 * sum(int(r.w) * int(r.h) for r in rows.itertuples())
    assert 0 < worst < 1, worst


def test_raster_runs_work_counts():
    """The run kernel projects at most 2% of the pixels (nine anchors per
    image and the per-pixel fallbacks) and bisects at most 8% (one per run
    and the fallbacks) on 400 benchmark images at res 14; the per-pixel
    encode does both for every pixel.  A margin or fallback that stays exact
    but walks far more than it should fails here."""
    from a5pg_spark.core import cells, projection
    from perfbench import inputs

    count = {"project": 0, "bisect": 0}

    def counted(fn, key):
        def wrap(v, *a, **kw):
            count[key] += len(v)
            return fn(v, *a, **kw)
        return wrap

    rows = inputs.image_rows(1, 400)
    lon0, lat0 = I.capture_point(rows.phash.to_numpy())
    n = 0
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cells, "forward_xyz", counted(cells.forward_xyz, "project"))
        mp.setattr(projection, "forward_xyz", counted(projection.forward_xyz, "project"))
        mp.setattr(cells, "point_to_s", counted(cells.point_to_s, "bisect"))
        for (h, w), g in rows.groupby(["h", "w"]).indices.items():
            mesh_x = (np.arange(w) - w / 2.0) * inputs.PIXEL_DEG
            mesh_y = (h / 2.0 - np.arange(h)) * inputs.PIXEL_DEG
            cells.raster_runs(lon0[g], lat0[g], mesh_x, mesh_y, 14)
            n += len(g) * h * w
    assert 0 < count["project"] <= 0.02 * n, count["project"] / n
    assert 0 < count["bisect"] <= 0.08 * n, count["bisect"] / n


@pytest.mark.parametrize("pixel_deg", [1e-4, 1e-3])
def test_raster_to_cell_equals_per_pixel_on_large_images(pixel_deg):
    """384×512-pixel images, larger than the benchmark's: one across a
    quintant edge, which at 1e-3° is cut into tiles with a model each, and
    one over a face centre.  Tiles that straddle the edge or reach the
    face-centre exclusion fall back to the per-pixel encode."""
    from a5pg_spark.core import cells
    from a5pg_spark.core.dodecahedron import FACE_AXES, VERTICES
    from a5pg_spark.core.projection import xyz_to_lonlat

    vertex = VERTICES[np.argmax(VERTICES @ FACE_AXES[5])]
    edge = FACE_AXES[5] + vertex
    lon0, lat0 = xyz_to_lonlat(np.stack([edge / np.linalg.norm(edge), FACE_AXES[5]]))
    lat0 = lat0 + np.array([0.0, 30 * pixel_deg])
    h, w = 384, 512
    mesh_x = (np.arange(w) - w / 2.0) * pixel_deg
    mesh_y = (h / 2.0 - np.arange(h)) * pixel_deg
    zero = np.zeros(2, dtype=np.int64)
    cuts = cells._fit((np.arange(2), zero, zero + h, zero, zero + w), lon0, lat0, mesh_x,
                      mesh_y, cells._step(mesh_x), cells._step(mesh_y), 14)[-1]
    assert (cuts[0] > 1) == (pixel_deg == 1e-3)
    for res in (14, 20):
        want = cells.lonlat_to_cell(
            np.broadcast_to(lon0[:, None, None] + mesh_x[None, None, :], (2, h, w)),
            np.broadcast_to(lat0[:, None, None] + mesh_y[None, :, None], (2, h, w)), res)
        assert np.array_equal(cells.raster_to_cell(lon0, lat0, mesh_x, mesh_y, res), want)


@pytest.mark.parametrize("pixel_deg", [float("nan"), float("inf"), 0.0, -1e-4])
def test_pixels_to_cells_rejects_bad_pixel_deg(pixel_deg):
    """A pixel size that is not finite and positive fails on the driver,
    naming the argument, before any task starts."""
    with pytest.raises(ValueError, match="pixel_deg"):
        tiling.pixels_to_cells(None, 14, pixel_deg)
