"""Top-level A5 cell kernels (vectorized NumPy) — encode / decode / boundary.

API parity with the reference's 16-function SQL surface
(``/root/reference/src/lib.rs:25-222``); all functions take/return NumPy
arrays and are the computational core of the Spark pandas UDFs in
``a5pg_spark/functions.py``.
"""

from __future__ import annotations

import numpy as np

from . import bits
from .dodecahedron import D_V, FACE_AXES, VERTICES
from .hilbert import ONE, WX, WY, point_to_s, s_to_triangle
from .projection import (
    TRI_APEX,
    TRI_ENTRY,
    TRI_EXIT,
    forward,
    forward_xyz,
    inverse,
    lonlat_to_xyz,
    xyz_to_lonlat,
)

I64_MAX = np.uint64(0x7FFFFFFFFFFFFFFF)
# the projection and the bisection loop stream ~20 arrays per point, and a
# 16 Ki chunk keeps that working set (~2.5 MB) in L2 (131 Ki chunks go
# DRAM-bound and measured ~2× the CPU per point)
CHUNK = 16384

# Raster runs (raster_runs, DESIGN.md §7.1).  A tile's sector points are
# modelled by a biquadratic through 3×3 projected anchors.  Bounds in one
# face-quintant frame extended 0.05 past its triangle, measured by
# tools/measure_run_bounds.py on 4.4M points (its C3 stencil and E checked
# against 160-bit mpmath):
C1 = 1.4              # |dp/dλ|, |dp/dφ| ≤ C1 sector units per radian (measured 1.34)
C3 = 7.0              # pure third derivatives of α, γ in λ and φ ≤ C3 / r² in units
                      # of ONE (measured r²·|∂³| ≤ 6.37)
E0, E1 = 3e-14, 1e-15  # float error of α, γ ≤ E0 + E1 / r, with the rounding of a
                       # pixel's lon/lat (measured 5.7e-15 and r·err ≤ 7.5e-16)
R_MODEL = 1e-3        # face-centre exclusion: the C3 / r² bound grows toward r = 0
SAFETY = 100
TILE_MARGIN = 1e-3    # an image whose margin exceeds this share of ONE is split
# the final weights' change along a digit path is 2^(res−1)·J^turn·(Δα, Δγ):
# rows (a, b, c, d) of J^turn, mapping (Δα, Δγ) to (aΔα + bΔγ, cΔα + dΔγ)
_TURN = np.array([[1, 0, 0, 1], [0, -1, 1, 0], [-1, 0, 0, -1], [0, 1, -1, 0]], dtype=np.float64)


def lonlat_to_cell(lon, lat, res, strict_i64: bool = False) -> np.ndarray:
    """WGS84 lon/lat (degrees) → A5 cell id (signed int64).

    Mirrors ``a5_lonlat_to_cell`` (``src/lib.rs:25-39``).  Longitudes wrap
    (±360 accepted, ``tests/pg_regress/sql/errors.sql:29-32``); poles are
    valid; a NaN or infinite coordinate raises ``ValueError``.  ``res`` is
    one resolution or one per point.  With ``strict_i64`` raises on ids
    above i64::MAX, matching the reference's BIGINT overflow error; default
    wraps to two's complement.
    """
    lon, lat = np.broadcast_arrays(np.asarray(lon, dtype=np.float64),
                                   np.asarray(lat, dtype=np.float64))
    finite = np.isfinite(lon) & np.isfinite(lat)
    if not finite.all():
        i = np.unravel_index(np.argmin(finite), finite.shape)
        raise ValueError(f"non-finite coordinate at {tuple(map(int, i))}: "
                         f"lon={lon[i]!r}, lat={lat[i]!r}")
    res = np.asarray(res, dtype=np.int64)
    if res.size and (res.min() < 0 or res.max() > bits.MAX_RES):
        raise ValueError(f"resolution out of range 0..{bits.MAX_RES}")

    if res.ndim == 0:
        out = _encode(lon.ravel(), lat.ravel(), int(res)).reshape(lon.shape)
    else:
        lon, lat, res = np.broadcast_arrays(lon, lat, res)
        out = np.empty(lon.shape, dtype=np.uint64)
        for r in np.unique(res):
            m = res == r
            out[m] = _encode(lon[m], lat[m], int(r))
    if strict_i64 and np.any(out > I64_MAX):
        bad = out[out > I64_MAX][0]
        raise OverflowError(
            f"A5 cell id {int(bad)} does not fit into BIGINT (signed 64-bit)"
        )
    return out.view(np.int64)


def _encode(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Finite (N,) lon/lat → unsigned cell ids at one resolution."""
    out = np.empty(lon.shape[0], dtype=np.uint64)
    p = np.uint64(59 - 2 * res)
    for lo in range(0, lon.shape[0], CHUNK):
        face, q, x, y = forward(lon[lo:lo + CHUNK], lat[lo:lo + CHUNK])
        if res == 0:
            out[lo:lo + CHUNK] = (face.astype(np.uint64) << np.uint64(58)) | np.uint64(1 << 57)
            continue
        out[lo:lo + CHUNK] = _ids(face, q, point_to_s(x, y, res), p)
    return out


def _ids(face, q, s, p) -> np.ndarray:
    """Unsigned cell ids from face, quintant and Hilbert S; ``p`` is the
    resolution marker's bit, 59 − 2·res."""
    ids = (5 * face + q).astype(np.uint64) << np.uint64(58)
    ids |= s << (p + np.uint64(1))
    ids |= np.uint64(1) << p
    return ids


def model_bound(hx, hy, r):
    """SAFETY × the bound, in units of ONE, on how far a tile's modelled
    first weights stray from the ones the per-pixel encode computes.  The
    tile's 3×3 anchors are evenly spaced over half-spans ``hx`` and ``hy``
    (radians of λ and φ) and every point of the tile lies at sector radius
    ≥ ``r``.  A quadratic through three nodes strays by ≤ max|f‴|·h³/(9√3);
    the second axis's error is carried through the first by the nodes'
    Lebesgue constant 1.25; the pixel's and the anchors' float errors add
    3·E(r)."""
    return SAFETY * (C3 / (r * r) * (hx ** 3 + 1.25 * hy ** 3) / (9 * np.sqrt(3))
                     + 3 * (E0 + E1 / r))


def _step(mesh) -> float:
    """The step of an evenly spaced mesh of ≥ 3 offsets, else 0."""
    if len(mesh) < 3:
        return 0.0
    d = (mesh[-1] - mesh[0]) / (len(mesh) - 1)
    even = np.abs(mesh - (mesh[0] + np.arange(len(mesh)) * d)).max() <= 1e-9 * abs(d)
    return float(d) if even else 0.0


def _spans(first, length):
    """Concatenated ranges [first, first + length)."""
    return np.repeat(first - np.cumsum(length) + length, length) + np.arange(length.sum())


def _runs(f, cell, first):
    """Runs of the per-pixel ids ``cell`` of flat pixels ``f``: one starts at
    every ``first`` pixel and wherever the id changes."""
    cut = first.copy()
    cut[1:] |= cell[1:] != cell[:-1]
    return f[cut], cell[cut]


def _split(img, n, h, w):
    """Tiles (image, r0, rows, c0, cols) of ``img``, each cut n × n."""
    nn = np.repeat(n, n * n)
    t = _spans(np.zeros_like(n), n * n)
    a, b = t // nn, t % nn
    r0, c0 = a * h // nn, b * w // nn
    return np.repeat(img, n * n), r0, (a + 1) * h // nn - r0, c0, (b + 1) * w // nn - c0


def _fit(tiles, lon0, lat0, mesh_x, mesh_y, dx, dy, res):
    """Project each tile's 3×3 anchors (first, middle and last row and
    column) → (modelled, origin, x, y, bound, cuts): whether the model holds
    on the tile, its 5·face + quintant, the anchors' sector x and y
    (T, 3, 3) by (row, column), :func:`model_bound` on the tile, and the
    cuts per axis that would bring the certificate's margin below
    TILE_MARGIN·ONE and the tile's extent below r/4 (for speed only)."""
    img, r0, nr, c0, nc = tiles
    node = np.array([0.0, 0.5, 1.0])
    lat = (lat0[img] + mesh_y[0])[:, None] + (r0[:, None] + node * (nr - 1)[:, None]) * dy
    lon = (lon0[img] + mesh_x[0])[:, None] + (c0[:, None] + node * (nc - 1)[:, None]) * dx
    shape = (len(img), 3, 3)
    face, q, x, y = forward_xyz(lonlat_to_xyz(np.broadcast_to(lon[:, None, :], shape),
                                              np.broadcast_to(lat[:, :, None], shape)).reshape(-1, 3))
    origin = (5 * face + q).reshape(-1, 9)
    hx = np.deg2rad(abs(dx)) * (nc - 1) / 2   # half-spans, radians
    hy = np.deg2rad(abs(dy)) * (nr - 1) / 2
    r = np.hypot(x, y).reshape(-1, 9)
    r_min = r.min(axis=1)
    # every point of the tile lies within hx/2 and hy/2 of an anchor
    r_lo = r_min - C1 * (hx + hy) / 2
    extent = 2 * C1 * (hx + hy)
    bound = model_bound(hx, hy, np.maximum(r_lo, R_MODEL))
    modelled = (origin == origin[:, :1]).all(axis=1) & (r_lo >= R_MODEL) & (extent <= r_lo / 4)
    r_est = np.maximum(r_min, R_MODEL)
    interp = model_bound(hx, hy, r_est) - model_bound(0.0, 0.0, r_est)
    cuts = np.ceil(np.maximum(np.cbrt(2.0 ** res * interp / TILE_MARGIN), 4 * extent / r_est))
    cuts = np.clip(cuts, 1, np.maximum(np.minimum(nr, nc) // 8, 1)).astype(np.int64)
    cuts[r.max(axis=1) < R_MODEL] = 1   # no tile of it could leave the exclusion
    return modelled, origin[:, 0], x.reshape(shape), y.reshape(shape), bound, cuts


def _row_model(X, Y, i, nr, nc) -> tuple:
    """Per tile row: the biquadratic through its tile's anchors ``X``, ``Y``
    (n, 3, 3) restricted to row offset ``i`` of ``nr`` rows, as
    ((x0, x1, x2), (y0, y1, y2)) with x = x0 + x1·j + x2·j² at column
    offset j of ``nc`` columns."""
    tau = (i / ((nr - 1) / 2) - 1)[:, None]
    half = (nc - 1) / 2
    coef = []
    for Z in (X, Y):
        lo, mid, hi = Z[:, 0], Z[:, 1], Z[:, 2]   # at the column nodes
        F = mid + tau * ((hi - lo) / 2 + tau * (hi - 2 * mid + lo) / 2)
        d1, d2 = (F[:, 2] - F[:, 0]) / 2, (F[:, 2] - 2 * F[:, 1] + F[:, 0]) / 2
        coef.append((F[:, 0], (d1 - 2 * d2) / half, d2 / half ** 2))
    return tuple(coef)


def raster_runs(lon0, lat0, mesh_x, mesh_y, res: int) -> tuple:
    """Runs of equal cell ids over k pixel grids: pixel (i, r, c) lies at
    (lon0[i] + mesh_x[c], lat0[i] + mesh_y[r]) and has flat index
    (i·h + r)·w + c.  Returns (start, cell), int64: the runs' first pixels,
    ascending from 0, and their ids; a run ends where the next starts and
    never crosses a row.  Every pixel's id equals :func:`lonlat_to_cell`'s
    on the broadcast grids (DESIGN.md §7.1).

    Each image (or each of its n × n tiles, where its margin needs it)
    projects 3×3 anchors; where all nine share a face and quintant and the
    tile stays outside the face-centre exclusion, the tile's sector points
    are the biquadratic through them, within :func:`model_bound`.  Each row
    of the tile is walked run by run: one :func:`hilbert.point_to_s` on the
    modelled point of the run's first pixel gives its cell, final weights
    and turn, hence each final weight as a quadratic along the row, and the
    run ends at the last pixel where all three stay above the margin.  A
    first pixel below the margin, and every pixel of a tile the model does
    not hold on, take :func:`lonlat_to_cell`.
    """
    lon0, lat0, mesh_x, mesh_y = (np.asarray(a, dtype=np.float64)
                                  for a in (lon0, lat0, mesh_x, mesh_y))
    k, h, w = len(lon0), len(mesh_y), len(mesh_x)
    lon = lon0[:, None] + mesh_x  # (k, w), the floats lonlat_to_cell gets
    lat = lat0[:, None] + mesh_y  # (k, h)
    dx, dy = _step(mesh_x), _step(mesh_y)
    if not (1 <= res <= bits.MAX_RES and dx and dy
            and np.isfinite(lon).all() and np.isfinite(lat).all()):
        cell = lonlat_to_cell(np.broadcast_to(lon[:, None, :], (k, h, w)),
                              np.broadcast_to(lat[:, :, None], (k, h, w)), res)
        f = np.arange(k * h * w)
        return _runs(f, cell.ravel(), f % w == 0)

    def exact(f):
        row = f // w
        return lonlat_to_cell(lon[row // h, f - row * w], lat[row // h, row % h], res)

    whole = np.zeros(k, dtype=np.int64)
    tiles = (np.arange(k), whole, whole + h, whole, whole + w)
    fit = _fit(tiles, lon0, lat0, mesh_x, mesh_y, dx, dy, res)
    one = fit[-1] == 1
    if not one.all():
        cut = _split(tiles[0][~one], fit[-1][~one], h, w)
        tiles = tuple(np.concatenate([a[one], b]) for a, b in zip(tiles, cut))
        fit = tuple(np.concatenate([a[one], b]) for a, b in
                    zip(fit, _fit(cut, lon0, lat0, mesh_x, mesh_y, dx, dy, res)))
    img, r0, nr, c0, nc = tiles
    modelled, origin, X, Y, bound, _ = fit
    margin = 2.0 ** res * (ONE * bound + SAFETY)

    # one segment per row of a tile
    tile = np.repeat(np.arange(len(img)), nr)
    row = _spans(r0, nr)
    first = (img[tile] * h + row) * w + c0[tile]
    m = modelled[tile]
    start, cell = [np.empty(0, dtype=np.int64)], [np.empty(0, dtype=np.uint64)]
    if not m.all():
        f = _spans(first[~m], nc[tile[~m]])
        lead = np.zeros(len(f), dtype=bool)
        lead[np.cumsum(nc[tile[~m]]) - nc[tile[~m]]] = True
        a, b = _runs(f, exact(f).view(np.uint64), lead)
        start.append(a)
        cell.append(b)

    # walk the modelled segments, all at once, one run per round
    t, first = tile[m], first[m]
    (x0, x1, x2), (y0, y1, y2) = _row_model(X[t], Y[t], row[m] - r0[t], nr[t], nc[t])
    last, mar = nc[t] - 1, margin[t]
    p = np.uint64(59 - 2 * res)
    base = (origin[t].astype(np.uint64) << np.uint64(58)) | (np.uint64(1) << p)
    scale = 2.0 ** (res - 1)
    seg = np.arange(len(t))
    j = np.zeros(len(t), dtype=np.int64)
    single = [np.empty(0, dtype=np.int64)]
    while len(seg):
        jf = j.astype(np.float64)
        s, wt, turn = point_to_s(x0[seg] + jf * (x1[seg] + jf * x2[seg]),
                                 y0[seg] + jf * (y1[seg] + jf * y2[seg]), res, weights="all")
        ok = np.minimum(np.minimum(wt[0], wt[1]), wt[2]) >= mar[seg]
        single.append(first[seg[~ok]] + j[~ok])
        o, jo = seg[ok], jf[ok]
        # slope and curvature of the first weights along the row, turned
        # into the final weights' (α′, β′, γ′)
        sx, sy = x1[o] + 2 * jo * x2[o], y1[o] + 2 * jo * y2[o]
        R = _TURN[turn[ok]] * scale
        quad = []
        for u, v in ((sx, sy), (x2[o], y2[o])):
            da, dg = u * WX - v * WY, u * WX + v * WY
            ra, rg = R[:, 0] * da + R[:, 1] * dg, R[:, 2] * da + R[:, 3] * dg
            quad.append((ra, -ra - rg, rg))
        mo = mar[o]
        run = (last[o] - j[ok]).astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            for i in range(3):
                B, A, C = quad[0][i], quad[1][i], wt[i][ok] - mo
                disc = B * B - 4 * A * C
                sq = np.sqrt(np.maximum(disc, 0.0))
                # first t > 0 with A·t² + B·t + C < 0, by the stable root
                cross = np.where(B < 0, 2 * C / (sq - B), (-B - sq) / (2 * A))
                cross = np.where((disc >= 0) & ((B < 0) | (A < 0)), cross, np.inf)
                run = np.minimum(run, np.floor(cross))
        run = run.astype(np.int64)
        while True:   # the last pixel must pass, whatever the root's rounding
            rf = run.astype(np.float64)
            low = np.zeros(len(run), dtype=bool)
            for i in range(3):
                low |= wt[i][ok] + rf * (quad[0][i] + rf * quad[1][i]) < mo
            if not low.any():
                break
            run[low] -= 1
        start.append(first[o] + j[ok])
        cell.append(base[o] | (s[ok] << (p + np.uint64(1))))
        step = np.ones(len(seg), dtype=np.int64)
        step[ok] = run + 1
        j += step
        keep = j <= last[seg]
        seg, j = seg[keep], j[keep]
    f = np.concatenate(single)
    if len(f):
        start.append(f)
        cell.append(exact(f).view(np.uint64))
    start, cell = np.concatenate(start), np.concatenate(cell)
    order = np.argsort(start, kind="stable")
    return start[order], cell[order].view(np.int64)


def raster_to_cell(lon0, lat0, mesh_x, mesh_y, res: int) -> np.ndarray:
    """Cell ids (k, h, w) of k pixel grids, as :func:`raster_runs` gives
    them: pixel (i, r, c) lies at (lon0[i] + mesh_x[c], lat0[i] + mesh_y[r]).
    Equal, id for id, to :func:`lonlat_to_cell` on the broadcast grids."""
    k, h, w = len(lon0), len(mesh_y), len(mesh_x)
    start, cell = raster_runs(lon0, lat0, mesh_x, mesh_y, res)
    return np.repeat(cell, np.diff(start, append=k * h * w)).reshape(k, h, w)


def _decode(cells) -> tuple:
    """cells → (origin, face, quintant, s, res) arrays."""
    u = np.asarray(cells, dtype=np.int64).view(np.uint64)
    res = bits.get_resolution(cells).astype(np.int64)
    origin = (u >> np.uint64(58)).astype(np.int64)
    face = origin // 5
    q = origin % 5
    s = np.zeros_like(u)
    for r in np.unique(res[res >= 1]):
        m = res == r
        p = np.uint64(59 - 2 * int(r))
        mask = np.uint64((1 << (2 * (int(r) - 1))) - 1)
        s[m] = (u[m] >> (p + np.uint64(1))) & mask
    return origin, face, q, s, res


def cell_to_lonlat(cells) -> tuple:
    """Cell id → pentagon/triangle center [lon, lat] (degrees).

    Mirrors ``a5_cell_to_lonlat`` (``src/lib.rs:42-48``); id 0 (world) → (0, 0)
    per the reference's WORLD_CELL special case (``CHANGELOG.md`` 0.2.0)."""
    cells = np.asarray(cells, dtype=np.int64)
    origin, face, q, s, res = _decode(cells)
    lon = np.zeros(cells.shape, dtype=np.float64)
    lat = np.zeros(cells.shape, dtype=np.float64)

    m_world = cells == 0
    m0 = (res == 0) & ~m_world
    if np.any(m0):
        # res-0: face center (origin field holds the face id)
        f0 = np.clip(origin[m0], 0, 11)
        lo, la = xyz_to_lonlat(FACE_AXES[f0])
        lon[m0], lat[m0] = lo, la
    for r in np.unique(res[res >= 1]):
        m = res == r
        P, Q, R = s_to_triangle(s[m], int(r), TRI_ENTRY, TRI_APEX, TRI_EXIT)
        cx = (P[:, 0] + Q[:, 0] + R[:, 0]) / 3.0
        cy = (P[:, 1] + Q[:, 1] + R[:, 1]) / 3.0
        lo, la = inverse(face[m], q[m], cx, cy)
        lon[m], lat[m] = lo, la
    return lon, lat


def _densify_ring(corners: np.ndarray, segments: int) -> np.ndarray:
    """Linear interpolation along each edge of a planar ring (K,2) → (K·seg,2)."""
    k = corners.shape[0]
    nxt = np.roll(corners, -1, axis=0)
    t = np.arange(segments, dtype=np.float64)[None, :, None] / segments
    pts = corners[:, None, :] * (1 - t) + nxt[:, None, :] * t
    return pts.reshape(k * segments, 2)


def auto_segments(res: int) -> int:
    """Resolution-appropriate densification (1 per edge at res ≥ 6, matching
    the reference's 6-point closed pentagon at res 10,
    ``expected/hex_functions.out:25``)."""
    return int(max(1, min(64, 2 ** max(0, 6 - res))))


def cell_to_boundary_batch(cells, closed_ring: bool = True, segments=None) -> list:
    """Vectorized boundary for a batch of cells → list of (K,2) [lon,lat]
    arrays (ragged across resolutions).  Groups by resolution and runs the
    triangle + inverse-projection kernels over the whole group at once — this
    is the pandas-UDF fast path (no per-row Python in the hot loop)."""
    cells = np.asarray(cells, dtype=np.int64)
    n = cells.shape[0]
    out: list = [None] * n
    origin, face, q, s, res = _decode(cells)
    for r in np.unique(res):
        idx = np.nonzero(res == r)[0]
        if r < 1:
            for i in idx:
                out[i] = cell_to_boundary(int(cells[i]), closed_ring, segments)
            continue
        segs = int(segments) if segments and int(segments) > 0 else auto_segments(int(r))
        P, Q, R = s_to_triangle(s[idx], int(r), TRI_ENTRY, TRI_APEX, TRI_EXIT)
        corners = np.stack([P, Q, R], axis=1)  # (m, 3, 2)
        nxt = np.roll(corners, -1, axis=1)
        t = (np.arange(segs, dtype=np.float64) / segs)[None, None, :, None]
        ring = corners[:, :, None, :] * (1 - t) + nxt[:, :, None, :] * t  # (m,3,segs,2)
        m = len(idx)
        k = 3 * segs
        ring = ring.reshape(m, k, 2)
        lon, lat = inverse(
            np.repeat(face[idx], k),
            np.repeat(q[idx], k),
            ring[:, :, 0].ravel(),
            ring[:, :, 1].ravel(),
        )
        bnd = np.stack([lon, lat], axis=-1).reshape(m, k, 2)
        if closed_ring:
            bnd = np.concatenate([bnd, bnd[:, :1, :]], axis=1)
        for j, i in enumerate(idx):
            out[i] = bnd[j]
    return out


def cell_to_boundary(cell: int, closed_ring: bool = True, segments=None) -> np.ndarray:
    """Cell id → boundary ring [[lon, lat], …] (degrees).

    Mirrors ``a5_cell_to_boundary`` (``src/lib.rs:55-110``): closed ring by
    default (first point repeated), ``segments<=0``/None → auto.  Our cells
    are triangles inside the quintant (DESIGN.md §4), so the default closed
    ring has 4 points where the reference's pentagon has 6.
    """
    res = bits.res_of(int(cell))
    segs = int(segments) if segments and int(segments) > 0 else auto_segments(res)
    if int(cell) == 0:
        return np.array([[0.0, 0.0]])
    origin, face, q, s, _ = _decode(np.array([cell], dtype=np.int64))
    if res == 0:
        f = int(np.clip(origin[0], 0, 11))
        ax = FACE_AXES[f]
        mask = np.abs(VERTICES @ ax - np.cos(D_V)) < 1e-9
        vs = VERTICES[mask]
        # order the 5 vertices by azimuth around the face axis
        from .dodecahedron import FACE_ROT

        w = vs @ FACE_ROT[f].T
        order = np.argsort(np.arctan2(w[:, 1], w[:, 0]))
        ring = vs[order]
        # densify along great-circle edges via slerp
        out = []
        for i in range(5):
            a, b = ring[i], ring[(i + 1) % 5]
            ang = np.arccos(np.clip(a @ b, -1, 1))
            for t in np.arange(segs) / segs:
                p = (np.sin((1 - t) * ang) * a + np.sin(t * ang) * b) / np.sin(ang)
                out.append(p / np.linalg.norm(p))
        pts = np.stack(out)
        lon, lat = xyz_to_lonlat(pts)
    else:
        P, Q, R = s_to_triangle(s, res, TRI_ENTRY, TRI_APEX, TRI_EXIT)
        corners = np.stack([P[0], Q[0], R[0]])
        ring = _densify_ring(corners, segs)
        n = ring.shape[0]
        lon, lat = inverse(
            np.repeat(face, n), np.repeat(q, n), ring[:, 0], ring[:, 1]
        )
    bnd = np.stack([lon, lat], axis=-1)
    if closed_ring:
        bnd = np.vstack([bnd, bnd[:1]])
    return bnd
