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
from .hilbert import ONE, point_to_s, s_to_triangle
from .projection import (
    TRI_APEX,
    TRI_ENTRY,
    TRI_EXIT,
    forward,
    forward_xyz,
    inverse,
    xyz_to_lonlat,
)

I64_MAX = np.uint64(0x7FFFFFFFFFFFFFFF)
# the projection and the bisection loop stream ~20 arrays per point, and a
# 16 Ki chunk keeps that working set (~2.5 MB) in L2 (131 Ki chunks go
# DRAM-bound and measured ~2× the CPU per point)
CHUNK = 16384

# Certified row runs (raster_to_cell, DESIGN.md §7.1).  Bounds on the encode
# along one pixel row (fixed latitude, longitude λ in radians) at
# sector-frame radius r ≥ R_EX, measured on 2M sphere-uniform points and
# 9k points against 160-bit mpmath:
RUN = 16              # lattice stride along a row
R_EX = 1e-3           # face-centre exclusion: the sector frame is singular at r = 0
C1 = 1.25             # |dp/dλ| ≤ C1 sector units (measured 1.21)
C2 = 0.6              # |α″|, |γ″| ≤ C2 / r in units of ONE (measured r·|α″| ≤ 0.56)
E0, E1 = 1e-14, 1e-15  # float error of α, γ ≤ E0 + E1 / r (measured 4.6e-15, 9.3e-16)
SAFETY = 100


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


def run_margin(span, x_end, res: int) -> np.ndarray:
    """Final weight that certifies a row run (DESIGN.md §7.1): SAFETY × the
    bound, in final-weight units, on how far the run's pixels stray from
    the chord between its ends; ``span`` is the run's longitude span in
    radians and ``x_end`` the smaller sector x of its ends.  Infinite where
    the run may come within R_EX of the face centre."""
    r = x_end - C1 * span
    rc = np.maximum(r, R_EX)
    dev = span * span / 8 * C2 / rc + 2 * (E0 + E1 / rc)
    return np.where(r >= R_EX, SAFETY * 2.0 ** res * (dev * ONE + 1), np.inf)


def raster_to_cell(lon0, lat0, mesh_x, mesh_y, res: int) -> np.ndarray:
    """Cell ids (k, h, w) of k pixel grids: pixel (i, r, c) lies at
    (lon0[i] + mesh_x[c], lat0[i] + mesh_y[r]).  Equal, id for id, to
    :func:`lonlat_to_cell` on the broadcast grids.

    Each row is encoded on a lattice (every RUN-th pixel and the last).  The
    pixels between two lattice pixels take the left one's id when both have
    the same id, lie outside the face-centre exclusion and have every final
    weight above :func:`run_margin`; a run that fails is halved at an
    encoded midpoint until its pieces pass or have no pixel between their
    ends.  Trig is per column and per row, and the floats are those of
    :func:`lonlat_to_cell` (same NumPy ufuncs on the same inputs).
    """
    lon0 = np.asarray(lon0, dtype=np.float64)
    lat0 = np.asarray(lat0, dtype=np.float64)
    mesh_x = np.asarray(mesh_x, dtype=np.float64)
    mesh_y = np.asarray(mesh_y, dtype=np.float64)
    k, h, w = len(lon0), len(mesh_y), len(mesh_x)
    lon = lon0[:, None] + mesh_x[None, :]  # (k, w)
    lat = lat0[:, None] + mesh_y[None, :]  # (k, h)
    step = np.diff(mesh_x)
    if (not 1 <= res <= bits.MAX_RES or w < 2 or not np.isfinite(lon).all()
            or not np.isfinite(lat).all() or not ((step >= 0).all() or (step <= 0).all())):
        return lonlat_to_cell(np.broadcast_to(lon[:, None, :], (k, h, w)),
                              np.broadcast_to(lat[:, :, None], (k, h, w)), res)
    step = np.deg2rad(np.abs(step).max())
    lonr, latr = np.deg2rad(lon).ravel(), np.deg2rad(lat).ravel()
    cos_lon, sin_lon = np.cos(lonr), np.sin(lonr)
    cos_lat, sin_lat = np.cos(latr), np.sin(latr)
    p = np.uint64(59 - 2 * res)

    n = k * h * w
    ids = np.empty(n, dtype=np.uint64)  # pixel f = (i·h + r)·w + c

    def encode(f):
        """Encode pixels ``f`` into ``ids`` → (min final weight, sector x)."""
        wmin = np.empty(len(f), dtype=np.int64)
        xs = np.empty(len(f))
        for lo in range(0, len(f), CHUNK):
            fc = f[lo:lo + CHUNK]
            row = fc // w
            img = row // h
            col = img * w + fc - row * w
            c = cos_lat[row]
            v = np.stack([c * cos_lon[col], c * sin_lon[col], sin_lat[row]], axis=-1)
            face, q, x, y = forward_xyz(v)
            s, wmin[lo:lo + CHUNK] = point_to_s(x, y, res, weights=True)
            ids[fc] = _ids(face, q, s, p)
            xs[lo:lo + CHUNK] = x
        return wmin, xs

    lattice = (np.arange(0, n, w)[:, None] + np.r_[0:w - 1:RUN, w - 1]).ravel()
    known = np.zeros(n, dtype=bool)
    known[lattice] = True
    wmin, xs = encode(lattice)
    left = np.flatnonzero(lattice % w != w - 1)
    # one run per pair of neighbouring encoded pixels in a row: its ends and
    # their min final weights and sector x
    run = (lattice[left], lattice[left + 1], wmin[left], wmin[left + 1], xs[left], xs[left + 1])
    while len(run[0]):
        a, b, wa, wb, xa, xb = run
        same = np.flatnonzero(ids[a] == ids[b])
        ok = b - a < 2
        ok[same] |= (np.minimum(wa[same], wb[same])
                     > run_margin((b[same] - a[same]) * step, np.minimum(xa[same], xb[same]), res))
        a, b, wa, wb, xa, xb = (t[~ok] for t in run)
        m = (a + b) >> 1
        known[m] = True
        wm, xm = encode(m)
        run = tuple(np.concatenate(t) for t in ((a, m), (m, b), (wa, wm), (wm, wb), (xa, xm), (xm, xb)))
    # every pixel not encoded lies inside a certified run: it takes the id
    # of the nearest encoded pixel on its left
    src = np.where(known.reshape(k * h, w), np.arange(w), 0)
    np.maximum.accumulate(src, axis=1, out=src)
    src += np.arange(0, n, w)[:, None]
    return ids[src].view(np.int64).reshape(k, h, w)


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
