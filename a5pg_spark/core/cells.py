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
from .hilbert import point_to_s, s_to_triangle
from .projection import (
    TRI_APEX,
    TRI_ENTRY,
    TRI_EXIT,
    forward,
    inverse,
    xyz_to_lonlat,
)

I64_MAX = np.uint64(0x7FFFFFFFFFFFFFFF)


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
    # chunked: the projection and the bisection loop stream ~20 arrays per
    # point, and a 16 Ki chunk keeps that working set (~2.5 MB) in L2
    # (131 Ki chunks go DRAM-bound and measured ~2× the CPU per point)
    chunk = 16384
    p = np.uint64(59 - 2 * res)
    for lo in range(0, lon.shape[0], chunk):
        face, q, x, y = forward(lon[lo:lo + chunk], lat[lo:lo + chunk])
        if res == 0:
            out[lo:lo + chunk] = (face.astype(np.uint64) << np.uint64(58)) | np.uint64(1 << 57)
            continue
        ids = (5 * face + q).astype(np.uint64) << np.uint64(58)
        ids |= point_to_s(x, y, res) << (p + np.uint64(1))
        ids |= np.uint64(1) << p
        out[lo:lo + chunk] = ids
    return out


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
