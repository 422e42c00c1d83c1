"""Equal-area dodecahedral projection (vectorized NumPy).

Forward: WGS84 lon/lat → (face, quintant, sector coords) → planar point in the
face's gnomonic plane, via an *exactly area-preserving* Snyder-style sector
map; inverse is closed-form except one quadratic-converging Newton solve.

The reference's a5 crate source is unavailable (see DESIGN.md); this module
implements the same public A5 design (dodecahedron gnomonic + area warp,
a5geo.org) with independently derived math.  Key exact identities used:

* the wedge area swept from the face center to azimuth ``a`` (bounded by the
  pentagon edge) on the unit sphere has the closed form

      A(a) = a − asin( sin a / sqrt(1 + tan²d_m) ),   tan d_m = 1/φ

  with A(π/5) = π/30 (one tenth of a dodecahedron face — exact check).
* azimuth warp:  tan a' = tan(π/5) · A(a) / (π/30)
* radial warp:   r' = R'_e(a') · sqrt( (1−cos z) / (1−cos z_e(a)) )

which together give an exactly equal-area, edge-consistent map from the
spherical face to the planar pentagon (face plane at distance 1, planar
edge-midpoint radius 1/φ, vertex radius 2/φ²).

Latitudes are treated spherically (no authalic conversion): empirically the
reference golden at (−129.0078, 52.7677) → origin 0 lies inside the pole face
only under spherical latitude (DESIGN.md §2.3).
"""

from __future__ import annotations

import numpy as np

from .dodecahedron import (
    FACE_AXES,
    FACE_ROT,
    FACE_ROT_INV,
    TAN_DM,
    TAN_DV,
    quintant_frame,
)

PI_OVER_5 = np.pi / 5.0
TWO_PI_OVER_5 = 2.0 * np.pi / 5.0
AREA_TOT = np.pi / 30.0                    # sector area: (4π/12)/10
_K = np.sqrt(1.0 + TAN_DM * TAN_DM)        # sqrt(φ+2)/φ
TAN_36 = np.tan(PI_OVER_5)


def lonlat_to_xyz(lon_deg, lat_deg) -> np.ndarray:
    lon = np.deg2rad(np.asarray(lon_deg, dtype=np.float64))
    lat = np.deg2rad(np.asarray(lat_deg, dtype=np.float64))
    cl = np.cos(lat)
    return np.stack([cl * np.cos(lon), cl * np.sin(lon), np.sin(lat)], axis=-1)


def xyz_to_lonlat(v: np.ndarray) -> tuple:
    lon = np.rad2deg(np.arctan2(v[..., 1], v[..., 0]))
    lat = np.rad2deg(np.arcsin(np.clip(v[..., 2], -1.0, 1.0)))
    return lon, lat


def nearest_face(v: np.ndarray) -> np.ndarray:
    """Voronoi face assignment — argmax over the 12 face axes."""
    return np.argmax(v @ FACE_AXES.T, axis=-1)


def sector_area(a: np.ndarray) -> np.ndarray:
    """A(a) — spherical area between meridian a=0 (edge midpoint), azimuth a,
    and the pentagon edge great circle.  Exact closed form."""
    return a - np.arcsin(np.sin(a) / _K)


def cos_ze(a: np.ndarray) -> np.ndarray:
    """cos of the angular distance from face center to the edge at azimuth a."""
    ca = np.cos(a)
    return ca / np.sqrt(ca * ca + TAN_DM * TAN_DM)


def sector_area_inv(target: np.ndarray) -> np.ndarray:
    """Invert A(a) = target on [0, π/5] — Newton, dA/da = 1 − cos z_e(a)."""
    a = PI_OVER_5 * (target / AREA_TOT)  # good initial guess
    for _ in range(5):
        f = sector_area(a) - target
        df = 1.0 - cos_ze(a)
        a = np.clip(a - f / np.maximum(df, 1e-15), 0.0, PI_OVER_5)
    return a


# per-face quintant frames, precomputed (alpha_f, sign_f)
_ALPHAS = np.zeros(12)
_SIGNS = np.zeros(12)
for _f in range(12):
    _ALPHAS[_f], _SIGNS[_f] = quintant_frame(_f)


def forward(lon_deg, lat_deg):
    """lon/lat (deg) → (face, quintant, x, y) with (x, y) in the quintant
    sector frame: origin at face center, +x toward the quintant's edge
    midpoint, the quintant spanning planar azimuth [−π/5, π/5]."""
    return forward_xyz(np.atleast_2d(lonlat_to_xyz(lon_deg, lat_deg)))


def forward_xyz(v: np.ndarray) -> tuple:
    """Unit vectors (N, 3) → (face, quintant, x, y), as :func:`forward`."""
    face = nearest_face(v)
    # component-wise rotation (9 scalar gathers) — ~3× cheaper than gathering
    # a (n,3,3) matrix stack for einsum
    R = FACE_ROT
    vx, vy, vz = v[:, 0], v[:, 1], v[:, 2]
    wx = R[face, 0, 0] * vx + R[face, 0, 1] * vy + R[face, 0, 2] * vz
    wy = R[face, 1, 0] * vx + R[face, 1, 1] * vy + R[face, 1, 2] * vz
    wz = R[face, 2, 0] * vx + R[face, 2, 1] * vy + R[face, 2, 2] * vz
    z = np.arccos(np.clip(wz, -1.0, 1.0))
    az = np.arctan2(wy, wx)
    azl = np.mod(_SIGNS[face] * (az - _ALPHAS[face]), 2.0 * np.pi)
    q = np.minimum((azl / TWO_PI_OVER_5).astype(np.int64), 4)
    b = azl - TWO_PI_OVER_5 * q - PI_OVER_5  # ∈ [−π/5, π/5), 0 at edge midpoint
    a = np.abs(b)
    mirror = np.where(b < 0, -1.0, 1.0)

    ap = np.arctan(TAN_36 * sector_area(a) / AREA_TOT)
    cze = cos_ze(a)
    re = TAN_DM / np.cos(ap)
    # guard the face center (z → 0): r' → 0
    ratio = np.sqrt(np.maximum(1.0 - np.cos(z), 0.0) / (1.0 - cze))
    r = re * ratio
    x = r * np.cos(ap)
    y = r * np.sin(ap) * mirror
    return face, q, x, y


def inverse(face, q, x, y):
    """(face, quintant, sector x/y) → lon/lat degrees (exact inverse)."""
    face = np.asarray(face, dtype=np.int64)
    q = np.asarray(q, dtype=np.int64)
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    r = np.hypot(x, y)
    ap = np.arctan2(np.abs(y), x)
    mirror = np.where(y < 0, -1.0, 1.0)

    target = AREA_TOT * np.tan(ap) / TAN_36
    a = sector_area_inv(target)
    cze = cos_ze(a)
    re = TAN_DM / np.cos(ap)
    cosz = 1.0 - (1.0 - cze) * (r / re) ** 2
    z = np.arccos(np.clip(cosz, -1.0, 1.0))

    azl = TWO_PI_OVER_5 * q + PI_OVER_5 + mirror * a
    az = _ALPHAS[face] + _SIGNS[face] * azl
    sz = np.sin(z)
    wx, wy, wz = sz * np.cos(az), sz * np.sin(az), np.cos(z)
    R = FACE_ROT_INV
    v = np.stack(
        [
            R[face, 0, 0] * wx + R[face, 0, 1] * wy + R[face, 0, 2] * wz,
            R[face, 1, 0] * wx + R[face, 1, 1] * wy + R[face, 1, 2] * wz,
            R[face, 2, 0] * wx + R[face, 2, 1] * wy + R[face, 2, 2] * wz,
        ],
        axis=-1,
    )
    return xyz_to_lonlat(v)


# canonical quintant triangle in the sector frame (equal for every quintant):
# entry vertex V⁻ (azimuth −π/5), apex C (face center), exit vertex V⁺ (+π/5)
TRI_ENTRY = np.array([TAN_DV * np.cos(PI_OVER_5), -TAN_DV * np.sin(PI_OVER_5)])
TRI_APEX = np.array([0.0, 0.0])
TRI_EXIT = np.array([TAN_DV * np.cos(PI_OVER_5), TAN_DV * np.sin(PI_OVER_5)])
