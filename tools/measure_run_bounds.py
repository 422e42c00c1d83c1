"""Measure the constants of the run kernel's first-weight model
(``core/cells.py`` C1, C3, E0, E1; DESIGN.md §7.1).

The raster encode models each tile's first weights α, γ (in units of ONE)
as a biquadratic in the pixel's longitude λ and latitude φ (radians) and
bounds the model's error with the pure third derivatives.  Inside a tile the
face and quintant frame is fixed, so the bound must hold for the frame's
*extended* map: the same formulas, without choosing the face by argmax or
the quintant by floor, a little beyond the quintant triangle (a tile whose
anchors are all inside can bulge out between them).  The domain sampled is
every (point, frame) with extended weights ≥ −0.05 and sector azimuth within
0.3 rad of the quintant.

Printed, as sups over sphere-uniform points plus points within 1e-4–0.1
rad of face centres:

* C1: |dp/dλ| and |dp/dφ| of the sector point p = (x, y);
* C3: r²·|∂³w/∂λ³| and r²·|∂³w/∂φ³| for w ∈ {α, γ}, r = |p|, by a 5-point
  stencil with step 3e-3·r; the stencil is checked against mpmath's
  derivative of the same map at the worst points and at random ones;
* E: the float error of ``projection.forward_xyz``'s α, γ against the same
  map evaluated in 160-bit mpmath on the same float input, as
  max err and max r·err.

Run: ``python3 tools/measure_run_bounds.py [n_points]`` (default 1,000,000
sphere-uniform points plus 100,000 near centres; about 10 s of one core).
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from a5pg_spark.core import projection as P  # noqa: E402
from a5pg_spark.core.dodecahedron import FACE_AXES, FACE_ROT, TAN_DM  # noqa: E402
from a5pg_spark.core.hilbert import ONE, WX, WY  # noqa: E402

BAND_W = 0.05  # extended weights ≥ −BAND_W
BAND_B = 0.3   # |sector azimuth| ≤ π/5 + BAND_B


def frame_xy(lam, phi, face, q):
    """Sector point (x, y) of (λ, φ) radians in the fixed frame (face, q),
    extended past the quintant; also returns the sector azimuth b."""
    cl = np.cos(phi)
    v = np.stack([cl * np.cos(lam), cl * np.sin(lam), np.sin(phi)], axis=-1)
    R = FACE_ROT[face]
    w = np.einsum("nij,nj->ni", R, v)
    # the same z as forward_xyz's arccos, without its 1/z float error at the
    # face centre, so that the stencil's differences are not noise there
    z = np.arctan2(np.hypot(w[:, 0], w[:, 1]), w[:, 2])
    az = np.arctan2(w[:, 1], w[:, 0])
    b = P._SIGNS[face] * (az - P._ALPHAS[face]) - P.TWO_PI_OVER_5 * q - P.PI_OVER_5
    b = np.mod(b + np.pi, 2 * np.pi) - np.pi
    a = np.abs(b)
    ap = np.arctan(P.TAN_36 * P.sector_area(a) / P.AREA_TOT)
    r = TAN_DM / np.cos(ap) * np.sqrt(2.0 * np.sin(z / 2) ** 2 / (1.0 - P.cos_ze(a)))
    return r * np.cos(ap), r * np.sin(ap) * np.sign(b), b


def weights(x, y):
    """Pre-rounding first weights (α, γ) in units of ONE."""
    return (x * WX - y * WY) / ONE, (x * WX + y * WY) / ONE


def mp_alpha_gamma(lam, phi, face, q):
    """(x, y, α, γ) of one point in frame (face, q), in mpmath."""
    import mpmath as mp

    cl = mp.cos(phi)
    v = [cl * mp.cos(lam), cl * mp.sin(lam), mp.sin(phi)]
    R = FACE_ROT[face]
    w = [sum(mp.mpf(float(R[i, j])) * v[j] for j in range(3)) for i in range(3)]
    z = mp.acos(w[2])
    az = mp.atan2(w[1], w[0])
    b = (mp.mpf(float(P._SIGNS[face])) * (az - mp.mpf(float(P._ALPHAS[face])))
         - 2 * mp.pi / 5 * q - mp.pi / 5)
    b = b - 2 * mp.pi * mp.floor((b + mp.pi) / (2 * mp.pi))
    a = abs(b)
    k = mp.sqrt(1 + mp.mpf(float(TAN_DM)) ** 2)
    area = a - mp.asin(mp.sin(a) / k)
    ap = mp.atan(mp.tan(mp.pi / 5) * area / (mp.pi / 30))
    ca = mp.cos(a)
    cze = ca / mp.sqrt(ca * ca + mp.mpf(float(TAN_DM)) ** 2)
    r = mp.mpf(float(TAN_DM)) / mp.cos(ap) * mp.sqrt((1 - mp.cos(z)) / (1 - cze))
    x, y = r * mp.cos(ap), r * mp.sin(ap) * mp.sign(b)
    wx, wy = mp.mpf(WX) / ONE, mp.mpf(WY) / ONE
    return x, y, x * wx - y * wy, x * wx + y * wy


def samples(rng, n):
    """Sphere-uniform (λ, φ) plus a tenth as many points near face centres."""
    lam = rng.uniform(-np.pi, np.pi, n)
    phi = np.arcsin(rng.uniform(-1, 1, n))
    m = n // 10
    f = rng.integers(0, 12, m)
    d = 10 ** rng.uniform(-4, -1, m)            # angular distance from the centre
    t = rng.uniform(0, 2 * np.pi, m)
    ax = FACE_AXES[f]
    e1 = np.cross(ax, [0.3, 0.5, 0.8])
    e1 /= np.linalg.norm(e1, axis=1)[:, None]
    e2 = np.cross(ax, e1)
    v = (np.cos(d)[:, None] * ax + np.sin(d)[:, None] * (np.cos(t)[:, None] * e1
                                                          + np.sin(t)[:, None] * e2))
    lam = np.r_[lam, np.arctan2(v[:, 1], v[:, 0])]
    phi = np.r_[phi, np.arcsin(np.clip(v[:, 2], -1, 1))]
    return lam, phi


def in_domain(lam, phi):
    """(point index, face, quintant) of every frame whose extended domain
    holds the point: the three nearest faces × five quintants, filtered."""
    cl = np.cos(phi)
    v = np.stack([cl * np.cos(lam), cl * np.sin(lam), np.sin(phi)], axis=-1)
    near = np.argsort(-(v @ FACE_AXES.T), axis=1)[:, :3]
    idx = np.repeat(np.arange(len(lam)), 15)
    face = np.repeat(near, 5, axis=1).ravel()
    q = np.tile(np.arange(5), 3 * len(lam))
    x, y, b = frame_xy(lam[idx], phi[idx], face, q)
    al, ga = weights(x, y)
    ok = ((np.abs(b) <= np.pi / 5 + BAND_B) & (al >= -BAND_W) & (ga >= -BAND_W)
          & (al + ga <= 1 + BAND_W) & ((v[idx] * FACE_AXES[face]).sum(1) > 0.5))
    return idx[ok], face[ok], q[ok]


def stencil(lam, phi, face, q, h, axis):
    """First and third central differences of (x, y, α, γ) along λ (axis 0)
    or φ (axis 1)."""
    vals = []
    for k in (-2, -1, 1, 2):
        dl, dp = (k * h, 0 * h) if axis == 0 else (0 * h, k * h)
        x, y, _ = frame_xy(lam + dl, phi + dp, face, q)
        vals.append(np.stack((x, y) + weights(x, y)))
    m2, m1, p1, p2 = vals
    d1 = (p1 - m1) / (2 * h)
    d3 = (p2 - 2 * p1 + 2 * m1 - m2) / (2 * h ** 3)
    return d1, d3


def main(n):
    import mpmath as mp

    rng = np.random.default_rng(20261019)
    lam, phi = samples(rng, n)
    worst = {"C1": (0.0, None), "C3": (0.0, None)}
    picks = []
    for lo in range(0, len(lam), 50_000):
        i, f, q = in_domain(lam[lo:lo + 50_000], phi[lo:lo + 50_000])
        la, ph = lam[lo:lo + 50_000][i], phi[lo:lo + 50_000][i]
        x, y, _ = frame_xy(la, ph, f, q)
        r = np.hypot(x, y)
        h = np.minimum(3e-3 * r, 1e-3)
        for axis in (0, 1):
            d1, d3 = stencil(la, ph, f, q, h, axis)
            c1 = np.hypot(d1[0], d1[1])
            c3 = r * r * np.maximum(np.abs(d3[2]), np.abs(d3[3]))
            for key, val in (("C1", c1), ("C3", c3)):
                j = int(np.argmax(val))
                if val[j] > worst[key][0]:
                    worst[key] = (float(val[j]), (la[j], ph[j], f[j], q[j], axis, r[j]))
            picks += [(la[j], ph[j], f[j], q[j], axis, r[j], c3[j])
                      for j in rng.choice(len(la), 3, replace=False)]
    print(f"sampled {len(lam)} points")
    for key, (val, at) in worst.items():
        print(f"{key}: sup {val:.4f}  at lam={at[0]:.6f} phi={at[1]:.6f} face={at[2]} q={at[3]} "
              f"{'dlam' if at[4] == 0 else 'dphi'} r={at[5]:.3g}")

    # the stencil against mpmath's third derivative of the same map
    mp.mp.prec = 160
    la, ph, f, q, axis, r = worst["C3"][1]
    check = [(la, ph, f, q, axis, r, worst["C3"][0])] + picks[:: max(1, len(picks) // 60)]
    rel = 0.0
    for la, ph, f, q, axis, r, c3 in check:
        def g(t):
            return mp_alpha_gamma(mp.mpf(la) + (t if axis == 0 else 0),
                                  mp.mpf(ph) + (t if axis == 1 else 0), int(f), int(q))
        exact = max(abs(mp.diff(lambda t: g(t)[2], 0, 3)), abs(mp.diff(lambda t: g(t)[3], 0, 3)))
        exact = float(exact) * r * r
        rel = max(rel, abs(exact - c3) / max(exact, 1e-3 * worst["C3"][0]))
    print(f"C3 stencil vs mpmath on {len(check)} points: max difference {rel:.2e} "
          "relative to max(mpmath, 1e-3 sup)")

    # E: forward_xyz's float alpha, gamma against the same map in mpmath
    lam_e, phi_e = samples(np.random.default_rng(7), 2000)
    cl = np.cos(phi_e)
    v = np.stack([cl * np.cos(lam_e), cl * np.sin(lam_e), np.sin(phi_e)], axis=-1)
    face, q, x, y = P.forward_xyz(v)
    al, ga = weights(x, y)
    err = np.zeros(len(lam_e))
    for k in range(len(lam_e)):
        _, _, ea, eg = mp_alpha_gamma(mp.mpf(lam_e[k]), mp.mpf(phi_e[k]), int(face[k]), int(q[k]))
        err[k] = max(abs(float(ea - al[k])), abs(float(eg - ga[k])))
    r = np.hypot(x, y)
    far = r >= 0.05
    print(f"E: max err {err[far].max():.3g} at r >= 0.05, max r*err {(r * err).max():.3g} "
          f"({len(lam_e)} points, {int((~far).sum())} with r < 0.05)")


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000)
