"""Quaternary space-filling curve over triangle subdivision (vectorized).

Each quintant triangle subdivides 4:1 per resolution level via two rounds of
Sierpiński bisection: triangle (P, Q, R) — curve enters at P, exits at R —
splits at M = midpoint(P, R) into (P, M, Q) then (Q, M, R), giving a
continuous curve whose 2-bit digits per A5 level form the Hilbert-S payload of
the cell id (``bits.py`` layout).

This is our engine's intra-quintant geometry: cells are triangles with *exact*
geometric parent/child nesting and exactly equal areas (midpoint subdivision
is area-uniform in the plane; the plane is an equal-area image of the sphere —
projection.py).  The reference's a5 crate instead tiles pentagons on a lattice
(its source is unavailable here); the cell-id algebra, face/quintant layout,
and areas agree — the intra-quintant vertex geometry differs.  See DESIGN.md §4.
"""

from __future__ import annotations

import numpy as np


def point_to_s(px, py, res: int, entry, apex, exit_) -> np.ndarray:
    """Sierpiński index (2·(res−1) bits) of each point within its triangle.

    px/py: (N,) sector-frame coords; entry/apex/exit_: (2,) canonical triangle.

    Each step takes the second child iff the point lies strictly on the
    other side of the bisector QM from P: ``cr_pt · cr_p < 0`` with
    ``cr_pt = (M−Q)×(pt−Q)`` and ``cr_p = (M−Q)×(P−Q)``.  Since M is the
    midpoint of PR, ``cr_p = ½·orient(P, Q, R)``, and both children have the
    opposite orientation to their parent, so the sign of ``cr_p`` only
    alternates by level.  The loop therefore tests ``cr_pt < 0`` on levels
    where ``cr_p > 0`` and ``cr_pt > 0`` on the others — the same bit for
    ±0 and NaN, and the product never underflows for projected points.
    """
    n = px.shape[0]
    Px = np.full(n, entry[0]); Py = np.full(n, entry[1])
    Qx = np.full(n, apex[0]); Qy = np.full(n, apex[1])
    Rx = np.full(n, exit_[0]); Ry = np.full(n, exit_[1])
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    s = np.zeros(n, dtype=np.uint64)
    # preallocated scratch — the loop below runs up to 56× per call and fresh
    # temporaries would dominate (first-touch faults are expensive here)
    Mx = np.empty(n); My = np.empty(n)
    dx = np.empty(n); dy = np.empty(n)
    t1 = np.empty(n); t2 = np.empty(n)
    b = np.empty(n, dtype=bool); nb = np.empty(n, dtype=bool)
    cr_p_pos = cr_p_positive(entry, apex, exit_)
    for _ in range(2 * (res - 1)):
        np.add(Px, Rx, out=Mx); Mx *= 0.5
        np.add(Py, Ry, out=My); My *= 0.5
        np.subtract(Mx, Qx, out=dx)
        np.subtract(My, Qy, out=dy)
        # cr_pt = dx·(py−Qy) − dy·(px−Qx)
        np.subtract(py, Qy, out=t1); t1 *= dx
        np.subtract(px, Qx, out=t2); t2 *= dy
        t1 -= t2
        # opposite side from P → second child
        (np.less if cr_p_pos else np.greater)(t1, 0.0, out=b)
        cr_p_pos = not cr_p_pos
        s <<= np.uint64(1)
        np.add(s, b, out=s, casting="unsafe")
        # b==0 → (P, M, Q);  b==1 → (Q, M, R) — vectorized masked copies
        np.copyto(Px, Qx, where=b); np.copyto(Py, Qy, where=b)
        np.logical_not(b, out=nb)
        np.copyto(Rx, Qx, where=nb); np.copyto(Ry, Qy, where=nb)
        Qx, Mx = Mx, Qx  # swap buffers: Q ← M, old Q becomes scratch
        Qy, My = My, Qy
    return s


def cr_p_positive(entry, apex, exit_) -> bool:
    """Whether the first step's ``cr_p`` is positive for the triangle
    (entry, apex, exit_); the sign flips on every later step."""
    mx = (entry[0] + exit_[0]) * 0.5
    my = (entry[1] + exit_[1]) * 0.5
    return bool((mx - apex[0]) * (entry[1] - apex[1])
                - (my - apex[1]) * (entry[0] - apex[0]) > 0)


def s_to_triangle(s, res: int, entry, apex, exit_):
    """Inverse: Hilbert-S values → final triangle vertices (P, Q, R), each (N, 2)."""
    s = np.asarray(s, dtype=np.uint64)
    n = s.shape[0]
    P = np.broadcast_to(entry, (n, 2)).astype(np.float64).copy()
    Q = np.broadcast_to(apex, (n, 2)).astype(np.float64).copy()
    R = np.broadcast_to(exit_, (n, 2)).astype(np.float64).copy()
    depth = 2 * (res - 1)
    for i in range(depth - 1, -1, -1):
        M = 0.5 * (P + R)
        b = ((s >> np.uint64(i)) & np.uint64(1)).astype(bool)[:, None]
        P_new = np.where(b, Q, P)
        R_new = np.where(b, R, Q)
        P, Q, R = P_new, M, R_new
    return P, Q, R
