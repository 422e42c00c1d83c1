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

The encode (:func:`point_to_s`) bisects in integer barycentric coordinates.
A point p = α·P + β·Q + γ·R lies on P's side of the bisector QM iff α ≥ γ,
and the children's weights are linear in the parent's:

* digit 0, (P, M, Q):  (α, β, γ) ← (α − γ, 2γ, β)
* digit 1, (Q, M, R):  (α, β, γ) ← (β, 2α, γ − α)

Rounded half-even once to fixed point (``ONE`` = 2^62), every level is exact
integer arithmetic, so the bisections of the NumPy kernel, the JVM kernel
(``jvm/A5Encode.java``) and the DuckDB oracle (``oracle_gen.py``) agree bit
for bit on the same sector point, and a point on a bisector (α = γ) takes
digit 0 in all three.  DESIGN.md §7 has the measurements.
"""

from __future__ import annotations

import numpy as np

from .projection import TRI_EXIT

ONE = 1 << 62
# the canonical triangle has its apex at the origin and its entry and exit
# vertices mirrored about the x axis, so a sector point's entry and exit
# weights are α·ONE = px·WX − py·WY and γ·ONE = px·WX + py·WY
WX = ONE / 2 / TRI_EXIT[0]
WY = ONE / 2 / TRI_EXIT[1]


def point_to_s(px, py, res: int, weights: bool | str = False):
    """Sierpiński index (2·(res−1) bits) of each sector-frame point within
    the canonical quintant triangle; px/py are finite (N,) float64 arrays.
    With ``weights=True`` also returns min(α′, β′, γ′), the point's smallest
    integer weight in its final triangle (0 on the triangle's boundary).
    With ``weights="all"`` also returns the three weights (α′, β′, γ′) and
    the path's turn k ∈ 0..3: along the same digit path the final weights
    change by 2^(res−1)·J^k·(Δα, Δγ) for a change (Δα, Δγ) of the first
    weights, J the right-angle turn (a, c) ↦ (−c, a), and β′ by minus the
    sum (DESIGN.md §7.1).

    The weights α and γ are rounded half-even once to multiples of 1/ONE
    and clamped to the triangle (α, γ ≥ 0 and α + γ ≤ ONE).  The loop then
    carries D = α − γ and β instead of (α, γ), and is branchless: with
    m = D >> 63 (−1 for digit 1, else 0) and e = |D| − β, the next level
    has D' = ±e (sign from m) and β' = ONE − β − |D|.
    """
    t = np.multiply(px, WX)
    u = np.multiply(py, WY)
    a = np.subtract(t, u)
    np.add(t, u, out=t)
    for w in (a, t):
        np.maximum(w, 0.0, out=w)
        np.minimum(w, float(ONE), out=w)
        np.rint(w, out=w)
    alpha, gamma = a.astype(np.int64), t.astype(np.int64)
    np.minimum(gamma, ONE - alpha, out=gamma)
    d = alpha - gamma
    b = ONE - alpha
    b -= gamma
    s = np.zeros(d.shape[0], dtype=np.int64)
    m = np.empty_like(d)
    u = np.empty_like(d)
    # each level's gradient map is D0 = [[1, −1], [−1, −1]] or D1 = [[−1, −1],
    # [−1, 1]] on (α, γ); a level pair multiplies by 2·J^(d₁ − d₂), so the
    # turn counts first digits up and second digits down
    turn = np.zeros_like(d) if weights == "all" else None
    for level in range(2 * (res - 1)):
        np.right_shift(d, 63, out=m)
        if turn is not None:
            (np.subtract if level % 2 == 0 else np.add)(turn, m, out=turn)
        np.abs(d, out=u)
        s += s
        s -= m
        np.subtract(u, b, out=d)
        np.subtract(ONE, b, out=b)
        b -= u
        d ^= m
        d -= m
    if not weights:
        return s.view(np.uint64)
    if turn is not None:
        # α′ + γ′ = ONE − β′ and D = α′ − γ′
        gamma = (ONE - b - d) >> 1
        return s.view(np.uint64), (gamma + d, b, gamma), turn & 3
    # α′ + γ′ = ONE − β′ and |D| = |α′ − γ′|, so min(α′, γ′) = (ONE − β′ − |D|)/2
    np.abs(d, out=u)
    np.subtract(ONE, b, out=m)
    m -= u
    m >>= 1
    return s.view(np.uint64), np.minimum(m, b, out=m)


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
