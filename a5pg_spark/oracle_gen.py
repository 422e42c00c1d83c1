"""DuckDB-SQL generator for the A5 forward encode (oracle side).

Emits SQL that reproduces ``core.cells.lonlat_to_cell`` bit-for-bit.  The
projection mirrors ``core/projection.py:forward`` expression by expression,
with float constants serialized via ``repr`` (round-trip exact), so both
sides round identically (both use the platform libm).  The bisection is ``core/hilbert.py:point_to_s``'s
integer recurrence on the point's fixed-point entry/exit weights, rounded once
by the DOUBLE -> BIGINT cast (half to even, as NumPy's ``rint``) and exact
from there on.  Cell-id assembly goes through HUGEINT to reproduce the
engine's two's-complement wrap for origins >= 32 (DESIGN.md §2.4).

Used by ``__spark_entry__.oracle_sql`` to turn the projection queries from
rows-only checks into exact value-hash oracles.
"""

from __future__ import annotations

import numpy as np

from .core import hilbert as H
from .core import projection as P
from .core.dodecahedron import FACE_AXES, FACE_ROT, TAN_DM


def _f(x: float) -> str:
    return repr(float(x))


def _case_face(vals, cast=None) -> str:
    """CASE face WHEN 0 THEN v0 ... END over 12 per-face constants."""
    branches = " ".join(f"WHEN {i} THEN {_f(vals[i])}" for i in range(12))
    return f"(CASE face {branches} END)"


def encode_cte_chain(res: int, pts: str = "pts") -> tuple[str, str]:
    """Return (cte_sql, final_name): CTEs computing ``enc(key, cell)`` from a
    CTE/view ``pts(key, lon, lat)``.  ``cte_sql`` is a fragment to splice into
    a WITH list (no leading WITH)."""
    if res < 1:
        raise ValueError("res >= 1 required")
    d2r = _f(np.pi / 180.0)
    two_pi = _f(2.0 * np.pi)
    tpo5 = _f(P.TWO_PI_OVER_5)
    po5 = _f(P.PI_OVER_5)
    k_ = _f(np.sqrt(1.0 + TAN_DM * TAN_DM))
    tan36 = _f(P.TAN_36)
    atot = _f(P.AREA_TOT)
    tdm = _f(TAN_DM)
    tdm2 = _f(TAN_DM * TAN_DM)

    # face axes dot products
    dcols = ",\n      ".join(
        f"({_f(FACE_AXES[k,0])} * vx + {_f(FACE_AXES[k,1])} * vy + "
        f"{_f(FACE_AXES[k,2])} * vz) AS d{k}"
        for k in range(12)
    )
    # argmax-first CASE
    argmax = " ".join(
        "WHEN " + " AND ".join(f"d{k} >= d{j}" for j in range(k + 1, 12)) + f" THEN {k}"
        for k in range(11)
    )
    # rotation rows
    def rot_row(r):
        return " + ".join(
            f"{_case_face(FACE_ROT[:, r, c])} * v{ax}"
            for c, ax in enumerate("xyz")
        )

    alphas = _case_face(P._ALPHAS)
    signs = _case_face(P._SIGNS)

    ctes = [
        f"""v_ AS (
      SELECT key, cos(lat * {d2r}) * cos(lon * {d2r}) AS vx,
             cos(lat * {d2r}) * sin(lon * {d2r}) AS vy,
             sin(lat * {d2r}) AS vz
      FROM {pts})""",
        f"""d_ AS (
      SELECT key, vx, vy, vz,
      {dcols}
      FROM v_)""",
        f"""fa_ AS (
      SELECT key, vx, vy, vz, (CASE {argmax} ELSE 11 END) AS face FROM d_)""",
        f"""rot_ AS (
      SELECT key, face,
             {rot_row(0)} AS wx,
             {rot_row(1)} AS wy,
             {rot_row(2)} AS wz
      FROM fa_)""",
        f"""ang_ AS (
      SELECT key, face,
             acos(CASE WHEN wz > 1.0 THEN 1.0 WHEN wz < -1.0 THEN -1.0 ELSE wz END) AS z,
             ({signs} * (atan2(wy, wx) - {alphas})) AS t
      FROM rot_)""",
        f"""azl_ AS (
      SELECT key, face, z,
             CASE WHEN fmod(t, {two_pi}) < 0 THEN fmod(t, {two_pi}) + {two_pi}
                  ELSE fmod(t, {two_pi}) END AS azl
      FROM ang_)""",
        f"""qn_ AS (
      SELECT key, face, z, azl,
             LEAST(CAST(floor(azl / {tpo5}) AS BIGINT), 4) AS q
      FROM azl_)""",
        f"""sec_ AS (
      SELECT key, face, z, q,
             abs(azl - {tpo5} * q - {po5}) AS a,
             CASE WHEN (azl - {tpo5} * q - {po5}) < 0 THEN -1.0 ELSE 1.0 END AS mir
      FROM qn_)""",
        f"""warp_ AS (
      SELECT key, face, z, q, mir,
             atan({tan36} * (a - asin(sin(a) / {k_})) / {atot}) AS ap,
             (cos(a) / sqrt(cos(a) * cos(a) + {tdm2})) AS cze
      FROM sec_)""",
        f"""xy_ AS (
      SELECT key, face, q,
             (({tdm} / cos(ap)) * sqrt(GREATEST(1.0 - cos(z), 0.0) / (1.0 - cze))) * cos(ap) AS ppx,
             (({tdm} / cos(ap)) * sqrt(GREATEST(1.0 - cos(z), 0.0) / (1.0 - cze))) * sin(ap) * mir AS ppy
      FROM warp_)""",
    ]
    # NB: NumPy computes r = re * ratio then x = r * cos(ap): (re*ratio)*cos —
    # the parenthesization above matches ((tdm/cos)*sqrt(...)) * cos exactly.

    ctes += bisection_ctes(res, "xy_")
    depth = 2 * (res - 1)
    p = 59 - 2 * res
    ctes.append(
        f"""enc AS (
      SELECT key,
             CAST(CASE WHEN u >= {1 << 63}::HUGEINT THEN u - {1 << 64}::HUGEINT
                       ELSE u END AS BIGINT) AS cell
      FROM (SELECT key,
                   (CAST(5 * face + q AS HUGEINT) * {1 << 58}::HUGEINT
                    + CAST(s AS HUGEINT) * {1 << (p + 1)}::HUGEINT
                    + {1 << p}::HUGEINT) AS u
            FROM bis{depth}))"""
    )
    return ",\n    ".join(ctes), "enc"


def bisection_ctes(res: int, src: str) -> list:
    """CTEs ``bis0`` … ``bis{2·(res−1)}`` giving ``(key, face, q, s)`` from
    ``src(key, face, q, ppx, ppy)``: ``core/hilbert.py:point_to_s``'s
    integer recurrence on the fixed-point entry/exit weights, rounded once
    and exact from there on.  DuckDB's DOUBLE -> BIGINT cast rounds half to
    even like ``np.rint``; its ``round_even()`` does not (it rounds x.5 up
    above 2^50)."""
    one = H.ONE
    ctes = [
        f"""bis0 AS (
      SELECT key, face, q, CAST(0 AS BIGINT) AS s, al, LEAST(ga, {one} - al) AS ga
      FROM (SELECT key, face, q,
                   CAST(LEAST(GREATEST(ppx * {_f(H.WX)} - ppy * {_f(H.WY)}, 0.0), {_f(one)})
                        AS BIGINT) AS al,
                   CAST(LEAST(GREATEST(ppx * {_f(H.WX)} + ppy * {_f(H.WY)}, 0.0), {_f(one)})
                        AS BIGINT) AS ga
            FROM {src}))"""
    ]
    for i in range(1, 2 * (res - 1) + 1):
        ctes.append(
            f"""bis{i} AS (
      SELECT key, face, q, s * 2 + CASE WHEN al < ga THEN 1 ELSE 0 END AS s,
             CASE WHEN al < ga THEN {one} - al - ga ELSE al - ga END AS al,
             CASE WHEN al < ga THEN ga - al ELSE {one} - al - ga END AS ga
      FROM bis{i - 1})"""
        )
    return ctes


def decode_center_cte_chain(res: int, src: str = "encfq") -> tuple[str, str]:
    """CTEs computing cell-center lon/lat from pre-assembly components.

    ``src`` must provide (key, lon, lat, face, q, s) — the encode chain's
    values before id assembly (identical to what decoding the id yields).
    Produces ``dec(key, lon, lat, clon, clat)``.

    The decode feeds tolerance comparisons only (0.1-degree margins), so the
    sqrt-based hypot substitute is safe; everything else mirrors
    ``core/projection.py:inverse`` and ``core/hilbert.py:s_to_triangle``.
    """
    from .core.dodecahedron import FACE_ROT_INV

    tpo5 = _f(P.TWO_PI_OVER_5)
    po5 = _f(P.PI_OVER_5)
    k_ = _f(np.sqrt(1.0 + TAN_DM * TAN_DM))
    tan36 = _f(P.TAN_36)
    atot = _f(P.AREA_TOT)
    tdm = _f(TAN_DM)
    tdm2 = _f(TAN_DM * TAN_DM)
    r2d = _f(180.0 / np.pi)

    ex, ey = P.TRI_ENTRY
    ax_, ay_ = P.TRI_APEX
    rx, ry = P.TRI_EXIT
    depth = 2 * (res - 1)
    ctes = [
        f"""tri0 AS (
      SELECT key, lon, lat, face, q, s,
             CAST({_f(ex)} AS DOUBLE) AS pax, CAST({_f(ey)} AS DOUBLE) AS pay,
             CAST({_f(ax_)} AS DOUBLE) AS qax, CAST({_f(ay_)} AS DOUBLE) AS qay,
             CAST({_f(rx)} AS DOUBLE) AS rax, CAST({_f(ry)} AS DOUBLE) AS ray
      FROM {src})"""
    ]
    for step, i in enumerate(range(depth - 1, -1, -1), start=1):
        ctes.append(
            f"""tri{step} AS (
      SELECT key, lon, lat, face, q, s,
             CASE WHEN b = 1 THEN qax ELSE pax END AS pax,
             CASE WHEN b = 1 THEN qay ELSE pay END AS pay,
             mx AS qax, my AS qay,
             CASE WHEN b = 1 THEN rax ELSE qax END AS rax,
             CASE WHEN b = 1 THEN ray ELSE qay END AS ray
      FROM (SELECT *, CAST((s >> {i}) & 1 AS INT) AS b,
                   (pax + rax) * 0.5 AS mx, (pay + ray) * 0.5 AS my
            FROM tri{step - 1}))"""
        )
    alphas = _case_face(P._ALPHAS)
    signs = _case_face(P._SIGNS)

    def rotinv_row(r):
        return " + ".join(
            f"{_case_face(FACE_ROT_INV[:, r, c])} * w{ax}"
            for c, ax in enumerate("xyz")
        )

    newton = []
    newton.append(f"{po5} * (target / {atot}) AS na0")
    for it in range(5):
        a = f"na{it}"
        f_ = f"(({a} - asin(sin({a}) / {k_})) - target)"
        df = f"GREATEST(1.0 - (cos({a}) / sqrt(cos({a}) * cos({a}) + {tdm2})), 1e-15)"
        newton.append(
            f"LEAST(GREATEST(na{it} - {f_} / {df}, 0.0), {po5}) AS na{it + 1}"
        )

    ctes.append(
        f"""ctr_ AS (
      SELECT key, lon, lat, face, q,
             (pax + qax + rax) / 3.0 AS cx, (pay + qay + ray) / 3.0 AS cy
      FROM tri{depth})"""
    )
    ctes.append(
        f"""pol_ AS (
      SELECT key, lon, lat, face, q,
             sqrt(cx * cx + cy * cy) AS r,
             atan2(abs(cy), cx) AS ap,
             CASE WHEN cy < 0 THEN -1.0 ELSE 1.0 END AS mir,
             ({atot} * tan(atan2(abs(cy), cx)) / {tan36}) AS target
      FROM ctr_)"""
    )
    ctes.append("n0_ AS (\n      SELECT *, " + newton[0] + " FROM pol_)")
    for it in range(5):
        ctes.append(f"n{it + 1}_ AS (\n      SELECT *, " + newton[it + 1] + f" FROM n{it}_)")
    ctes.append(
        f"""zz_ AS (
      SELECT key, lon, lat, face, q, mir, na5 AS a,
             acos(LEAST(GREATEST(
               1.0 - (1.0 - (cos(na5) / sqrt(cos(na5) * cos(na5) + {tdm2})))
                     * (r / ({tdm} / cos(ap))) * (r / ({tdm} / cos(ap))), -1.0), 1.0)) AS z
      FROM n5_)"""
    )
    ctes.append(
        f"""sph_ AS (
      SELECT key, lon, lat, face,
             sin(z) * cos({alphas} + {signs} * ({tpo5} * q + {po5} + mir * a)) AS wx,
             sin(z) * sin({alphas} + {signs} * ({tpo5} * q + {po5} + mir * a)) AS wy,
             cos(z) AS wz
      FROM zz_)"""
    )
    ctes.append(
        f"""dec AS (
      SELECT key, lon, lat,
             atan2({rotinv_row(1)}, {rotinv_row(0)}) * {r2d} AS clon,
             asin(LEAST(GREATEST({rotinv_row(2)}, -1.0), 1.0)) * {r2d} AS clat
      FROM sph_)"""
    )
    return ",\n    ".join(ctes), "dec"


def boundary_corners_cte_chain(res: int, src: str = "encfq") -> tuple[str, str]:
    """CTEs computing the 3 boundary corner vertices (segments=1, open ring)
    of each cell from pre-assembly components — the oracle for
    ``a5_cell_to_boundary(id, false, 1)``.

    ``src`` must provide (key, face, q, s).  Produces
    ``bdec(key, vid, vlon, vlat)`` with vid 0/1/2 = entry/apex/exit corner of
    the S-path triangle, matching core/cells.cell_to_boundary_batch's ring
    order.  The inverse chain mirrors decode_center_cte_chain (kept in sync
    manually); r uses sqrt(x²+y²) where NumPy uses hypot, an ulp-level
    difference — consumers must round (9 decimals is far above it).
    """
    from .core.dodecahedron import FACE_ROT_INV

    tpo5 = _f(P.TWO_PI_OVER_5)
    po5 = _f(P.PI_OVER_5)
    k_ = _f(np.sqrt(1.0 + TAN_DM * TAN_DM))
    tan36 = _f(P.TAN_36)
    atot = _f(P.AREA_TOT)
    tdm = _f(TAN_DM)
    tdm2 = _f(TAN_DM * TAN_DM)
    r2d = _f(180.0 / np.pi)

    ex, ey = P.TRI_ENTRY
    ax_, ay_ = P.TRI_APEX
    rx, ry = P.TRI_EXIT
    depth = 2 * (res - 1)
    ctes = [
        f"""btr0 AS (
      SELECT key, face, q, s,
             CAST({_f(ex)} AS DOUBLE) AS pax, CAST({_f(ey)} AS DOUBLE) AS pay,
             CAST({_f(ax_)} AS DOUBLE) AS qax, CAST({_f(ay_)} AS DOUBLE) AS qay,
             CAST({_f(rx)} AS DOUBLE) AS rax, CAST({_f(ry)} AS DOUBLE) AS ray
      FROM {src})"""
    ]
    for step, i in enumerate(range(depth - 1, -1, -1), start=1):
        ctes.append(
            f"""btr{step} AS (
      SELECT key, face, q, s,
             CASE WHEN b = 1 THEN qax ELSE pax END AS pax,
             CASE WHEN b = 1 THEN qay ELSE pay END AS pay,
             mx AS qax, my AS qay,
             CASE WHEN b = 1 THEN rax ELSE qax END AS rax,
             CASE WHEN b = 1 THEN ray ELSE qay END AS ray
      FROM (SELECT *, CAST((s >> {i}) & 1 AS INT) AS b,
                   (pax + rax) * 0.5 AS mx, (pay + ray) * 0.5 AS my
            FROM btr{step - 1}))"""
        )
    alphas = _case_face(P._ALPHAS)
    signs = _case_face(P._SIGNS)

    def rotinv_row(r):
        return " + ".join(
            f"{_case_face(FACE_ROT_INV[:, r, c])} * w{ax}"
            for c, ax in enumerate("xyz")
        )

    newton = []
    newton.append(f"{po5} * (target / {atot}) AS na0")
    for it in range(5):
        a = f"na{it}"
        f_ = f"(({a} - asin(sin({a}) / {k_})) - target)"
        df = f"GREATEST(1.0 - (cos({a}) / sqrt(cos({a}) * cos({a}) + {tdm2})), 1e-15)"
        newton.append(
            f"LEAST(GREATEST(na{it} - {f_} / {df}, 0.0), {po5}) AS na{it + 1}"
        )

    ctes.append(
        f"""bcr_ AS (
      SELECT key, face, q, 0 AS vid, pax AS cx, pay AS cy FROM btr{depth}
      UNION ALL
      SELECT key, face, q, 1 AS vid, qax AS cx, qay AS cy FROM btr{depth}
      UNION ALL
      SELECT key, face, q, 2 AS vid, rax AS cx, ray AS cy FROM btr{depth})"""
    )
    ctes.append(
        f"""bpol_ AS (
      SELECT key, face, q, vid,
             sqrt(cx * cx + cy * cy) AS r,
             atan2(abs(cy), cx) AS ap,
             CASE WHEN cy < 0 THEN -1.0 ELSE 1.0 END AS mir,
             ({atot} * tan(atan2(abs(cy), cx)) / {tan36}) AS target
      FROM bcr_)"""
    )
    ctes.append("bn0_ AS (\n      SELECT *, " + newton[0] + " FROM bpol_)")
    for it in range(5):
        ctes.append(f"bn{it + 1}_ AS (\n      SELECT *, " + newton[it + 1] + f" FROM bn{it}_)")
    ctes.append(
        f"""bzz_ AS (
      SELECT key, face, q, vid, mir, na5 AS a,
             acos(LEAST(GREATEST(
               1.0 - (1.0 - (cos(na5) / sqrt(cos(na5) * cos(na5) + {tdm2})))
                     * (r / ({tdm} / cos(ap))) * (r / ({tdm} / cos(ap))), -1.0), 1.0)) AS z
      FROM bn5_)"""
    )
    ctes.append(
        f"""bsph_ AS (
      SELECT key, face, vid,
             sin(z) * cos({alphas} + {signs} * ({tpo5} * q + {po5} + mir * a)) AS wx,
             sin(z) * sin({alphas} + {signs} * ({tpo5} * q + {po5} + mir * a)) AS wy,
             cos(z) AS wz
      FROM bzz_)"""
    )
    ctes.append(
        f"""bdec AS (
      SELECT key, vid,
             atan2({rotinv_row(1)}, {rotinv_row(0)}) * {r2d} AS vlon,
             asin(LEAST(GREATEST({rotinv_row(2)}, -1.0), 1.0)) * {r2d} AS vlat
      FROM bsph_)"""
    )
    return ",\n    ".join(ctes), "bdec"
