"""JVM-native ``a5_lonlat_to_cell`` — the encode hot path without Python.

Motivation (BENCH/BASELINE.md round 1): the Arrow-UDF encode puts a Python
worker next to every JVM task; at local[32] that is 64 hot threads on 32
cores and the stated local[8]→local[32] scaling protocol collapses to
0.15–0.38.  At 100 TB the same co-residency doubles the executor CPU bill of
every encode stage.  This module builds the *same* math as
``core/projection.py`` + ``core/hilbert.py`` as pure Catalyst expressions:

* the dodecahedral forward projection as scalar expressions (trig functions
  are codegen'd built-ins; per-face constants are literal-array gathers);
* the Sierpiński 2-bits-per-level loop unrolled into one small ``select``
  per bisection step (``_s_unrolled``), which whole-stage codegen fuses into
  one span.  Each step reads the previous step's P/Q/R columns, so the
  expression stays linear in the depth (a single-expression unroll grows
  exponentially through the P/Q/R dependencies).

Exact equivalence with the NumPy kernel is asserted in
tests/test_native_encode.py over randomized points at several resolutions
(the two implementations perform the same double-precision operations; only
points within ~1 ulp of a subdivision boundary could ever disagree).
"""

from __future__ import annotations

import uuid

import numpy as np
from pyspark.sql import functions as F

from .core import bits
from .core.dodecahedron import FACE_AXES, FACE_ROT, TAN_DM
from .core.hilbert import cr_p_positive
from .core.projection import _ALPHAS, _SIGNS, AREA_TOT, TAN_36, TRI_APEX, TRI_ENTRY, TRI_EXIT, _K

PI = float(np.pi)
PI_OVER_5 = PI / 5.0
TWO_PI_OVER_5 = 2.0 * PI / 5.0


def _s_unrolled(d7, keep: list, depth: int):
    """Sierpiński quaternary loop unrolled into one select per bisection step.

    Each step stays a small codegen'd projection over the previous step's
    attributes, so the whole chain fuses into whole-stage codegen (the
    aggregate() HOF form is interpreted — measured ~4 k rows/s/core vs
    ~10× here).  The side test ``bb`` is written out in every IF of a step
    rather than materialized as a column of its own: runtime subexpression
    elimination evaluates it once per row, and a separate ``__bb`` select
    measured no lower job CPU.  The multiply-referenced non-cheap IFs keep
    CollapseProject from merging the steps into an exponential single
    projection.
    """
    kq = [f"`{c}`" for c in keep]
    cur = d7.selectExpr(
        *kq,
        f"{float(TRI_ENTRY[0])!r}D AS __sax",
        f"{float(TRI_ENTRY[1])!r}D AS __say",
        f"{float(TRI_APEX[0])!r}D AS __sbx",
        f"{float(TRI_APEX[1])!r}D AS __sby",
        f"{float(TRI_EXIT[0])!r}D AS __scx",
        f"{float(TRI_EXIT[1])!r}D AS __scy",
        "CAST(0 AS BIGINT) AS __ss",
    )
    # SQL strings, not Column ops: one py4j round trip per stage instead of
    # hundreds (measured: plan build 3.8 s -> ~1 s warm for depth 18); the
    # arithmetic is the identical double-precision op order as the NumPy
    # kernel, with shortest-repr literals (bit-exact through parse).
    mx = "((__sax + __scx) * 0.5D)"
    my = "((__say + __scy) * 0.5D)"
    cr_pt = f"(({mx} - __sbx) * (__py - __sby) - ({my} - __sby) * (__px - __sbx))"
    # hilbert.point_to_s's orientation-parity test: the sign of cr_p is fixed
    # per level, so a step tests cr_pt < 0 or cr_pt > 0.  The latter is
    # written as -(cr_pt) < 0 because Spark orders NaN above every double:
    # NaN > 0 is true in SQL, NaN < 0 is false, as in NumPy.
    cr_p_pos = cr_p_positive(TRI_ENTRY, TRI_APEX, TRI_EXIT)
    for _ in range(depth):
        bb = f"({cr_pt} < 0.0D)" if cr_p_pos else f"((-{cr_pt}) < 0.0D)"
        cr_p_pos = not cr_p_pos
        cur = cur.selectExpr(
            *kq,
            f"IF({bb}, __sbx, __sax) AS __sax",
            f"IF({bb}, __sby, __say) AS __say",
            f"{mx} AS __sbx",
            f"{my} AS __sby",
            f"IF({bb}, __scx, __sbx) AS __scx",
            f"IF({bb}, __scy, __sby) AS __scy",
            f"shiftleft(__ss, 1) | CAST({bb} AS BIGINT) AS __ss",
        )
    return cur


def encode_native(df, lon_col: str, lat_col: str, res: int, out_col: str = "cell"):
    """DataFrame transform: add ``out_col`` = A5 cell id of (lon, lat) at
    ``res`` — entirely JVM-side (no Python workers).

    Built as a chain of ``select``s so each stage stays a small codegen'd
    projection; a single-Column form would embed the (expensive, multiply
    referenced) face/projection subtrees into every bisection step and
    re-evaluate them per copy.  CollapseProject keeps the boundaries because
    the reused intermediates are non-cheap.

    Pushdown contract: the result is wrapped in a ``CollectMetrics`` node
    (``df.observe``) that ``PushPredicateThroughNonJoin`` cannot cross, so NO
    downstream predicate — on ``out_col`` OR on untouched passthrough
    columns — is substituted into the ~25 unrolled projections.  This
    barrier is STRUCTURAL: the previous nondeterministic-alias fence
    (``when(rand(17) > -1, cell)``) only protected the join path — Spark
    4.1's PushPredicateThroughNonJoin still substitutes a *Filter* condition
    through nondeterministic project aliases, exploding the optimizer
    exponentially (measured: JVM
    StackOverflow in transformUp after 600 s+ on a res-5 encode with an
    equality filter on top).  CollectMetrics blocks both paths, keeps the
    column deterministic AND non-nullable, and costs one accumulator-only
    exec node (no shuffle, no Python; the encode stays one codegen span —
    the span boundary sits between encode and consumer).

    Column-pruning note: the barrier also stops column pruning from above,
    so **select only the columns you need BEFORE calling encode_native** —
    passthrough columns survive to the scan read otherwise.  Internal
    operators (spatial join, kNN, tiling) already do both.  To prune the
    *scan* by a cell region, use :func:`cell_bbox_prefilter` (translates
    cells into a lon/lat bounding predicate on the source columns — those
    DO reach the parquet scan as PushedFilters).
    """
    if res < 0 or res > bits.MAX_RES:
        raise ValueError(f"resolution out of range 0..{bits.MAX_RES}")
    others = df.columns
    oq = [f"`{c}`" for c in others]

    # All stages are SQL expression strings: one py4j round trip per select
    # instead of one per Column op (measured: plan build 3.8 s -> <1 s for the
    # res-10 pipeline).  Literals are shortest-repr doubles ('D' suffix),
    # which parse bit-exactly; operator order mirrors the NumPy kernel.
    def L(v) -> str:
        return repr(float(v)) + "D"

    d1 = df.selectExpr(
        *oq,
        f"cos(radians(`{lat_col}`)) * cos(radians(`{lon_col}`)) AS __vx",
        f"cos(radians(`{lat_col}`)) * sin(radians(`{lon_col}`)) AS __vy",
        f"sin(radians(`{lat_col}`)) AS __vz",
    )

    # face = argmax over the 12 axes (first max wins, same as np.argmax)
    # dots as lateral column aliases: keeps the argmax string small (the
    # naive inline form repeats every dot 13x and costs ~0.3 s of parse time)
    dot_aliases = [
        f"{L(a[0])} * __vx + {L(a[1])} * __vy + {L(a[2])} * __vz AS __d{i}"
        for i, a in enumerate(FACE_AXES)
    ]
    dnames = [f"__d{i}" for i in range(12)]
    mx = f"greatest({', '.join(dnames)})"
    case = "CASE " + " ".join(
        f"WHEN __d{f} = {mx} THEN {f}" for f in range(12)
    ) + " END"
    d2 = d1.selectExpr(
        *oq, "__vx", "__vy", "__vz", *dot_aliases,
        f"CAST({case} AS INT) AS __face",
    )

    if res == 0:
        u = F.shiftleft(F.col("__face").cast("bigint"), 58).bitwiseOR(
            F.lit(1 << 57).cast("bigint")
        )
        return d2.select(*others, u.cast("long").alias(out_col))

    # rotate into the face frame: w = R[face] @ v (9 literal-array gathers)
    def G(table) -> str:
        vals = ", ".join(L(v) for v in table)
        return f"element_at(array({vals}), __face + 1)"

    R = FACE_ROT
    wz = f"{G(R[:, 2, 0])} * __vx + {G(R[:, 2, 1])} * __vy + {G(R[:, 2, 2])} * __vz"
    wx = f"{G(R[:, 0, 0])} * __vx + {G(R[:, 0, 1])} * __vy + {G(R[:, 0, 2])} * __vz"
    wy = f"{G(R[:, 1, 0])} * __vx + {G(R[:, 1, 1])} * __vy + {G(R[:, 1, 2])} * __vz"
    d3 = d2.selectExpr(
        *oq, "__face",
        f"acos(greatest(-1.0D, least(1.0D, {wz}))) AS __z",
        f"pmod({G(_SIGNS)} * (atan2({wy}, {wx}) - {G(_ALPHAS)}), {L(2.0 * PI)}) AS __azl",
    )

    d4 = d3.selectExpr(
        *oq, "__face", "__z", "__azl",
        f"least(CAST(floor(__azl / {L(TWO_PI_OVER_5)}) AS INT), 4) AS __q",
    )

    b = f"(__azl - {L(TWO_PI_OVER_5)} * __q - {L(PI_OVER_5)})"
    d5 = d4.selectExpr(
        *oq, "__face", "__z", "__q",
        f"abs({b}) AS __a",
        f"IF({b} < 0, -1.0D, 1.0D) AS __mirror",
    )

    # equal-area sector warp (projection.py closed forms)
    area = f"(__a - asin(sin(__a) / {L(_K)}))"
    d6 = d5.selectExpr(
        *oq, "__face", "__z", "__q", "__a", "__mirror",
        f"atan({L(TAN_36)} * {area} / {L(AREA_TOT)}) AS __ap",
    )

    cze = f"(cos(__a) / sqrt(cos(__a) * cos(__a) + {L(TAN_DM * TAN_DM)}))"
    re = f"({L(TAN_DM)} / cos(__ap))"
    ratio = f"sqrt(greatest(0.0D, 1.0D - cos(__z)) / (1.0D - {cze}))"
    d7 = d6.selectExpr(
        *oq, "__face", "__q",
        f"{re} * {ratio} * cos(__ap) AS __px",
        f"{re} * {ratio} * sin(__ap) * __mirror AS __py",
    )

    depth = 2 * (res - 1)
    if depth == 0:
        d8 = d7.select(*others, "__face", "__q", F.lit(0).cast("bigint").alias("__s"))
    else:
        cur = _s_unrolled(d7, [*others, "__face", "__q", "__px", "__py"], depth)
        d8 = cur.select(*others, "__face", "__q", F.col("__ss").alias("__s"))

    origin = (F.lit(5) * F.col("__face") + F.col("__q")).cast("bigint")
    p = 59 - 2 * res
    u = (
        F.shiftleft(origin, 58)
        .bitwiseOR(F.shiftleft(F.col("__s"), p + 1))
        .bitwiseOR(F.lit(1 << p).cast("bigint"))
    )
    cell = u.cast("long")
    # Structural optimizer barrier (see the pushdown contract in the
    # docstring): CollectMetrics is not in PushPredicateThroughNonJoin's
    # match list, so no predicate is ever substituted into the unroll.
    # The metric name must be unique per distinct plan subtree; a uuid
    # keeps two different encodes in one query from colliding (the SAME
    # node reused via self-join is fine).
    return d8.select(*others, cell.alias(out_col)).observe(
        f"a5_encode_barrier_{uuid.uuid4().hex[:12]}", F.count(F.lit(1)).alias("rows"))


def cell_bbox_prefilter(df, lon_col: str, lat_col: str, cells,
                        margin_deg: float = 0.0):
    """Scan-prunable region filter: keep rows whose (lon, lat) falls inside
    the bounding box of any of ``cells`` (int A5 ids, any resolutions).

    This is the pushdown-safe companion to :func:`encode_native`'s barrier:
    a predicate on the *encoded* column can never reach the parquet scan
    anyway (the scan only has lon/lat), so region pruning must be expressed
    on the source columns.  The boxes are computed driver-side from the
    cells' densified boundaries (tiny: O(len(cells)) NumPy) and emitted as a
    plain OR-of-ranges predicate — Catalyst pushes it into the scan as
    PushedFilters, so file/row-group stats prune at 100 TB.

    Superset semantics: a bbox keeps every point of the cell plus a fringe;
    follow with an exact equality/contains filter on the encoded cell (cheap
    — it runs above the encode on the already-pruned rows).  Cells whose
    boundary spans the antimeridian fall back to a latitude-only band for
    that cell (correct, just less selective).  ``margin_deg`` widens every
    box, e.g. to retain kNN ring candidates around the region.
    """
    from .core import cells as _cells

    ids = np.asarray(list(cells), dtype=np.int64)
    if ids.size == 0:
        return df.filter(F.lit(False))
    # Cell edges are CURVES in lon/lat (inverse-projected planar chords), so
    # a bbox of sampled vertices alone is NOT a guaranteed superset — the
    # curve can bulge past the extremum of any finite sample.  Sample at two
    # densities and use the box growth as an adaptive error estimate: the
    # sampling error of a smooth curve decays ~4x per doubling, so the
    # residual beyond the denser box is <= growth/3; each box is padded by
    # 2x the observed growth (plus the caller's margin_deg).
    rings_lo = _cells.cell_to_boundary_batch(ids, closed_ring=False, segments=8)
    rings_hi = _cells.cell_to_boundary_batch(ids, closed_ring=False, segments=16)
    disj = None
    for rlo, rhi in zip(rings_lo, rings_hi):
        lons, lats = rhi[:, 0], rhi[:, 1]
        growth = max(
            abs(float(rhi[:, 0].min()) - float(rlo[:, 0].min())),
            abs(float(rhi[:, 0].max()) - float(rlo[:, 0].max())),
            abs(float(rhi[:, 1].min()) - float(rlo[:, 1].min())),
            abs(float(rhi[:, 1].max()) - float(rlo[:, 1].max())),
        )
        pad = 2.0 * growth + margin_deg
        lat_pred = (F.col(lat_col) >= float(lats.min()) - pad) & (
            F.col(lat_col) <= float(lats.max()) + pad)
        if lons.max() - lons.min() > 180.0:  # antimeridian wrap
            pred = lat_pred
        else:
            pred = lat_pred & (
                F.col(lon_col) >= float(lons.min()) - pad) & (
                F.col(lon_col) <= float(lons.max()) + pad)
        disj = pred if disj is None else (disj | pred)
    return df.filter(disj)
