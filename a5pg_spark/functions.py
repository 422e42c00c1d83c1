"""Spark function registry — the reference's 16-function SQL surface
(``/root/reference/src/lib.rs`` §2.1 of SURVEY.md) re-expressed Spark-first.

Two tiers:

* **Hierarchy / bit ops** (`a5_get_resolution`, `a5_cell_to_parent`,
  `a5_cell_to_children`, `a5_cell_contains`, `a5_uncompact`, areas/counts):
  pure Spark-SQL scalar functions (Spark 4 SQL UDFs).  Catalyst inlines them
  into the caller's plan → whole-stage codegen, constant folding, no Python.
  The same ANSI bit arithmetic runs verbatim in DuckDB for the oracle checks.
* **Projection ops** (`a5_lonlat_to_cell`, `a5_cell_to_lonlat`,
  `a5_cell_to_boundary`): Arrow-batched pandas UDFs over the vectorized NumPy
  kernels (core/cells.py) — one Python crossing per ~10k-row batch, never per
  row.  STRICT null semantics (NULL in → NULL out) are applied inside the UDF
  via masks, mirroring the reference DDL (sql/a5pg--0.6.1.sql STRICT flags).

Call :func:`register` once per session; afterwards every function is usable
from both the DataFrame API (`F.call_function` wrappers below) and
``spark.sql`` — so reference SQL ports verbatim.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
)

from .core import areas, bits, cells

# ---------------------------------------------------------------------------
# tier 1: pure-SQL hierarchy functions (Catalyst-native, DuckDB-portable)
# ---------------------------------------------------------------------------

# trailing zeros of the isolated lowest bit — integer-exact in both engines
_TZ = "bit_count((id & -id) - 1)"

SQL_BODIES = {
    # resolution: floor((59 - tz)/2); id 0 → 0; marker-57 ids with origin < 12
    # decode as res-0 face cells (DESIGN.md §3)
    "a5_get_resolution": (
        "(id BIGINT) RETURNS INT RETURN CAST(CASE WHEN id = 0 THEN 0 "
        f"WHEN {_TZ} = 57 AND shiftrightunsigned(id, 58) < 12 THEN 0 "
        f"ELSE (59 - {_TZ}) DIV 2 END AS INT)"
    ),
    # parent: clear everything below the new marker; res-0 maps quintant→face
    # (a res-0 input already stores the face id — identity, not DIV 5)
    "a5_cell_to_parent": (
        "(id BIGINT, target_res INT) RETURNS BIGINT RETURN "
        "CASE WHEN target_res = 0 THEN "
        "  CASE WHEN a5_get_resolution(id) = 0 THEN id "
        "  ELSE shiftleft(CAST(shiftrightunsigned(id, 58) DIV 5 AS BIGINT), 58) | shiftleft(CAST(1 AS BIGINT), 57) END "
        "ELSE (id & shiftleft(CAST(-1 AS BIGINT), 60 - 2 * target_res)) | shiftleft(CAST(1 AS BIGINT), 59 - 2 * target_res) END"
    ),
    # children: append each 2-bit suffix, marker two below (verified vs
    # expected/duckdb_examples.out:4); res-0 expands into 5 quintants first
    "a5_cell_to_children": (
        "(id BIGINT, target_res INT) RETURNS ARRAY<BIGINT> RETURN "
        "CASE WHEN a5_get_resolution(id) = 0 AND target_res = 1 AND shiftrightunsigned(id, 58) <= 2 THEN "
        # quintants 0-11 alias res-0 face ids (DESIGN.md §3) — refuse loudly
        "  array(CAST(raise_error('res-1 children of faces 0-2 are unrepresentable; use target_res >= 2') AS BIGINT)) "
        "WHEN a5_get_resolution(id) = 0 THEN "
        "  flatten(transform(sequence(CAST(0 AS BIGINT), CAST(4 AS BIGINT)), q -> "
        "    CASE WHEN target_res = 1 THEN "
        "      array(shiftleft(CAST(shiftrightunsigned(id, 58) AS BIGINT) * 5 + q, 58) | shiftleft(CAST(1 AS BIGINT), 57)) "
        "    ELSE transform(sequence(CAST(0 AS BIGINT), shiftleft(CAST(1 AS BIGINT), 2 * (target_res - 1)) - 1), s -> "
        "      shiftleft(CAST(shiftrightunsigned(id, 58) AS BIGINT) * 5 + q, 58) "
        "      | shiftleft(s, 60 - 2 * target_res) | shiftleft(CAST(1 AS BIGINT), 59 - 2 * target_res)) END)) "
        "WHEN target_res = a5_get_resolution(id) THEN array(id) "
        "ELSE transform(sequence(CAST(0 AS BIGINT), shiftleft(CAST(1 AS BIGINT), 2 * (target_res - a5_get_resolution(id))) - 1), s -> "
        "  (id ^ shiftleft(CAST(1 AS BIGINT), 59 - 2 * a5_get_resolution(id))) "
        "  | shiftleft(s, 60 - 2 * target_res) | shiftleft(CAST(1 AS BIGINT), 59 - 2 * target_res)) END"
    ),
    # containment = prefix equality (survey §1.3)
    "a5_cell_contains": (
        "(anc BIGINT, des BIGINT) RETURNS BOOLEAN RETURN "
        "a5_get_resolution(anc) <= a5_get_resolution(des) "
        "AND a5_cell_to_parent(des, a5_get_resolution(anc)) = anc"
    ),
    # counts/areas: 12 at res 0, 60·4^(r−1) after (src/lib.rs:159-169)
    "a5_get_num_cells": (
        "(res INT) RETURNS BIGINT RETURN "
        "CASE WHEN res = 0 THEN 12 ELSE shiftleft(CAST(60 AS BIGINT), 2 * (res - 1)) END"
    ),
    "a5_cell_area": (
        "(res INT) RETURNS DOUBLE RETURN "
        f"{areas.EARTH_AREA_M2!r} / a5_get_num_cells(res)"
    ),
    # deterministic valid-cell synthesizer (tests + DuckDB oracles): origin
    # 0..31 keeps ids positive and portable; res must be ≥ 2
    "a5_synth_cell": (
        "(key BIGINT, res INT) RETURNS BIGINT RETURN "
        "shiftleft(pmod(key, CAST(32 AS BIGINT)), 58) "
        "| shiftleft(pmod(key * 48271, shiftleft(CAST(1 AS BIGINT), 2 * (res - 1))), 60 - 2 * res) "
        "| shiftleft(CAST(1 AS BIGINT), 59 - 2 * res)"
    ),
}


# Registered after the pandas UDFs (they reference them).  DEFAULT parameters
# let reference SQL port verbatim: a5_cell_to_boundary(id) / (id, closed) /
# (id, closed, segments) all resolve (the reference overloads these arities,
# sql/a5pg--0.6.1.sql).
SQL_BODIES_POST = {
    "a5_cell_to_boundary": (
        "(id BIGINT, closed_ring BOOLEAN DEFAULT TRUE, segments INT DEFAULT -1) "
        "RETURNS ARRAY<ARRAY<DOUBLE>> RETURN a5_cell_to_boundary_impl(id, closed_ring, segments)"
    ),
    # a5_cell_to_geom (sql/a5pg--0.6.1.sql:90-117) returns a PostGIS geometry;
    # this engine carries no geometry type, so the geometry VALUE is its
    # serialized form: WKT (ST_AsText parity) and GeoJSON (ST_AsGeoJSON
    # parity); a5_cell_to_geom aliases the GeoJSON form.  Both delegate to
    # Arrow UDFs whose float formatting matches PostGIS 3's ryu printer
    # exactly (shortest round-trip repr / fixed-precision with zero-trim) —
    # validated character-for-character against
    # reference/tests/pg_regress/expected/postgis_wrapper.out:3-4 in
    # tests/test_functions_round2.py.
    "a5_cell_to_wkt": (
        "(id BIGINT, digits INT DEFAULT -1) RETURNS STRING RETURN "
        "a5_cell_to_wkt_impl(id, digits)"
    ),
    "a5_cell_to_geojson": (
        "(id BIGINT, digits INT DEFAULT 9) RETURNS STRING RETURN "
        "a5_cell_to_geojson_impl(id, digits)"
    ),
    "a5_cell_to_geom": (
        "(id BIGINT) RETURNS STRING RETURN a5_cell_to_geojson_impl(id, 9)"
    ),
    "a5pg_version": ("() RETURNS STRING RETURN '0.1.0'"),
    "a5pg_info": (
        "() RETURNS STRING RETURN "
        "to_json(named_struct('a5pg_spark_version', '0.1.0', 'a5_compat', '0.6.1'))"
    ),
}


def register(spark: SparkSession) -> None:
    """Register the full A5 function surface (SQL UDFs + pandas UDFs)."""
    for name, body in SQL_BODIES.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{body}")
    spark.udf.register("a5_lonlat_to_cell", _lonlat_to_cell_udf)
    spark.udf.register("a5_lonlat_to_cell_strict", _lonlat_to_cell_strict_udf)
    spark.udf.register("a5_cell_to_lonlat", _cell_to_lonlat_udf)
    spark.udf.register("a5_cell_to_lon", _cell_to_lon_udf)
    spark.udf.register("a5_cell_to_lat", _cell_to_lat_udf)
    spark.udf.register("a5_cell_to_boundary_impl", _cell_to_boundary_udf)
    spark.udf.register("a5_cell_to_wkt_impl", _cell_to_wkt_udf)
    spark.udf.register("a5_cell_to_geojson_impl", _cell_to_geojson_udf)
    spark.udf.register("a5_is_valid_i64", _is_valid_i64_udf)
    spark.udf.register("a5_compact", _compact_udf)
    spark.udf.register("a5_uncompact", _uncompact_udf)
    for name, body in SQL_BODIES_POST.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{body}")


# ---------------------------------------------------------------------------
# tier 2: Arrow pandas UDFs (projection math)
# ---------------------------------------------------------------------------


def _ids_i64(cell: pd.Series, validate: bool = True) -> tuple:
    """LongType series → ``(int64 ndarray, invalid bool ndarray)``.

    ``invalid`` marks rows whose 64-bit pattern is not a valid A5 id,
    checked UNIFORMLY across every Arrow→pandas backing dtype (previously
    only float64-backed batches were checked, so the same bad id passed or
    raised depending on per-batch null placement — an irreproducible
    failure surface).  Callers null those rows in their output, matching
    the reference's NULL-for-invalid decode semantics (``src/lib.rs:42-48``
    ``.ok()?``).  With ``validate=False`` the mask is all-False and raw
    patterns flow through (``a5_is_valid_i64``'s own path).

    Precision caveat: a batch that CONTAINS nulls arrives float64-backed
    (no types_mapper hook in pyspark 4.1), so ids with > 53 significant
    bits (res ≥ 25) are corrupted before this function sees them.  A
    corrupted id almost always breaks the marker-bit pattern and lands in
    ``invalid`` → NULL out (not a silently different cell); callers needing
    res ≥ 25 alongside nulls should pass ``coalesce(cell, 0)`` to keep the
    batch int64-backed.  Nulls themselves (masked separately by callers)
    become 0 here.
    """
    if cell.dtype == np.int64:
        ids = cell.to_numpy()
        nn = None  # no nulls possible in an int64-backed batch
    elif cell.dtype == np.float64:
        nn = ~cell.isna().to_numpy()
        ids = cell.fillna(0.0).to_numpy().astype("int64")
    else:
        # nullable Int64 / object: direct exact cast, no float64 intermediate
        nn = ~cell.isna().to_numpy()
        ids = cell.fillna(0).astype("int64").to_numpy()
    if not validate:
        return ids, np.zeros(len(ids), dtype=bool)
    invalid = ~bits.is_valid_structural(ids)
    if nn is not None:
        invalid &= nn  # nulls are not "invalid"; callers mask them already
    if invalid.any():
        # neutralize BEFORE the decode kernels run: a garbage origin (>= 60)
        # would index past the 12-face tables and crash the whole batch,
        # where the contract is NULL-per-row.  WORLD_CELL decodes safely and
        # these rows are masked out of every caller's output anyway.
        ids = np.where(invalid, bits.WORLD_CELL, ids)
    return ids, invalid


def _encode_batch(lon: pd.Series, lat: pd.Series, res: pd.Series, strict_i64: bool) -> pd.Series:
    """One Arrow batch of the encode: a NULL, NaN or infinite coordinate
    (which ``cells.lonlat_to_cell`` refuses) or a NULL res gives NULL."""
    lo = lon.to_numpy(dtype=np.float64, na_value=np.nan)
    la = lat.to_numpy(dtype=np.float64, na_value=np.nan)
    na = ~(np.isfinite(lo) & np.isfinite(la)) | res.isna().to_numpy()
    rs = res.to_numpy(dtype=np.float64, na_value=2.0).astype(np.int64)
    ids = cells.lonlat_to_cell(np.where(na, 0.0, lo), np.where(na, 0.0, la), rs,
                               strict_i64=strict_i64)
    out = pd.Series(ids, dtype="Int64")
    out[na] = pd.NA
    return out


@pandas_udf(LongType())
def _lonlat_to_cell_udf(lon: pd.Series, lat: pd.Series, res: pd.Series) -> pd.Series:
    return _encode_batch(lon, lat, res, strict_i64=False)


@pandas_udf(LongType())
def _lonlat_to_cell_strict_udf(lon: pd.Series, lat: pd.Series, res: pd.Series) -> pd.Series:
    """Reference-parity overflow mode: errors on ids above i64::MAX exactly
    like a5pg's BIGINT guard (``src/lib.rs:32-37``) instead of wrapping to
    two's complement (the engine default, DESIGN.md §2.4)."""
    return _encode_batch(lon, lat, res, strict_i64=True)


@pandas_udf(ArrayType(DoubleType()))
def _cell_to_lonlat_udf(cell: pd.Series) -> pd.Series:
    na = cell.isna()
    ids, bad = _ids_i64(cell)
    lon, lat = cells.cell_to_lonlat(ids)
    pairs = np.stack([lon, lat], axis=-1)
    out = pd.Series(list(pairs))
    out[na.to_numpy() | bad] = None
    return out


@pandas_udf(DoubleType())
def _cell_to_lon_udf(cell: pd.Series) -> pd.Series:
    na = cell.isna()
    ids, bad = _ids_i64(cell)
    lon, _ = cells.cell_to_lonlat(ids)
    out = pd.Series(lon)
    out[na.to_numpy() | bad] = np.nan
    return out


@pandas_udf(DoubleType())
def _cell_to_lat_udf(cell: pd.Series) -> pd.Series:
    na = cell.isna()
    ids, bad = _ids_i64(cell)
    _, lat = cells.cell_to_lonlat(ids)
    out = pd.Series(lat)
    out[na.to_numpy() | bad] = np.nan
    return out


@pandas_udf(ArrayType(ArrayType(DoubleType())))
def _cell_to_boundary_udf(
    cell: pd.Series, closed: pd.Series, segments: pd.Series
) -> pd.Series:
    na = cell.isna()
    ids, bad = _ids_i64(cell)
    # closed/segments may vary per row: group by the distinct (closed, seg)
    # pairs in the batch (callers passing literals pay for one group)
    cl = closed.fillna(True).astype(bool).to_numpy()
    sg = segments.fillna(-1).astype("int64").to_numpy()
    out_arr = np.empty(len(ids), dtype=object)
    for key in {(bool(c), int(s)) for c, s in zip(cl, sg)}:
        m = (cl == key[0]) & (sg == key[1])
        seg_v = key[1] if key[1] > 0 else None
        rings = cells.cell_to_boundary_batch(ids[m], closed_ring=key[0], segments=seg_v)
        for i, r in zip(np.nonzero(m)[0], rings):
            out_arr[i] = r.tolist()
    out = pd.Series(out_arr)
    out[na.to_numpy() | bad] = None
    return out


def _pg_double(x: float) -> str:
    """PostGIS 3 ryu float printing: shortest round-trip decimal, no ``.0``
    suffix on integral values (lwprint_double with OUT_MAX_DIGITS) — Python's
    repr is the same shortest-repr family; validated char-for-char against
    ``expected/postgis_wrapper.out:3`` (ST_AsText output)."""
    s = repr(x + 0.0)  # +0.0 normalizes -0.0
    return s[:-2] if s.endswith(".0") else s


def _pg_double_fixed(x: float, digits: int) -> str:
    """PostGIS fixed-precision printing (ST_AsGeoJSON maxdecimaldigits):
    round to ``digits`` decimals, trim trailing zeros and a bare point —
    validated against ``expected/postgis_wrapper.out:4``."""
    s = f"{x:.{digits}f}".rstrip("0").rstrip(".")
    return "0" if s in ("-0", "") else s


@pandas_udf(StringType())
def _cell_to_wkt_udf(cell: pd.Series, digits: pd.Series) -> pd.Series:
    """``ST_AsText(a5_cell_to_geom(id), digits)`` parity: POLYGON((x y,...))
    with PostGIS ryu float formatting; digits < 0 → full shortest-repr
    precision (the 1-arg ST_AsText default)."""
    na = cell.isna()
    ids, bad = _ids_i64(cell)
    dg = digits.fillna(-1).astype("int64").to_numpy()
    rings = cells.cell_to_boundary_batch(ids, closed_ring=True)
    out_arr = np.empty(len(ids), dtype=object)
    for i, ring in enumerate(rings):
        d = int(dg[i])
        fmt = _pg_double if d < 0 else (lambda v, _d=d: _pg_double_fixed(v, _d))
        out_arr[i] = (
            "POLYGON(("
            + ",".join(f"{fmt(x)} {fmt(y)}" for x, y in ring)
            + "))"
        )
    out = pd.Series(out_arr)
    out[na.to_numpy() | bad] = None
    return out


@pandas_udf(StringType())
def _cell_to_geojson_udf(cell: pd.Series, digits: pd.Series) -> pd.Series:
    """``ST_AsGeoJSON(a5_cell_to_geom(id), digits)`` parity; digits < 0 →
    full shortest-repr precision."""
    na = cell.isna()
    ids, bad = _ids_i64(cell)
    dg = digits.fillna(9).astype("int64").to_numpy()
    rings = cells.cell_to_boundary_batch(ids, closed_ring=True)
    out_arr = np.empty(len(ids), dtype=object)
    for i, ring in enumerate(rings):
        d = int(dg[i])
        fmt = _pg_double if d < 0 else (lambda v, _d=d: _pg_double_fixed(v, _d))
        coords = ",".join(f"[{fmt(x)},{fmt(y)}]" for x, y in ring)
        out_arr[i] = '{"type":"Polygon","coordinates":[[' + coords + "]]}"
    out = pd.Series(out_arr)
    out[na.to_numpy() | bad] = None
    return out


@pandas_udf(BooleanType())
def _is_valid_i64_udf(cell: pd.Series) -> pd.Series:
    # validate=False: this function's whole job is to report invalid ids,
    # so _ids_i64 must hand over the raw bit patterns unmasked
    na = cell.isna()
    ids, _ = _ids_i64(cell, validate=False)
    out = pd.Series(bits.is_valid_i64(ids), dtype="boolean")
    out[na.to_numpy()] = pd.NA  # STRICT: NULL in -> NULL out, not true
    return out


@pandas_udf(ArrayType(LongType()))
def _uncompact_udf(arr: pd.Series, target_res: pd.Series) -> pd.Series:
    """Array-valued ``a5_uncompact`` (verbatim signature of src/lib.rs:207-222).

    A SQL-UDF body can't call another SQL UDF on a lambda variable (Spark
    analyzer limitation), so this is an Arrow UDF over the NumPy kernel; the
    scalable column-level form is operators/compaction.uncompact_cells."""
    out = []
    for v, tr in zip(arr, target_res):
        if v is None or tr is None:
            out.append(None)
        else:
            out.append([int(c) for c in bits.uncompact(np.asarray(v, dtype=np.int64), int(tr))])
    return pd.Series(out)


@pandas_udf(ArrayType(LongType()))
def _compact_udf(arr: pd.Series) -> pd.Series:
    """Array-valued ``a5_compact`` (verbatim signature of src/lib.rs:189-204).

    The reference's compact is an array scalar — arrays are small by usage;
    column-level compaction at scale lives in operators/compaction.py."""
    out = []
    for v in arr:
        if v is None:
            out.append(None)
        else:
            out.append([int(c) for c in bits.compact(np.asarray(v, dtype=np.int64))])
    return pd.Series(out)


# ---------------------------------------------------------------------------
# DataFrame Column API (thin wrappers; SQL names resolve after register())
# ---------------------------------------------------------------------------


def a5_lonlat_to_cell(lon, lat, res) -> Column:
    return _lonlat_to_cell_udf(
        F.col(lon) if isinstance(lon, str) else lon,
        F.col(lat) if isinstance(lat, str) else lat,
        F.lit(res) if isinstance(res, int) else res,
    )


def a5_cell_to_lonlat(cell) -> Column:
    return _cell_to_lonlat_udf(F.col(cell) if isinstance(cell, str) else cell)


def a5_cell_to_lon(cell) -> Column:
    return _cell_to_lon_udf(F.col(cell) if isinstance(cell, str) else cell)


def a5_cell_to_lat(cell) -> Column:
    return _cell_to_lat_udf(F.col(cell) if isinstance(cell, str) else cell)


def a5_cell_to_boundary(cell, closed_ring: bool = True, segments: int = -1) -> Column:
    return _cell_to_boundary_udf(
        F.col(cell) if isinstance(cell, str) else cell,
        F.lit(closed_ring),
        F.lit(segments),
    )


def a5_get_resolution(cell) -> Column:
    return F.call_function("a5_get_resolution", F.col(cell) if isinstance(cell, str) else cell)


def a5_cell_to_parent(cell, target_res) -> Column:
    return F.call_function(
        "a5_cell_to_parent",
        F.col(cell) if isinstance(cell, str) else cell,
        F.lit(target_res) if isinstance(target_res, int) else target_res,
    )


def a5_cell_to_children(cell, target_res) -> Column:
    return F.call_function(
        "a5_cell_to_children",
        F.col(cell) if isinstance(cell, str) else cell,
        F.lit(target_res) if isinstance(target_res, int) else target_res,
    )


def a5_cell_contains(anc, desc) -> Column:
    return F.call_function(
        "a5_cell_contains",
        F.col(anc) if isinstance(anc, str) else anc,
        F.col(desc) if isinstance(desc, str) else desc,
    )


def a5_cell_area(res) -> Column:
    return F.call_function("a5_cell_area", F.lit(res) if isinstance(res, int) else res)


def a5_get_num_cells(res) -> Column:
    return F.call_function("a5_get_num_cells", F.lit(res) if isinstance(res, int) else res)


def a5_get_res0_cells() -> Column:
    return F.array(*[F.lit(int(c)) for c in areas.res0_cells()])


def a5_synth_cell(key, res) -> Column:
    return F.call_function(
        "a5_synth_cell",
        F.col(key) if isinstance(key, str) else key,
        F.lit(res) if isinstance(res, int) else res,
    )
