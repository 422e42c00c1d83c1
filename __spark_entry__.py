"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship A5 tiling query on sf0.001.
``queries()`` / ``oracle_sql()`` — views of one registry, ``_CATALOG``,
that declares each of the 59 queries (one per implemented operator,
SURVEY.md §2) once, with its Spark run and its DuckDB oracle.  The
correctness gate compares the two at sf0.01;
``tests/test_catalog_oracles.py`` compares all 59 at sf0.001.

Importing this module reads no input file: an oracle that a builder makes
is built when it is read.  ``embed_ann_ivf``'s builder reads the embeddings
of the scale factor it is built for (its centroids).  The committed
elephant layer (``sources/polygons.ELEPHANT_GEOJSON``) is read only when
``spatial_join_elephant`` or ``a5_dissolve_export`` runs, and when their
two oracles are read.

Conventions shared by both sides (so value-hashes match):
* synthetic valid A5 cells from integer keys (the parquet corpus has no
  coordinates):  origin = key mod 32, Hilbert S = key·48271 mod 4^(res−1),
  marker per the verified bit layout (a5pg_spark/core/bits.py).
* deterministic capture points from keys:
  lon = (key·2654435761 mod 360000000)/1e6 − 180,
  lat = (key·987654321986 mod 180000000)/1e6 − 90.
* float aggregates are rounded to 4 decimals on both sides.
"""

from __future__ import annotations

import inspect
from collections.abc import Callable, Iterator, Mapping

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_REGISTERED: set = set()


def _prep(spark: SparkSession, sf_dir: str) -> None:
    """Register A5 functions + parquet views once per (session, sf_dir)."""
    from a5pg_spark import functions as A
    from a5pg_spark.session import SQL_CONF

    key = (id(spark), sf_dir)
    if key in _REGISTERED:
        return
    # the harness may hand us a session that get_spark did not make
    for k, v in SQL_CONF.items():
        spark.conf.set(k, v)
    A.register(spark)
    for t in TABLES:
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        if t == "embeddings":
            # record the embedding width as column metadata (footer-side
            # pyarrow peek, NOT a Spark job) so no ANN operator ever runs a
            # one-row dimension-probe job (round-4 ADVICE #7)
            from a5pg_spark.operators.similarity import with_dim_metadata

            df = with_dim_metadata(df, "embedding", _peek_embedding_dim(sf_dir))
        df.createOrReplaceTempView(t)
    _REGISTERED.add(key)


def _peek_embedding_dim(sf_dir: str) -> int:
    """Embedding width from ONE parquet value via pyarrow (driver-local, ~ms;
    the list width is not in the footer schema, so read a single row)."""
    import pyarrow.dataset as pa_ds

    # a dataset reads the single-file and the directory layout alike
    table = pa_ds.dataset(f"{sf_dir}/embeddings.parquet", format="parquet").head(
        1, columns=["embedding"])
    return len(table.column(0)[0])


# deterministic capture-point derivation (identical text in both dialects)
# NB: lat uses an independent multiplier — dividing the lon hash by 360e6
# degenerates to ~-90 for realistic key ranges (poor mixing)
_PT = (
    "(({k} * 2654435761) % 360000000) / 1e6 - 180.0 AS lon, "
    "(({k} * 987654321986) % 180000000) / 1e6 - 90.0 AS lat"
)
_PT_SPARK = _PT.replace("//", "DIV")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: derive capture points for every order, assign res-7 A5 cells
    (Arrow pandas UDF), roll up to res-3 parents (native bit expr), return the
    hot-cell histogram with cell areas — scan → vectorized encode → shuffle
    agg, the skeleton of the 100 TB tiling pipeline."""
    from a5pg_spark.core import areas

    sf_dir = "/root/testdata/sf0.001"
    _prep(spark, sf_dir)
    area_km2 = round(areas.cell_area(3) / 1e6, 4)  # constant-fold driver-side
    return spark.sql(f"""
        WITH pts AS (
          SELECT o_orderkey, {_PT_SPARK.format(k="o_orderkey")}
          FROM orders
        ),
        cells AS (
          SELECT a5_lonlat_to_cell(lon, lat, 7) AS cell FROM pts
        )
        SELECT a5_cell_to_parent(cell, 3) AS parent_cell,
               COUNT(*) AS n_points,
               {area_km2!r} AS cell_area_km2
        FROM cells
        GROUP BY 1
        ORDER BY n_points DESC, parent_cell
        LIMIT 50
    """)


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

def _q(sql_spark: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _prep(spark, sf_dir)
        # __RP__ = session core count for REPARTITION hints (scale-adaptive:
        # local[N] and a cluster both resolve to their real parallelism; an
        # explicit count so AQE's byte-based coalescing can't undo it on
        # compute-heavy-but-slim rows — see plans/partitioning.fan_out_scan)
        if "__RP__" in sql_spark:
            return spark.sql(sql_spark.replace(
                "__RP__", str(spark.sparkContext.defaultParallelism)))
        return spark.sql(sql_spark)

    return run


# -- A5 hierarchy family (exact ANSI oracles: pure bit arithmetic) ----------

# synthetic cell expressions, per dialect
def _synth_spark(key: str, res: int) -> str:
    return f"a5_synth_cell({key}, {res})"


def _synth_duck(key: str, res: int) -> str:
    return (
        # NB: DuckDB/Postgres bitwise ops are same-precedence left-assoc —
        # every operand must be fully parenthesized
        f"(((((({key})::BIGINT) % 32) << 58)) "
        f"| ((((({key})::BIGINT) * 48271) % (1::BIGINT << {2 * (res - 1)})) << {60 - 2 * res}) "
        f"| (1::BIGINT << {59 - 2 * res}))"
    )


def _parent_duck(c: str, res: int) -> str:
    # DuckDB refuses shifting negative numbers: build the high mask as ~(2^k−1)
    return f"((({c}) & (~((1::BIGINT << {60 - 2 * res}) - 1))) | (1::BIGINT << {59 - 2 * res}))"


def _res_duck(c: str) -> str:
    return f"((59 - bit_count((({c}) & -({c})) - 1)) // 2)"


# 1. resolution histogram over synthetic cells at mixed resolutions
_A5_RESOLUTION_HISTOGRAM_SQL = """
    SELECT a5_get_resolution(a5_synth_cell(l_orderkey * 8 + l_linenumber,
                             CAST(2 + pmod(l_partkey, 6) AS INT))) AS res,
           COUNT(*) AS n
    FROM lineitem GROUP BY 1 ORDER BY res
"""
_A5_RESOLUTION_HISTOGRAM_ORACLE = f"""
    WITH c AS (
      SELECT CASE p WHEN 2 THEN {_synth_duck('k', 2)} WHEN 3 THEN {_synth_duck('k', 3)}
                    WHEN 4 THEN {_synth_duck('k', 4)} WHEN 5 THEN {_synth_duck('k', 5)}
                    WHEN 6 THEN {_synth_duck('k', 6)} ELSE {_synth_duck('k', 7)} END AS cell
      FROM (SELECT l_orderkey * 8 + l_linenumber AS k, 2 + (l_partkey % 6) AS p FROM lineitem)
    )
    SELECT {_res_duck('cell')} AS res, COUNT(*) AS n FROM c GROUP BY 1 ORDER BY res
"""

# 2. parent rollup: res-8 cells → res-4 parents, weighted by quantity
_A5_PARENT_ROLLUP_SQL = """
    SELECT a5_cell_to_parent(a5_synth_cell(l_orderkey * 8 + l_linenumber, 8), 4) AS parent_cell,
           COUNT(*) AS n, ROUND(SUM(l_quantity), 4) AS sum_qty
    FROM lineitem GROUP BY 1 ORDER BY parent_cell
"""
_A5_PARENT_ROLLUP_ORACLE = f"""
    SELECT {_parent_duck(_synth_duck('l_orderkey * 8 + l_linenumber', 8), 4)} AS parent_cell,
           COUNT(*) AS n, ROUND(SUM(l_quantity), 4) AS sum_qty
    FROM lineitem GROUP BY 1 ORDER BY parent_cell
"""

# 3. children expansion (4^Δ law as data): res-3 cells of orders → res-5.
# The per-cell rows are folded into an order-insensitive digest (count +
# portable modular row-hash sum) so the plan carries NO terminal global sort
# — the old ORDER BY cell over the full exploded output was a pure
# oracle-hash artifact that range-partitioned the result at every scale
# (round-3 VERDICT).  The digest arithmetic is textually identical on both
# engines; any per-cell count or id discrepancy still breaks it.
_A5_CHILDREN_EXPAND_SQL = """
    SELECT COUNT(*) AS n_children, CAST(SUM(n) AS BIGINT) AS total_n,
           SUM(((cell % 999999937) + 999999937) % 999999937 * 16 + n) AS digest
    FROM (
      SELECT child AS cell, CAST(SUM(n) AS BIGINT) AS n
      FROM (SELECT explode(kids) AS child, n FROM
            (SELECT a5_cell_to_children(c3, 5) AS kids, n FROM
             (SELECT a5_synth_cell(o_orderkey, 3) AS c3, COUNT(*) AS n
              FROM orders GROUP BY 1)))
      GROUP BY 1)
"""
# NOTE: aggregation is pushed BELOW the explode (children are deterministic
# per parent, so exploding pre-counted parents is algebraically identical to
# counting exploded rows) — the naive shape shuffles 16x the input; the
# DuckDB oracle below still computes it naively and must hash-match.
_A5_CHILDREN_EXPAND_ORACLE = f"""
    WITH base AS (SELECT {_synth_duck('o_orderkey', 3)} AS c FROM orders),
    kids AS (
      SELECT ((c - (1::BIGINT << 53)) | (s << 50)) | (1::BIGINT << 49) AS child
      FROM base, (SELECT unnest(range(0, 16)) AS s)
    ),
    percell AS (SELECT child AS cell, COUNT(*) AS n FROM kids GROUP BY 1)
    SELECT COUNT(*) AS n_children, CAST(SUM(n) AS BIGINT) AS total_n,
           CAST(SUM(((cell % 999999937) + 999999937) % 999999937 * 16 + n)
                AS BIGINT) AS digest
    FROM percell
"""

# 4. prefix containment semi-join: nation ancestors (res 4) × lineitem
#    descendants (res 9) — the equi-join-on-cell-prefix pattern of the
#    spatial join (SURVEY.md §2.4.1)
_A5_CONTAINS_SEMIJOIN_SQL = """
    WITH anc AS (SELECT DISTINCT a5_synth_cell(n_nationkey, 4) AS a FROM nation),
    des AS (SELECT a5_synth_cell(l_orderkey * 8 + l_linenumber, 9) AS d FROM lineitem)
    SELECT a AS ancestor_cell, COUNT(*) AS n_desc
    FROM des JOIN anc ON a5_cell_to_parent(d, 4) = a
    GROUP BY 1 ORDER BY ancestor_cell
"""
_A5_CONTAINS_SEMIJOIN_ORACLE = f"""
    WITH anc AS (SELECT DISTINCT {_synth_duck('n_nationkey', 4)} AS a FROM nation),
    des AS (SELECT {_synth_duck('l_orderkey * 8 + l_linenumber', 9)} AS d FROM lineitem)
    SELECT a AS ancestor_cell, COUNT(*) AS n_desc
    FROM des JOIN anc ON {_parent_duck('d', 4)} = a
    GROUP BY 1 ORDER BY ancestor_cell
"""

# 4b. tile pyramid: per-resolution cell counts res 9 → 4 in ONE pass.
# GROUPING SETS over the precomputed parent ladder = Catalyst Expand (+6x
# in-memory row amplification absorbed by the map-side partial hash agg), so
# the single shuffle carries only ~Σ|cells_r| aggregated rows — the OLAP-cube
# shape for building a tile pyramid over 100 TB in one scan, vs. 6 rescans
# (union of per-level aggs) or an agg cascade that needs persist() between
# levels.  Per-level digest keeps the plan free of a terminal global sort
# (res ladder itself is a 6-row sort).  Mirrors the rollup a tile server
# would precompute from a5pg cells (reference: a5_cell_to_parent,
# src/lib.rs hierarchy fns).
_PYR_PARENTS = ", ".join(
    f"a5_cell_to_parent(c9, {r}) AS p{r}" for r in range(4, 9)
)
_PYR_SETS = ", ".join(f"(p{r})" for r in range(9, 3, -1))
# r06: aggregate to the finest level (c9) BEFORE the GROUPING SETS Expand —
# children/parents are functions of c9, so cube-ing pre-counted res-9 cells
# is algebraically identical to cube-ing raw rows (counts re-add; the digest
# is an exact integer sum), but the 6x Expand amplification now applies to
# |distinct c9| (~1.8M at sf1.0) instead of |lineitem| (6M), and the first
# shuffle carries pre-combined (c9, n) partials.  Same #exchanges-per-level
# guarantees (tests/test_plan_health.py still pins ONE scan / ONE Expand /
# ONE p9-keyed exchange); measured 2.37 -> 0.95 s at sf1.0, hash-equal.
_A5_TILE_PYRAMID_SQL = f"""
    WITH pts AS (SELECT a5_synth_cell(l_orderkey * 8 + l_linenumber, 9) AS c9
                 FROM lineitem),
    agg9 AS (SELECT c9, COUNT(*) AS n0 FROM pts GROUP BY c9),
    lv AS (SELECT c9 AS p9, {_PYR_PARENTS}, n0 FROM agg9),
    g AS (
      SELECT coalesce(p9, p8, p7, p6, p5, p4) AS cell,
             CAST(SUM(n0) AS BIGINT) AS n
      FROM lv GROUP BY GROUPING SETS ({_PYR_SETS})
    )
    SELECT a5_get_resolution(cell) AS res, COUNT(*) AS n_cells,
           CAST(SUM(n) AS BIGINT) AS total_n,
           SUM(((cell % 999999937) + 999999937) % 999999937 * 16 + n) AS digest
    FROM g GROUP BY 1 ORDER BY res
"""
_PYR_ORACLE_LEVELS = "\n      UNION ALL ".join(
    ["SELECT c9 AS cell, COUNT(*) AS n FROM pts GROUP BY 1"]
    + [
        f"SELECT {_parent_duck('c9', r)} AS cell, COUNT(*) AS n FROM pts GROUP BY 1"
        for r in range(8, 3, -1)
    ]
)
_A5_TILE_PYRAMID_ORACLE = f"""
    WITH pts AS (SELECT {_synth_duck('l_orderkey * 8 + l_linenumber', 9)} AS c9
                 FROM lineitem),
    g AS (
      {_PYR_ORACLE_LEVELS}
    )
    SELECT {_res_duck('cell')} AS res, COUNT(*) AS n_cells,
           CAST(SUM(n) AS BIGINT) AS total_n,
           CAST(SUM(((cell % 999999937) + 999999937) % 999999937 * 16 + n)
                AS BIGINT) AS digest
    FROM g GROUP BY 1 ORDER BY res
"""

# 5. uncompact cover: region cells res 2 → res 4 descendants (digest form —
# same no-terminal-sort rationale as a5_children_expand above)
_A5_UNCOMPACT_COVER_SQL = """
    SELECT COUNT(*) AS n_cells,
           SUM(((cell % 999999937) + 999999937) % 999999937 * 32 + res) AS digest
    FROM (
      SELECT child AS cell, a5_get_resolution(child) AS res
      FROM (SELECT explode(kids) AS child FROM
            (SELECT a5_cell_to_children(a5_synth_cell(r_regionkey + 1, 2), 4) AS kids FROM region)))
"""
_A5_UNCOMPACT_COVER_ORACLE = f"""
    WITH base AS (SELECT {_synth_duck('r_regionkey + 1', 2)} AS c FROM region),
    kids AS (
      SELECT ((c - (1::BIGINT << 55)) | (s << 52)) | (1::BIGINT << 51) AS child
      FROM base, (SELECT unnest(range(0, 16)) AS s)
    )
    SELECT COUNT(*) AS n_cells,
           CAST(SUM(((child % 999999937) + 999999937) % 999999937 * 32
                    + {_res_duck('child')}) AS BIGINT) AS digest
    FROM kids
"""

# 7. counts & areas table (res 0..12) — constant-foldable dimension
_A5_NUM_CELLS_AREA_SQL = """
    SELECT CAST(id AS INT) AS res, a5_get_num_cells(CAST(id AS INT)) AS n_cells,
           ROUND(a5_cell_area(CAST(id AS INT)), 2) AS area_m2
    FROM range(0, 13) ORDER BY res
"""
_A5_NUM_CELLS_AREA_ORACLE = f"""
    SELECT CAST(r AS INT) AS res,
           CASE WHEN r = 0 THEN 12 ELSE 60::BIGINT << (2 * (r - 1)) END AS n_cells,
           ROUND(510065621724088.7 / CASE WHEN r = 0 THEN 12 ELSE 60::BIGINT << (2 * (r - 1)) END, 2) AS area_m2
    FROM (SELECT unnest(range(0, 13)) AS r) ORDER BY res
"""

# 8. the 12 res-0 base cells (world cell golden among them)
_A5_RES0_CELLS_SQL = """
    SELECT shiftleft(CAST(id AS BIGINT), 58) | shiftleft(CAST(1 AS BIGINT), 57) AS cell
    FROM range(0, 12) ORDER BY cell
"""
_A5_RES0_CELLS_ORACLE = """
    SELECT ((f << 58) | (1::BIGINT << 57)) AS cell
    FROM (SELECT unnest(range(0, 12)) AS f) ORDER BY cell
"""

# boundary corner vertices (segments=1, open ring): the cell triangle's
# entry/apex/exit corners through the exact inverse projection — DuckDB
# replicates the whole chain (oracle_gen.boundary_corners_cte_chain);
# 9-decimal rounding absorbs the documented hypot-vs-sqrt ulp delta
_A5_BOUNDARY_VERTICES_SQL = """
    SELECT rid, pos AS vid, ROUND(p[0], 9) AS vlon, ROUND(p[1], 9) AS vlat
    FROM (SELECT rid, posexplode(b) AS (pos, p) FROM
          (SELECT n_nationkey AS rid,
                  a5_cell_to_boundary(a5_synth_cell(n_nationkey + 1, 6), false, 1) AS b
           FROM nation))
    ORDER BY rid, vid
"""


def _boundary_vertices_oracle_sql(res: int = 6) -> str:
    from a5pg_spark.oracle_gen import boundary_corners_cte_chain

    ctes, final = boundary_corners_cte_chain(res)
    return f"""
    WITH ids AS (SELECT n_nationkey AS key,
                        ((n_nationkey + 1) % 32) AS origin,
                        ((n_nationkey + 1) * 48271) % {1 << (2 * (res - 1))} AS s
                 FROM nation),
    encfq AS (SELECT key, origin // 5 AS face, origin % 5 AS q, s FROM ids),
    {ctes}
    SELECT key AS rid, vid, ROUND(vlon, 9) AS vlon, ROUND(vlat, 9) AS vlat
    FROM {final} ORDER BY rid, vid
"""


# -- projection family (exact oracles through oracle_gen's encode chain) -----

_A5_ENCODE_POINTS_ROLLUP_SQL = f"""
    WITH pts AS (SELECT o_orderkey, {_PT_SPARK.format(k="o_orderkey")} FROM orders),
    c AS (SELECT a5_lonlat_to_cell(lon, lat, 7) AS cell FROM pts)
    SELECT a5_cell_to_parent(cell, 3) AS parent_cell, COUNT(*) AS n
    FROM c GROUP BY 1 ORDER BY parent_cell
"""


def _encode_oracle_sql() -> str:
    """Exact DuckDB oracle for the res-7 encode rollup: the generated CTE
    chain reproduces core.cells.lonlat_to_cell bit-for-bit (oracle_gen.py;
    verified on 50k random points at res 3/7/10)."""
    from a5pg_spark.oracle_gen import encode_cte_chain

    ctes, final = encode_cte_chain(7)
    return f"""
    WITH pts AS (SELECT o_orderkey AS key, {_PT.format(k="o_orderkey")} FROM orders),
    {ctes}
    SELECT {_parent_duck('cell', 3)} AS parent_cell, COUNT(*) AS n
    FROM {final} GROUP BY 1 ORDER BY parent_cell
"""


_A5_ROUNDTRIP_QUALITY_SQL = f"""
    WITH pts AS (SELECT o_orderkey, {_PT_SPARK.format(k="o_orderkey")} FROM orders),
    rt AS (
      SELECT lon, lat,
             a5_cell_to_lon(a5_lonlat_to_cell(lon, lat, 10)) AS clon,
             a5_cell_to_lat(a5_lonlat_to_cell(lon, lat, 10)) AS clat
      FROM pts
    )
    SELECT COUNT(*) AS n,
           CAST(SUM(CASE WHEN ABS(clat - lat) < 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS lat_close,
           CAST(SUM(CASE WHEN ABS(clon - lon) < 0.2 OR ABS(lat) > 85 THEN 1 ELSE 0 END) AS BIGINT) AS lon_close
    FROM rt
"""


def _roundtrip_oracle_sql() -> str:
    """DuckDB oracle for the res-10 round trip: exact encode chain + the
    closed-form inverse (decode feeds 0.1-degree tolerance flags only, so the
    inverse need not be bit-exact — the counts are stable)."""
    from a5pg_spark.oracle_gen import decode_center_cte_chain, encode_cte_chain

    enc_ctes, _ = encode_cte_chain(10)
    dec_ctes, final = decode_center_cte_chain(10, src="encfq")
    return f"""
    WITH pts AS (SELECT o_orderkey AS key, {_PT.format(k="o_orderkey")} FROM orders),
    {enc_ctes},
    encfq AS (SELECT b.key, p.lon, p.lat, b.face, b.q, b.s
              FROM bis18 b JOIN pts p USING (key)),
    {dec_ctes}
    SELECT COUNT(*) AS n,
           CAST(SUM(CASE WHEN ABS(clat - lat) < 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS lat_close,
           CAST(SUM(CASE WHEN ABS(clon - lon) < 0.2 OR ABS(lat) > 85 THEN 1 ELSE 0 END) AS BIGINT) AS lon_close
    FROM {final}
"""


# -- relational repertoire (SURVEY.md §2.2) — exact oracles -----------------

# 4c. salted skew join (SURVEY §2.4.5 as a first-class oracle-checked query).
# One third of the fact rows land on ONE hot cell; the per-cell dim side is
# replicated across 8 salt buckets and the join runs on (cell, salt) under a
# SHUFFLE_HASH hint (a broadcast would hide the skew; at 100 TB the dim side
# of a cell-stats join is itself cell-count-sized and shuffles).  The hot
# cell's rows spread over 8 tasks instead of one straggler.  Salt is
# Spark-side only (xxhash64) — it provably cannot change the result (the dim
# carries every salt), so the DuckDB oracle is the PLAIN join+agg.  All
# money math is integer (floor(price*100+0.5)) — bit-exact across engines.
_SKEW_SALTED_JOIN_SQL = """
    WITH fact AS (
      SELECT a5_synth_cell(CASE WHEN pmod(l_orderkey, 3) = 0 THEN 77
                                ELSE pmod(l_partkey, 2000) END, 6) AS cell,
             CAST(l_quantity AS BIGINT) AS qty,
             pmod(xxhash64(l_orderkey * 8 + l_linenumber), 8) AS salt
      FROM lineitem),
    dim AS (
      SELECT a5_synth_cell(pmod(p_partkey, 2000), 6) AS cell,
             MAX(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)) AS w
      FROM part GROUP BY 1),
    dim_r AS (SELECT cell, w, explode(sequence(0L, 7L)) AS salt FROM dim),
    j AS (
      SELECT /*+ SHUFFLE_HASH(d) */ f.cell AS cell, COUNT(*) AS n,
             SUM(f.qty * d.w) AS rev
      FROM fact f JOIN dim_r d ON f.cell = d.cell AND f.salt = d.salt
      GROUP BY f.cell)
    SELECT COUNT(*) AS n_cells, CAST(SUM(n) AS BIGINT) AS total_rows,
           CAST(SUM(rev) AS BIGINT) AS total_rev,
           SUM(((cell % 999999937) + 999999937) % 999999937 * 31 + n) AS digest
    FROM j
"""
_SKEW_SALTED_JOIN_ORACLE = f"""
    WITH fact AS (
      SELECT {_synth_duck("CASE WHEN (l_orderkey % 3) = 0 THEN 77 ELSE (l_partkey % 2000) END", 6)} AS cell,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem),
    dim AS (
      SELECT {_synth_duck("p_partkey % 2000", 6)} AS cell,
             MAX(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)) AS w
      FROM part GROUP BY 1),
    j AS (
      SELECT f.cell AS cell, COUNT(*) AS n, SUM(f.qty * d.w) AS rev
      FROM fact f JOIN dim d ON f.cell = d.cell
      GROUP BY f.cell)
    SELECT COUNT(*) AS n_cells, CAST(SUM(n) AS BIGINT) AS total_rows,
           CAST(SUM(rev) AS BIGINT) AS total_rev,
           CAST(SUM(((cell % 999999937) + 999999937) % 999999937 * 31 + n)
                AS BIGINT) AS digest
    FROM j
"""

_REL_AGG_PRICING_SQL = """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_disc_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
"""

# r06: pre-aggregate orders by o_custkey BEFORE the join (guide §2.3
# "aggregate before you shuffle").  custkey -> mktsegment is functional, so
# COUNT(DISTINCT o_custkey) per segment == COUNT(*) of custkey groups with
# >= 1 order, SUM/COUNT distribute over the custkey partials, and the DECIMAL
# partial sums re-add exactly (decimal addition is associative) — the rewrite
# is algebraically identical to the oracle's plain join+distinct-agg, and it
# replaces Spark's two-phase distinct-aggregate expansion of 1.5M join rows
# with one 150k-group rollup feeding a broadcast join (measured 2.7 -> 1.6 s
# at sf1.0; hash-equal vs the unchanged oracle).
_REL_JOIN_SEGMENT_REVENUE_SQL = """
    WITH o AS (SELECT o_custkey,
                      SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS tp,
                      COUNT(*) AS n
               FROM orders GROUP BY o_custkey)
    SELECT c_mktsegment,
           ROUND(CAST(SUM(tp) AS DOUBLE), 4) AS revenue,
           CAST(SUM(n) AS BIGINT) AS n_orders,
           COUNT(*) AS n_customers
    FROM o JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
"""
_REL_JOIN_SEGMENT_REVENUE_ORACLE = """
    SELECT c_mktsegment,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_customers
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
"""

_REL_WINDOW_USER_TOPK_SQL = """
    SELECT event_type, COUNT(*) AS n, ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
    FROM (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rk
      FROM events
    )
    WHERE rk <= 3
    GROUP BY event_type ORDER BY event_type
"""

# -- training-data ops over documents/embeddings ----------------------------

_DEDUP_EXACT_DOCS_SQL = """
    SELECT COUNT(*) AS n_groups,
           CAST(SUM(n) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT) AS n_removable
    FROM (SELECT md5(text) AS h, COUNT(*) AS n FROM documents GROUP BY 1)
"""

_TEXT_LANG_STATS_SQL = """
    SELECT lang, COUNT(*) AS n_docs,
           ROUND(AVG(n_chars), 4) AS avg_chars,
           ROUND(AVG(size(split(trim(text), '\\\\s+'))), 4) AS avg_tokens
    FROM documents GROUP BY lang ORDER BY lang
"""
_TEXT_LANG_STATS_ORACLE = """
    SELECT lang, COUNT(*) AS n_docs,
           ROUND(AVG(n_chars), 4) AS avg_chars,
           ROUND(AVG(len(regexp_split_to_array(trim(text), '\\s+'))), 4) AS avg_tokens
    FROM documents GROUP BY lang ORDER BY lang
"""

# text_annotate_agg oracle: every feature is portable SQL; the fingerprint
# distinct-count equals COUNT(DISTINCT text) because the extra hash inputs
# (length, token count) are functions of the text — verified collision-free
# on the synthetic corpus (deterministic), so the 64-bit hash is injective
# on it and the distinct counts coincide.
_TEXT_ANNOTATE_AGG_ORACLE = r"""
    WITH ann AS (
      SELECT source,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
             len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_subwords,
             text,
             length(text) AS n_chars,
             (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
               / greatest(length(text), 1) AS pr
      FROM documents
    ),
    q AS (
      SELECT source, n_tokens, n_subwords, text,
             ROUND(((CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 1.0 ELSE 0.2 END)
                  + (CASE WHEN pr < 0.3 THEN 1.0 ELSE 0.3 END)
                  + (CASE WHEN (n_chars / greatest(CAST(n_tokens AS DOUBLE), 1.0)) >= 2.5
                           AND (n_chars / greatest(CAST(n_tokens AS DOUBLE), 1.0)) <= 12
                          THEN 1.0 ELSE 0.4 END)) / 3.0, 6) AS quality
      FROM ann
    )
    SELECT source, COUNT(*) AS n_docs,
           ROUND(AVG(n_tokens), 4) AS avg_tokens,
           ROUND(AVG(n_subwords), 4) AS avg_subwords,
           ROUND(AVG(quality), 4) AS avg_quality,
           COUNT(DISTINCT text) AS n_fingerprints
    FROM q GROUP BY source ORDER BY source
"""

# r06: hoist the two norm folds out of the |q| x |corpus| pair loop — each
# vector's norm is computed ONCE per row instead of once per pair (the folds
# are interpreted HOFs, so this cuts 2/3 of the per-pair expression work
# without changing a single IEEE operation: the same sequential left-fold
# runs per vector, just earlier).  The corpus side also fans out to the
# session cores (__RP__ — the 1-row-group scan otherwise runs every 64-dim
# fold on one core; see plans/partitioning.fan_out_scan); the hint is
# STRIPPED for small inputs by _q_embed_knn below, same size gate as
# fan_out_scan.  cos_sim values are bit-identical (measured hash-equal at
# sf0.01 and sf1.0).
_EMBED_KNN_BRUTEFORCE_SQL = """
    WITH q AS (SELECT vec_id AS qid, embedding AS qe,
                      SQRT(aggregate(transform(embedding, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)) AS qn
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT /*+ REPARTITION(__RP__) */ vec_id, embedding,
                 SQRT(aggregate(transform(embedding, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)) AS cn
          FROM embeddings),
    scored AS (
      SELECT qid, vec_id,
             ROUND(aggregate(zip_with(qe, embedding, (a, b) -> CAST(a AS DOUBLE) * CAST(b AS DOUBLE)),
                             CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
                   / (qn * cn), 4) AS cos_sim
      FROM q CROSS JOIN c
      WHERE vec_id != qid
    )
    SELECT qid, vec_id, cos_sim
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rk FROM scored)
    WHERE rk <= 5 ORDER BY qid, rk
"""
_EMBED_KNN_BRUTEFORCE_ORACLE = """
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT qid, vec_id,
             ROUND(list_dot_product(CAST(qe AS DOUBLE[]), CAST(embedding AS DOUBLE[]))
                   / (sqrt(list_dot_product(CAST(qe AS DOUBLE[]), CAST(qe AS DOUBLE[]))) * sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))), 4) AS cos_sim
      FROM q CROSS JOIN embeddings
      WHERE vec_id != qid
    )
    SELECT qid, vec_id, cos_sim
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rk FROM scored)
    WHERE rk <= 5 ORDER BY qid, rk
"""


# -- operator-backed queries (DataFrame programs, not single SQL) ------------


def _q_embed_knn(spark, sf_dir):
    """embed_knn_bruteforce with the corpus fan-out applied only when the
    embeddings input is big enough to amortize the exchange (same 3 MB gate
    as plans/partitioning.fan_out_scan, over the same sum of the scan's
    input files; the SQL text is otherwise exactly
    _EMBED_KNN_BRUTEFORCE_SQL)."""
    from a5pg_spark.plans.partitioning import _local_input_bytes

    _prep(spark, sf_dir)
    sql = _EMBED_KNN_BRUTEFORCE_SQL
    nbytes = _local_input_bytes(spark.table("embeddings"))
    if nbytes is None or nbytes >= 3 * 1024 * 1024:
        sql = sql.replace("__RP__", str(spark.sparkContext.defaultParallelism))
    else:
        sql = sql.replace("/*+ REPARTITION(__RP__) */", "")
    return spark.sql(sql)

def _q_snapshot_pruned_scan(spark, sf_dir):
    """Iceberg-style snapshot table: orders' synthetic cells written as a
    cell-sorted snapshot (file-level min/max stats from parquet footers),
    then a range scan that prunes non-overlapping files before Spark reads
    them.  Semantics = plain range filter (exact oracle); the pruning is
    pure I/O savings (sources/table.py)."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from a5pg_spark.sources.table import SnapshotTable

    _prep(spark, sf_dir)
    key = hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
    root = os.path.abspath(f"spark-warehouse/snapshots/orders_cells_{key}")
    t = SnapshotTable(root)
    if t.manifest() is None:
        df = spark.sql(
            "SELECT a5_synth_cell(o_orderkey, 7) AS cell, o_totalprice AS price FROM orders"
        )
        t = SnapshotTable.create(root, df, sort_col="cell")
    lo, hi = 5 << 58, (6 << 58) - 1  # all synth cells with origin 5
    return (
        t.scan(spark, cell_range=(lo, hi))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("price"), 2).alias("sum_price"),
            F.min("cell").alias("min_cell"),
            F.max("cell").alias("max_cell"),
        )
    )


_SNAPSHOT_PRUNED_SCAN_ORACLE = f"""
    WITH c AS (SELECT {_synth_duck('o_orderkey', 7)} AS cell, o_totalprice AS price FROM orders)
    SELECT COUNT(*) AS n, ROUND(SUM(price), 2) AS sum_price,
           MIN(cell) AS min_cell, MAX(cell) AS max_cell
    FROM c WHERE cell >= {5 << 58} AND cell <= {(6 << 58) - 1}
"""


def _q_snapshot_zorder_scan(spark, sf_dir):
    """Z-ordered snapshot layout (plans/zorder.py): events written sorted by
    the Morton interleave of (user_id, day), manifest carrying per-file
    min/max for BOTH dimensions, then a two-dimensional box scan that prunes
    files on both at once — the Iceberg rewrite-with-zorder maintenance
    path.  A single-column sort cannot do this (the second dimension spans
    its whole domain in every file — comparative law in
    tests/test_zorder.py).  Semantics = plain two-predicate filter, which is
    the oracle."""
    import hashlib
    import os

    import pyspark.sql.functions as F

    from a5pg_spark.plans.zorder import zorder_layout
    from a5pg_spark.sources.table import SnapshotTable

    _prep(spark, sf_dir)
    key = hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
    root = os.path.abspath(f"spark-warehouse/snapshots/events_zorder_{key}")
    t = SnapshotTable(root)
    if t.manifest() is None:
        df = spark.table("events").select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
            .cast("long")
            .alias("day"),
            "value",
        )
        t = SnapshotTable.create(
            root,
            zorder_layout(df, "user_id", "day"),
            sort_col="zv",
            stats_cols=("user_id", "day"),
        )
    box = {"user_id": (10, 25), "day": (3, 12)}
    return t.scan_box(spark, box).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 6).alias("sum_value"),
        F.min("user_id").alias("min_user"),
        F.max("day").alias("max_day"),
    )


_SNAPSHOT_ZORDER_SCAN_ORACLE = """
WITH e AS (
  SELECT user_id,
         CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS day,
         value
  FROM events
)
SELECT COUNT(*) AS n, ROUND(SUM(value), 6) AS sum_value,
       MIN(user_id) AS min_user, MAX(day) AS max_day
FROM e
WHERE user_id BETWEEN 10 AND 25 AND day BETWEEN 3 AND 12
"""


def _q_audio_features(spark, sf_dir):
    """Audio modality end-to-end: deterministic integer-sawtooth clips are
    WAV-encoded (real RIFF PCM-16 container), decoded back in a mapInPandas
    stage, and folded to exact integer signal features (sum of squares,
    strict zero crossings, peak); rms and duration derive in Spark SQL as
    single IEEE ops so DuckDB reproduces them bit-for-bit while regenerating
    the samples from the closed form — the byte container round-trip is the
    Spark-only part, pinned against the stdlib ``wave`` module in pytest."""
    from pyspark.sql import functions as F

    from a5pg_spark.sources.audio import audio_features, build_audio_df

    _prep(spark, sf_dir)
    clips = build_audio_df(spark, 240, slices=16)
    return (
        audio_features(clips)
        .withColumn("rms", F.sqrt(F.col("sum_sq") / F.col("n_samples")))
        .withColumn("duration_sec",
                    F.col("n_samples") / F.col("sample_rate"))
        .orderBy("audio_id")
    )


_AUDIO_FEATURES_ORACLE = """
WITH clip AS (
  SELECT i,
         CASE i % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 22050 END AS sr,
         1600 + (i % 5) * 800 AS n,
         3 + i % 7 AS k,
         (i * 17) % 2048 AS phase
  FROM (SELECT UNNEST(range(0, 240)) AS i)
),
ex AS (
  SELECT i, sr, n, k, phase, UNNEST(range(0, n)) AS j FROM clip
),
ag AS (
  SELECT i, any_value(sr) AS sr, any_value(n) AS n,
         SUM(((j*k+phase) % 2048 - 1024) * ((j*k+phase) % 2048 - 1024))
           AS sum_sq,
         SUM(CASE WHEN j < n - 1 AND
                  ((j*k+phase) % 2048 - 1024)
                  * (((j+1)*k+phase) % 2048 - 1024) < 0
                  THEN 1 ELSE 0 END) AS n_zero_cross,
         MAX(ABS((j*k+phase) % 2048 - 1024)) AS peak
  FROM ex GROUP BY i
)
SELECT printf('aud%012d', i) AS audio_id,
       CAST(sr AS INT) AS sample_rate,
       CAST(n AS INT) AS n_samples,
       CAST(sum_sq AS BIGINT) AS sum_sq,
       CAST(n_zero_cross AS BIGINT) AS n_zero_cross,
       CAST(peak AS INT) AS peak,
       sqrt(CAST(sum_sq AS DOUBLE) / n) AS rms,
       CAST(n AS DOUBLE) / sr AS duration_sec
FROM ag ORDER BY audio_id
"""


def _q_video_frame_stats(spark, sf_dir):
    """Video modality end-to-end with a REAL codec: deterministic PNG
    frame stacks → JVM-side frame sampling (posexplode + modulo, every 4th
    frame) → Arrow decode + exact integer pixel folds → per-video rollup.
    DuckDB regenerates every kept frame's closed-form pixel field, so the
    whole pipeline (including the PNG byte round-trip, which only Spark
    executes) is value-exact."""
    from pyspark.sql import functions as F

    from a5pg_spark.operators.multimodal import sample_frames
    from a5pg_spark.sources.videos import build_videos_df, frame_pixel_stats

    _prep(spark, sf_dir)
    vids = build_videos_df(spark, 48, slices=8)
    kept = sample_frames(vids, every_n=4)
    stats = frame_pixel_stats(kept)
    return (
        stats.groupBy("video_id")
        .agg(
            F.count("*").cast("long").alias("frames_kept"),
            F.sum("sum_px").alias("total_px"),
            F.max("max_px").alias("max_px"),
            F.max("frame_idx").cast("int").alias("last_frame"),
        )
        .orderBy("video_id")
    )


_VIDEO_FRAME_STATS_ORACLE = """
WITH vid AS (
  SELECT i, 24 + 8 * (i % 3) AS w, 16 + 8 * (i % 2) AS h,
         8 + i % 5 AS n
  FROM (SELECT UNNEST(range(0, 48)) AS i)
),
kept AS (
  SELECT i, w, h, UNNEST(range(0, n)) AS f FROM vid
),
px AS (
  SELECT i, f, w, h, UNNEST(range(0, w * h)) AS p FROM kept WHERE f % 4 = 0
),
frame AS (
  SELECT i, f,
         SUM((i * 2654435761 + f * 9176 + (p // w) * 977 + (p % w) * 131)
             % 256) AS sum_px,
         MAX((i * 2654435761 + f * 9176 + (p // w) * 977 + (p % w) * 131)
             % 256) AS max_px
  FROM px GROUP BY i, f
)
SELECT printf('vid%012d', i) AS video_id,
       CAST(COUNT(*) AS BIGINT) AS frames_kept,
       CAST(SUM(sum_px) AS BIGINT) AS total_px,
       CAST(MAX(max_px) AS INT) AS max_px,
       CAST(MAX(f) AS INT) AS last_frame
FROM frame GROUP BY i ORDER BY video_id
"""


def _q_snapshot_compaction(spark, sf_dir):
    """Iceberg-style small-file maintenance: orders' cells land in five
    separate appends (the streaming-ingest small-file backlog shape), then
    ``compact`` bin-packs them into range-local files via a metadata-swap
    commit.  Inline laws: file count strictly drops, row metric unchanged,
    operation tag, pre-compaction snapshot still time-travel readable,
    compacted files keep footer stats (prunable).  The returned scan's agg
    is the exact-oracle payload — compaction must be scan-identical."""
    import hashlib
    import os
    import shutil

    from pyspark.sql import functions as F

    from a5pg_spark.sources.table import SnapshotTable

    _prep(spark, sf_dir)
    key = hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
    root = os.path.abspath(f"spark-warehouse/snapshots/compaction_{key}")
    if os.path.exists(root):
        shutil.rmtree(root)
    df = spark.sql(
        "SELECT a5_synth_cell(o_orderkey, 7) AS cell, o_totalprice AS price, "
        "o_orderkey % 5 AS slice FROM orders"
    )
    t = SnapshotTable.create(root, df.where("slice = 0").drop("slice"),
                             sort_col="cell")
    for sl in range(1, 5):
        t.append(df.where(f"slice = {sl}").drop("slice"))
    pre = t.manifest()
    m = t.compact(spark, small_rows=10**9)
    if not (m["operation"] == "compact"
            and len(m["files"]) < len(pre["files"])
            and m["metrics"]["rows"] == pre["metrics"]["rows"]
            and t.scan(spark, version=pre["version"]).count()
            == m["metrics"]["rows"]
            and all(f["min"] is not None for f in m["files"])):
        raise AssertionError("compaction contract violated")
    return t.scan(spark).agg(
        F.count("*").alias("n"),
        F.round(F.sum("price"), 2).alias("sum_price"),
        F.min("cell").alias("min_cell"),
        F.max("cell").alias("max_cell"),
    )


_SNAPSHOT_COMPACTION_ORACLE = f"""
    WITH c AS (SELECT {_synth_duck('o_orderkey', 7)} AS cell,
               o_totalprice AS price FROM orders)
    SELECT COUNT(*) AS n, ROUND(SUM(price), 2) AS sum_price,
           MIN(cell) AS min_cell, MAX(cell) AS max_cell FROM c
"""


def _q_stream_ingest_snapshot(spark, sf_dir):
    """End-to-end north-rule ingest pipeline: events stream in two
    micro-batches (maxFilesPerTrigger=1, availableNow) through an A5 cell
    assignment into a SnapshotTable via the exactly-once foreachBatch sink
    (per-batch CAS append + batch lineage), then small-file compaction.
    Inline laws: one snapshot per batch with stream lineage, compaction
    scan-identical.  The final scan agg is the exact-oracle payload."""
    import hashlib
    import os
    import shutil

    from pyspark.sql import functions as F

    from a5pg_spark.sources.table import SnapshotTable
    from a5pg_spark.streaming.ingest import (
        drain_available_now,
        stream_to_snapshot,
    )

    _prep(spark, sf_dir)
    key = hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
    base = os.path.abspath(f"spark-warehouse/streams/ingest_snap_{key}")
    if os.path.exists(base):
        shutil.rmtree(base)
    ev = spark.sql(
        "SELECT event_id, user_id, value FROM events"
    )
    ev.where("event_id % 2 = 0").coalesce(1).write.parquet(f"{base}/src")
    ev.where("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(
        f"{base}/src")
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1)
        .parquet(f"{base}/src")
        .withColumn("cell", F.expr("a5_synth_cell(event_id, 7)"))
    )
    q = stream_to_snapshot(stream, f"{base}/t", f"{base}/ck",
                           sort_col="cell", cell_col="cell")
    drain_available_now(q, timeout=120)
    t = SnapshotTable(f"{base}/t")
    snaps = t.snapshots()
    if not (len(snaps) == 2
            and [m["lineage"]["stream_batch"] for m in snaps] == [0, 1]):
        raise AssertionError("per-batch snapshot lineage violated")
    pre_rows = t.manifest()["metrics"]["rows"]
    m = t.compact(spark, small_rows=10**9, cell_col="cell")
    if m["metrics"]["rows"] != pre_rows or m["operation"] != "compact":
        raise AssertionError("post-ingest compaction not scan-identical")
    return t.scan(spark).agg(
        F.count("*").alias("n"),
        F.count_distinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.min("cell").alias("min_cell"),
        F.max("cell").alias("max_cell"),
    )


_STREAM_INGEST_SNAPSHOT_ORACLE = f"""
    WITH c AS (SELECT {_synth_duck('event_id', 7)} AS cell, user_id, value
               FROM events)
    SELECT COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
           ROUND(SUM(value), 2) AS sum_value,
           MIN(cell) AS min_cell, MAX(cell) AS max_cell FROM c
"""


def _q_snapshot_stage_resume(spark, sf_dir):
    """Checkpoint-resumable pipeline stage (north-rule: per-partition lineage
    manifests + metrics): lineitem cells snapshotted, a rollup stage run via
    ``run_stage`` — then run AGAIN with identical stage version + input
    snapshot, which must be a metadata-only resume (same snapshot id, no
    recompute).  The rollup itself is the exact-oracle payload; lineage and
    resume laws are asserted inline (a failure raises and the driver records
    the error)."""
    import hashlib
    import os
    import shutil

    from pyspark.sql import functions as F

    from a5pg_spark.sources.table import SnapshotTable, run_stage

    _prep(spark, sf_dir)
    key = hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
    base = os.path.abspath(f"spark-warehouse/pipeline_{key}")
    if os.path.exists(base):
        shutil.rmtree(base)
    src_df = spark.sql(
        "SELECT a5_synth_cell(l_orderkey * 8 + l_linenumber, 6) AS cell, "
        "l_quantity AS qty FROM lineitem"
    )
    src = SnapshotTable.create(f"{base}/src", src_df, sort_col="cell")

    calls = {"n": 0}

    def rollup(sp, dfs):
        calls["n"] += 1
        return dfs["src"].groupBy("cell").agg(
            F.count("*").alias("n"),
            F.sum("qty").cast("bigint").alias("sum_qty"),
        )

    out, m1, r1 = run_stage(spark, f"{base}/out", "rollup", 1, {"src": src},
                            rollup, sort_col="cell", cell_col="cell")
    _, m2, r2 = run_stage(spark, f"{base}/out", "rollup", 1, {"src": src},
                          rollup, sort_col="cell", cell_col="cell")
    if r1 or not r2 or calls["n"] != 1 or m2["snapshot_id"] != m1["snapshot_id"]:
        raise AssertionError("stage resume contract violated")
    if m1["lineage"]["inputs"]["src"]["snapshot_id"] != src.manifest()["snapshot_id"]:
        raise AssertionError("lineage does not pin the input snapshot")
    if not all(f["rows"] > 0 and "cells" in f for f in m1["files"]):
        raise AssertionError("per-partition metrics missing")
    return out.scan(spark).orderBy("cell")


_SNAPSHOT_STAGE_RESUME_ORACLE = f"""
    SELECT {_synth_duck('l_orderkey * 8 + l_linenumber', 6)} AS cell,
           COUNT(*) AS n, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
    FROM lineitem GROUP BY 1 ORDER BY cell
"""


def _q_compact_roundtrip(spark, sf_dir):
    """compact(uncompact(X)) == X — exercised through BOTH surfaces: the
    SQL-registered array functions (a5_compact/a5_uncompact, verbatim
    reference signatures src/lib.rs:189-222) feed the column-level iterative
    set-compaction operator; exact oracle = the synthetic cells themselves."""
    _prep(spark, sf_dir)
    from a5pg_spark.operators.compaction import compact_cells

    # array-level: uncompact each seed via the SQL function, explode to a
    # cell column (materialized subquery — SQL UDFs may not sit under explode)
    expanded = spark.sql("""
        SELECT explode(kids) AS cell FROM (
          SELECT a5_uncompact(array(a5_synth_cell(r_regionkey + 1, 2)), 4) AS kids
          FROM region
        )
    """)
    return compact_cells(expanded).orderBy("cell")


_A5_COMPACT_ROUNDTRIP_ORACLE = f"""
    SELECT DISTINCT {_synth_duck('r_regionkey + 1', 2)} AS cell FROM region ORDER BY cell
"""


def _elephant_x30() -> dict:
    """The elephant layer scaled 30× about (0, 0), so the global point cloud
    hits it: a fresh dict on every call, for the query and its oracle."""
    from a5pg_spark.sources import polygons as P

    def scale(c):
        return [scale(v) for v in c] if isinstance(c[0], list) else [c[0] * 30, c[1] * 30]

    fc = P.elephant_feature_collection()
    for f in fc["features"]:
        f["geometry"]["coordinates"] = scale(f["geometry"]["coordinates"])
    return fc


def _q_spatial_join_elephant(spark, sf_dir):
    """Point-in-polygon spatial join of derived capture points against the
    elephant polygon layer (``_elephant_x30``); deterministic counts per
    part.  The oracle is the same even-odd PIP."""
    _prep(spark, sf_dir)
    import pyspark.sql.functions as F

    from a5pg_spark.operators.spatial_join import spatial_join
    from a5pg_spark.sources import polygons as P

    polys = P.from_feature_collection(spark, _elephant_x30())
    from a5pg_spark.plans.partitioning import fan_out_scan

    # r06: fan the slim point rows out to all cores before the 25-projection
    # encode + join chain — the 2-row-group orders scan ran the whole probe
    # stage on one task (median 23 ms, max 4.3 s; guide §2.5 input skew).
    pts = fan_out_scan(spark.sql(f"""
        SELECT o_orderkey AS pid, {_PT_SPARK.format(k="o_orderkey")} FROM orders
    """))
    out = spatial_join(pts, polys, res=6)
    return out.groupBy("part").agg(F.count("*").alias("n_points")).orderBy("part")


def _q_knn_points(spark, sf_dir):
    """Exact kNN of 5 probe cities against the derived point cloud."""
    _prep(spark, sf_dir)
    import pandas as pd

    from a5pg_spark.operators.knn import knn_join

    q = spark.createDataFrame(pd.DataFrame({
        "qid": [0, 1, 2, 3, 4],
        "lon": [-73.9857, -0.1276, 139.6503, -3.7037, 151.2093],
        "lat": [40.758, 51.5074, 35.6762, 40.41677, -33.8688]}))
    pts = spark.sql(f"""
        SELECT o_orderkey AS pid, {_PT_SPARK.format(k="o_orderkey")} FROM orders
    """)
    out = knn_join(q, pts, k=5, res=10)
    import pyspark.sql.functions as F
    return out.select("qid", "pid", F.round("dist_m", 2).alias("dist_m"), "rk") \
              .orderBy("qid", "rk")


def _spatial_join_oracle_sql() -> str:
    """DuckDB oracle for the elephant spatial join: the same even-odd
    ray-cast PIP over the same (x30-scaled) edge list, embedded as literals.
    The engine's cover stage is a pure candidate filter (covers are exact
    supersets), so ground truth is plain PIP per part."""
    rows = []
    for f in _elephant_x30()["features"]:
        part = f["properties"]["part"]
        g = f["geometry"]
        if g["type"] == "Polygon":
            polys = [g["coordinates"]]
        elif g["type"] == "MultiPolygon":
            polys = g["coordinates"]
        else:
            continue  # eye points have no area
        for poly in polys:
            for ring in poly:
                for i in range(len(ring)):
                    a, b = ring[i], ring[(i + 1) % len(ring)]
                    if a[0] == b[0] and a[1] == b[1]:
                        continue
                    rows.append(
                        f"('{part}', {float(a[0])!r}, {float(a[1])!r}, "
                        f"{float(b[0])!r}, {float(b[1])!r})"
                    )
    vals = ",\n      ".join(rows)
    return f"""
    WITH pts AS (SELECT o_orderkey AS pid, {_PT.format(k="o_orderkey")} FROM orders),
    edges AS (
      SELECT part, CAST(x1 AS DOUBLE) AS x1, CAST(y1 AS DOUBLE) AS y1,
             CAST(x2 AS DOUBLE) AS x2, CAST(y2 AS DOUBLE) AS y2
      FROM (VALUES
      {vals}) t(part, x1, y1, x2, y2)
    ),
    cnt AS (
      SELECT p.pid, e.part,
             SUM(CASE WHEN (e.y1 > p.lat) != (e.y2 > p.lat)
                       AND p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1
                      THEN 1 ELSE 0 END) AS c
      FROM pts p CROSS JOIN edges e GROUP BY 1, 2
    )
    SELECT part, COUNT(*) AS n_points FROM cnt WHERE c % 2 = 1
    GROUP BY part ORDER BY part
"""


# kNN oracle: the engine's ring-expansion kNN is provably exact (clearance
# lower bounds), so the ground truth is a brute-force haversine top-k — tiny
# in DuckDB at sf0.01, impossible at 100 TB (which is the operator's point).
_KNN_PROBE_CITIES_ORACLE = f"""
    WITH cities(qid, qlon, qlat) AS (
      SELECT * FROM (VALUES
        (0, CAST(-73.9857 AS DOUBLE), CAST(40.758 AS DOUBLE)),
        (1, CAST(-0.1276 AS DOUBLE), CAST(51.5074 AS DOUBLE)),
        (2, CAST(139.6503 AS DOUBLE), CAST(35.6762 AS DOUBLE)),
        (3, CAST(-3.7037 AS DOUBLE), CAST(40.41677 AS DOUBLE)),
        (4, CAST(151.2093 AS DOUBLE), CAST(-33.8688 AS DOUBLE)))),
    pts AS (SELECT o_orderkey AS pid, {_PT.format(k="o_orderkey")} FROM orders),
    d AS (
      SELECT qid, pid,
             2.0 * CAST(6371007.1809184747 AS DOUBLE) * asin(sqrt(
               pow(sin((radians(lat) - radians(qlat)) / 2), 2)
               + cos(radians(qlat)) * cos(radians(lat))
                 * pow(sin((radians(lon) - radians(qlon)) / 2), 2))) AS dist_m
      FROM cities CROSS JOIN pts
    ),
    rk_ AS (
      SELECT qid, pid, dist_m,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist_m ASC, pid ASC) AS rk
      FROM d
    )
    SELECT qid, pid, ROUND(dist_m, 2) AS dist_m, rk
    FROM rk_ WHERE rk <= 5 ORDER BY qid, rk
"""


def _q_dedup_minhash(spark, sf_dir):
    """MinHash-LSH near-duplicate pairs over documents.  Runs the operator in
    its portable-hash mode (polynomial folds instead of xxhash64) so the
    ENTIRE pipeline — shingle hash, 64 minhash permutations, band folds,
    candidate join, exact Jaccard verify — is replicated verbatim by the
    DuckDB oracle; plan shape is identical to the xxhash64 default, which
    pytest's planted-pair tests keep covering."""
    _prep(spark, sf_dir)
    from a5pg_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.table("documents")
    return minhash_lsh_pairs(docs, jaccard_threshold=0.5,
                             hash_mode="portable").orderBy("id_a", "id_b")


def _minhash_oracle_sql(num_hashes: int = 64, bands: int = 16,
                        shingle_k: int = 5, threshold: float = 0.5) -> str:
    """DuckDB replica of minhash_lsh_pairs(hash_mode='portable'): same
    coefficients (minhash_params), same integer folds, same verify."""
    from a5pg_spark.operators.dedup import MERSENNE_P, minhash_params

    a, b = minhash_params(num_hashes)
    r = num_hashes // bands

    def mh(i):
        return (f"list_min(list_transform(hs, x -> ({int(a[i])} * x + {int(b[i])}) "
                f"% {MERSENNE_P}))")

    band_structs = []
    for bi in range(bands):
        h = "CAST(0 AS BIGINT)"
        for j in range(r):
            h = f"(({h}) * 1000003 + ({mh(bi * r + j)} % 2147483648)) % 2147483648"
        band_structs.append(f"{{'band_id': {bi}, 'band_hash': {h}}}")
    bl = "[" + ", ".join(band_structs) + "]"
    return f"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(1, length(text) - {shingle_k - 1}) + 1),
               i -> substring(text, i, {shingle_k}))) AS shs
      FROM documents
    ),
    shh AS (
      SELECT doc_id, shs,
             list_transform(shs, s -> ((CASE WHEN length(s) >= 1 THEN CAST(ord(substring(s, 1, 1)) AS BIGINT) ELSE 0 END) * 294499921 + (CASE WHEN length(s) >= 2 THEN CAST(ord(substring(s, 2, 1)) AS BIGINT) ELSE 0 END) * 2248091 + (CASE WHEN length(s) >= 3 THEN CAST(ord(substring(s, 3, 1)) AS BIGINT) ELSE 0 END) * 17161 + (CASE WHEN length(s) >= 4 THEN CAST(ord(substring(s, 4, 1)) AS BIGINT) ELSE 0 END) * 131 + (CASE WHEN length(s) >= 5 THEN CAST(ord(substring(s, 5, 1)) AS BIGINT) ELSE 0 END) * 1) % 2147483648) AS hs
      FROM sh
    ),
    banded AS (
      SELECT doc_id, UNNEST({bl}, recursive := true) FROM shh
    ),
    cand AS (
      SELECT l.doc_id AS id_a, r.doc_id AS id_b
      FROM banded l JOIN banded r
        ON l.band_id = r.band_id AND l.band_hash = r.band_hash
       AND l.doc_id < r.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, ROUND(j, 6) AS jaccard
    FROM (
      SELECT id_a, id_b,
             CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(x.shs, y.shs))) AS DOUBLE) AS j
      FROM cand JOIN shh x ON x.doc_id = cand.id_a JOIN shh y ON y.doc_id = cand.id_b
    )
    WHERE j >= {threshold}
    ORDER BY id_a, id_b
"""


def _q_dedup_components(spark, sf_dir):
    """Duplicate-CLUSTER resolution: MinHash-LSH pairs (portable mode, the
    oracle-replicated pipeline above) → connected components → per-node
    canonical label = min reachable doc_id.  Summarized order-insensitively
    (node count, component count, Σ node·K + comp digest) so the plan has no
    terminal sort.  The DuckDB oracle recomputes the SAME pairs, then takes
    the transitive closure with a recursive CTE and min-aggregates."""
    _prep(spark, sf_dir)
    import pyspark.sql.functions as F

    from a5pg_spark.operators.dedup import connected_components, minhash_lsh_pairs

    docs = spark.table("documents")
    pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.5, hash_mode="portable")
    comp = connected_components(pairs, "id_a", "id_b")
    return comp.agg(
        F.count("*").alias("n_nodes"),
        F.countDistinct("comp").alias("n_components"),
        F.sum(F.col("node") * F.lit(1000003) + F.col("comp")).alias("digest"),
    )


def _components_oracle_sql() -> str:
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle_sql()}),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs
    ),
    nodes AS (SELECT DISTINCT u AS node FROM edges),
    reach(node, r) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.u, reach.r FROM edges e JOIN reach ON reach.node = e.v
    ),
    comp AS (SELECT node, MIN(r) AS comp FROM reach GROUP BY node)
    SELECT COUNT(*) AS n_nodes, COUNT(DISTINCT comp) AS n_components,
           CAST(SUM(node * 1000003 + comp) AS BIGINT) AS digest
    FROM comp
"""


def _q_dedup_simhash(spark, sf_dir):
    """SimHash near-duplicate pairs over documents, portable-hash mode: the
    32-bit polynomial token hash + majority bit-fold + 4×8-bit band blocking
    + Hamming verify replay exactly in the DuckDB oracle (the 64-bit
    xxhash64 default stays covered by pytest's planted-pair tests).  Band
    blocking gives exact recall for Hamming ≤ 3 by pigeonhole."""
    _prep(spark, sf_dir)
    from a5pg_spark.operators.dedup import simhash_near_dup_pairs

    docs = spark.table("documents")
    return simhash_near_dup_pairs(docs, max_hamming=3,
                                  hash_mode="portable").orderBy("id_a", "id_b")


# DuckDB replica of simhash_near_dup_pairs(hash_mode='portable'): same
# tokenization (lower/trim/\s+ split, empties dropped), same per-token
# polynomial fold (acc*131 + code mod 2^31), same 32-bit majority fold,
# same 4x8-bit bands, same Hamming<=3 verify.
_DEDUP_SIMHASH_PAIRS_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     t -> length(t) > 0) AS ts
  FROM documents
),
hs AS (
  SELECT doc_id,
         list_transform(ts, t ->
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(t, ''),
                              c -> CAST(ord(c) AS BIGINT))),
             (acc, x) -> (acc * 131 + x) % 2147483648)) AS hv
  FROM toks
),
sh AS (
  SELECT doc_id,
         CAST(coalesce(list_sum(list_transform(range(0, 32), k ->
           CASE WHEN coalesce(list_sum(list_transform(hv,
                  h -> CASE WHEN (h >> k) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
                THEN CAST(1 AS BIGINT) << k ELSE CAST(0 AS BIGINT) END)), 0)
           AS BIGINT) AS simhash
  FROM hs
),
banded AS (
  SELECT doc_id, simhash, UNNEST(range(0, 4)) AS band_id FROM sh
),
cand AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b,
         l.simhash AS sh_a, r.simhash AS sh_b
  FROM banded l JOIN banded r
    ON l.band_id = r.band_id
   AND (l.simhash >> (l.band_id * 8)) & 255 = (r.simhash >> (r.band_id * 8)) & 255
   AND l.doc_id < r.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(sh_a, sh_b)) <= 3
ORDER BY id_a, id_b
"""


def _q_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs by counted overlap
    (operators/dedup.py:ngram_jaccard_pairs): the postings self-join counts
    the shingles each pair shares, J = n / (|A| + |B| − n).  The DuckDB
    oracle counts the same overlap in its own SQL."""
    _prep(spark, sf_dir)
    from a5pg_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.table("documents")
    return ngram_jaccard_pairs(docs, jaccard_threshold=0.5).orderBy("id_a", "id_b")


_DEDUP_NGRAM_JACCARD_ORACLE = r"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(1, length(text) - 4) + 1),
               i -> substring(text, i, 5))) AS shs
      FROM documents
    ),
    post AS (SELECT doc_id, UNNEST(shs) AS g FROM sh),
    shared AS (
      SELECT l.doc_id AS id_a, r.doc_id AS id_b, COUNT(*) AS n
      FROM post l JOIN post r ON l.g = r.g AND l.doc_id < r.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, ROUND(j, 6) AS jaccard
    FROM (
      SELECT id_a, id_b,
             CAST(n AS DOUBLE) / CAST(len(x.shs) + len(y.shs) - n AS DOUBLE) AS j
      FROM shared JOIN sh x ON x.doc_id = shared.id_a JOIN sh y ON y.doc_id = shared.id_b
    )
    WHERE j >= 0.5
    ORDER BY id_a, id_b
"""


def _q_text_annotate(spark, sf_dir):
    """Full text-analysis feature set aggregated per source."""
    _prep(spark, sf_dir)
    import pyspark.sql.functions as F

    from a5pg_spark.operators.text import annotate

    out = annotate(spark.table("documents"))
    return out.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.round(F.avg("n_subwords"), 4).alias("avg_subwords"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
        F.count_distinct("fingerprint").alias("n_fingerprints"),
    ).orderBy("source")


def _q_text_winnow(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003 —
    the brief's 'document fingerprinting (rolling hash)' ask done properly):
    rolling k=3 token-gram polynomial hashes, minimum of every w=4 window,
    distinct minima as the fingerprint set.  Entirely JVM-side Catalyst
    HOFs (operators/text.py:winnow_fingerprints_col) — no Python, no
    shuffle before the final per-doc fold; the portable 31-bit hash family
    replays exactly in the DuckDB oracle (order-insensitive aggregates of
    the set: count/sum/min/max)."""
    _prep(spark, sf_dir)
    import pyspark.sql.functions as F

    from a5pg_spark.operators.text import winnow_fingerprints_col

    fps = spark.table("documents").select(
        "doc_id", winnow_fingerprints_col("text").alias("fps")
    )
    return fps.select(
        "doc_id",
        F.size("fps").cast("long").alias("n_fp"),
        F.expr("aggregate(fps, 0L, (a, x) -> a + x)").alias("fp_sum"),
        F.coalesce(F.array_min("fps"), F.lit(-1)).cast("long").alias("fp_min"),
        F.coalesce(F.array_max("fps"), F.lit(-1)).cast("long").alias("fp_max"),
    ).orderBy("doc_id")


# DuckDB replica of winnow_fingerprints_col(k=3, w=4): same tokenization,
# same portable token hash (acc*131+code mod 2^31, as the simhash oracle),
# same gram fold (acc*1000003+h mod 2^31), same window minima + distinct.
_TEXT_WINNOW_FINGERPRINT_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                     t -> length(t) > 0) AS ts
  FROM documents
),
hs AS (
  SELECT doc_id,
         list_transform(ts, t ->
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(t, ''),
                              c -> CAST(ord(c) AS BIGINT))),
             (acc, x) -> (acc * 131 + x) % 2147483648)) AS hv
  FROM toks
),
gr AS (
  SELECT doc_id,
         CASE WHEN length(hv) = 0 THEN CAST([] AS BIGINT[])
              ELSE list_transform(range(1, greatest(1, length(hv) - 2) + 1),
                i -> list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                                    list_slice(hv, i, i + 2)),
                       (acc, h) -> (acc * 1000003 + h) % 2147483648))
         END AS grams
  FROM hs
),
fp AS (
  SELECT doc_id,
         CASE WHEN length(grams) = 0 THEN CAST([] AS BIGINT[])
              ELSE list_distinct(list_transform(
                     range(1, greatest(1, length(grams) - 3) + 1),
                     j -> list_aggregate(list_slice(grams, j, j + 3), 'min')))
         END AS fps
  FROM gr
)
SELECT doc_id,
       CAST(length(fps) AS BIGINT) AS n_fp,
       CAST(coalesce(list_sum(fps), 0) AS BIGINT) AS fp_sum,
       CAST(coalesce(list_aggregate(fps, 'min'), -1) AS BIGINT) AS fp_min,
       CAST(coalesce(list_aggregate(fps, 'max'), -1) AS BIGINT) AS fp_max
FROM fp ORDER BY doc_id
"""


def _q_events_sessionize(spark, sf_dir):
    """Gaps-and-islands sessionization (30-min gap) with per-session rollup.
    One shuffle on user_id feeds BOTH the window functions and the final
    groupBy (HashPartitioning(user_id) satisfies the (user_id, session_no)
    clustering, so Catalyst inserts no second Exchange — pinned in
    tests/test_sessions.py).  All offsets are epoch-microsecond DIFFERENCES,
    so the result is timezone-representation-independent."""
    _prep(spark, sf_dir)
    import pyspark.sql.functions as F

    from a5pg_spark.operators.sessions import session_stats

    # r06: establish the terminal output order's partitioning FIRST (guide
    # §2.4 "two operations keyed the same way can share one exchange"):
    # range-partition the input by user_id, which satisfies the windows' and
    # rollup's ClusteredDistribution just like hash partitioning did, and
    # turns the final global sort into a partition-local sortWithinPartitions
    # — the old terminal Exchange rangepartitioning(954k agg rows) and its
    # boundary-sampling job disappear.  Row order and every value are
    # unchanged (equal user_ids never straddle range-partition boundaries;
    # per-group fold order is still the total (ts, event_id) window sort).
    ev = spark.table("events").repartitionByRange(
        spark.sparkContext.defaultParallelism, "user_id"
    )
    out = session_stats(
        ev,
        key_col="user_id",
        ts_col="ts",
        gap_seconds=1800,
        value_col="value",
        tiebreak_col="event_id",
    )
    return out.sortWithinPartitions("user_id", "session_no")


_EVENTS_SESSIONIZE_ORACLE = """
WITH o AS (
  SELECT user_id, epoch_us(ts) AS us, value, event_id FROM events
), f AS (
  SELECT user_id, us, value, event_id,
         CASE WHEN lag(us) OVER w IS NULL
                OR us - lag(us) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
), s AS (
  SELECT user_id, us, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_no
  FROM f
)
SELECT user_id,
       CAST(session_no AS BIGINT) AS session_no,
       COUNT(*) AS n_events,
       (MAX(us) - MIN(us)) / 1000000.0 AS span_s,
       ROUND(SUM(value), 6) AS sum_value
FROM s GROUP BY user_id, session_no ORDER BY user_id, session_no
"""


def _q_events_asof_join(spark, sf_dir):
    """Distributed as-of join (union-marker pattern): every click joined to
    the nearest PRIOR error of the same user — one shuffle of |L|+|R| slim
    rows, no range-explode, no broadcast of the right side
    (operators/sessions.py:asof_join).  Oracle is DuckDB's native ASOF LEFT
    JOIN; right side pre-deduped to one row per (user, ts) in both engines
    so boundary ties are deterministic."""
    _prep(spark, sf_dir)
    import pyspark.sql.functions as F

    from a5pg_spark.operators.sessions import asof_join

    ev = spark.table("events")
    errs = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("err_id"))
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    j = asof_join(
        clicks, errs, ["user_id"], "ts", "ts", ["err_id", "ts"], how="left"
    )
    from a5pg_spark.operators.sessions import epoch_us

    gap = (epoch_us(F.col("ts")) - epoch_us(F.col("asof_ts"))) / F.lit(1_000_000.0)
    return j.select(
        "event_id",
        "user_id",
        F.coalesce("asof_err_id", F.lit(-1)).alias("err_id"),
        F.coalesce(gap, F.lit(-1.0)).alias("gap_s"),
    ).orderBy("event_id")


_EVENTS_ASOF_JOIN_ORACLE = """
WITH err AS (
  SELECT user_id, ts, MAX(event_id) AS err_id
  FROM events WHERE event_type = 'error' GROUP BY user_id, ts
), c AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
)
SELECT c.event_id, c.user_id,
       COALESCE(err.err_id, -1) AS err_id,
       COALESCE((epoch_us(c.ts) - epoch_us(err.ts)) / 1000000.0, -1.0) AS gap_s
FROM c ASOF LEFT JOIN err ON c.user_id = err.user_id AND c.ts >= err.ts
ORDER BY c.event_id
"""


def _q_sketch_cms_heavy_hitters(spark, sf_dir):
    """Count-min frequency sketch over event user_ids: build the d×w counter
    table (bounded at d·w rows for ANY input size, counters merge by
    addition), then point-estimate the top-10 exact heavy hitters and report
    est vs exact.  The oracle rebuilds the identical sketch in SQL — the
    hash is shared by construction via portable_hash31_sql."""
    _prep(spark, sf_dir)
    import pyspark.sql.functions as F

    from a5pg_spark.operators.sketches import cms_counters, cms_estimate

    ev = spark.table("events")
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    cand = exact.orderBy(F.desc("exact_n"), "user_id").limit(10)
    counters = cms_counters(ev, "user_id", width=1024)
    est = cms_estimate(counters, cand.select("user_id"), "user_id", width=1024)
    return (
        cand.join(est, "user_id")
        .select("user_id", "exact_n", "est_n")
        .orderBy(F.desc("exact_n"), "user_id")
    )


def _cms_oracle_sql() -> str:
    from a5pg_spark.operators.sketches import CMS_SALTS, portable_hash31_sql

    pair_rows = "\n  UNION ALL\n".join(
        f"  SELECT {i} AS row, ({portable_hash31_sql('user_id', s)}) % 1024"
        f" AS bucket FROM events"
        for i, s in enumerate(CMS_SALTS)
    )
    cand_rows = "\n  UNION ALL\n".join(
        f"  SELECT user_id, exact_n, {i} AS row,"
        f" ({portable_hash31_sql('user_id', s)}) % 1024 AS bucket FROM cand"
        for i, s in enumerate(CMS_SALTS)
    )
    return f"""
WITH pairs AS (
{pair_rows}
), counters AS (
  SELECT row, bucket, COUNT(*) AS cnt FROM pairs GROUP BY 1, 2
), exact AS (
  SELECT user_id, COUNT(*) AS exact_n FROM events GROUP BY 1
), cand AS (
  SELECT user_id, exact_n FROM exact ORDER BY exact_n DESC, user_id LIMIT 10
), candb AS (
{cand_rows}
)
SELECT c.user_id, c.exact_n, MIN(coalesce(ct.cnt, 0)) AS est_n
FROM candb c LEFT JOIN counters ct USING (row, bucket)
GROUP BY c.user_id, c.exact_n
ORDER BY c.exact_n DESC, c.user_id
"""


def _q_rel_bloom_pruned_join(spark, sf_dir):
    """Bloom-filter join pruning (plans/bloom.py): a selective dim (parts
    with p_size <= 3, ~7%) inner-joined to lineitem.  The dim side collapses
    into a ONE-ROW 4096-bit bitmap (portable_hash31, k=3) that broadcasts
    and filters the fact SCAN before any exchange — at 100 TB every pruned
    row is a row that never enters the shuffle.  No false negatives ⇒ the
    per-brand revenue rollup is identical to the plain join (the law
    tests/test_bloom.py pins); the portable hash chain means even the exact
    bloom_passed count (true matches + the bounded false positives) replays
    bit-for-bit in the DuckDB oracle as k IN-subqueries over the same hash
    SQL (`bloom_pass_sql`)."""
    _prep(spark, sf_dir)
    import pyspark.sql.functions as F

    from a5pg_spark.plans.bloom import bloom_build, bloom_prune

    dim = spark.table("part").where(F.col("p_size") <= 3)
    li = spark.table("lineitem")
    bm = bloom_build(dim, "p_partkey")
    pruned = bloom_prune(li, "l_partkey", bm)
    per_brand = (
        pruned.join(F.broadcast(dim), pruned["l_partkey"] == dim["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,4)")
                    * (1 - F.col("l_discount")).cast("decimal(18,6)")
                ).cast("double"),
                4,
            ).alias("revenue"),
        )
    )
    stats = pruned.agg(F.count("*").alias("bloom_passed"))
    total = li.agg(F.count("*").alias("fact_total"))
    return (
        per_brand.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(total))
        .orderBy("p_brand")
    )


def _bloom_oracle_sql() -> str:
    from a5pg_spark.plans.bloom import bloom_pass_sql

    cte, checks = bloom_pass_sql(
        "l_partkey", "SELECT * FROM part WHERE p_size <= 3", "p_partkey"
    )
    return f"""
WITH {cte},
dim AS (SELECT * FROM part WHERE p_size <= 3),
passed AS (SELECT * FROM lineitem WHERE {checks}),
pb AS (
  SELECT p_brand, COUNT(*) AS n_lines,
         ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                        * CAST(1 - l_discount AS DECIMAL(18,6))) AS DOUBLE), 4) AS revenue
  FROM passed JOIN dim ON l_partkey = p_partkey GROUP BY 1
),
st AS (SELECT COUNT(*) AS bloom_passed FROM passed),
tot AS (SELECT COUNT(*) AS fact_total FROM lineitem)
SELECT pb.p_brand, pb.n_lines, pb.revenue, st.bloom_passed, tot.fact_total
FROM pb, st, tot ORDER BY p_brand
"""


def _q_sketch_quantile_prices(spark, sf_dir):
    """Portable histogram-quantile sketch (operators/sketches.py): p50/p90/
    p99 of lineitem price-in-cents per returnflag, joined to the exact
    median for an honest accuracy readout.  Spark's approx_percentile
    (Greenwald-Khanna) and DuckDB's approx_quantile (t-digest) can never
    agree bit-for-bit; the fixed-width integer histogram can — binning and
    ranks are pure integer arithmetic, only the final interpolation touches
    doubles (identical IEEE expression both sides, round 4).  State is ≤ 256
    counters per group for ANY input size, mergeable by addition; error is
    deterministically ≤ one bin width."""
    _prep(spark, sf_dir)
    import pyspark.sql.functions as F

    from a5pg_spark.operators.sketches import (
        exact_quantile_via_histogram,
        histogram_quantiles,
    )

    # r06 note: a fan-out of the slim (flag, cents) projection measured
    # FASTER in one capped-window A/B (2.76 -> 2.31 s) but SLOWER in clean
    # quiet-window suite runs (2.21 plain vs 2.71 fanned at sf1.0, and +1 s
    # at sf0.1) — binning is a few ns/row, so the extra exchange only pays
    # when the host is compute-throttled.  Optimize for the quiet case:
    # no fan-out; the 6-task scan parallelism carries the binning passes.
    v = spark.table("lineitem").select(
        F.col("l_returnflag"),
        F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").alias("cents"),
    )
    est = histogram_quantiles(v, "cents", ["l_returnflag"], bins=256)
    # exact readout WITHOUT a full per-group sort: histogram-guided
    # selection sorts only the median bin (~n/256 rows per group)
    exact = exact_quantile_via_histogram(
        v, "cents", ["l_returnflag"], num=1, den=2, bins=256
    ).select("l_returnflag", F.col("q_exact").alias("exact_p50"))
    return (
        est.join(exact, "l_returnflag")
        .select("l_returnflag", "n", "est_p50", "est_p90", "est_p99", "exact_p50")
        .orderBy("l_returnflag")
    )


def _quantile_oracle_sql() -> str:
    parts = []
    for name, num, den in (("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)):
        rr = f"(n * {num} + {den} - 1) // {den}"
        rq = f"(q.n * {num} + {den} - 1) // {den}"
        parts.append(
            f"""q{name} AS (
  SELECT g, lo, hi, n, MIN(bin) AS bin FROM c WHERE cum >= {rr} GROUP BY 1, 2, 3, 4
), e{name} AS (
  SELECT q.g, q.n,
         ROUND(q.lo + ((q.bin + ({rq} - (c.cum - c.cnt)) / c.cnt)
                        * (q.hi - q.lo + 1)) / 256.0, 4) AS est_{name}
  FROM q{name} q JOIN c ON c.g = q.g AND c.bin = q.bin
)"""
        )
    body = ",\n".join(parts)
    return f"""
WITH v AS (
  SELECT l_returnflag AS g, CAST(floor(l_extendedprice * 100) AS BIGINT) AS v
  FROM lineitem
), st AS (
  SELECT g, MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n FROM v GROUP BY 1
), b AS (
  SELECT v.g, ((v.v - st.lo) * 256) // (st.hi - st.lo + 1) AS bin, st.lo, st.hi, st.n
  FROM v JOIN st USING (g)
), h AS (
  SELECT g, lo, hi, n, bin, COUNT(*) AS cnt FROM b GROUP BY 1, 2, 3, 4, 5
), c AS (
  SELECT *, SUM(cnt) OVER (PARTITION BY g ORDER BY bin) AS cum FROM h
),
{body},
ex AS (
  SELECT g, v AS exact_p50 FROM (
    SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rn,
           COUNT(*) OVER (PARTITION BY g) AS nn FROM v
  ) WHERE rn = (nn + 1) // 2
)
SELECT ep50.g AS l_returnflag, ep50.n, ep50.est_p50, ep90.est_p90, ep99.est_p99,
       ex.exact_p50
FROM ep50 JOIN ep90 USING (g) JOIN ep99 USING (g) JOIN ex USING (g)
ORDER BY l_returnflag
"""


def _q_rel_bucketed_join(spark, sf_dir):
    """Bucketed co-located join (plans/bucketing.py): lineitem and orders
    written ONCE as co-bucketed tables (8 buckets on the order key, one
    sorted file per bucket), then equi-joined with a physical plan carrying
    ZERO Exchange and ZERO Sort — the shuffle is paid at write time, every
    later join on the key is free.  The brief's third shuffle-control leg
    (broadcast / salt / bucket); semantics = the plain join (exact oracle).
    tests/test_bucketing.py pins the plan shape."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from a5pg_spark.plans.bucketing import bucketed_join, write_bucketed

    _prep(spark, sf_dir)
    key = hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
    root = os.path.abspath(f"spark-warehouse/bucketed_{key}")
    # The query executes once, by the caller.  The broadcast threshold is
    # left at the session default: a tiny-sf run may pick an (equally
    # correct) broadcast join, while sf >= 0.1 exceeds the 10 MB threshold
    # and plans the zero-shuffle bucketed join that tests/test_bucketing.py
    # pins (session.SQL_CONF sets the scan-ordering flag it needs).
    lt, rt = f"li_bkt_{key}", f"od_bkt_{key}"
    if not spark.catalog.tableExists(lt):
        write_bucketed(
            spark.table("lineitem"), lt, "l_orderkey", 8, f"{root}/lineitem"
        )
    if not spark.catalog.tableExists(rt):
        write_bucketed(
            spark.table("orders"), rt, "o_orderkey", 8, f"{root}/orders"
        )
    j = bucketed_join(spark, lt, rt, "l_orderkey", "o_orderkey")
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.count_distinct("o_orderkey").alias("n_orders"),
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,4)")
                    * (1 - F.col("l_discount")).cast("decimal(18,6)")
                ).cast("double"),
                4,
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


_REL_BUCKETED_JOIN_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n_lines,
       COUNT(DISTINCT o_orderkey) AS n_orders,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                      * CAST(1 - l_discount AS DECIMAL(18,6))) AS DOUBLE), 4) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

# deterministic synthetic route segments: endpoint A from the key, endpoint
# B = A + a small (±1°, ±0.4°) key-derived delta — identical text in both
# engines, so the lerped sample points agree bit-for-bit.
# SF bound: c_custkey * 987654321986 overflows int64 above _SEG_MAX_KEY
# (~9.3e6, TPC-H SF >= ~62), where Spark with ANSI off would wrap silently
# and DuckDB raises.  The expression text is frozen with the oracle, so
# _q_route_cells checks the keys instead (_guard_seg_keys).
_SEG_BASE = """
  SELECT c_custkey AS rid,
         ((c_custkey * 2654435761) % 358000000) / 1e6 - 179.0 AS lon1,
         ((c_custkey * 987654321986) % 160000000) / 1e6 - 80.0 AS lat1,
         ((c_custkey * 48271) % 2000001) / 1e6 - 1.0 AS dlon,
         ((c_custkey * 69069) % 800001) / 1e6 - 0.4 AS dlat
  FROM customer
"""
_SEG_MAX_KEY = (2**63 - 1) // 987654321986


def _guard_seg_keys(seg: DataFrame) -> DataFrame:
    """``seg`` with its ``rid`` (c_custkey) checked as the query runs: a key
    above _SEG_MAX_KEY fails the query with an error that names the bound.
    A per-row check, not an extra job over ``customer``."""
    from pyspark.sql import functions as F

    rid = F.col("rid")
    msg = F.concat(F.lit("a5_route_cells: c_custkey "), rid.cast("string"),
                   F.lit(f" exceeds {_SEG_MAX_KEY}, above which c_custkey * "
                         "987654321986 overflows int64 (TPC-H SF >= ~62)"))
    return seg.withColumn("rid", F.when(rid > _SEG_MAX_KEY, F.raise_error(msg)).otherwise(rid))


_SEG_SQL = f"""
  SELECT rid, lon1, lat1, lon1 + dlon AS lon2, lat1 + dlat AS lat2
  FROM ({_SEG_BASE})
"""


def _q_route_cells(spark, sf_dir):
    """Trajectory → A5 cell path (operators/trajectories.py): deterministic
    route segments fan out to 33 lerped sample points each (Expand +
    arithmetic, pure JVM), encode at res 7, and roll up to the per-route
    distinct-cell set — the line-geometry primitive next to point encode and
    polygon cover.  ONE data shuffle (the per-route distinct+rollup).  The
    oracle replays the identical lerp text and the generated encode CTE
    chain (oracle_gen.py), so n_cells AND the Hilbert id range match
    bit-for-bit."""
    _prep(spark, sf_dir)
    from a5pg_spark.operators.trajectories import route_cell_stats
    from a5pg_spark.plans.partitioning import fan_out_scan

    # r06: fan the 5-column segment rows out to all cores BEFORE the 33x
    # sample fan-out + encode (the 1-row-group customer scan put the whole
    # 4.95M-point encode on one task; measured 3.8 -> 1.6 s noop at sf1.0).
    # Threshold 1 MB, not the 3 MB default: each input row explodes into 33
    # encodes, so the per-byte compute weight is ~30x a plain scan's (the
    # sf1.0 customer file is 2.9 MB and must fan; sf0.1's 0.3 MB must not).
    seg = fan_out_scan(_guard_seg_keys(spark.sql(_SEG_SQL)), min_input_bytes=1024 * 1024)
    return route_cell_stats(
        seg, "rid", "lon1", "lat1", "lon2", "lat2", res=7, samples=32
    ).orderBy("rid")


def _route_cells_oracle_sql() -> str:
    from a5pg_spark.oracle_gen import encode_cte_chain

    ctes, final = encode_cte_chain(7)
    return f"""
WITH segs AS ({_SEG_SQL}),
pts AS (
  SELECT rid * 33 + g.i AS key,
         lon1 + (lon2 - lon1) * (g.i / 32.0) AS lon,
         lat1 + (lat2 - lat1) * (g.i / 32.0) AS lat
  FROM segs, generate_series(0, 32) AS g(i)
),
{ctes},
rc AS (SELECT DISTINCT CAST(key // 33 AS BIGINT) AS rid, cell FROM {final})
SELECT rid, COUNT(*) AS n_cells, MIN(cell) AS min_cell, MAX(cell) AS max_cell
FROM rc GROUP BY rid ORDER BY rid
"""


def _q_sample_documents(spark, sf_dir):
    """Deterministic portable sampling (operators/sampling.py): a ~25%
    hash-Bernoulli sample by doc_id (membership is a pure function of the
    key — retry-stable, cross-table-consistent, zero shuffles) plus a
    uniform 5-per-language sample via smallest-key-hash ranking (ONE window
    shuffle; a per-group `ORDER BY rand() LIMIT k` would be retry-broken).
    Both samples replay bit-for-bit in DuckDB through the shared
    portable_hash31 chain, so the oracle checks the exact membership (id
    checksums), not just sizes."""
    _prep(spark, sf_dir)
    import pyspark.sql.functions as F

    from a5pg_spark.operators.sampling import group_sample_k, hash_sample

    docs = spark.table("documents")
    bern = hash_sample(docs, "doc_id", 0.25)
    b = bern.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_bern"), F.sum("doc_id").alias("bern_id_sum")
    )
    topk = group_sample_k(docs, ["lang"], "doc_id", 5)
    t = topk.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_topk"), F.sum("doc_id").alias("topk_id_sum")
    )
    return (
        t.join(b, "lang", "left")
        .select(
            "lang",
            F.coalesce("n_bern", F.lit(0)).alias("n_bern"),
            F.coalesce("bern_id_sum", F.lit(0)).alias("bern_id_sum"),
            "n_topk",
            "topk_id_sum",
        )
        .orderBy("lang")
    )


def _sample_documents_oracle_sql() -> str:
    from a5pg_spark.operators.sampling import hash_sample_sql
    from a5pg_spark.operators.sketches import portable_hash31_sql

    return f"""
WITH bern AS (
  SELECT lang, doc_id FROM documents WHERE {hash_sample_sql("doc_id", 0.25)}
),
b AS (
  SELECT lang, COUNT(*) AS n_bern, CAST(SUM(doc_id) AS BIGINT) AS bern_id_sum
  FROM bern GROUP BY 1
),
ranked AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY ({portable_hash31_sql("doc_id")}) ASC, doc_id ASC
         ) AS rk
  FROM documents
),
t AS (
  SELECT lang, COUNT(*) AS n_topk, CAST(SUM(doc_id) AS BIGINT) AS topk_id_sum
  FROM ranked WHERE rk <= 5 GROUP BY 1
)
SELECT t.lang, coalesce(b.n_bern, 0) AS n_bern,
       coalesce(b.bern_id_sum, 0) AS bern_id_sum,
       t.n_topk, t.topk_id_sum
FROM t LEFT JOIN b ON t.lang = b.lang ORDER BY t.lang
"""


def _q_events_range_join(spark, sf_dir):
    """Bucketized range join (operators/intervals.py): events against 4096
    deterministic overlapping 90-min maintenance windows (one every hour
    from the 2024-01-01 epoch).  A raw BETWEEN join would plan as
    BroadcastNestedLoop — O(|L|·|R|); bucketizing turns it into an equi-join
    on floor(t/W) with each qualifying pair produced exactly once (a point
    has ONE bucket).  Plan pinned nested-loop-free in tests."""
    _prep(spark, sf_dir)
    import pyspark.sql.functions as F

    from a5pg_spark.operators.intervals import range_join_points
    from a5pg_spark.operators.sessions import epoch_us

    BASE = 1_704_067_200_000_000  # 2024-01-01 epoch micros
    HOUR = 3_600_000_000
    iv = spark.range(4096).select(
        F.col("id").alias("interval_id"),
        (F.lit(BASE) + F.col("id") * F.lit(HOUR)).alias("s"),
        (F.lit(BASE) + F.col("id") * F.lit(HOUR) + F.lit(5_400_000_000)).alias("e"),
    )
    pts = spark.table("events").select(
        "event_id", "value", epoch_us(F.col("ts")).alias("t")
    )
    j = range_join_points(pts, iv, "t", "s", "e", bucket_width=1_800_000_000)
    return (
        j.groupBy("interval_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.min("event_id").alias("first_event"),
        )
        .orderBy("interval_id")
    )


_EVENTS_RANGE_JOIN_ORACLE = """
WITH iv AS (
  SELECT i AS interval_id,
         1704067200000000 + i * 3600000000 AS s,
         1704067200000000 + i * 3600000000 + 5400000000 AS e
  FROM range(0, 4096) t(i)
), p AS (
  SELECT event_id, value, epoch_us(ts) AS t FROM events
)
SELECT iv.interval_id,
       COUNT(*) AS n_events,
       ROUND(SUM(p.value), 6) AS sum_value,
       MIN(p.event_id) AS first_event
FROM p JOIN iv ON p.t >= iv.s AND p.t <= iv.e
GROUP BY 1 ORDER BY 1
"""


def _q_events_session_window(spark, sf_dir):
    """Spark's NATIVE session_window operator (dynamic-gap merging windows)
    cross-validated against an INDEPENDENT gaps-and-islands window-function
    oracle — two genuinely different session implementations must agree on
    every island (boundary semantics probed: a gap of exactly 30 min merges
    in both, new session iff diff > gap).  Complements events_sessionize,
    which builds the same islands explicitly."""
    _prep(spark, sf_dir)
    from a5pg_spark.operators.sessions import session_window_stats

    return session_window_stats(spark.table("events"), "user_id", "ts", 1800, "value")


_EVENTS_SESSION_WINDOW_ORACLE = """
WITH o AS (
  SELECT user_id, epoch_us(ts) AS us, value, event_id FROM events
), f AS (
  SELECT user_id, us, value, event_id,
         CASE WHEN lag(us) OVER w IS NULL
                OR us - lag(us) OVER w > 1800000000
              THEN 1 ELSE 0 END AS ns
  FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
), s AS (
  SELECT user_id, us, value,
         SUM(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
                       ROWS UNBOUNDED PRECEDING) AS sess
  FROM f
)
SELECT user_id, MIN(us) AS start_us, COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS sum_value
FROM s GROUP BY user_id, sess ORDER BY user_id, start_us
"""


def _q_events_pivot_daily(spark, sf_dir):
    """Pivot — the one relational shape the repertoire lacked: daily
    value-sums spread over a FIXED event_type column list (explicit values
    keep the schema deterministic — mandatory for streaming and for not
    paying a distinct-scan planning job at 100 TB).  Catalyst compiles this
    to a single-pass conditional aggregation, exactly what the oracle's
    FILTER clauses express."""
    _prep(spark, sf_dir)
    import pyspark.sql.functions as F

    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        spark.table("events")
        .select(F.to_date("ts").alias("day"), "event_type", "value")
        .groupBy("day")
        .pivot("event_type", types)
        .agg(F.round(F.sum("value"), 6))
    )
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        *[F.col(t).alias(f"sum_{t}") for t in types],
    ).orderBy("day")


_EVENTS_PIVOT_DAILY_ORACLE = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       ROUND(SUM(value) FILTER (event_type = 'click'), 6)    AS sum_click,
       ROUND(SUM(value) FILTER (event_type = 'error'), 6)    AS sum_error,
       ROUND(SUM(value) FILTER (event_type = 'purchase'), 6) AS sum_purchase,
       ROUND(SUM(value) FILTER (event_type = 'signup'), 6)   AS sum_signup,
       ROUND(SUM(value) FILTER (event_type = 'view'), 6)     AS sum_view
FROM events GROUP BY 1 ORDER BY 1
"""


def _q_sketch_hll_users(spark, sf_dir):
    """Portable HyperLogLog distinct-user estimate per event_type, joined to
    the exact count for an honest accuracy readout.  Unlike Spark's built-in
    approx_count_distinct (HLL++ — register layout is an implementation
    detail no other engine reproduces), operators/sketches.py builds classic
    HLL from shared integer primitives, so the DuckDB oracle replays the
    ENTIRE sketch bit-for-bit: hash rounds, rho via bin/instr, integer
    register sums, estimator and small-range correction (ln branch verified
    exhaustively over its finite domain — all 256 values round identically
    in both engines)."""
    _prep(spark, sf_dir)
    import pyspark.sql.functions as F

    from a5pg_spark.operators.sketches import hll_distinct

    ev = spark.table("events")
    sk = hll_distinct(ev, "user_id", ["event_type"], p=8)
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return sk.join(F.broadcast(exact), "event_type").orderBy("event_type")


_SKETCH_HLL_USERS_ORACLE = """
WITH h AS (
  SELECT event_type,
         xor(d, d >> 13) AS e
  FROM (
    SELECT event_type,
           (xor(b, b >> 15) * 1597334677) % 2147483648 AS d
    FROM (
      SELECT event_type,
             ((user_id % 2147483647) * 2654435761) % 2147483648 AS b
      FROM events
    )
  )
), rb AS (
  SELECT event_type, e % 256 AS bkt,
         CASE WHEN (e >> 8) = 0 THEN 24
              ELSE instr(lpad(bin(e >> 8), 23, '0'), '1') END AS rho
  FROM h
), regs AS (
  SELECT event_type, bkt, MAX(rho) AS r FROM rb GROUP BY 1, 2
), s AS (
  SELECT event_type,
         SUM(CAST(1 AS BIGINT) << (24 - r)) AS ss,
         COUNT(*) AS nonzero_buckets
  FROM regs GROUP BY 1
), ex AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY 1
)
SELECT s.event_type,
       CAST(s.nonzero_buckets AS BIGINT) AS nonzero_buckets,
       CASE WHEN (0.7213 / (1.0 + 1.079 / 256) * 65536.0)
                 / ((256 - s.nonzero_buckets) + s.ss / 16777216.0) <= 640.0
              AND s.nonzero_buckets < 256
            THEN round(256.0 * ln(256.0 / (256 - s.nonzero_buckets)), 4)
            ELSE round((0.7213 / (1.0 + 1.079 / 256) * 65536.0)
                       / ((256 - s.nonzero_buckets) + s.ss / 16777216.0), 4)
       END AS est_distinct,
       ex.exact_distinct
FROM s JOIN ex USING (event_type)
ORDER BY event_type
"""


def _fold_cosine(a: str, b: str, dim: int) -> str:
    """DuckDB cosine of two ``dim``-long list columns.  Each dot product is
    one sequential left fold, the order Spark's ``aggregate`` adds in, so
    the doubles match bit for bit."""
    def dot(x: str, y: str) -> str:
        return (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {dim + 1}), "
            f"j -> CAST({x}[j] AS DOUBLE) * CAST({y}[j] AS DOUBLE))), "
            f"(acc, v) -> acc + v)"
        )

    return f"({dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)})))"


def _q_embed_ann_srp(spark, sf_dir):
    """SRP-LSH approximate NN (random projections, replayed as literals by
    the oracle; recall vs brute force asserted in pytest)."""
    _prep(spark, sf_dir)
    import pyspark.sql.functions as F

    from a5pg_spark.operators.similarity import srp_ann_topk

    emb = spark.table("embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"))
    return srp_ann_topk(q, emb, k=5, planes=4, tables=8, dim=64).orderBy("qid", "rk")


def _srp_oracle_sql(k: int = 5, planes: int = 4, tables: int = 8,
                    seed: int = 11, dim: int = 64) -> str:
    """DuckDB replica of the SRP-ANN query: the same projection planes as
    literals (sign margins are ~1e0 vs float noise ~1e-13, so the BLAS-vs-
    sequential summation difference cannot flip buckets on this corpus), and
    the exact-cosine rank mirrors Spark's sequential aggregate fold."""
    import numpy as np

    from a5pg_spark.operators.similarity import _srp_planes

    P = np.concatenate([_srp_planes(dim, planes, seed + t) for t in range(tables)],
                       axis=1)

    def keys_expr(vec: str) -> str:
        ks = []
        for t in range(tables):
            bits = []
            for i in range(planes):
                col = t * planes + i
                dot = " + ".join(
                    f"(CAST({vec}[{j + 1}] AS DOUBLE) * {float(P[j, col])!r})"
                    for j in range(dim)
                )
                bits.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << i} ELSE 0 END)")
            ks.append(f"({t << planes} + " + " + ".join(bits) + ")")
        return "[" + ", ".join(ks) + "]"

    cos = _fold_cosine("q.qe", "e.embedding", dim)
    return f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
    qb AS (SELECT qid, UNNEST({keys_expr('qe')}) AS tb FROM q),
    cb AS (SELECT vec_id, UNNEST({keys_expr('embedding')}) AS tb FROM embeddings),
    cand AS (
      SELECT qb.qid, cb.vec_id FROM qb JOIN cb USING (tb)
      WHERE qb.qid != cb.vec_id GROUP BY 1, 2
    ),
    ver AS (
      SELECT cand.qid, cand.vec_id, {cos} AS cos_sim
      FROM cand JOIN q ON q.qid = cand.qid
                JOIN embeddings e ON e.vec_id = cand.vec_id
    ),
    rk_ AS (
      SELECT qid, vec_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id ASC) AS rk
      FROM ver
    )
    SELECT qid, vec_id, ROUND(cos_sim, 6) AS cos_sim, rk
    FROM rk_ WHERE rk <= {k} ORDER BY qid, rk
"""


def _q_embed_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs: SRP bucket join + exact cosine
    verify (operators/dedup.py:embedding_near_dup_pairs).  Threshold tuned
    to the near-random synthetic embeddings so the output is non-trivial."""
    _prep(spark, sf_dir)
    from a5pg_spark.operators.dedup import embedding_near_dup_pairs

    emb = spark.table("embeddings")
    return embedding_near_dup_pairs(
        emb, cosine_threshold=0.35, planes=4, dim=64
    ).orderBy("id_a", "id_b")


def _embed_near_dup_oracle_sql(planes: int = 4, seed: int = 11, dim: int = 64,
                               threshold: float = 0.35) -> str:
    """DuckDB replica: same literal projection planes (srp_bucket's layout),
    same bucket join, exact sequential-fold cosine."""
    import numpy as np

    from a5pg_spark.operators.similarity import _srp_planes

    P = _srp_planes(dim, planes, seed)

    def bucket(vec: str) -> str:
        bits = []
        for i in range(planes):
            dot = " + ".join(
                f"(CAST({vec}[{j + 1}] AS DOUBLE) * {float(P[j, i])!r})"
                for j in range(dim)
            )
            bits.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << i} ELSE 0 END)")
        return "(" + " + ".join(bits) + ")"

    cos = _fold_cosine("x.embedding", "y.embedding", dim)
    return f"""
    WITH b AS (SELECT vec_id, embedding, {bucket('embedding')} AS bk FROM embeddings),
    cand AS (
      SELECT l.vec_id AS id_a, r.vec_id AS id_b
      FROM b l JOIN b r ON l.bk = r.bk AND l.vec_id < r.vec_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, ROUND(c, 6) AS cosine
    FROM (
      SELECT id_a, id_b, {cos} AS c
      FROM cand JOIN embeddings x ON x.vec_id = cand.id_a
                JOIN embeddings y ON y.vec_id = cand.id_b
    )
    WHERE c >= {threshold}
    ORDER BY id_a, id_b
"""


def _q_embed_ann_ivf(spark, sf_dir):
    """IVF ANN: k-means coarse quantizer trained on a deterministic sample
    (vec_id < 200), corpus sharded into inverted lists, nprobe=3 probing,
    exact cosine re-rank (operators/similarity.py:ivf_ann_topk)."""
    import numpy as np
    import pyspark.sql.functions as F

    from a5pg_spark.operators.similarity import ivf_ann_topk, kmeans_fit

    _prep(spark, sf_dir)
    emb = spark.table("embeddings")
    sample = emb.filter(F.col("vec_id") < 200).orderBy("vec_id").toPandas()
    C = kmeans_fit(np.stack(sample.embedding.to_numpy()), k=8)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"))
    return ivf_ann_topk(q, emb, k=5, centroids=C, nprobe=3).orderBy("qid", "rk")


def _ivf_oracle_sql(k: int = 5, n_centroids: int = 8, nprobe: int = 3,
                    dim: int = 64, sf_dir: str = "/root/testdata/sf0.01") -> str:
    """DuckDB replica of the IVF query: identical centroids (same sample,
    same deterministic k-means), list assignment and probing as rank-by-
    distance SQL, same exact-cosine re-rank.  The centroids are trained on
    ``sf_dir``'s embeddings, so the oracle holds for that scale factor only
    and is built when it is read."""
    import numpy as np
    import pyarrow.parquet as pq

    from a5pg_spark.operators.similarity import kmeans_fit

    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    t = t[t.vec_id < 200].sort_values("vec_id")
    C = kmeans_fit(np.stack(t.embedding.to_numpy()), k=n_centroids)

    def dists(vec: str) -> str:
        structs = []
        for j in range(n_centroids):
            d = " + ".join(
                f"((CAST({vec}[{i + 1}] AS DOUBLE) - {float(C[j, i])!r}) * "
                f"(CAST({vec}[{i + 1}] AS DOUBLE) - {float(C[j, i])!r}))"
                for i in range(dim)
            )
            structs.append(f"{{'j': {j}, 'dj': ({d})}}")
        return "[" + ", ".join(structs) + "]"

    cos = _fold_cosine("q.qe", "e.embedding", dim)
    return f"""
    WITH cl AS (
      SELECT vec_id, list FROM (
        SELECT vec_id, j AS list,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dj ASC, j ASC) AS r
        FROM (SELECT vec_id, UNNEST({dists('embedding')}, recursive := true)
              FROM embeddings)) WHERE r = 1
    ),
    q0 AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
    ql AS (
      SELECT qid, list FROM (
        SELECT qid, j AS list,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dj ASC, j ASC) AS r
        FROM (SELECT qid, UNNEST({dists('qe')}, recursive := true) FROM q0))
      WHERE r <= {nprobe}
    ),
    cand AS (
      SELECT ql.qid, cl.vec_id FROM ql JOIN cl USING (list)
      WHERE ql.qid != cl.vec_id GROUP BY 1, 2
    ),
    ver AS (
      SELECT cand.qid, cand.vec_id, {cos} AS cos_sim
      FROM cand JOIN q0 q ON q.qid = cand.qid
                JOIN embeddings e ON e.vec_id = cand.vec_id
    ),
    rk_ AS (
      SELECT qid, vec_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id ASC) AS rk
      FROM ver
    )
    SELECT qid, vec_id, ROUND(cos_sim, 6) AS cos_sim, rk
    FROM rk_ WHERE rk <= {k} ORDER BY qid, rk
"""


def _q_images_tiling(spark, sf_dir):
    """Raster→cell tiling over a synthesized deterministic image batch
    (the parquet corpus has no binary images; generation is part of the
    engine, sources/images.py).  EXACT oracle (round 3): the decode →
    per-pixel georeference → res-14 encode → mosaic rollup pipeline is
    replicated end-to-end in DuckDB — pixel values are a BIGINT-safe
    closed form, image metadata is embedded as literals, and the encode is
    oracle_gen's bit-exact generated CTE chain.  This is the north-rule
    "tile-assignment exact-match" gate."""
    _prep(spark, sf_dir)
    import pyspark.sql.functions as F

    from a5pg_spark.operators.tiling import cell_mosaic, pixels_to_cells
    from a5pg_spark.sources.images import build_images_df

    imgs = build_images_df(spark, 128, slices=8)
    tiles = pixels_to_cells(imgs, res=14)
    return cell_mosaic(tiles, target_res=6).select(
        "mosaic_cell", "n_pixels", F.round("mean_value", 4).alias("mean_value"),
        "n_images",
    ).orderBy("mosaic_cell")


def _images_tiling_oracle_sql(n: int = 128) -> str:
    """DuckDB replica of _q_images_tiling: image metadata (w/h/fmt/phash —
    phash includes the golden-point pins) as a VALUES literal; pixels from
    the closed form in sources/images.py:make_rows; fake-jpeg decode is
    (v//4)*4+2 (sources/images.py:fake_jpeg_decode, no clipping needed for
    v in 0..255); georeferencing mirrors operators/tiling.py:_tile_one's
    float op order exactly; encode is the generated bit-exact chain."""
    import numpy as _np

    from a5pg_spark.oracle_gen import encode_cte_chain
    from a5pg_spark.sources.images import (
        FMT_CYCLE, GOLDEN_POINTS, H_CYCLE, W_CYCLE, phash_for_point, phash_of,
    )

    meta = []
    for i in range(n):
        w, h, fmt = W_CYCLE[i % 3], H_CYCLE[i % 3], FMT_CYCLE[i % 2]
        if i < len(GOLDEN_POINTS):
            ph = phash_for_point(*GOLDEN_POINTS[i])
        else:
            ph = int(phash_of(_np.array([i]))[0])
        meta.append(f"({i},{w},{h},'{fmt}',{ph})")
    enc_ctes, final = encode_cte_chain(14)
    cap_mod = 360000000 * 180000000
    return f"""
    WITH meta(i, w, h, fmt, phash) AS (VALUES {','.join(meta)}),
    grid AS (
      SELECT i, w, h, fmt,
             ((phash % {cap_mod}) + {cap_mod}) % {cap_mod} AS p,
             y.range AS y, x.range AS x
      FROM meta, range(48) y, range(64) x
      WHERE y.range < h AND x.range < w
    ),
    pix AS (
      SELECT i * 4096 + y * 64 + x AS key, i,
             CASE WHEN fmt = 'jpeg'
                  THEN CAST((((i * 2654435761 + y * 977 + x * 131) % 256) // 4) * 4 + 2 AS DOUBLE)
                  ELSE CAST((i * 2654435761 + y * 977 + x * 131) % 256 AS DOUBLE) END AS val,
             ((p % 360000000) / 1e6 - 180.0)
               + (CAST(x AS DOUBLE) - CAST(w AS DOUBLE) / 2.0) * 0.0001 AS lon,
             ((p // 360000000) / 1e6 - 90.0)
               + (CAST(h AS DOUBLE) / 2.0 - CAST(y AS DOUBLE)) * 0.0001 AS lat
      FROM grid
    ),
    pts AS (SELECT key, lon, lat FROM pix),
    {enc_ctes}
    SELECT {_parent_duck('cell', 6)} AS mosaic_cell,
           COUNT(*) AS n_pixels,
           ROUND(SUM(val) / COUNT(*), 4) AS mean_value,
           COUNT(DISTINCT i) AS n_images
    FROM {final} e JOIN pix USING (key)
    GROUP BY 1 ORDER BY mosaic_cell
"""


def _q_geojson_export(spark, sf_dir):
    """Geometry output surface (a5_cell_to_geom parity): the full WKT and
    GeoJSON strings per cell, EXACT-oracle-checked (round 3): the DuckDB
    side regenerates the boundary corners through the generated inverse
    chain and assembles byte-identical strings (printf fixed-precision +
    zero-trim — the PostGIS formatting both engines pin).  WKT uses the
    2-arg ST_AsText precision form (digits=9) because DuckDB's
    shortest-repr printer differs from ryu/Python in ~15% of last digits;
    the full-precision default stays pinned by the char-for-char pytest
    golden.  The FeatureCollection export stage is exercised in pytest
    (test_functions_round2)."""
    _prep(spark, sf_dir)
    return spark.sql("""
        SELECT n_nationkey AS rid,
               a5_synth_cell(n_nationkey + 1, 6) AS cell,
               a5_cell_to_wkt(a5_synth_cell(n_nationkey + 1, 6), 9) AS wkt,
               a5_cell_to_geojson(a5_synth_cell(n_nationkey + 1, 6), 6) AS geojson
        FROM nation ORDER BY rid
    """)


def _geojson_export_oracle_sql(res: int = 6) -> str:
    from a5pg_spark.oracle_gen import boundary_corners_cte_chain

    ctes, final = boundary_corners_cte_chain(res)

    def T(expr: str, d: int) -> str:
        r = f"rtrim(rtrim(printf('%.{d}f', {expr}), '0'), '.')"
        return f"(CASE WHEN {r} IN ('-0', '') THEN '0' ELSE {r} END)"

    def wkt_pt(i: int) -> str:
        return f"{T(f'x{i}', 9)} || ' ' || {T(f'y{i}', 9)}"

    def gj_pt(i: int) -> str:
        return f"'[' || {T(f'x{i}', 6)} || ',' || {T(f'y{i}', 6)} || ']'"

    return f"""
    WITH ids AS (SELECT n_nationkey AS key,
                        ((n_nationkey + 1) % 32) AS origin,
                        ((n_nationkey + 1) * 48271) % {1 << (2 * (res - 1))} AS s
                 FROM nation),
    encfq AS (SELECT key, origin // 5 AS face, origin % 5 AS q, s FROM ids),
    {ctes},
    ring AS (
      SELECT key,
             MAX(CASE WHEN vid = 0 THEN vlon END) AS x0,
             MAX(CASE WHEN vid = 0 THEN vlat END) AS y0,
             MAX(CASE WHEN vid = 1 THEN vlon END) AS x1,
             MAX(CASE WHEN vid = 1 THEN vlat END) AS y1,
             MAX(CASE WHEN vid = 2 THEN vlon END) AS x2,
             MAX(CASE WHEN vid = 2 THEN vlat END) AS y2
      FROM {final} GROUP BY key)
    SELECT key AS rid,
           {_synth_duck('key + 1', res)} AS cell,
           'POLYGON((' || {wkt_pt(0)} || ',' || {wkt_pt(1)} || ',' ||
                          {wkt_pt(2)} || ',' || {wkt_pt(0)} || '))' AS wkt,
           '{{"type":"Polygon","coordinates":[[' || {gj_pt(0)} || ',' ||
               {gj_pt(1)} || ',' || {gj_pt(2)} || ',' || {gj_pt(0)} || ']]}}' AS geojson
    FROM ring ORDER BY rid
"""


def _q_dissolve_export(spark, sf_dir):
    """Dissolve (polygon-union export): elephant cover cells per part →
    union rings (the reference's elephant_cells_union_per_part.geojson
    stage, ``tests/elephant_a5_cells.sql:117-134``).

    Partial exact oracle (round 4): the stitched ring GEOMETRY is non-ANSI
    computational geometry, but three derived invariants are value-exact in
    DuckDB — per-part covering-cell count, the count of boundary edges that
    SURVIVE edge cancellation (replicated over the corner-inverse CTE chain
    with the same 9-decimal vertex keying), and the exact total area
    (equal-area law: n_cells × cell_area(res)).  n_edges is read back out of
    the operator's own GeoJSON output, so a stitching bug (dropped ring,
    open chain, missed cancellation) breaks the hash."""
    _prep(spark, sf_dir)
    import pyspark.sql.functions as F

    from a5pg_spark.core.areas import cell_area
    from a5pg_spark.operators.dissolve import dissolve
    from a5pg_spark.operators.spatial_join import polygon_cover
    from a5pg_spark.sources import polygons as P

    polys = P.from_feature_collection(spark, P.elephant_feature_collection())
    cover = polygon_cover(polys, res=8)
    out = dissolve(cover, part_col="part", cell_col="cell")
    coords = F.from_json(
        F.get_json_object("geom_json", "$.coordinates"),
        "array<array<array<array<double>>>>",
    )
    # each MultiPolygon entry is [ring]; a closed ring of k vertices has k-1
    # edges, so surviving-edge total = Σ vertices − Σ rings
    verts = F.aggregate(
        coords, F.lit(0), lambda acc, poly: acc + F.size(F.element_at(poly, 1))
    )
    shaped = out.select(
        "part", (verts - F.size(coords)).cast("long").alias("n_edges")
    )
    stats = cover.groupBy("part").agg(F.count_distinct("cell").alias("n_cells"))
    area = float(cell_area(8))
    return (
        stats.join(shaped, "part")
        .select(
            "part", "n_cells", "n_edges",
            (F.col("n_cells").cast("double") * F.lit(area) / F.lit(1000000.0))
            .alias("area_km2"),
        )
        .orderBy("part")
    )


def _dissolve_oracle_sql(res: int = 8) -> str:
    """Exact DuckDB oracle for the dissolve invariants: the covering cells
    are generated by the same driver-side NumPy cover (embedded as (face, q,
    s) literals — the identically-trained-fixture pattern used by the IVF and
    spatial-join oracles), then DuckDB independently decodes every cell's 3
    corner vertices through the generated inverse chain, performs the same
    twin-edge cancellation, and recomputes count/edges/area."""
    import numpy as _np

    from a5pg_spark.core import cells as _C
    from a5pg_spark.core.areas import cell_area
    from a5pg_spark.operators.spatial_join import exact_cover_cells
    from a5pg_spark.oracle_gen import boundary_corners_cte_chain
    from a5pg_spark.sources import polygons as P

    fc = P.elephant_feature_collection()
    rows = []
    key = 0
    smask = (1 << (2 * (res - 1))) - 1
    shift = 59 - 2 * res + 1
    for f in fc["features"]:
        part = f["properties"]["part"]
        g = f["geometry"]
        if g["type"] == "Point":
            lon, lat = g["coordinates"]
            ids = _C.lonlat_to_cell(
                _np.array([lon]), _np.array([lat]), res
            ).astype(_np.int64)
        else:
            polys = ([g["coordinates"]] if g["type"] == "Polygon"
                     else g["coordinates"])
            ids = _np.unique(_np.concatenate(
                [exact_cover_cells(poly, res)[0] for poly in polys]))
        for cid in ids:
            u = int(cid) & ((1 << 64) - 1)
            origin = u >> 58
            rows.append(f"('{part}', {key}, {origin // 5}, {origin % 5}, "
                        f"{(u >> shift) & smask})")
            key += 1
    vals = ",\n      ".join(rows)
    ctes, final = boundary_corners_cte_chain(res, src="encfq")
    area = repr(float(cell_area(res)))
    return f"""
    WITH cov AS (
      SELECT part, key, face, q, s FROM (VALUES
      {vals}) t(part, key, face, q, s)
    ),
    encfq AS (SELECT key, face, q, s FROM cov),
    {ctes},
    vert AS (
      SELECT c.part, b.key, b.vid, ROUND(b.vlon, 9) AS x, ROUND(b.vlat, 9) AS y
      FROM {final} b JOIN cov c ON b.key = c.key
    ),
    edge AS (
      SELECT a.part, a.key, a.x AS ax, a.y AS ay, b.x AS cx, b.y AS cy
      FROM vert a JOIN vert b
        ON a.key = b.key AND b.vid = (a.vid + 1) % 3
    ),
    surv AS (
      SELECT e.part FROM edge e
      LEFT JOIN edge r
        ON e.part = r.part AND e.ax = r.cx AND e.ay = r.cy
           AND e.cx = r.ax AND e.cy = r.ay
      WHERE r.key IS NULL
    ),
    ne AS (SELECT part, COUNT(*) AS n_edges FROM surv GROUP BY part),
    nc AS (SELECT part, COUNT(*) AS n_cells FROM cov GROUP BY part)
    SELECT nc.part, nc.n_cells, ne.n_edges,
           CAST(nc.n_cells AS DOUBLE) * {area} / 1000000.0 AS area_km2
    FROM nc JOIN ne ON nc.part = ne.part
    ORDER BY nc.part
"""


def _q_stream_dedup(spark, sf_dir):
    """Stateful streaming first-seen dedup (applyInPandasWithState) driven
    deterministically: orders-derived events written as two parquet files
    with planted cross-batch duplicates, processed one-file-per-microbatch
    under availableNow, parquet sink read back.  Custom stateful streaming —
    genuinely non-SQL-expressible (the oracle checks its result, the
    distinct id set; laws in tests/test_streaming.py)."""
    import hashlib
    import os
    import shutil

    import pyspark.sql.functions as F

    from a5pg_spark.streaming.ingest import (
        drain_available_now, no_data_microbatches_disabled, streaming_dedup)

    _prep(spark, sf_dir)
    key = hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
    base = os.path.abspath(f"spark-warehouse/streams/dedup_{key}")
    src, sink, ck = f"{base}/src", f"{base}/sink", f"{base}/ck"
    if os.path.exists(base):
        shutil.rmtree(base)
    ev1 = spark.sql(
        "SELECT timestamp'2026-01-01 12:00:00' AS event_time, concat('img-', o_orderkey % 700) AS image_id "
        "FROM orders WHERE o_orderkey <= 500"
    )
    ev2 = spark.sql(
        "SELECT timestamp'2026-01-01 12:00:10' AS event_time, concat('img-', o_orderkey % 700) AS image_id "
        "FROM orders WHERE o_orderkey > 500 AND o_orderkey <= 1000"
    )
    ev1.coalesce(1).write.parquet(src)
    ev2.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(ev1.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    # noDataMicroBatches must be off while the drain runs (pending
    # ProcessingTimeTimeouts otherwise spin no-data batches for the whole
    # TTL); the wrapper restores the session default afterwards so later
    # append-mode consumers aren't silently affected.
    with no_data_microbatches_disabled(spark):
        q = (
            streaming_dedup(stream, id_col="image_id")
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        drain_available_now(q, timeout=120)
    return (
        spark.read.parquet(sink)
        .groupBy()
        .agg(
            F.count("*").alias("n_unique"),
            F.count_distinct("image_id").alias("n_distinct"),
        )
    )


# the stateful-streaming EXECUTION is not SQL-expressible, but the dedup
# RESULT is: first-seen dedup must emit exactly the distinct id set
_STREAM_DEDUP_FIRSTSEEN_ORACLE = """
    WITH ids AS (SELECT DISTINCT ('img-' || (o_orderkey % 700)) AS image_id
                 FROM orders WHERE o_orderkey <= 1000)
    SELECT COUNT(*) AS n_unique, COUNT(*) AS n_distinct FROM ids
"""

_RAS_BBOX = (-40.0, -45.0, 40.0, 40.0)
_RAS_W, _RAS_H = 96, 64


def _q_rasterize_cells(spark, sf_dir):
    """Vector→raster: per-cell point counts (res 6, orders-derived points)
    rendered onto a 96×64 pixel grid over the elephant region — the inverse
    direction of images_tiling_mosaic, closing the raster↔vector loop.
    EXACT oracle: one generated encode chain serves BOTH sides (points and
    pixel centers union with disjoint key ranges), the left join and
    position-weighted digest replay in ANSI SQL."""
    _prep(spark, sf_dir)
    import pyspark.sql.functions as F

    from a5pg_spark.functions_native import encode_native
    from a5pg_spark.operators.tiling import rasterize_cells

    pts = spark.sql(
        f"SELECT {_PT_SPARK.format(k='o_orderkey')} FROM orders")
    counts = (
        encode_native(pts, "lon", "lat", 6, "cell")
        .groupBy("cell").agg(F.count("*").alias("n"))
    )
    ras = rasterize_cells(spark, counts, _RAS_BBOX, _RAS_W, _RAS_H, 6)
    return ras.agg(
        F.count("*").alias("n_pixels"),
        F.count("n").alias("covered_pixels"),
        F.sum(F.coalesce(F.col("n"), F.lit(0))).alias("total_hits"),
        F.sum((F.col("y").cast("long") * _RAS_W + F.col("x") + 1)
              * F.coalesce(F.col("n"), F.lit(0))).alias("digest"),
    )


def _rasterize_oracle_sql() -> str:
    from a5pg_spark.oracle_gen import encode_cte_chain

    ctes, final = encode_cte_chain(6)
    lon0, lat0, lon1, lat1 = _RAS_BBOX
    W, H = _RAS_W, _RAS_H
    return f"""
    WITH pts AS (
      SELECT o_orderkey AS key, {_PT.format(k="o_orderkey")} FROM orders
      UNION ALL
      SELECT 1000000000 + y.range * {W} + x.range,
             {lon0!r} + (CAST(x.range AS DOUBLE) + 0.5) * {(lon1 - lon0)!r} / {float(W)!r},
             {lat0!r} + (CAST(y.range AS DOUBLE) + 0.5) * {(lat1 - lat0)!r} / {float(H)!r}
      FROM range({H}) y, range({W}) x
    ),
    {ctes},
    counts AS (SELECT cell, COUNT(*) AS n FROM {final}
               WHERE key < 1000000000 GROUP BY 1),
    px AS (SELECT key - 1000000000 AS pk, cell FROM {final}
           WHERE key >= 1000000000),
    j AS (SELECT pk, n FROM px LEFT JOIN counts USING (cell))
    SELECT COUNT(*) AS n_pixels, COUNT(n) AS covered_pixels,
           CAST(SUM(COALESCE(n, 0)) AS BIGINT) AS total_hits,
           CAST(SUM((pk + 1) * COALESCE(n, 0)) AS BIGINT) AS digest
    FROM j
"""


def _q_images_resize(spark, sf_dir):
    """Multimodal resize end-to-end with an EXACT oracle: decode → 24×32
    nearest-neighbour resize → re-encode in the row's own format
    (operators/multimodal.py:resize_images, a pure map stage) → decode again
    and fold per-image pixel stats (count, sum, position-weighted sum).  The
    DuckDB oracle regenerates the resized pixels in closed form: NN gather
    index sy=(Y·h)//24, sx=(X·w)//32 over the deterministic source pixels,
    and the fake-jpeg path uses the codec's fixed point — decode→encode→
    decode of (v//4)·4+2 is itself (sources/images.py:160-171) — so lossy
    rows are exact too."""
    _prep(spark, sf_dir)
    import numpy as _np
    import pandas as _pd

    from pyspark.sql.types import (
        IntegerType as _Int, LongType as _Long, StringType as _Str,
        StructField as _SF, StructType as _ST,
    )

    from a5pg_spark.operators.multimodal import resize_images
    from a5pg_spark.sources.images import build_images_df, decode_image

    imgs = build_images_df(spark, 128, slices=8)
    rs = resize_images(imgs, out_w=32, out_h=24)
    schema = _ST([
        _SF("i", _Int()), _SF("fmt", _Str()), _SF("n_pix", _Long()),
        _SF("sum_val", _Long()), _SF("wsum", _Long()),
    ])
    wgt = _np.arange(24)[:, None] * 32 + _np.arange(32)[None, :] + 1

    def stats(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                img = decode_image(bytes(r.bytes), r.fmt).astype(_np.int64)
                rows.append((int(str(r.image_id)[3:]), r.fmt, int(img.size),
                             int(img.sum()), int((img * wgt).sum())))
            yield _pd.DataFrame(
                rows, columns=["i", "fmt", "n_pix", "sum_val", "wsum"])

    return rs.mapInPandas(stats, schema).orderBy("i")


def _images_resize_oracle_sql(n: int = 128) -> str:
    from a5pg_spark.sources.images import FMT_CYCLE, H_CYCLE, W_CYCLE

    meta = ",".join(
        f"({i},{W_CYCLE[i % 3]},{H_CYCLE[i % 3]},'{FMT_CYCLE[i % 2]}')"
        for i in range(n)
    )
    v = "((i * 2654435761 + sy * 977 + sx * 131) % 256)"
    return f"""
    WITH meta(i, w, h, fmt) AS (VALUES {meta}),
    pix AS (
      SELECT i, fmt, yy.range AS yy, xx.range AS xx,
             (yy.range * h) // 24 AS sy, (xx.range * w) // 32 AS sx
      FROM meta, range(24) yy, range(32) xx
    ),
    vals AS (
      SELECT i, fmt, yy * 32 + xx + 1 AS wgt,
             CASE WHEN fmt = 'jpeg' THEN ({v} // 4) * 4 + 2 ELSE {v} END AS val
      FROM pix
    )
    SELECT i, fmt, COUNT(*) AS n_pix, CAST(SUM(val) AS BIGINT) AS sum_val,
           CAST(SUM(val * wgt) AS BIGINT) AS wsum
    FROM vals GROUP BY 1, 2 ORDER BY i
"""


def _q_images_jfif_recode(spark, sf_dir):
    """Real baseline JPEG (JFIF) recode invariant, Spark-side: decode each
    image's stored pixels, re-encode through the REAL T.81 baseline codec
    (sources/jpeg.py — round 5, closing the declared fake-jpeg stub),
    decode again and verify the BASELINE.json per-row lossy bound
    (PSNR ≥ 40 dB) plus JFIF structure (SOI/EOI markers) per row.  A pure
    map stage (mapInPandas) — shards with the table, no shuffle.  The
    oracle asserts the invariant columns are TRUE for every row; any image
    failing the bound hash-mismatches."""
    _prep(spark, sf_dir)
    import numpy as _np
    import pandas as _pd

    from pyspark.sql.types import (
        BooleanType as _Bool, IntegerType as _Int, StringType as _Str,
        StructField as _SF, StructType as _ST,
    )

    from a5pg_spark.sources.images import build_images_df, decode_image, psnr
    from a5pg_spark.sources.jpeg import jpeg_decode, jpeg_encode

    imgs = build_images_df(spark, 128, slices=8)
    schema = _ST([
        _SF("i", _Int()), _SF("fmt", _Str()), _SF("w", _Int()),
        _SF("h", _Int()), _SF("psnr_ge_40", _Bool()), _SF("jfif_ok", _Bool()),
    ])

    def recode(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                src = decode_image(bytes(r.bytes), r.fmt)
                data = jpeg_encode(src)  # default quality holds ≥40 dB on any input
                out = jpeg_decode(data)
                ok_jfif = (
                    data[:2] == b"\xff\xd8"
                    and data[-2:] == b"\xff\xd9"
                    and out.shape == src.shape
                )
                rows.append((int(str(r.image_id)[3:]), r.fmt, int(r.w),
                             int(r.h), bool(psnr(src, out) >= 40.0),
                             bool(ok_jfif)))
            yield _pd.DataFrame(
                rows,
                columns=["i", "fmt", "w", "h", "psnr_ge_40", "jfif_ok"])

    return imgs.mapInPandas(recode, schema).orderBy("i")


def _images_jfif_oracle_sql(n: int = 128) -> str:
    from a5pg_spark.sources.images import FMT_CYCLE, H_CYCLE, W_CYCLE

    meta = ",".join(
        f"({i},'{FMT_CYCLE[i % 2]}',{W_CYCLE[i % 3]},{H_CYCLE[i % 3]})"
        for i in range(n)
    )
    return f"""
    WITH meta(i, fmt, w, h) AS (VALUES {meta})
    SELECT i, fmt, w, h, TRUE AS psnr_ge_40, TRUE AS jfif_ok
    FROM meta ORDER BY i
"""


def _q_stream_cell_counts(spark, sf_dir):
    """Watermarked event-time tile rollup as a STREAM: events replayed as an
    availableNow file stream (two files → two micro-batches, so the windowed
    state genuinely merges across batches), 1-day tumbling windows per res-3
    parent cell, complete output mode.  The watermark is set far beyond the
    data's event-time spread so the bounded replay provably equals the batch
    rollup — bit-for-bit, which is what the DuckDB oracle computes through
    the exact encode CTE chain.  (Tail-window/late-drop semantics under
    append mode are pinned separately in tests/test_streaming.py.)"""
    import hashlib
    import os
    import shutil

    import pyspark.sql.functions as F

    from a5pg_spark.streaming.ingest import (
        drain_available_now, no_data_microbatches_disabled,
        streaming_cell_counts)

    _prep(spark, sf_dir)
    key = hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
    base = os.path.abspath(f"spark-warehouse/streams/cellcounts_{key}")
    src = f"{base}/src"
    if os.path.exists(base):
        shutil.rmtree(base)
    ev = spark.sql(
        # parquet ts is TIMESTAMP_NTZ; watermarks need TIMESTAMP (session tz
        # is pinned UTC, so the cast is wall-clock identity)
        f"SELECT CAST(ts AS TIMESTAMP) AS event_time, {_PT_SPARK.format(k='event_id')},"
        " event_id FROM events"
    )
    ev.filter("pmod(event_id, 2) = 0").coalesce(1).write.parquet(src)
    ev.filter("pmod(event_id, 2) = 1").coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink_name = f"cellcounts_{key}"
    with no_data_microbatches_disabled(spark):
        q = (
            streaming_cell_counts(
                stream.select("event_time", "lon", "lat"),
                res=7, window="1 day", watermark="90 days",
            )
            .writeStream.format("memory").queryName(sink_name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        drain_available_now(q, timeout=120)
    return spark.table(sink_name).select(
        F.unix_timestamp("start").cast("long").alias("day_start"),
        "parent_cell",
        "n",
    ).orderBy("day_start", "parent_cell")


def _stream_cell_counts_oracle_sql() -> str:
    from a5pg_spark.oracle_gen import encode_cte_chain

    ctes, final = encode_cte_chain(7)
    return f"""
    WITH pts AS (SELECT event_id AS key, {_PT.format(k="event_id")} FROM events),
    {ctes},
    j AS (SELECT e.ts AS ts, enc.cell AS cell
          FROM events e JOIN {final} enc ON enc.key = e.event_id)
    SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_start,
           {_parent_duck('cell', 3)} AS parent_cell, COUNT(*) AS n
    FROM j GROUP BY 1, 2 ORDER BY day_start, parent_cell
"""


def _phash_fixture(n: int = 256):
    """Deterministic (image_id, phash) rows with planted near-duplicates:
    every i ≡ 1 (mod 4) is image i-1's phash with a ≤3-bit flip (a true
    near-dup at Hamming 1/2/3), and every i ≡ 2 (mod 16) is image i-2's
    phash with a 5-bit flip (shares bands — candidate — but must be
    REJECTED by the exact Hamming verify).  Base hashes are the images
    source's splitmix64 ``phash_of`` (sources/images.py), so this is the
    same id-space the synthetic image+caption table carries."""
    import numpy as _np

    from a5pg_spark.sources.images import phash_of

    base = phash_of(_np.arange(n)).tolist()
    masks3 = [(1 << 0) | (1 << 17) | (1 << 63), (1 << 5),
              (1 << 20) | (1 << 40)]
    mask5 = (1 << 2) | (1 << 9) | (1 << 33) | (1 << 47) | (1 << 60)
    rows = []
    u64 = (1 << 64) - 1
    for i in range(n):
        ph = base[i]
        if i % 4 == 1:
            ph = base[i - 1] ^ masks3[(i // 4) % 3]
        elif i % 16 == 2:
            ph = base[i - 2] ^ mask5
        # XOR in unsigned space, then fold back to int64 two's complement
        # (python's signed XOR on negatives leaves the int64 range)
        ph &= u64
        ph = ph - (1 << 64) if ph >= (1 << 63) else ph
        rows.append((f"img{i:012d}", ph))
    return rows


def _q_images_phash_neardup(spark, sf_dir):
    """Perceptual-hash near-duplicate pairs over the image id space
    (input-hint column ``phash:int64``): 4×16-bit band blocking + exact
    ``bit_count(xor)`` verify — exact recall for Hamming ≤ 3 by pigeonhole.
    EXACT oracle: the identical fixture rows are embedded as VALUES and the
    banding/verify pipeline is replicated in DuckDB."""
    _prep(spark, sf_dir)
    import pyspark.sql.functions as F

    from a5pg_spark.operators.dedup import phash_near_dup_pairs

    # one slice (r06): 256 driver rows -> one parallelize task, not 32
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(_phash_fixture(), 1),
        "image_id string, phash long")
    out = phash_near_dup_pairs(df, id_col="image_id", phash_col="phash",
                               max_hamming=3)
    return out.orderBy("id_a", "id_b")


def _phash_neardup_oracle_sql() -> str:
    vals = ",".join(f"('{i}',{p})" for i, p in _phash_fixture())
    return f"""
    WITH imgs(image_id, phash) AS (VALUES {vals}),
    banded AS (
      SELECT image_id, phash, b.range AS band_id,
             (phash >> CAST(b.range * 16 AS INT)) & 65535 AS band_val
      FROM imgs, range(4) b
    ),
    cand AS (
      SELECT DISTINCT l.image_id AS id_a, r.image_id AS id_b,
             l.phash AS pa, r.phash AS pb
      FROM banded l JOIN banded r
        ON l.band_id = r.band_id AND l.band_val = r.band_val
           AND l.image_id < r.image_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(pa, pb)) <= 3
    ORDER BY id_a, id_b
"""


def _q_images_knn(spark, sf_dir):
    """kNN IMAGE lookup (north-star workload: "kNN image lookup via A5 ring
    expansion"): for 4 probe points, the 5 nearest images by capture-point
    great-circle distance, via the exact ring-expansion kNN operator over
    the image fixture's phash-derived capture points.  EXACT oracle:
    brute-force haversine over the same VALUES-embedded fixture."""
    _prep(spark, sf_dir)
    import pandas as pd
    import pyspark.sql.functions as F

    from a5pg_spark.operators.knn import knn_join
    from a5pg_spark.sources.images import with_capture_point

    q = spark.createDataFrame(pd.DataFrame({
        "qid": [0, 1, 2, 3],
        "lon": [-73.9857, 139.6503, -3.7037, 18.4241],
        "lat": [40.758, 35.6762, 40.41677, -33.9249]}))
    imgs = spark.createDataFrame(_phash_fixture(),
                                 "image_id string, phash long")
    pts = with_capture_point(imgs).select(
        F.col("image_id").alias("pid"), "lon", "lat")
    out = knn_join(q, pts, k=5, res=3)
    return out.select("qid", "pid", F.round("dist_m", 2).alias("dist_m"),
                      "rk").orderBy("qid", "rk")


def _images_knn_oracle_sql() -> str:
    vals = ",".join(f"('{i}',{p})" for i, p in _phash_fixture())
    cap_mod = 360000000 * 180000000
    return f"""
    WITH probes(qid, qlon, qlat) AS (
      SELECT * FROM (VALUES
        (0, CAST(-73.9857 AS DOUBLE), CAST(40.758 AS DOUBLE)),
        (1, CAST(139.6503 AS DOUBLE), CAST(35.6762 AS DOUBLE)),
        (2, CAST(-3.7037 AS DOUBLE), CAST(40.41677 AS DOUBLE)),
        (3, CAST(18.4241 AS DOUBLE), CAST(-33.9249 AS DOUBLE)))),
    imgs(pid, phash) AS (VALUES {vals}),
    pts AS (
      SELECT pid,
             ((((phash % {cap_mod}) + {cap_mod}) % {cap_mod}) % 360000000)
               / 1e6 - 180.0 AS lon,
             ((((phash % {cap_mod}) + {cap_mod}) % {cap_mod}) // 360000000)
               / 1e6 - 90.0 AS lat
      FROM imgs
    ),
    d AS (
      SELECT qid, pid,
             2.0 * CAST(6371007.1809184747 AS DOUBLE) * asin(sqrt(
               pow(sin((radians(lat) - radians(qlat)) / 2), 2)
               + cos(radians(qlat)) * cos(radians(lat))
                 * pow(sin((radians(lon) - radians(qlon)) / 2), 2))) AS dist_m
      FROM probes CROSS JOIN pts
    ),
    rk_ AS (
      SELECT qid, pid, dist_m,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist_m ASC, pid ASC) AS rk
      FROM d
    )
    SELECT qid, pid, ROUND(dist_m, 2) AS dist_m, rk
    FROM rk_ WHERE rk <= 5 ORDER BY qid, rk
"""


# ---------------------------------------------------------------------------
# the catalog: one registry, each query declared once
# ---------------------------------------------------------------------------


def _registry(*entries: tuple) -> dict[str, tuple]:
    """``{name: (run, oracle)}`` in the given order; a name declared twice
    raises.  ``run(spark, sf_dir)`` returns the Spark result; ``oracle`` is
    fixed DuckDB SQL text or a builder that makes it when it is read."""
    out: dict[str, tuple] = {}
    for name, run, oracle in entries:
        if name in out:
            raise ValueError(f"catalog query {name!r} is declared twice")
        out[name] = (run, oracle)
    return out


# The correctness gate checks the FIRST 50 names in this order.  Queries it
# had not checked lead, so every operator family sits inside the window;
# the 9 that rotate out at the end are constant-output or long-verified SQL
# queries whose oracles are pure bit arithmetic.
_CATALOG = _registry(
    ("a5_route_cells", _q_route_cells, _route_cells_oracle_sql),
    ("sample_documents", _q_sample_documents, _sample_documents_oracle_sql),
    ("rel_bucketed_join", _q_rel_bucketed_join, _REL_BUCKETED_JOIN_ORACLE),
    ("sketch_quantile_prices", _q_sketch_quantile_prices, _quantile_oracle_sql),
    ("events_range_join", _q_events_range_join, _EVENTS_RANGE_JOIN_ORACLE),
    ("embed_ann_srp", _q_embed_ann_srp, _srp_oracle_sql),
    ("embed_ann_ivf", _q_embed_ann_ivf, _ivf_oracle_sql),
    ("dedup_embedding_pairs", _q_embed_near_dup, _embed_near_dup_oracle_sql),
    ("images_tiling_mosaic", _q_images_tiling, _images_tiling_oracle_sql),
    ("a5_parent_rollup", _q(_A5_PARENT_ROLLUP_SQL), _A5_PARENT_ROLLUP_ORACLE),
    ("a5_children_expand", _q(_A5_CHILDREN_EXPAND_SQL), _A5_CHILDREN_EXPAND_ORACLE),
    ("a5_contains_semijoin", _q(_A5_CONTAINS_SEMIJOIN_SQL), _A5_CONTAINS_SEMIJOIN_ORACLE),
    ("a5_tile_pyramid", _q(_A5_TILE_PYRAMID_SQL), _A5_TILE_PYRAMID_ORACLE),
    ("a5_boundary_vertices", _q(_A5_BOUNDARY_VERTICES_SQL), _boundary_vertices_oracle_sql),
    ("a5_encode_points_rollup", _q(_A5_ENCODE_POINTS_ROLLUP_SQL), _encode_oracle_sql),
    ("rel_agg_pricing", _q(_REL_AGG_PRICING_SQL), _REL_AGG_PRICING_SQL),
    ("rel_join_segment_revenue", _q(_REL_JOIN_SEGMENT_REVENUE_SQL),
     _REL_JOIN_SEGMENT_REVENUE_ORACLE),
    ("rel_window_user_topk", _q(_REL_WINDOW_USER_TOPK_SQL), _REL_WINDOW_USER_TOPK_SQL),
    ("embed_knn_bruteforce", _q_embed_knn, _EMBED_KNN_BRUTEFORCE_ORACLE),
    ("images_phash_neardup", _q_images_phash_neardup, _phash_neardup_oracle_sql),
    ("images_knn_capture", _q_images_knn, _images_knn_oracle_sql),
    ("audio_features", _q_audio_features, _AUDIO_FEATURES_ORACLE),
    ("video_frame_stats", _q_video_frame_stats, _VIDEO_FRAME_STATS_ORACLE),
    ("snapshot_pruned_scan", _q_snapshot_pruned_scan, _SNAPSHOT_PRUNED_SCAN_ORACLE),
    ("snapshot_zorder_scan", _q_snapshot_zorder_scan, _SNAPSHOT_ZORDER_SCAN_ORACLE),
    ("snapshot_compaction", _q_snapshot_compaction, _SNAPSHOT_COMPACTION_ORACLE),
    ("snapshot_stage_resume", _q_snapshot_stage_resume, _SNAPSHOT_STAGE_RESUME_ORACLE),
    ("stream_ingest_snapshot", _q_stream_ingest_snapshot, _STREAM_INGEST_SNAPSHOT_ORACLE),
    ("stream_dedup_firstseen", _q_stream_dedup, _STREAM_DEDUP_FIRSTSEEN_ORACLE),
    ("stream_cell_counts", _q_stream_cell_counts, _stream_cell_counts_oracle_sql),
    ("images_resize_stats", _q_images_resize, _images_resize_oracle_sql),
    ("images_jfif_recode", _q_images_jfif_recode, _images_jfif_oracle_sql),
    ("rasterize_cells", _q_rasterize_cells, _rasterize_oracle_sql),
    ("a5_geojson_export", _q_geojson_export, _geojson_export_oracle_sql),
    ("a5_dissolve_export", _q_dissolve_export, _dissolve_oracle_sql),
    ("spatial_join_elephant", _q_spatial_join_elephant, _spatial_join_oracle_sql),
    ("knn_probe_cities", _q_knn_points, _KNN_PROBE_CITIES_ORACLE),
    ("dedup_minhash_pairs", _q_dedup_minhash, _minhash_oracle_sql),
    ("dedup_components", _q_dedup_components, _components_oracle_sql),
    ("dedup_simhash_pairs", _q_dedup_simhash, _DEDUP_SIMHASH_PAIRS_ORACLE),
    ("dedup_ngram_jaccard", _q_ngram_jaccard, _DEDUP_NGRAM_JACCARD_ORACLE),
    ("text_annotate_agg", _q_text_annotate, _TEXT_ANNOTATE_AGG_ORACLE),
    ("text_winnow_fingerprint", _q_text_winnow, _TEXT_WINNOW_FINGERPRINT_ORACLE),
    ("events_sessionize", _q_events_sessionize, _EVENTS_SESSIONIZE_ORACLE),
    ("events_asof_join", _q_events_asof_join, _EVENTS_ASOF_JOIN_ORACLE),
    ("events_session_window", _q_events_session_window, _EVENTS_SESSION_WINDOW_ORACLE),
    ("events_pivot_daily", _q_events_pivot_daily, _EVENTS_PIVOT_DAILY_ORACLE),
    ("sketch_hll_users", _q_sketch_hll_users, _SKETCH_HLL_USERS_ORACLE),
    ("sketch_cms_heavy_hitters", _q_sketch_cms_heavy_hitters, _cms_oracle_sql),
    ("rel_bloom_pruned_join", _q_rel_bloom_pruned_join, _bloom_oracle_sql),
    ("a5_num_cells_area", _q(_A5_NUM_CELLS_AREA_SQL), _A5_NUM_CELLS_AREA_ORACLE),
    ("a5_res0_cells", _q(_A5_RES0_CELLS_SQL), _A5_RES0_CELLS_ORACLE),
    ("a5_uncompact_cover", _q(_A5_UNCOMPACT_COVER_SQL), _A5_UNCOMPACT_COVER_ORACLE),
    ("a5_compact_roundtrip", _q_compact_roundtrip, _A5_COMPACT_ROUNDTRIP_ORACLE),
    ("a5_roundtrip_quality", _q(_A5_ROUNDTRIP_QUALITY_SQL), _roundtrip_oracle_sql),
    ("a5_resolution_histogram", _q(_A5_RESOLUTION_HISTOGRAM_SQL),
     _A5_RESOLUTION_HISTOGRAM_ORACLE),
    ("dedup_exact_docs", _q(_DEDUP_EXACT_DOCS_SQL), _DEDUP_EXACT_DOCS_SQL),
    ("text_lang_stats", _q(_TEXT_LANG_STATS_SQL), _TEXT_LANG_STATS_ORACLE),
    ("skew_salted_join", _q(_SKEW_SALTED_JOIN_SQL), _SKEW_SALTED_JOIN_ORACLE),
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The 59 catalog queries, ``name -> run(spark, sf_dir)``, in order."""
    return {name: run for name, (run, _) in _CATALOG.items()}


class _OracleView(Mapping):
    """The catalog's DuckDB oracles by name, each built when it is read.
    Listing the names or testing one with ``in`` builds nothing."""

    def __init__(self, sf_dir: str | None) -> None:
        self._sf_dir = sf_dir

    def __getitem__(self, name: str) -> str:
        oracle = _CATALOG[name][1]
        if isinstance(oracle, str):
            return oracle
        if self._sf_dir and "sf_dir" in inspect.signature(oracle).parameters:
            return oracle(sf_dir=self._sf_dir)
        return oracle()

    def __iter__(self) -> Iterator[str]:
        return iter(_CATALOG)

    def __len__(self) -> int:
        return len(_CATALOG)

    def __contains__(self, name: object) -> bool:
        return name in _CATALOG


def oracle_sql(sf_dir: str | None = None) -> Mapping[str, str]:
    """The 59 DuckDB oracles (see :class:`_OracleView`).  A builder that
    reads input data (``embed_ann_ivf``'s, for its centroids) takes
    ``sf_dir``; it reads sf0.01, the scale the gate compares at, unless
    ``sf_dir`` names another."""
    return _OracleView(sf_dir)
