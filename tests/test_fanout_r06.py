"""Round-6 optimization guards: scan fan-out semantics/gating, the slim
cover broadcast of the spatial join, and the driver-window query ordering."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


def test_fan_out_scan_is_row_neutral_and_gated(spark, tmp_path):
    from a5pg_spark.plans.partitioning import fan_out_scan

    # big enough input (> default 3 MB gate): fanned to defaultParallelism.
    # xxhash64 of the id is incompressible, so 600k rows exceed the gate.
    big = spark.range(600_000).select(
        "id", F.xxhash64("id").alias("x")
    )
    p = str(tmp_path / "big.parquet")
    big.coalesce(1).write.parquet(p)  # one row group -> one scan partition
    import glob
    import os

    assert sum(os.path.getsize(f) for f in glob.glob(p + "/*.parquet")) > 3 * 1024 * 1024
    scan = spark.read.parquet(p)
    n_target = spark.sparkContext.defaultParallelism
    fanned = fan_out_scan(scan)
    if scan.rdd.getNumPartitions() < n_target:
        assert fanned.rdd.getNumPartitions() == n_target
    # row-neutral: same multiset of rows
    assert fanned.count() == 600_000
    digest = lambda df: df.agg(
        F.sum("id"), F.sum(F.pmod(F.col("x"), F.lit(1_000_000_007)))
    ).collect()
    assert digest(fanned) == digest(scan)

    # tiny input (< gate): repartition skipped entirely — no extra exchange
    small = spark.range(100).select("id")
    sp = str(tmp_path / "small.parquet")
    small.coalesce(1).write.parquet(sp)
    small_scan = spark.read.parquet(sp)
    out = fan_out_scan(small_scan)
    assert out is small_scan  # identity, not just equal rows

    # already-parallel frame: identity too (the 100 TB no-op path)
    wide = spark.range(10_000).repartition(n_target)
    assert fan_out_scan(wide) is wide


def test_spatial_join_slim_cover_same_result(spark):
    """The r06 two-stage broadcast (slim cover join + per-part edge attach)
    must give the same point->part assignment as a NumPy even-odd test."""
    import json

    import numpy as np

    from a5pg_spark.operators.geometry import point_in_polygon
    from a5pg_spark.operators.spatial_join import spatial_join

    ring = [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]]
    square = {"type": "Polygon", "coordinates": [ring]}
    polys = spark.createDataFrame(
        [("sq", json.dumps(square))], "part string, geom_json string"
    )
    pts = spark.range(500).selectExpr(
        "id AS pid",
        "CAST(id % 80 AS DOUBLE) / 10.0 - 2.0 AS lon",
        "CAST(id % 63 AS DOUBLE) / 10.0 - 1.0 AS lat",
    )
    got = spatial_join(pts, polys, res=6).select("pid", "part").collect()
    pid = np.arange(500)
    inside = point_in_polygon((pid % 80) / 10.0 - 2.0, (pid % 63) / 10.0 - 1.0, [ring])
    assert sorted(map(tuple, got)) == [(int(i), "sq") for i in pid[inside]]
    # sanity: some but not all points are inside
    assert 0 < len(got) < 500


def test_queries_window_order_covers_unchecked():
    """The driver checks the FIRST 50 queries: the 9 previously-unchecked
    ones must lead, the 9 rotated-out ones must trail, and the full catalog
    plus its oracles must stay intact."""
    import __spark_entry__ as E

    names = list(E.queries())
    assert len(names) == 59
    assert names[:9] == E._CHECK_FIRST
    assert names[-9:] == E._CHECK_LAST
    assert set(names) == set(E.oracle_sql())
    # everything previously unchecked now sits inside the 50-row window
    assert all(n in set(names[:50]) for n in E._CHECK_FIRST)


def test_elephant_oracles_raise_on_read_without_the_layer():
    """Listing the oracles reads no file; reading either elephant oracle
    without the elephant layer raises the error that names the file."""
    import os

    import __spark_entry__ as E
    from a5pg_spark.sources.polygons import ELEPHANT_SQL

    if os.path.exists(ELEPHANT_SQL):
        pytest.skip(f"the elephant layer is present: {ELEPHANT_SQL}")
    oracles = E.oracle_sql()
    assert list(oracles)[-2:] == ["spatial_join_elephant", "a5_dissolve_export"]
    for name in ("spatial_join_elephant", "a5_dissolve_export"):
        with pytest.raises(FileNotFoundError, match="elephant_a5_cells.sql"):
            oracles[name]
