"""Trajectory → cell paths (operators/trajectories.py): sampling laws
(count, exact endpoints, refinement monotonicity), path sanity (short
segments touch few, Hilbert-local cells), and the degenerate segment."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from a5pg_spark.operators.trajectories import (
    route_cell_stats,
    route_cells,
    sample_segment_points,
)


def _segs(spark, n=40):
    return spark.sql(f"""
        SELECT id AS rid,
               ((id * 2654435761) % 358000000) / 1e6 - 179.0 AS lon1,
               ((id * 987654321986) % 160000000) / 1e6 - 80.0 AS lat1,
               ((id * 2654435761) % 358000000) / 1e6 - 179.0
                 + ((id * 48271) % 2000001) / 1e6 - 1.0 AS lon2,
               ((id * 987654321986) % 160000000) / 1e6 - 80.0
                 + ((id * 69069) % 800001) / 1e6 - 0.4 AS lat2
        FROM range(1, {n + 1})
    """)


def test_sample_count_and_exact_endpoints(spark):
    segs = _segs(spark, 10)
    pts = sample_segment_points(segs, "lon1", "lat1", "lon2", "lat2", samples=16)
    assert pts.count() == 10 * 17
    ends = pts.where(F.col("__i").isin(0, 16)).collect()
    for r in ends:
        i, lon, lat = r["__i"], r["__lon"], r["__lat"]
        if i == 0:
            assert (lon, lat) == (r.lon1, r.lat1)  # exact, not approx
        else:
            # t=1: lon1 + (lon2-lon1)*1.0 — one rounding step from lon2
            assert abs(lon - r.lon2) < 1e-9 and abs(lat - r.lat2) < 1e-9


def test_refinement_is_monotone(spark):
    """Denser sampling can only find MORE cells — the completeness knob
    behaves like one (S and 2S sample grids: the coarse grid is a subset of
    neither, but its cell set is ⊆ in practice only via counts; assert the
    stronger subset property on the shared grid by construction: 2S's even
    samples ARE S's samples)."""
    segs = _segs(spark, 25)
    coarse = route_cells(segs, "rid", "lon1", "lat1", "lon2", "lat2", 7, samples=8)
    fine = route_cells(segs, "rid", "lon1", "lat1", "lon2", "lat2", 7, samples=16)
    # i/8 == (2i)/16 exactly in IEEE, so every coarse sample point is a fine
    # sample point and the coarse cell set is a true subset
    assert coarse.exceptAll(fine).count() == 0
    assert fine.count() >= coarse.count()


def test_short_segments_are_hilbert_local(spark):
    stats = route_cell_stats(
        _segs(spark, 40), "rid", "lon1", "lat1", "lon2", "lat2", 7, samples=32
    ).collect()
    assert len(stats) == 40
    for r in stats:
        assert 1 <= r.n_cells <= 33
        assert r.min_cell <= r.max_cell


def test_degenerate_segment_is_one_cell(spark):
    seg = spark.sql(
        "SELECT 1 AS rid, -74.006 AS lon1, 40.7128 AS lat1,"
        " -74.006 AS lon2, 40.7128 AS lat2"
    )
    [row] = route_cell_stats(
        seg, "rid", "lon1", "lat1", "lon2", "lat2", 10, samples=32
    ).collect()
    assert row.n_cells == 1 and row.min_cell == row.max_cell


def test_route_segment_keys_guard_int64(spark):
    """a5_route_cells' segment text multiplies c_custkey by 987654321986 in
    int64: the largest key whose product fits passes the guard, the next
    fails the query with an error that names the bound (Spark with ANSI off
    would wrap it silently)."""
    from pyspark.errors import PySparkException

    import __spark_entry__ as E

    top = E._SEG_MAX_KEY
    assert top * 987654321986 <= 2**63 - 1 < (top + 1) * 987654321986
    ok = E._guard_seg_keys(spark.createDataFrame([(1,), (top,)], "rid long"))
    assert [r.rid for r in ok.collect()] == [1, top]
    bad = E._guard_seg_keys(spark.createDataFrame([(1,), (top + 1,)], "rid long"))
    with pytest.raises(PySparkException, match=f"{top + 1} exceeds {top}"):
        bad.collect()
