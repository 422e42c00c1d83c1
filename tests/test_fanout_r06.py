"""Round-6 optimization guards: scan fan-out semantics/gating, the slim
cover broadcast of the spatial join, and the driver-window query ordering."""

from __future__ import annotations

import os

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
    ones must lead, and the full catalog plus its oracles must stay intact."""
    import __spark_entry__ as E

    names = list(E.queries())
    assert len(names) == 59
    assert set(names) == set(E.oracle_sql())
    # everything previously unchecked sits inside the 50-row window
    assert names[:9] == [
        "a5_route_cells", "sample_documents", "rel_bucketed_join",
        "sketch_quantile_prices", "events_range_join", "embed_ann_srp",
        "embed_ann_ivf", "dedup_embedding_pairs", "images_tiling_mosaic",
    ]


def test_queries_order_is_pinned():
    """The correctness gate checks the first 50 names, so the order is pinned whole."""
    import __spark_entry__ as E

    assert list(E.queries()) == [
        "a5_route_cells", "sample_documents", "rel_bucketed_join",
        "sketch_quantile_prices", "events_range_join", "embed_ann_srp",
        "embed_ann_ivf", "dedup_embedding_pairs", "images_tiling_mosaic",
        "a5_parent_rollup", "a5_children_expand", "a5_contains_semijoin",
        "a5_tile_pyramid", "a5_boundary_vertices", "a5_encode_points_rollup",
        "rel_agg_pricing", "rel_join_segment_revenue", "rel_window_user_topk",
        "embed_knn_bruteforce", "images_phash_neardup", "images_knn_capture",
        "audio_features", "video_frame_stats", "snapshot_pruned_scan",
        "snapshot_zorder_scan", "snapshot_compaction", "snapshot_stage_resume",
        "stream_ingest_snapshot", "stream_dedup_firstseen", "stream_cell_counts",
        "images_resize_stats", "images_jfif_recode", "rasterize_cells",
        "a5_geojson_export", "a5_dissolve_export", "spatial_join_elephant",
        "knn_probe_cities", "dedup_minhash_pairs", "dedup_components",
        "dedup_simhash_pairs", "dedup_ngram_jaccard", "text_annotate_agg",
        "text_winnow_fingerprint", "events_sessionize", "events_asof_join",
        "events_session_window", "events_pivot_daily", "sketch_hll_users",
        "sketch_cms_heavy_hitters", "rel_bloom_pruned_join",
        "a5_num_cells_area", "a5_res0_cells", "a5_uncompact_cover",
        "a5_compact_roundtrip", "a5_roundtrip_quality", "a5_resolution_histogram",
        "dedup_exact_docs", "text_lang_stats", "skew_salted_join",
    ]


def test_registry_rejects_a_duplicate_name():
    """Each query is declared once: a second entry of a name raises when
    the registry is built, so no entry can silently shadow another."""
    import __spark_entry__ as E

    run = E.queries()["a5_res0_cells"]
    with pytest.raises(ValueError, match="a5_res0_cells"):
        E._registry(("a5_res0_cells", run, "SELECT 1"),
                    ("a5_res0_cells", run, "SELECT 2"))


def test_embed_knn_gate_sums_a_directory_layout(spark, sf_dir, tmp_path):
    """The fan-out gate sums the scan's input files, so a parquet directory
    is sized by its parts, not by its ~4 KB inode; the rows do not change."""
    import shutil

    import __spark_entry__ as E

    def layout(name, parts):
        d = tmp_path / name
        (d / "embeddings.parquet").mkdir(parents=True)
        for t in E.TABLES:
            if t != "embeddings":
                (d / f"{t}.parquet").symlink_to(f"{sf_dir}/{t}.parquet")
        for i in range(parts):
            shutil.copy(f"{sf_dir}/embeddings.parquet",
                        d / "embeddings.parquet" / f"part-{i:05d}.parquet")
        return str(d)

    def fans_out(df):
        return "Repartition" in df._jdf.queryExecution().analyzed().toString()

    part = os.path.getsize(f"{sf_dir}/embeddings.parquet")
    try:
        plain = E._q_embed_knn(spark, sf_dir)
        one = E._q_embed_knn(spark, layout("one", 1))
        assert not fans_out(plain) and not fans_out(one)
        assert one.collect() == plain.collect()
        # enough parts to pass the 3 MB gate
        many = E._q_embed_knn(spark, layout("many", -(-3 * 1024 * 1024 // part)))
        assert fans_out(many)
    finally:
        # the tmp layouts replaced the session's views: register sf_dir again
        E._REGISTERED.clear()
