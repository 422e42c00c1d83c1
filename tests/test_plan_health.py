"""Plan-health regression guards for the round-3 optimizer fixes.

Each test pins a measured pathology (DESIGN.md §7) so a config or code
change that reintroduces it fails loudly:

* the native encode must plan with zero Python stages and exactly one
  Exchange for an encode+rollup;
* joining on the encoded cell must PLAN in bounded time (dynamic partition
  pruning once spent 22 s/invocation at depth 2 and OOM'd at depth 12);
* exploding ``a5_cell_to_children`` must not evaluate the children HOF
  below the aggregate (InferFiltersFromGenerate's inferred size() filter).
"""

from __future__ import annotations

import re
import time

import pyspark.sql.functions as F


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_encode_rollup_single_codegen_span_no_python(spark):
    from a5pg_spark.functions_native import encode_native

    pts = spark.range(1000).selectExpr(
        "CAST(id % 360 AS DOUBLE) - 180.0 AS lon",
        "CAST(id % 180 AS DOUBLE) / 2.0 AS lat",
    )
    q = (
        encode_native(pts, "lon", "lat", 9, "cell")
        .groupBy(F.call_function("a5_cell_to_parent", F.col("cell"), F.lit(4)).alias("p"))
        .count()
    )
    plan = _physical(q)
    assert "EvalPython" not in plan  # no Python stage anywhere
    assert plan.count("Exchange") <= 2  # shuffle for the agg (AQE may show one reused)


def test_res8_encode_optimized_plan_is_small(spark):
    """The encode is one call of the compiled kernel, so its optimized plan
    stays a few hundred chars at any resolution (the unrolled Catalyst
    encode it replaced planned ~22,700 chars at res 8, growing with the
    depth).  Expression ids are stripped so the length does not grow with
    the session's history."""
    from a5pg_spark.functions_native import encode_native

    pts = spark.range(10).selectExpr("CAST(id AS DOUBLE) AS lon", "CAST(id AS DOUBLE) AS lat")
    plan = re.sub(r"#\d+L?", "#", _optimized(encode_native(pts, "lon", "lat", 8, "cell")))
    assert len(plan) <= 1_000, len(plan)


def test_join_on_encoded_cell_plans_in_bounded_time(spark):
    from a5pg_spark.functions_native import encode_native

    pts = spark.range(100).selectExpr(
        "id AS pid", "CAST(id % 10 AS DOUBLE) AS lon", "CAST(id % 7 AS DOUBLE) AS lat"
    )
    dim = spark.createDataFrame([(0,)], "cell long")
    enc = encode_native(pts, "lon", "lat", 12, "__cell")  # depth 22
    j = enc.join(dim, enc["__cell"] == dim["cell"], "left")
    t0 = time.time()
    j._jdf.queryExecution().executedPlan()
    # 22 s per PartitionPruning invocation before the fix; generous margin
    # for throttled hosts — regression makes this minutes-to-OOM, not <15 s
    assert time.time() - t0 < 15.0


def test_children_explode_hof_stays_above_aggregate(spark):
    q = spark.sql("""
        SELECT child, SUM(n) AS n
        FROM (SELECT explode(kids) AS child, n FROM
              (SELECT a5_cell_to_children(c3, 5) AS kids, n FROM
               (SELECT a5_synth_cell(id, 3) AS c3, COUNT(*) AS n
                FROM range(1000) GROUP BY 1)))
        GROUP BY 1
    """)
    opt = _optimized(q)
    # the inferred size(...)>0 filter used to be substituted below the
    # aggregate: the scan-side Filter then carried the transform() lambda
    below_agg = opt.split("Aggregate", 2)[-1]  # below the inner aggregate
    assert not re.search(r"Filter .*size\(.*transform", below_agg)


def test_cell_bbox_prefilter_reaches_scan_and_fence_holds(spark, tmp_path):
    """cell_bbox_prefilter's lon/lat predicate must reach the parquet scan as
    PushedFilters (a predicate on the encoded cell cannot), and an exact
    post-encode cell filter on top must still plan in bounded time."""
    import time as _t

    from a5pg_spark.core import cells as C
    from a5pg_spark.functions_native import cell_bbox_prefilter, encode_native

    src = str(tmp_path / "pts")
    spark.range(2000).selectExpr(
        "CAST(id % 360 AS DOUBLE) - 180.0 AS lon",
        "CAST(id % 160 AS DOUBLE) / 2.0 - 40.0 AS lat",
    ).write.parquet(src)
    pts = spark.read.parquet(src)

    import numpy as np

    target = int(C.lonlat_to_cell(np.array([-73.98]), np.array([40.75]),
                                  np.array([5]))[0])
    pre = cell_bbox_prefilter(pts, "lon", "lat", [target])
    enc = encode_native(pre, "lon", "lat", 5, "cell")
    q = enc.filter(F.col("cell") == target)

    t0 = _t.time()
    _physical(q)
    assert _t.time() - t0 < 30.0  # no substitution explosion
    # simple-mode toString truncates the scan line, so read the formatted
    # explain for the full PushedFilters list
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = q._jdf.queryExecution().explainString(mode)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m is not None and ("lat" in m.group(1) and "lon" in m.group(1)), plan

    # superset semantics: bbox keeps every row of the cell itself
    exact = {(r.lon, r.lat) for r in q.collect()}
    full = encode_native(pts, "lon", "lat", 5, "cell")
    want = {(r.lon, r.lat)
            for r in full.collect() if r.cell == target}
    assert exact == want


def test_encode_native_barrier_survives_filter_planning(spark):
    """A FILTER (not just a join) on the encode output must plan in bounded
    time.  PushPredicateThroughNonJoin substitutes the filter condition
    through the encode's projection; over the unrolled Catalyst encode that
    the kernel replaced this measured 600 s+ and then a JVM StackOverflow.
    With no barrier between the filter and the one kernel call, the bound
    guards that substitution's plan time."""
    import time as _t

    from a5pg_spark.functions_native import encode_native

    pts = spark.range(200).selectExpr(
        "CAST(id AS DOUBLE) / 3.0 AS lon", "CAST(id % 70 AS DOUBLE) AS lat")
    enc = encode_native(pts, "lon", "lat", 8, "cell")
    q = enc.filter(F.col("cell") % 7 == 0)
    t0 = _t.time()
    _physical(q)
    assert _t.time() - t0 < 20.0


def test_tile_pyramid_single_scan_single_expand(spark, sf_dir):
    """The res 9→4 tile-pyramid rollup must stay the one-pass OLAP-cube
    shape: ONE parquet scan (pruned to the two key columns), ONE Expand,
    and exactly one data shuffle below the per-level summary — not six
    rescans or an unpersisted agg cascade.  Levels must agree on the
    invariants: every level's total_n is the full row count and n_cells
    decreases (weakly) as resolution coarsens."""
    import __spark_entry__ as E

    df = E.queries()["a5_tile_pyramid"](spark, sf_dir)
    plan = _physical(df)
    assert plan.count("Expand") == 1
    assert len(re.findall(r"Scan parquet|FileScan", plan)) == 1
    # one hash shuffle of aggregated cells; the rest act on the 6-row summary
    assert len(re.findall(r"Exchange hashpartitioning\(p9#", plan)) == 1
    rows = {r.res: r for r in df.collect()}
    assert sorted(rows) == [4, 5, 6, 7, 8, 9]
    n_input = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    assert all(r.total_n == n_input for r in rows.values())
    for r in range(5, 10):
        assert rows[r - 1].n_cells <= rows[r].n_cells


def test_skew_salted_join_spreads_hot_cell(spark, sf_dir):
    """The salted skew join must actually shuffle on (cell, salt) — both
    sides' exchanges carry the salt key and the join is a shuffled hash
    join, not a broadcast (which would hide the skew the query exists to
    demonstrate).  And the salt must work: the hot cell's fact rows spread
    across all 8 salt buckets."""
    import __spark_entry__ as E

    df = E.queries()["skew_salted_join"](spark, sf_dir)
    plan = _physical(df)
    assert "ShuffledHashJoin [cell" in plan and "salt" in plan.split(
        "ShuffledHashJoin", 1)[1][:80]
    assert "BroadcastHashJoin" not in plan
    assert len(re.findall(r"Exchange hashpartitioning\(cell#\d+L, salt#", plan)) == 2
    rows = df.collect()
    assert len(rows) == 1 and rows[0].total_rows > 0
    # salt spread: the hot fact key occupies all 8 buckets
    hot = spark.sql("""
        SELECT pmod(xxhash64(l_orderkey * 8 + l_linenumber), 8) AS salt,
               COUNT(*) AS n
        FROM lineitem WHERE pmod(l_orderkey, 3) = 0 GROUP BY 1
    """).collect()
    assert len(hot) == 8
    counts = [r.n for r in hot]
    assert max(counts) < 2.5 * min(counts)


def test_cell_bbox_prefilter_completeness_random(spark):
    """Superset property under the adaptive curvature pad: for random dense
    points and cells at several resolutions, EVERY point that encodes into a
    listed cell must survive the prefilter — curved cell edges may bulge
    past any sampled vertex, which the two-density growth pad must cover."""
    import numpy as np

    from a5pg_spark.core import cells as C
    from a5pg_spark.functions_native import cell_bbox_prefilter

    rng = np.random.default_rng(11)
    lon = rng.uniform(-180, 180, 20000)
    lat = rng.uniform(-85, 85, 20000)
    import pandas as pd
    pts = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    for res in (2, 3, 5):
        enc = C.lonlat_to_cell(lon, lat, res)
        # the 5 most populated cells at this res
        vals, counts = np.unique(enc, return_counts=True)
        targets = vals[np.argsort(-counts)[:5]]
        want = int(np.isin(enc, targets).sum())
        kept = cell_bbox_prefilter(pts, "lon", "lat", [int(t) for t in targets])
        kept_pd = kept.toPandas()
        got = int(np.isin(
            C.lonlat_to_cell(kept_pd.lon.to_numpy(), kept_pd.lat.to_numpy(), res),
            targets).sum())
        assert got == want, f"res {res}: prefilter dropped {want - got} in-cell points"


def test_rasterize_cells_plans_and_runs_bounded(spark, sf_dir):
    """Joining a LIVE aggregate over the old unrolled encode spun the optimizer
    indefinitely (>10 min measured).  rasterize_cells now joins the live
    aggregate over the kernel call with no checkpoint between, so the whole
    vector→raster query must finish in bounded time, cover the grid fully,
    and hit the region."""
    import time as _t

    import __spark_entry__ as E

    t0 = _t.time()
    row = E.queries()["rasterize_cells"](spark, sf_dir).collect()[0]
    assert _t.time() - t0 < 120.0
    assert row.n_pixels == 96 * 64
    assert 0 < row.covered_pixels <= row.n_pixels
    assert row.total_hits > 0


def test_ann_paths_never_probe_dimension(spark, sf_dir, monkeypatch):
    """Round-4 ADVICE #7: with the embedding width recorded as column
    metadata at load time, NO ANN entrypoint may run a one-row ``.first()``
    dimension-probe driver job — assert by making any .first() call blow up."""
    import __spark_entry__ as E
    from a5pg_spark.operators import similarity as S

    E._prep(spark, sf_dir)
    emb = spark.table("embeddings")
    assert S.embedding_dim(emb, "embedding") == 64

    from pyspark.sql import DataFrame

    def _no_probe(self, *a, **k):  # pragma: no cover - failure path
        raise AssertionError("ANN path ran a .first() dimension probe")

    monkeypatch.setattr(DataFrame, "first", _no_probe)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"))
    # plan construction is where the probe used to fire; executing one row
    # group proves the plan is also probe-free end to end
    out = S.srp_ann_topk(q, emb, k=2, planes=6, tables=2)
    assert out.count() >= 0
    S.srp_bucket(emb, "embedding").limit(1).collect()


def test_jfif_recode_is_pure_map_before_sort(spark, sf_dir):
    """images_jfif_recode (round 5) must stay a pure map stage: scan →
    mapInPandas → final orderBy.  Exactly one Exchange (the terminal sort's
    range partitioning) and exactly one Python stage may appear — a second
    Exchange would mean the recode shuffles pixel bytes, which must never
    happen at 100 TB."""
    import __spark_entry__ as E

    df = E.queries()["images_jfif_recode"](spark, sf_dir)
    plan = _physical(df)
    lines = plan.splitlines()
    py = [i for i, ln in enumerate(lines) if "MapInPandas" in ln]
    # exactly two Python stages: the synthetic-source generator and recode
    assert len(py) == 2, plan
    # recode consumes the generator's output DIRECTLY — no Exchange between
    assert not any("Exchange" in ln for ln in lines[py[0] + 1 : py[1]]), plan
    # the only exchanges are the source's metadata-row repartition (8 (lo,hi)
    # slice rows) and the terminal orderBy — pixel bytes never shuffle
    assert plan.count("Exchange") == 2, plan
    rows = df.collect()
    assert len(rows) == 128
    assert all(r.psnr_ge_40 and r.jfif_ok for r in rows)


def test_winnow_fingerprint_stays_jvm_side(spark, sf_dir):
    """text_winnow_fingerprint (round 5) is a pure Catalyst HOF pipeline:
    scan → Project(s) → terminal sort.  Zero Python stages, exactly one
    Exchange — the rolling-hash fingerprinting must never leave the JVM or
    shuffle anything but the final per-doc rows."""
    import __spark_entry__ as E

    df = E.queries()["text_winnow_fingerprint"](spark, sf_dir)
    plan = _physical(df)
    assert not re.search(r"MapInPandas|ArrowEvalPython|BatchEvalPython", plan)
    assert plan.count("Exchange") == 1, plan
    rows = df.limit(5).collect()
    assert all(r.n_fp > 0 for r in rows)


def test_route_cells_single_data_shuffle(spark, sf_dir):
    """The trajectory cell-path rollup must stay: one scan → Expand-style
    sample fan-out (Generate over sequence) → encode → ONE data shuffle for
    the per-route distinct+rollup (Spark plans distinct-agg as a two-phase
    pair on the SAME key — count the distinct partitioning keys, not the
    Exchange nodes) — no join, no second scan."""
    import __spark_entry__ as E

    df = E.queries()["a5_route_cells"](spark, sf_dir)
    plan = _physical(df)
    assert len(re.findall(r"Scan parquet|FileScan", plan)) == 1
    assert plan.count("Generate explode") == 1
    assert "Join" not in plan
    # all hash exchanges cluster on the (rid, cell)/(rid) rollup chain
    keys = set(re.findall(r"Exchange hashpartitioning\((\w+)#", plan))
    assert keys <= {"rid", "cell"}, keys


def test_spatial_join_box_filter_below_encode_and_local_relations(spark, tmp_path):
    """spatial_join's MBR filter must sit below the native encode's
    projection and reach the parquet scan as PushedFilters; and the small
    relations (the FeatureCollection layer, the slim cover, the per-part
    edges) must plan as LocalTableScan with no Python RDD scan.  Arrow's
    silent fallback
    (spark.sql.execution.arrow.pyspark.fallback.enabled) would otherwise
    bring the Python workers back unnoticed."""
    from a5pg_spark.operators.spatial_join import spatial_join
    from a5pg_spark.sources.polygons import from_feature_collection

    # session.get_spark turns parquet-mr's dictionary row-group filter off
    # (it never drops a row group of distinct lon/lat floats); the box
    # filter must still reach the scan's PushedFilters below
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("parquet.filter.dictionary.enabled") == "false"
    src = str(tmp_path / "pts")
    spark.range(2000).selectExpr(
        "id AS pid",
        "CAST(id % 360 AS DOUBLE) - 180.0 AS lon",
        "CAST(id % 160 AS DOUBLE) / 2.0 - 40.0 AS lat",
    ).write.parquet(src)
    square = [[[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]]]
    polys = from_feature_collection(spark, {"type": "FeatureCollection", "features": [
        {"type": "Feature", "properties": {"part": "sq"},
         "geometry": {"type": "Polygon", "coordinates": square}},
        {"type": "Feature", "properties": {"part": "pin"},
         "geometry": {"type": "Point", "coordinates": [10.0, 5.0]}},
    ]})
    layer_plan = _physical(polys)
    assert "LocalTableScan" in layer_plan and "ExistingRDD" not in layer_plan, layer_plan

    q = spatial_join(spark.read.parquet(src), polys, res=6)
    # optimized plan, top-down: the filter on lon/lat must appear below the
    # projection that calls the encode kernel on lon/lat
    opt = _optimized(q)
    # one encode per point and no barrier node: with constraint propagation
    # on, an inferred isnotnull(cell) is pushed through the projection and
    # runs the encode a second time
    assert opt.count("a5_encode_jvm(") == 1 and "CollectMetrics" not in opt, opt
    lines = opt.splitlines()
    enc = max(i for i, ln in enumerate(lines) if "a5_encode_jvm(" in ln)
    below = [ln for ln in lines[enc + 1:] if "Filter" in ln]
    assert below and "lon" in below[0] and "lat" in below[0], "\n".join(lines)
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    m = re.search(r"PushedFilters: \[([^\]]*)\]",
                  q._jdf.queryExecution().explainString(mode))
    assert m is not None and "lat" in m.group(1) and "lon" in m.group(1)

    plan = _physical(q)
    assert "ExistingRDD" not in plan, plan
    assert plan.count("LocalTableScan") >= 2, plan  # slim cover + edges


def test_prep_sets_the_session_defaults(spark, sf_dir):
    """``_prep`` gives a session that get_spark did not make the SQL values
    that get_spark sets: both read the one dict, ``session.SQL_CONF``."""
    import __spark_entry__ as E
    from a5pg_spark.session import SQL_CONF

    s = spark.newSession()
    for k in SQL_CONF:
        s.conf.unset(k)
    E._prep(s, sf_dir)
    assert {k: s.conf.get(k) for k in SQL_CONF} == SQL_CONF


def _rows_and_max_method_bytes(spark, df) -> tuple:
    """Run ``df``: its row count, and the largest generated method, in
    bytes of bytecode, of its own executed plan (``debug.codegenStringSeq``
    compiles each of its whole-stage codegen subtrees; 0 where it has none)."""
    rows = len(df.collect())  # df's own query execution, so AQE fixes its final plan
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()  # the final plan, with its query stages
    subtrees = spark._jvm.org.apache.spark.sql.execution.debug.package.codegenStringSeq(plan)
    return rows, max((subtrees.apply(i)._3().maxMethodCodeSize()
                      for i in range(subtrees.size())), default=0)


def test_generated_methods_stay_below_the_huge_method_limit(spark):
    """HotSpot does not JIT-compile a method over 8,000 bytes of bytecode
    (DontCompileHugeMethods).  The session keeps that default, so the
    methods Spark generates for the spatial join and the tile rollup must
    stay below it; a larger one would run interpreted.  Each plan's own
    methods are measured: the JVM-wide codegen histogram also holds what
    earlier tests generated."""
    from a5pg_spark.functions_native import encode_native
    from a5pg_spark.operators.spatial_join import spatial_join
    from a5pg_spark.operators.tiling import cell_mosaic
    from a5pg_spark.sources.polygons import from_feature_collection

    pts = spark.range(5000).selectExpr(
        "id AS pid", "CAST(id % 360 AS DOUBLE) - 180.0 AS lon",
        "CAST(id % 160 AS DOUBLE) / 2.0 - 40.0 AS lat")
    square = [[[-30.0, -30.0], [30.0, -30.0], [30.0, 30.0], [-30.0, 30.0], [-30.0, -30.0]]]
    polys = from_feature_collection(spark, {"type": "FeatureCollection", "features": [
        {"type": "Feature", "properties": {"part": "sq"},
         "geometry": {"type": "Polygon", "coordinates": square}}]})
    joined = spatial_join(pts, polys, res=8)
    tiles = encode_native(pts, "lon", "lat", 12, "cell").selectExpr(
        "cell", "1L AS n_pixels", "CAST(pid % 255 AS DOUBLE) AS sum_value",
        "CAST(pid % 255 AS DOUBLE) AS min_value",
        "CAST(pid % 255 AS DOUBLE) AS max_value", "pid % 7 AS image_id")
    for df in (joined, cell_mosaic(tiles, 6)):
        rows, size = _rows_and_max_method_bytes(spark, df)
        assert rows > 0
        assert 0 < size < 8000, size
