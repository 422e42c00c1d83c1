"""The driver JVM's compiler directives (a5pg_spark/jvm/c2_exclude.json,
DESIGN.md §7.4): the JVM starts with them, and in a session C2 compiles the
per-row code but no method of a listed package, while C1 compiles some
method of each listed package."""

from __future__ import annotations

import json
import subprocess

import numpy as np
from pyspark.sql import functions as F

from a5pg_spark import jvm, session
from a5pg_spark.jvm import cds


def _prefixes() -> list:
    """The excluded class-name prefixes, dotted as Compiler.codelist prints
    them: ``org/apache/xbean/*.*`` -> ``org.apache.xbean.``."""
    with open(jvm.C2_EXCLUDE) as f:
        (block,) = json.load(f)  # strict JSON, one block
    assert block["c2"] == {"Exclude": True} and set(block) == {"match", "c2"}
    return [m.removesuffix(".*").rstrip("*").replace("/", ".") for m in block["match"]]


def test_the_driver_flags_start_a_jvm_quietly():
    """A malformed directives file would stop every session from starting;
    HotSpot's "directives added" line goes to stderr, not the driver's stdout."""
    run = subprocess.run([cds.java_binary(), *session.DRIVER_FLAGS.split(), "-version"],
                         capture_output=True, text=True, timeout=60)
    assert run.returncode == 0, run.stderr
    assert run.stdout == ""
    assert "1 compiler directives added" in run.stderr.splitlines()


def test_c2_compiles_per_row_code_and_no_listed_package(spark, tmp_path):
    from perfbench import inputs
    from a5pg_spark.functions_native import encode_native
    from a5pg_spark.operators.spatial_join import spatial_join
    from a5pg_spark.sources.polygons import from_feature_collection

    path = str(tmp_path / "pts")
    spark.range(1_000_000).select(
        (F.rand(1) * 360 - 180).alias("lon"),
        F.degrees(F.asin(F.rand(2) * 2 - 1)).alias("lat"),
    ).write.parquet(path)
    pts = spark.read.parquet(path)
    fc = inputs.polygon_layer(np.random.default_rng(3), (-73.98, 40.75))
    polygons = from_feature_collection(spark, fc)
    for _ in range(3):
        assert encode_native(pts, "lon", "lat", 10).filter(F.col("cell").isNull()).count() == 0
        rows = spatial_join(pts, polygons, res=8).groupBy("part").count().collect()
        assert sum(r["count"] for r in rows) > 0

    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    out = subprocess.run(["jcmd", str(pid), "Compiler.codelist"], capture_output=True,
                         text=True, timeout=120, check=True).stdout
    levels = {}  # method -> the levels it is compiled at
    for line in out.splitlines():
        f = line.split()
        if len(f) >= 4 and f[0].isdigit() and f[1].isdigit():
            levels.setdefault(f[3], set()).add(int(f[1]))
    at = lambda level, pred: [m for m, ls in levels.items() if level in ls and pred(m)]  # noqa: E731
    assert at(4, lambda m: m.startswith(f"{jvm.CLASS}.")), "A5Encode is not C2-compiled"
    assert at(4, lambda m: ".GeneratedClass$" in m), "no generated stage code is C2-compiled"
    for prefix in _prefixes():
        assert not at(4, lambda m: m.startswith(prefix)), prefix
        c1 = [m for lv in (1, 2, 3) for m in at(lv, lambda m: m.startswith(prefix))]
        assert c1, f"no method of {prefix} was compiled: a dead entry"
