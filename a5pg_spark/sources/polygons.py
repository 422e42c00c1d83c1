"""Polygon-layer sources — GeoJSON FeatureCollections as (part, geom_json)
tables, mirroring the reference's fixture loader
(tests/elephant_a5_cells.sql:23-46: jsonb literal → jsonb_array_elements →
typed rows → persisted table)."""

from __future__ import annotations

import json
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

ELEPHANT_GEOJSON = os.path.join(os.path.dirname(__file__), "elephant.geojson")


def elephant_feature_collection() -> dict:
    """The 5-feature elephant FeatureCollection committed beside this module
    (3 concave polygons, one with a hole, + 2 point eyes near (0, 0); how it
    was authored is FIXTURES.md §2).  Each call returns a fresh dict."""
    with open(ELEPHANT_GEOJSON) as f:
        return json.load(f)


def from_feature_collection(spark: SparkSession, fc: dict,
                            part_prop: str = "part") -> DataFrame:
    """FeatureCollection → (part, geom_json).

    GeoJSON geometry coordinates are heterogeneous (Point [x,y] vs Polygon
    [[[x,y]…]]), so a single Catalyst schema can't type them; the feature
    list is split driver-side (FeatureCollections are small dimension data —
    the reference likewise inlines its fixture as a literal CTE) and each
    geometry is carried as a JSON string column.
    """
    rows = [
        (f["properties"][part_prop], json.dumps(f["geometry"]))
        for f in fc["features"]
    ]
    # built through Arrow from pandas: the relation plans as a LocalTableScan,
    # so collecting or joining it starts no Python worker
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["part", "geom_json"]),
        "part string, geom_json string",
    )


def elephant_polygons(spark: SparkSession) -> DataFrame:
    return from_feature_collection(spark, elephant_feature_collection())
