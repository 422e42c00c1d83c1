"""The benchmark's correctness checks accept a right result and refuse a
corrupted one.  No Spark: results are built from the same NumPy truth.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from perfbench import checks, inputs


@pytest.fixture(scope="module")
def layer():
    rng = np.random.default_rng([7, 1])
    lon, lat = inputs.uniform_points(rng, 200_000)
    fc = inputs.polygon_layer(rng, (lon[3], lat[3]))
    return fc, lon, lat


def test_truth_counts_hole_and_pin(layer):
    fc, lon, lat = layer
    want = inputs.expected_part_counts(fc, lon, lat)
    assert want["pin"] == 1
    assert set(want) == {f["properties"]["part"] for f in fc["features"]}
    star0 = fc["features"][0]["geometry"]["coordinates"]
    cx, cy = np.mean(np.asarray(star0[0])[:-1], axis=0)
    assert not inputs.even_odd(np.array([cx]), np.array([cy]), star0)[0]  # in the hole
    assert inputs.even_odd(np.array([cx]), np.array([cy]), star0[:1])[0]


def test_part_counts_check(layer):
    fc, lon, lat = layer
    want = inputs.expected_part_counts(fc, lon, lat)
    assert checks.check_part_counts(dict(want), want) == []
    dropped = {k: v for k, v in want.items() if k != "star2"}
    assert checks.check_part_counts(dropped, want)
    moved = dict(want, star0=want["star0"] - 1)
    assert checks.check_part_counts(moved, want)


@pytest.fixture(scope="module")
def tiles():
    rows = inputs.image_rows(seed=3, n=9)
    per_image = {r.image_id: inputs.image_tiles(r, 14) for r in rows.itertuples()}
    table = pd.concat([t.assign(image_id=i) for i, t in per_image.items()],
                      ignore_index=True)[checks.TILE_KEY + ["n_pixels", "sum_value",
                                                            "min_value", "max_value"]]
    n_px, px_sum = inputs.pixel_totals(rows)
    return rows, per_image, table, n_px, px_sum


def test_ingest_check(tiles):
    rows, per_image, table, n_px, px_sum = tiles
    cells = np.sort(table["cell"].to_numpy())
    cell_range = (int(cells[2]), int(cells[len(cells) // 2]))
    in_range = table[(table["cell"] >= cell_range[0]) & (table["cell"] <= cell_range[1])]
    samples = dict(list(per_image.items())[:3])

    def check(t, n_rows, back):
        return checks.check_ingest(t, n_rows, back, cell_range, n_px, px_sum, samples)

    assert check(table, len(table), in_range.sample(frac=1, random_state=0)) == []
    lost = table[table["image_id"] != rows.image_id[0]]
    assert check(lost, len(lost), in_range)
    assert check(table, len(table), in_range.iloc[1:])
    assert check(table, len(table) + 1, in_range)
    wrong = table.copy()
    wrong.loc[0, "max_value"] += 1.0
    assert check(wrong, len(wrong), in_range)


def test_mosaic_check(tiles):
    from a5pg_spark.core import bits

    rows, per_image, table, n_px, px_sum = tiles

    def to_mosaic(t):
        t = t.assign(mosaic_cell=bits.cell_to_parent(t["cell"].to_numpy(), 6))
        g = t.groupby("mosaic_cell")
        m = g.agg(n_pixels=("n_pixels", "sum"), sum_value=("sum_value", "sum"),
                  min_value=("min_value", "min"), max_value=("max_value", "max"),
                  n_images=("image_id", "nunique")).reset_index()
        m["mean_value"] = m["sum_value"] / m["n_pixels"]
        return m.drop(columns="sum_value")

    samples = {i: to_mosaic(t.assign(image_id=i)).assign(
        sum_value=lambda m: m["mean_value"] * m["n_pixels"]).rename(
        columns={"mosaic_cell": "cell"}) for i, t in list(per_image.items())[:3]}
    mosaic = to_mosaic(table)
    assert checks.check_mosaic(mosaic, n_px, px_sum, samples) == []
    lost = to_mosaic(table[table["image_id"] != rows.image_id[1]])
    assert checks.check_mosaic(lost, n_px, px_sum, samples)
    assert checks.check_mosaic(mosaic.iloc[1:], n_px, px_sum, samples)


def test_metric_names_match_benchmark_json():
    import json
    import os

    from perfbench import run

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: u for k, (u, _) in run.PER_LAYER.items()}
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
