"""Correctness checks of one job's result.  Each returns a list of problems;
an empty list means the result is correct.  Pure Python and NumPy, so the
checks themselves are tested without Spark (test_checks.py)."""

from __future__ import annotations

import math

import pandas as pd


def check_part_counts(got: dict, want: dict) -> list:
    """sjoin_points: per-part counts against the NumPy even-odd truth."""
    problems = []
    for part in sorted(set(got) | set(want)):
        if got.get(part, 0) != want.get(part, 0):
            problems.append(f"part {part}: got {got.get(part, 0)} points, "
                            f"want {want.get(part, 0)}")
    return problems


def check_mosaic(mosaic: pd.DataFrame, n_px: int, px_sum: float,
                 samples: dict) -> list:
    """tile_mosaic: pixel count and value sum over all mosaic cells, and each
    sampled image's own per-cell aggregates (``samples``: image_id ->
    DataFrame with cell, n_pixels, sum_value, min_value, max_value at the
    mosaic resolution).  A mosaic cell that only the sampled image reaches
    must equal its aggregates exactly; a shared one must contain them."""
    problems = []
    got_px = int(mosaic["n_pixels"].sum())
    if got_px != n_px:
        problems.append(f"mosaic holds {got_px} pixels, images have {n_px}")
    got_sum = float((mosaic["mean_value"] * mosaic["n_pixels"]).sum())
    if not math.isclose(got_sum, px_sum, rel_tol=1e-9):
        problems.append(f"mosaic value sum {got_sum!r}, pixels sum to {px_sum!r}")
    rows = mosaic.set_index("mosaic_cell")
    for image_id, exp in samples.items():
        for e in exp.itertuples():
            if e.cell not in rows.index:
                problems.append(f"{image_id}: mosaic cell {e.cell} missing")
                continue
            r = rows.loc[e.cell]
            if int(r.n_images) == 1:
                same = (int(r.n_pixels) == e.n_pixels
                        and r.min_value == e.min_value and r.max_value == e.max_value
                        and math.isclose(r.mean_value * r.n_pixels, e.sum_value,
                                         rel_tol=1e-9))
            else:
                same = (int(r.n_pixels) >= e.n_pixels and r.min_value <= e.min_value
                        and r.max_value >= e.max_value)
            if not same:
                problems.append(f"{image_id}: mosaic cell {e.cell} does not match "
                                f"its pixels")
    return problems


TILE_KEY = ["image_id", "cell"]


def check_ingest(table: pd.DataFrame, manifest_rows: int, readback: pd.DataFrame,
                 cell_range: tuple, n_px: int, px_sum: float,
                 samples: dict) -> list:
    """Table rung: the committed table (read back file by file) against the
    images, and the pruned range scan against the committed rows in range.
    ``samples``: image_id -> that image's expected tile rows at the tiling
    resolution."""
    problems = []
    if len(table) != manifest_rows:
        problems.append(f"manifest counts {manifest_rows} rows, files hold {len(table)}")
    if table.duplicated(TILE_KEY).any():
        problems.append("duplicate (image_id, cell) rows in the table")
    if int(table["n_pixels"].sum()) != n_px:
        problems.append(f"table holds {int(table['n_pixels'].sum())} pixels, "
                        f"images have {n_px}")
    if float(table["sum_value"].sum()) != px_sum:
        problems.append(f"table value sum {float(table['sum_value'].sum())!r}, "
                        f"pixels sum to {px_sum!r}")
    by_image = table.set_index("image_id")
    for image_id, exp in samples.items():
        got = (by_image.loc[[image_id]] if image_id in by_image.index
               else by_image.iloc[:0])
        got = got.reset_index(drop=True).sort_values("cell").reset_index(drop=True)
        exp = exp.sort_values("cell").reset_index(drop=True)
        cols = ["cell", "n_pixels", "sum_value", "min_value", "max_value"]
        if len(got) != len(exp) or not (got[cols].to_numpy() == exp[cols].to_numpy()).all():
            problems.append(f"{image_id}: table rows differ from its pixels")
    lo, hi = cell_range
    want = table[(table["cell"] >= lo) & (table["cell"] <= hi)]
    want = want.sort_values(TILE_KEY).reset_index(drop=True)
    got = readback[list(table.columns)].sort_values(TILE_KEY).reset_index(drop=True)
    if len(got) != len(want) or not got.equals(want):
        problems.append(f"range scan returned {len(got)} rows, "
                        f"{len(want)} committed rows are in range")
    return problems
