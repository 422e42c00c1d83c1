"""The benchmark workloads.  Each drives the engine only through its
public functions and exposes the same steps to the runner:

* ``make_inputs()``  generate the seeded inputs and materialise them as
  parquet in the run's working directory (counted in ``setup_s``);
* ``expect()``       the NumPy truth the checks compare against (benchmark
  work, not counted in ``setup_s``);
* ``warm()``         untimed warm-up jobs on the full input; the first one
  also builds the spatial-join cover (counted in ``setup_s``);
* ``job()``          one timed job, plan build included, with spans around
  each layer call; ``check(result)`` lists what is wrong with its result;
* ``ladder()``       traced runs only: the same inputs through growing
  pipeline prefixes into Spark's ``noop`` sink, one rung per layer.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import checks, inputs

# Input sizes: about 4 s per job on a 4-core host (README.md says why).
SJOIN_POINTS = 1_000_000
SJOIN_RES = 8
MOSAIC_IMAGES = 4_000
IMAGE_FILES = 8
TILE_RES = 14
MOSAIC_RES = 6
SAMPLE_IMAGES = 24      # images recomputed in NumPy for the per-image checks


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn):
    t = time.perf_counter()
    out = fn()
    return time.perf_counter() - t, out


class Workload:
    name = ""
    warm_jobs = 2  # untimed full-size jobs before the timed loop

    def __init__(self, spark, seed: int, workdir: str, tracer):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.tracer = tracer
        self.rng = np.random.default_rng([seed, sum(map(ord, self.name))])
        self.jobs_run = 0
        self.ladder_problems: list = []  # checks of outputs the ladder collects
        self.spark_counts: list = []  # (jobs, stages, tasks) per timed job

    def path(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def warm(self) -> list:
        """Untimed, unchecked warm-up jobs with spans off; their times."""
        times, traced = [], self.tracer.enabled
        self.tracer.enabled = False
        for _ in range(self.warm_jobs):
            dt, _ = _timed(self.run)
            times.append(dt)
        self.tracer.enabled = traced
        return times

    def job(self):
        """One timed job under its own Spark job group."""
        sc = self.spark.sparkContext
        group = f"{self.name}-job{self.jobs_run}"
        self.jobs_run += 1
        sc.setJobGroup(group, group)
        with self.tracer.span("job"):
            out = self.run()
        sc.setJobGroup("setup", "setup")
        if self.tracer.enabled:
            self.spark_counts.append(self._spark_counts(group))
        return out

    def _spark_counts(self, group: str) -> tuple:
        st = self.spark.sparkContext.statusTracker()
        stages = tasks = 0
        job_ids = st.getJobIdsForGroup(group)
        for j in job_ids:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                si = st.getStageInfo(s)
                stages += 1
                tasks += si.numTasks if si else 0
        return len(job_ids), stages, tasks

    def cold_ladder(self) -> dict:
        return {}

    def job_layers(self) -> dict:
        """Per-layer metrics taken from the timed jobs of a traced run."""
        j, s, t = (statistics.median(c[i] for c in self.spark_counts) for i in range(3))
        return {"spark.jobs": j, "spark.stages": s, "spark.tasks": t}


# --------------------------------------------------------------- sjoin_points

class SjoinPoints(Workload):
    """Seeded uniform points against a seeded star-polygon layer:
    ``spatial_join(res=8)`` then per-part counts.  JVM only in the timed
    region: native encode, broadcast equi-join, native even-odd refine."""

    name = "sjoin_points"
    # its job CPU (JIT excluded) still falls by a tenth over the second and
    # third jobs; with fewer warm-up jobs some runs timed that fall
    warm_jobs = 3

    def make_inputs(self) -> None:
        from a5pg_spark.sources.polygons import from_feature_collection

        n = SJOIN_POINTS
        self.lon, self.lat = inputs.uniform_points(self.rng, n)
        k = int(self.rng.integers(n))
        self.fc = inputs.polygon_layer(self.rng, (self.lon[k], self.lat[k]))
        self.input = self.path("points")
        inputs.write_points(self.input, self.lon, self.lat, row_groups=16)
        self.polygons = from_feature_collection(self.spark, self.fc)
        self.rows = n
        self.sizes = {"points": n, "polygons": len(self.fc["features"]),
                      "res": SJOIN_RES}

    def expect(self) -> None:
        self.want = inputs.expected_part_counts(self.fc, self.lon, self.lat)

    def run(self) -> dict:
        from a5pg_spark.operators.spatial_join import spatial_join

        pts = self.spark.read.parquet(self.input)
        with self.tracer.span("spatial_join.call"):
            joined = spatial_join(pts, self.polygons, res=SJOIN_RES)
        with self.tracer.span("spatial_join.exec"):
            rows = joined.groupBy("part").count().collect()
        return {r["part"]: r["count"] for r in rows}

    def check(self, got: dict) -> list:
        return checks.check_part_counts(got, self.want)

    def cold_ladder(self) -> dict:
        """The cover build and the kernels over its cells, timed before any
        warm-up job has built (and cached) the cover."""
        from a5pg_spark.core import cells
        from a5pg_spark.operators.spatial_join import polygon_cover

        tr, out = self.tracer, {}
        with tr.span("operators.spatial_join.cover_build"):
            out["operators.spatial_join.cover_build_s"], self.cover = _timed(
                lambda: polygon_cover(self.polygons, SJOIN_RES).toPandas())
        ids = self.cover["cell"].to_numpy()
        out["operators.spatial_join.cover_rows"] = len(self.cover)
        out["operators.spatial_join.cover_interior_frac"] = float(self.cover["interior"].mean())
        with tr.span("core.cells.cell_to_lonlat"):
            dt, _ = _timed(lambda: cells.cell_to_lonlat(ids))
        out["core.cells.cell_to_lonlat.cells_per_s"] = len(ids) / dt
        with tr.span("core.cells.cell_to_boundary_batch"):
            dt, _ = _timed(lambda: cells.cell_to_boundary_batch(ids))
        out["core.cells.cell_to_boundary_batch.cells_per_s"] = len(ids) / dt
        return out

    def ladder(self) -> dict:
        from pyspark.sql import functions as F

        from a5pg_spark.core import cells
        from a5pg_spark.functions import a5_lonlat_to_cell
        from a5pg_spark.functions_native import encode_native
        from a5pg_spark.operators.spatial_join import spatial_join

        spark, tr, out = self.spark, self.tracer, {}
        read = lambda: spark.read.parquet(self.input)  # noqa: E731
        with tr.span("ladder.scan"):
            _noop(read())
        m = 500_000
        with tr.span("core.cells.lonlat_to_cell"):
            dt, _ = _timed(lambda: cells.lonlat_to_cell(self.lon[:m], self.lat[:m], SJOIN_RES))
        out["core.cells.lonlat_to_cell.pts_per_s"] = m / dt
        with tr.span("functions_native.encode_native.build"):
            out["functions_native.encode_native.build_s"], enc = _timed(
                lambda: encode_native(read(), "lon", "lat", SJOIN_RES, "cell"))
        with tr.span("functions_native.encode_native.exec"):
            out["functions_native.encode_native.exec_s"], _ = _timed(lambda: _noop(enc))
        udf = read().withColumn("cell", a5_lonlat_to_cell("lon", "lat", SJOIN_RES))
        with tr.span("functions.a5_lonlat_to_cell.exec"):
            out["functions.a5_lonlat_to_cell.exec_s"], _ = _timed(lambda: _noop(udf))
        # the equi-join prefix of spatial_join: encoded points matched to the
        # cover's cells, before the refine step
        cover_df = F.broadcast(spark.createDataFrame(self.cover[["part", "cell"]]))
        cand = enc.join(cover_df, "cell")
        with tr.span("operators.spatial_join.candidates"):
            n_cand = cand.count()
        out["operators.spatial_join.candidate_rows"] = n_cand
        with tr.span("operators.spatial_join.call"):
            out["operators.spatial_join.call_s"], joined = _timed(
                lambda: spatial_join(read(), self.polygons, res=SJOIN_RES))
        with tr.span("operators.spatial_join.exec"):
            out["operators.spatial_join.exec_s"], _ = _timed(lambda: _noop(joined))
        out["operators.spatial_join.refine_keep_frac"] = sum(self.want.values()) / n_cand
        return out


# --------------------------------------------------------------- tile_mosaic

class TileMosaic(Workload):
    """Seeded images through ``pixels_to_cells(res=14)`` and
    ``cell_mosaic(6)``, collected.  The Python path (decode, NumPy encode,
    Arrow ``mapInPandas``); no native encode.  Traced runs also append the
    same tiles to a ``SnapshotTable`` and read a cell range back."""

    name = "tile_mosaic"

    def make_inputs(self) -> None:
        from a5pg_spark import functions as A

        # cell_mosaic's parent step is a registered SQL bit function
        A.register(self.spark)
        self.images = inputs.image_rows(self.seed, MOSAIC_IMAGES)
        self.input = self.path("images")
        inputs.write_images(self.input, self.images, files=IMAGE_FILES)
        self.rows = int((self.images["w"] * self.images["h"]).sum())
        self.sizes = {"images": MOSAIC_IMAGES, "pixels": self.rows, "res": TILE_RES,
                      "mosaic_res": MOSAIC_RES}

    def expect(self) -> None:
        from a5pg_spark.core import bits, cells
        from a5pg_spark.sources.images import capture_point

        self.n_px, self.px_sum = inputs.pixel_totals(self.images)
        pick = sorted(self.rng.choice(len(self.images), SAMPLE_IMAGES, replace=False))
        self.tiles, self.mosaic = {}, {}
        for i in pick:
            row = self.images.iloc[int(i)]
            t = inputs.image_tiles(row, TILE_RES)
            self.tiles[row.image_id] = t
            t = t.assign(cell=bits.cell_to_parent(t["cell"].to_numpy(), MOSAIC_RES))
            self.mosaic[row.image_id] = t.groupby("cell").agg(
                n_pixels=("n_pixels", "sum"), sum_value=("sum_value", "sum"),
                min_value=("min_value", "min"), max_value=("max_value", "max")).reset_index()
        # a tenth of the images' capture-point cells, for the table rung's range scan
        lon, lat = capture_point(self.images["phash"].to_numpy())
        ids = np.sort(cells.lonlat_to_cell(lon, lat, TILE_RES))
        q0 = float(self.rng.uniform(0.2, 0.7))
        self.cell_range = (int(ids[int(q0 * len(ids))]),
                           int(ids[int((q0 + 0.1) * len(ids))]))

    def run(self):
        from a5pg_spark.operators.tiling import cell_mosaic, pixels_to_cells

        images = self.spark.read.parquet(self.input)
        with self.tracer.span("operators.tiling.call"):
            mosaic = cell_mosaic(pixels_to_cells(images, res=TILE_RES), MOSAIC_RES)
        with self.tracer.span("operators.tiling.exec"):
            return mosaic.toPandas()

    def check(self, mosaic) -> list:
        return checks.check_mosaic(mosaic, self.n_px, self.px_sum, self.mosaic)

    def ladder(self) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from a5pg_spark.core import cells
        from a5pg_spark.operators.tiling import pixels_to_cells
        from a5pg_spark.sources.images import decode_image

        spark, tr, out = self.spark, self.tracer, {}
        read = lambda: spark.read.parquet(self.input)  # noqa: E731
        with tr.span("ladder.scan"):
            _noop(read())
        sample = self.images.iloc[:400]
        with tr.span("sources.images.decode_image"):
            dt, imgs = _timed(lambda: [decode_image(bytes(r.bytes), r.fmt)
                                       for r in sample.itertuples()])
        out["sources.images.decode_image.px_per_s"] = sum(im.size for im in imgs) / dt
        lonlat = [inputs.pixel_lonlat(r) for r in sample.itertuples()]
        glon = np.concatenate([p[0] for p in lonlat])
        glat = np.concatenate([p[1] for p in lonlat])
        with tr.span("core.cells.lonlat_to_cell"):
            dt, _ = _timed(lambda: cells.lonlat_to_cell(glon, glat, TILE_RES))
        out["core.cells.lonlat_to_cell.pts_per_s"] = len(glon) / dt
        obs = Observation("tiles")
        tiles = pixels_to_cells(read(), res=TILE_RES).observe(
            obs, F.count(F.lit(1)).alias("rows"))
        with tr.span("operators.tiling.pixels_to_cells.exec"):
            out["operators.tiling.pixels_to_cells.exec_s"], _ = _timed(lambda: _noop(tiles))
        rows = obs.get["rows"]
        out["operators.tiling.pixels_to_cells.rows"] = rows
        out["operators.tiling.combine_ratio"] = self.n_px / rows
        out.update(self.table_rung())
        self.ladder_out = out
        return out

    def table_rung(self) -> dict:
        """The tiles appended to a fresh SnapshotTable (range-sorted on cell)
        and a pruned range scan read back, both checked."""
        from a5pg_spark.operators.tiling import pixels_to_cells
        from a5pg_spark.sources.table import SnapshotTable

        tr, out = self.tracer, {}
        table = SnapshotTable(self.path("table"))
        tiles = pixels_to_cells(self.spark.read.parquet(self.input), res=TILE_RES)
        with tr.span("sources.table.append"):
            out["sources.table.append_s"], manifest = _timed(
                lambda: table.append(tiles, sort_col="cell", cell_col="cell"))
        with tr.span("sources.table.scan"):
            out["sources.table.scan_s"], back = _timed(
                lambda: table.scan(self.spark, cell_range=self.cell_range).toPandas())
        read, total = table.pruned_file_count(self.cell_range)
        out["sources.table.files_read_frac"] = read / total
        out["sources.table.bytes_written"] = manifest["metrics"]["bytes"]
        out["sources.table.files_written"] = manifest["metrics"]["n_files"]
        files = [f["path"] for f in manifest["files"]]
        committed = pa.concat_tables([pq.read_table(p) for p in files]).to_pandas()
        self.ladder_problems = checks.check_ingest(
            committed, manifest["metrics"]["rows"], back, self.cell_range,
            self.n_px, self.px_sum, self.tiles)
        shutil.rmtree(table.root)
        return out

    def job_layers(self) -> dict:
        # self time of the mosaic step: the whole job less its tiling prefix
        job = statistics.median(self.tracer.durations("operators.tiling.exec"))
        return {**super().job_layers(), "operators.tiling.cell_mosaic_s":
                job - self.ladder_out["operators.tiling.pixels_to_cells.exec_s"]}


WORKLOADS = {w.name: w for w in (SjoinPoints, TileMosaic)}
