"""Iceberg-style snapshot tables over parquet (SURVEY.md §1.2 parity).

The reference stores cells in PostgreSQL tables inside transactions
(``tests/elephant_a5_cells.sql:11,115``); the Spark-native equivalent is a
snapshot table: immutable parquet data files + a versioned metadata log with
atomic commits, optimistic concurrency, time travel, and file-level sort-key
stats for scan pruning.

Layout::

    <root>/data/snap-<uuid>/part-*.parquet     (immutable, one dir per commit)
    <root>/metadata/v<N>.json                  (snapshot manifest, CAS via O_EXCL)
    <root>/metadata/current                    (pointer, atomic tmp+rename)

Manifest: {version, snapshot_id, parent, ts, operation, schema, sort_col,
files: [{path, rows, bytes, min, max}], metrics: {rows, bytes, n_files,
skew_ratio}}.

Scale notes (100 TB design):
* per-file min/max stats are read from parquet FOOTERS (pyarrow), never by
  scanning data — commit metadata cost is O(files), not O(rows);
* ``scan(cell_range=...)`` prunes files by stats overlap before Spark ever
  sees them — on a cell-sorted table a point/range lookup touches O(1) files
  (the B-tree-index analogue, combined with write-sorted layout from
  ``plans/partitioning.write_cell_sorted``);
* commits are metadata-only CAS: concurrent writers conflict on the version
  file (O_EXCL create) and retry with the next version — writers never block
  readers, readers always see a complete snapshot.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


class CommitConflict(Exception):
    pass


class SnapshotTable:
    def __init__(self, root: str):
        self.root = root
        self.meta_dir = os.path.join(root, "metadata")
        self.data_dir = os.path.join(root, "data")

    # ------------------------------------------------------------- metadata
    def _current_version(self) -> int | None:
        try:
            with open(os.path.join(self.meta_dir, "current")) as f:
                return json.load(f)["version"]
        except (OSError, json.JSONDecodeError, KeyError):
            return None

    def manifest(self, version: int | None = None) -> dict | None:
        v = self._current_version() if version is None else version
        if v is None:
            return None
        try:
            with open(os.path.join(self.meta_dir, f"v{v}.json")) as f:
                return json.load(f)
        except OSError:
            return None

    def snapshots(self) -> list:
        """All committed manifests, oldest first."""
        v = self._current_version()
        out = []
        while v is not None and v >= 1:
            m = self.manifest(v)
            if m is None:
                break
            out.append(m)
            v = m.get("parent")
        return list(reversed(out))

    # --------------------------------------------------------------- writes
    @staticmethod
    def _footer_entries(paths: list, sort_col: str | None,
                        stats_cols: tuple = ()) -> list:
        """Per-file manifest entries from parquet FOOTERS only (rows, bytes,
        sort-column min/max for pruning) — no data read.  Shared by the
        write and compaction paths so the stat shape can't drift.
        ``stats_cols`` adds per-file min/max for EXTRA columns under
        ``stats`` — the multi-dimension pruning surface a z-ordered layout
        makes effective (plans/zorder.py)."""
        files = []
        for path in paths:
            md = pq.ParquetFile(path).metadata

            def minmax(col):
                idx = md.schema.names.index(col)
                lo = hi = None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    if st is not None and st.has_min_max:
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
                return lo, hi

            lo, hi = minmax(sort_col) if sort_col is not None else (None, None)
            entry = {"path": path, "rows": md.num_rows,
                     "bytes": os.path.getsize(path), "min": lo, "max": hi}
            if stats_cols:
                entry["stats"] = {c: list(minmax(c)) for c in stats_cols}
            files.append(entry)
        return files

    @staticmethod
    def _attach_cells_metric(spark, files: list, cell_col: str | None) -> None:
        """Per-file "cells" metric (north-rule manifest tuple: rows, cells,
        bytes, skew) in ONE distributed pass grouped by input_file_name —
        never one job per file.  Exact count_distinct for test determinism;
        at 100 TB swap to approx_count_distinct or fold the counter into the
        write job itself (custom commit protocol) to avoid the read-back."""
        if cell_col is None or not files:
            return
        from pyspark.sql import functions as F

        per = (
            spark.read.parquet(*[f["path"] for f in files])
            .groupBy(
                F.element_at(F.split(F.input_file_name(), "/"), -1).alias("__f")
            )
            .agg(F.count_distinct(cell_col).alias("c"))
            .collect()
        )
        cmap = {r["__f"]: int(r["c"]) for r in per}
        for f in files:
            f["cells"] = cmap.get(os.path.basename(f["path"]), 0)

    def _write_files(self, df: DataFrame, sort_col: str | None,
                     cell_col: str | None = None,
                     stats_cols: tuple = ()) -> tuple[str, list]:
        snap_dir = os.path.join(self.data_dir, f"snap-{uuid.uuid4().hex[:12]}")
        w = df
        if sort_col is not None:
            # co-locate ranges: range-partition then sort within partitions —
            # each output file covers a disjoint cell range (prunable)
            n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
            w = df.repartitionByRange(n, sort_col).sortWithinPartitions(sort_col)
        w.write.mode("errorifexists").parquet(snap_dir)
        paths = [os.path.join(snap_dir, n) for n in sorted(os.listdir(snap_dir))
                 if n.endswith(".parquet")]
        files = self._footer_entries(paths, sort_col, stats_cols)
        self._attach_cells_metric(df.sparkSession, files, cell_col)
        return snap_dir, files

    def _commit(self, operation: str, files: list, schema_json: str,
                sort_col: str | None, retain_previous: bool,
                lineage: dict | None = None,
                replace_paths: set | None = None,
                stats_cols: tuple = ()) -> dict:
        os.makedirs(self.meta_dir, exist_ok=True)
        for _ in range(20):  # optimistic retry loop
            cur = self._current_version()
            prev = self.manifest(cur) if cur is not None else None
            all_files = list(files)
            if retain_previous and prev is not None:
                base = prev["files"]
                if replace_paths:
                    # metadata-swap compaction: drop the rewritten inputs;
                    # concurrent appends between plan and commit are kept
                    # (the retry loop re-reads the current manifest), but a
                    # concurrent overwrite that removed an input aborts
                    if not replace_paths <= {f["path"] for f in base}:
                        raise CommitConflict(
                            f"compaction inputs vanished under a concurrent "
                            f"overwrite: {self.root}")
                    base = [f for f in base if f["path"] not in replace_paths]
                all_files = base + all_files
            rows = sum(f["rows"] for f in all_files)
            nbytes = sum(f["bytes"] for f in all_files)
            mean = rows / max(len(all_files), 1)
            skew = (max((f["rows"] for f in all_files), default=0) / mean) if mean else 0.0
            version = (cur or 0) + 1
            manifest = {
                "version": version,
                "snapshot_id": uuid.uuid4().hex,
                "parent": cur,
                "ts": time.time(),
                "operation": operation,
                "schema": schema_json,
                "sort_col": sort_col,
                "stats_cols": list(stats_cols),
                "files": all_files,
                "lineage": lineage,
                "metrics": {"rows": rows, "bytes": nbytes,
                            "n_files": len(all_files),
                            "skew_ratio": round(skew, 4),
                            # sum of per-file distinct cell counts (files on
                            # a range-sorted table cover disjoint ranges, so
                            # this is ~the table's distinct-cell count)
                            "cells": sum(f.get("cells", 0) for f in all_files)
                            if any("cells" in f for f in all_files) else None},
            }
            vpath = os.path.join(self.meta_dir, f"v{version}.json")
            try:
                fd = os.open(vpath, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                continue  # another writer won this version — retry on top
            with os.fdopen(fd, "w") as f:
                json.dump(manifest, f)
            # flip the pointer atomically (readers see old or new, never half)
            tmp = os.path.join(self.meta_dir, f".current.{uuid.uuid4().hex[:8]}")
            with open(tmp, "w") as f:
                json.dump({"version": version}, f)
            os.replace(tmp, os.path.join(self.meta_dir, "current"))
            return manifest
        raise CommitConflict(f"gave up after 20 optimistic retries: {self.root}")

    def append(self, df: DataFrame, sort_col: str | None = None,
               cell_col: str | None = None, lineage: dict | None = None,
               stats_cols: tuple = ()) -> dict:
        m = self.manifest()
        sort_col = sort_col or (m and m.get("sort_col"))
        stats_cols = tuple(stats_cols) or tuple((m or {}).get("stats_cols") or ())
        _, files = self._write_files(df, sort_col, cell_col, stats_cols)
        return self._commit("append", files, df.schema.json(), sort_col, True,
                            lineage, stats_cols=stats_cols)

    def overwrite(self, df: DataFrame, sort_col: str | None = None,
                  cell_col: str | None = None, lineage: dict | None = None,
                  stats_cols: tuple = ()) -> dict:
        stats_cols = tuple(stats_cols)
        _, files = self._write_files(df, sort_col, cell_col, stats_cols)
        return self._commit("overwrite", files, df.schema.json(), sort_col,
                            False, lineage, stats_cols=stats_cols)

    def compact(self, spark: SparkSession, small_rows: int,
                cell_col: str | None = None) -> dict:
        """Bin-pack data files smaller than ``small_rows`` rows into
        range-local larger files and commit a metadata-swap ``compact``
        snapshot — the Iceberg "rewrite small files" maintenance path.

        Scan-identical (same rows, schema, per-file sort restored) and
        time-travel preserving: the pre-compaction snapshot stays readable.
        Reads ONLY the small files — at 100 TB the maintenance cost scales
        with the small-file backlog, never the table.  Bins follow the
        sort-column order so compacted files keep disjoint(-ish) cell
        ranges and stay prunable by footer stats."""
        man = self.manifest()
        if man is None:
            raise ValueError(f"no snapshot to compact: {self.root}")
        sort_col = man.get("sort_col")
        small = [f for f in man["files"] if f["rows"] < small_rows]
        if len(small) < 2:
            return man
        small = sorted(small, key=lambda f: (f["min"] is None, f["min"]))
        bins, cur, acc = [], [], 0
        for f in small:
            cur.append(f)
            acc += f["rows"]
            if acc >= small_rows:
                bins.append(cur)
                cur, acc = [], 0
        if cur:
            bins.append(cur)
        snap_dir = os.path.join(self.data_dir, f"snap-{uuid.uuid4().hex[:12]}")
        os.makedirs(snap_dir, exist_ok=True)
        new_paths = []
        for bi, bin_files in enumerate(bins):
            df = spark.read.parquet(*[f["path"] for f in bin_files])
            if sort_col is not None:
                df = df.sort(sort_col)
            out_dir = os.path.join(snap_dir, f"bin-{bi}")
            df.coalesce(1).write.mode("errorifexists").parquet(out_dir)
            new_paths.extend(
                os.path.join(out_dir, n) for n in sorted(os.listdir(out_dir))
                if n.endswith(".parquet"))
        stats_cols = tuple(man.get("stats_cols") or ())
        new_files = self._footer_entries(new_paths, sort_col, stats_cols)
        # one grouped metric pass over ALL bins (was one Spark job per file)
        self._attach_cells_metric(spark, new_files, cell_col)
        return self._commit("compact", new_files, man["schema"], sort_col,
                            True, replace_paths={f["path"] for f in small},
                            stats_cols=stats_cols)

    def snapshot_for_lineage(self, key: dict) -> dict | None:
        """Most recent committed snapshot whose ``lineage`` equals ``key``
        exactly (stage name + stage version + input snapshot ids) — the
        resume lookup for :func:`run_stage`.  O(versions) metadata reads,
        never touches data files."""
        for m in reversed(self.snapshots()):
            if m.get("lineage") == key:
                return m
        return None

    @classmethod
    def create(cls, root: str, df: DataFrame, sort_col: str | None = None,
               stats_cols: tuple = ()) -> "SnapshotTable":
        t = cls(root)
        os.makedirs(t.data_dir, exist_ok=True)
        t.overwrite(df, sort_col=sort_col, stats_cols=stats_cols)
        return t

    # ---------------------------------------------------------------- reads
    def scan(self, spark: SparkSession, version: int | None = None,
             cell_range: tuple | None = None) -> DataFrame:
        """Read a snapshot; with ``cell_range=(lo, hi)`` (inclusive), prune
        data files whose sort-col stats don't overlap, then apply the exact
        filter (pruning is an optimization, never a semantic change)."""
        m = self.manifest(version)
        if m is None:
            raise FileNotFoundError(f"no committed snapshot at {self.root}")
        files = m["files"]
        if cell_range is not None and m.get("sort_col"):
            lo, hi = cell_range
            files = [f for f in files
                     if f["min"] is None or not (f["max"] < lo or f["min"] > hi)]
        if not files:
            from pyspark.sql.types import StructType

            return spark.createDataFrame([], StructType.fromJson(json.loads(m["schema"])))
        df = spark.read.parquet(*[f["path"] for f in files])
        if cell_range is not None and m.get("sort_col"):
            c = m["sort_col"]
            df = df.filter((df[c] >= cell_range[0]) & (df[c] <= cell_range[1]))
        return df

    def pruned_file_count(self, cell_range: tuple, version: int | None = None) -> tuple:
        """(files read, files total) for a range — pruning effectiveness."""
        m = self.manifest(version)
        lo, hi = cell_range
        kept = [f for f in m["files"]
                if f["min"] is None or not (f["max"] < lo or f["min"] > hi)]
        return len(kept), len(m["files"])

    @staticmethod
    def _box_files(m: dict, box: dict) -> list:
        for c in box:
            if c not in (m.get("stats_cols") or ()):
                raise ValueError(f"no stats tracked for column {c!r}")
        return [
            f for f in m["files"]
            if all(
                f.get("stats", {}).get(c, [None, None])[0] is None
                or not (f["stats"][c][1] < lo or f["stats"][c][0] > hi)
                for c, (lo, hi) in box.items()
            )
        ]

    def scan_box(self, spark: SparkSession, box: dict,
                 version: int | None = None) -> DataFrame:
        """Multi-dimension pruned scan: ``box`` maps column → (lo, hi)
        inclusive.  Files are pruned on the per-column manifest stats
        (``stats_cols`` at write time), then the exact filters apply —
        semantics identical to a plain filtered read.  Effective on several
        columns at once only when the layout clusters them together; that is
        what ``plans/zorder.zorder_layout`` buys (a single-column sort makes
        every other dimension span its whole domain in every file)."""
        m = self.manifest(version)
        if m is None:
            raise FileNotFoundError(f"no committed snapshot at {self.root}")
        files = self._box_files(m, box)
        if not files:
            from pyspark.sql.types import StructType

            return spark.createDataFrame([], StructType.fromJson(json.loads(m["schema"])))
        df = spark.read.parquet(*[f["path"] for f in files])
        for c, (lo, hi) in box.items():
            df = df.filter((df[c] >= lo) & (df[c] <= hi))
        return df

    def pruned_file_count_box(self, box: dict, version: int | None = None) -> tuple:
        """(files read, files total) for a multi-dimension box."""
        m = self.manifest(version)
        return len(self._box_files(m, box)), len(m["files"])

    def scan_changes(self, spark: SparkSession, from_version: int,
                     to_version: int | None = None) -> DataFrame:
        """Incremental read: rows in data files ADDED after ``from_version``
        up to ``to_version`` (default current) — the Iceberg
        incremental-append consumption path.  Metadata-only file diff, so a
        downstream pipeline polls new data in O(files) regardless of table
        size.  Refuses histories where files were REMOVED in the window
        (overwrite/compact rewrites make "what changed" ambiguous at the
        file level — consumers must re-read or use lineage there)."""
        old = self.manifest(from_version)
        new = self.manifest(to_version)
        if old is None or new is None:
            raise FileNotFoundError(f"missing snapshot version: {self.root}")
        old_paths = {f["path"] for f in old["files"]}
        new_paths = {f["path"] for f in new["files"]}
        if not old_paths <= new_paths:
            raise ValueError(
                "non-append history in window (overwrite/compact present): "
                f"{self.root} v{old['version']}→v{new['version']}")
        added = [f["path"] for f in new["files"] if f["path"] not in old_paths]
        if not added:
            from pyspark.sql.types import StructType

            return spark.createDataFrame([], StructType.fromJson(json.loads(new["schema"])))
        return spark.read.parquet(*added)

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Retention maintenance: keep the most recent ``keep_last``
        manifests, delete older version files AND any data file referenced
        only by them — the Iceberg ``expire_snapshots`` action.  The current
        snapshot (and any retained ancestor) stays byte-identical; expired
        versions stop being readable.  Metadata cost O(versions + files);
        never reads data.  Returns {removed_versions, removed_files}."""
        snaps = self.snapshots()
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        if len(snaps) <= keep_last:
            return {"removed_versions": 0, "removed_files": 0}
        keep, drop = snaps[-keep_last:], snaps[:-keep_last]
        live = {f["path"] for m in keep for f in m["files"]}
        dead = {f["path"] for m in drop for f in m["files"]} - live
        for path in dead:
            try:
                os.remove(path)
            except OSError:
                pass
        for m in drop:
            try:
                os.remove(os.path.join(self.meta_dir, f"v{m['version']}.json"))
            except OSError:
                pass
        # cut the oldest retained manifest's parent pointer so snapshots()
        # stops cleanly at the retention horizon
        oldest = dict(keep[0])
        oldest["parent"] = None
        with open(os.path.join(self.meta_dir, f"v{oldest['version']}.json"), "w") as f:
            json.dump(oldest, f)
        return {"removed_versions": len(drop), "removed_files": len(dead)}


# ---------------------------------------------------------------------------
# checkpoint-resumable pipeline stages (north-rule: "every stage is
# checkpoint-resumable with per-partition lineage manifests and metrics")
# ---------------------------------------------------------------------------

def run_stage(
    spark: SparkSession,
    out_root: str,
    name: str,
    version: int,
    inputs: dict,
    fn,
    sort_col: str | None = None,
    cell_col: str | None = None,
) -> tuple:
    """Run (or resume) one pipeline stage ``inputs -> SnapshotTable(out_root)``.

    ``inputs`` maps alias -> SnapshotTable; ``fn(spark, dfs)`` receives the
    scanned DataFrames keyed by alias and returns the stage output DataFrame.

    Resume contract: the output commit's manifest records the stage lineage
    ``{stage, stage_version, inputs: {alias: {root, snapshot_id, version}}}``.
    Re-running the stage with the SAME name, version, and input snapshot ids
    is a metadata-only no-op that returns the existing committed snapshot —
    a crashed driver restarts the whole pipeline script and every completed
    stage is skipped in O(metadata).  Bumping ``version`` (the stage's
    algorithm revision) or committing new input data invalidates the resume
    and recomputes.  Returns ``(table, manifest, resumed)``.

    100 TB notes: the resume check reads only manifest JSONs; stage output is
    written range-sorted on ``sort_col`` (prunable files) and the manifest
    carries per-file (rows, cells, bytes) + table skew ratio, so a monitoring
    job can audit row/cell/byte conservation across stages without scanning
    data.

    This is the engine's one checkpoint-resume API: inputs are snapshot
    tables, so a new input commit invalidates the resume by itself.
    """
    in_snaps = {}
    dfs = {}
    for alias in sorted(inputs):
        t = inputs[alias]
        m = t.manifest()
        if m is None:
            raise FileNotFoundError(f"stage input '{alias}' has no committed "
                                    f"snapshot at {t.root}")
        in_snaps[alias] = {"root": t.root, "snapshot_id": m["snapshot_id"],
                           "version": m["version"]}
        dfs[alias] = t.scan(spark)
    key = {"stage": name, "stage_version": version, "inputs": in_snaps}
    out = SnapshotTable(out_root)
    hit = out.snapshot_for_lineage(key)
    if hit is not None:
        # The lineage hit may be a HISTORICAL snapshot (e.g. a later
        # stage_version overwrote the table, then the caller re-ran the old
        # version).  Callers read data through out.scan(spark), which always
        # reads the CURRENT manifest — returning a stale hit would hand back
        # a manifest that disagrees with the data scan() serves.  Resume
        # directly only when the hit IS current; otherwise restore it with a
        # metadata-only re-commit pointing at the hit's (immutable) data
        # files, so the current snapshot and the returned manifest agree.
        if hit["version"] == out._current_version():
            return out, hit, True
        man = out._commit("resume-restore", hit["files"], hit["schema"],
                          hit.get("sort_col"), retain_previous=False,
                          lineage=key)
        return out, man, True
    os.makedirs(out.data_dir, exist_ok=True)
    df = fn(spark, dfs)
    man = out.overwrite(df, sort_col=sort_col, cell_col=cell_col, lineage=key)
    return out, man, False
