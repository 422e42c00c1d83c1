"""Snapshot-table layer: atomic commits, time travel, CAS, file pruning."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from a5pg_spark.sources.table import SnapshotTable


@pytest.fixture(scope="module")
def cells_df(spark):
    from a5pg_spark import functions as A

    A.register(spark)
    return spark.sql("""
        SELECT a5_synth_cell(id, 7) AS cell, id * 1.5 AS price
        FROM range(0, 20000)
    """)


def test_create_append_time_travel(spark, tmp_path_factory, cells_df):
    root = str(tmp_path_factory.mktemp("snap1"))
    t = SnapshotTable.create(root, cells_df.limit(5000), sort_col="cell")
    assert t.scan(spark).count() == 5000
    m1 = t.manifest()
    t.append(cells_df.where("id >= 5000").limit(3000))
    assert t.scan(spark).count() == 8000
    # time travel to v1
    assert t.scan(spark, version=m1["version"]).count() == 5000
    hist = t.snapshots()
    assert [m["operation"] for m in hist] == ["overwrite", "append"]
    assert hist[-1]["metrics"]["rows"] == 8000
    assert hist[-1]["metrics"]["skew_ratio"] >= 1.0


def test_overwrite_isolates_old_readers(spark, tmp_path_factory, cells_df):
    root = str(tmp_path_factory.mktemp("snap2"))
    t = SnapshotTable.create(root, cells_df.limit(1000), sort_col="cell")
    v1 = t.manifest()["version"]
    t.overwrite(cells_df.limit(200))
    assert t.scan(spark).count() == 200
    assert t.scan(spark, version=v1).count() == 1000  # old files retained


def test_cas_conflict_preserves_both_commits(spark, tmp_path_factory, cells_df):
    """Two writers race: the loser's O_EXCL create fails and it retries on
    top of the winner — both snapshots land, nothing is lost."""
    root = str(tmp_path_factory.mktemp("snap3"))
    t1 = SnapshotTable.create(root, cells_df.limit(100), sort_col="cell")
    t2 = SnapshotTable(root)
    # simulate the race: t2 computes against v1, then t1 commits first
    _, files2 = t2._write_files(cells_df.where("id >= 100").limit(50), "cell")
    t1.append(cells_df.where("id >= 1000").limit(70))
    m = t2._commit("append", files2, cells_df.schema.json(), "cell", True)
    assert m["version"] == 3  # retried past t1's v2
    assert t2.scan(spark).count() == 100 + 70 + 50


def test_commit_failure_leaves_pointer_unchanged(spark, tmp_path_factory, cells_df):
    root = str(tmp_path_factory.mktemp("snap4"))
    t = SnapshotTable.create(root, cells_df.limit(100), sort_col="cell")
    v_before = t._current_version()
    with pytest.raises(Exception):
        # duplicate data dir write triggers errorifexists failure mid-commit
        t.append(cells_df.limit(0).withColumn("bad", F.col("nonexistent")))
    assert t._current_version() == v_before
    assert t.scan(spark).count() == 100


def test_range_scan_prunes_files_exactly(spark, tmp_path_factory, cells_df):
    root = str(tmp_path_factory.mktemp("snap5"))
    # the table writes one file per shuffle partition; pin 8 whatever the
    # session's core count, so there are files to prune
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        t = SnapshotTable.create(root, cells_df, sort_col="cell")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", parts)
    m = t.manifest()
    assert m["metrics"]["n_files"] > 4, "need multiple files for pruning"
    # pick a range covering ~1 file
    f0 = sorted(m["files"], key=lambda f: f["min"])[1]
    lo, hi = f0["min"], f0["max"]
    kept, total = t.pruned_file_count((lo, hi))
    assert kept < total, "range scan must skip non-overlapping files"
    got = t.scan(spark, cell_range=(lo, hi)).count()
    want = cells_df.where((F.col("cell") >= lo) & (F.col("cell") <= hi)).count()
    assert got == want, "pruning must never change results"
    # file stats came from footers: bytes recorded and positive
    assert all(f["bytes"] > 0 and f["rows"] > 0 for f in m["files"])


def test_manifest_metadata_only_commit(tmp_path_factory, spark, cells_df):
    """Commit metadata is O(files): manifests carry stats, not data."""
    root = str(tmp_path_factory.mktemp("snap6"))
    t = SnapshotTable.create(root, cells_df.limit(2000), sort_col="cell")
    mp = os.path.join(t.meta_dir, "v1.json")
    sz = os.path.getsize(mp)
    assert sz < 64 * 1024
    man = json.load(open(mp))
    assert {"rows", "bytes", "n_files", "skew_ratio"} <= set(man["metrics"])


def test_run_stage_resume_and_lineage(spark, tmp_path_factory, cells_df):
    """north-rule: checkpoint-resumable stages with per-partition lineage
    manifests + (rows, cells, bytes, skew) metrics."""
    from a5pg_spark.sources.table import run_stage

    base = str(tmp_path_factory.mktemp("pipeline"))
    src = SnapshotTable.create(
        os.path.join(base, "src"), cells_df.limit(4000), sort_col="cell")

    calls = {"n": 0}

    def rollup(sp, dfs):
        calls["n"] += 1
        return (dfs["src"].groupBy("cell")
                .agg(F.sum("price").alias("rev")))

    out, m1, resumed1 = run_stage(
        spark, os.path.join(base, "out"), "rollup", 1, {"src": src}, rollup,
        sort_col="cell", cell_col="cell")
    assert not resumed1 and calls["n"] == 1
    # lineage recorded: stage identity + exact input snapshot
    assert m1["lineage"]["stage"] == "rollup"
    assert m1["lineage"]["inputs"]["src"]["snapshot_id"] == src.manifest()["snapshot_id"]
    # per-partition metrics: every file carries rows/cells/bytes; table-level
    # metrics carry the north-rule tuple
    assert all(f["rows"] > 0 and f["bytes"] > 0 and "cells" in f
               for f in m1["files"])
    assert m1["metrics"]["cells"] == out.scan(spark).select("cell").distinct().count()
    assert m1["metrics"]["skew_ratio"] >= 1.0

    # same stage, same inputs -> metadata-only resume, no recompute
    out2, m2, resumed2 = run_stage(
        spark, os.path.join(base, "out"), "rollup", 1, {"src": src}, rollup,
        sort_col="cell", cell_col="cell")
    assert resumed2 and calls["n"] == 1
    assert m2["snapshot_id"] == m1["snapshot_id"]

    # bumping the stage version invalidates the checkpoint
    _, m3, resumed3 = run_stage(
        spark, os.path.join(base, "out"), "rollup", 2, {"src": src}, rollup,
        sort_col="cell", cell_col="cell")
    assert not resumed3 and calls["n"] == 2
    assert m3["snapshot_id"] != m1["snapshot_id"]

    # new input data also invalidates it
    src.append(cells_df.where("id >= 19000"))
    _, m4, resumed4 = run_stage(
        spark, os.path.join(base, "out"), "rollup", 2, {"src": src}, rollup,
        sort_col="cell", cell_col="cell")
    assert not resumed4 and calls["n"] == 3


def test_compact_small_files(spark, tmp_path_factory, cells_df):
    """Small-file compaction: fewer files, identical data, time travel to
    the pre-compaction snapshot intact, footer-stats pruning still works."""
    root = str(tmp_path_factory.mktemp("snap_compact"))
    t = SnapshotTable.create(root, cells_df.limit(500), sort_col="cell")
    for lo in (500, 1000, 1500, 2000):
        t.append(cells_df.where(f"id >= {lo}").limit(500))
    pre = t.manifest()
    n_pre = len(pre["files"])
    rows_pre = sorted(t.scan(spark).collect())
    m = t.compact(spark, small_rows=10**9)  # everything is "small"
    assert m["operation"] == "compact"
    assert len(m["files"]) < n_pre
    assert m["metrics"]["rows"] == pre["metrics"]["rows"]
    assert sorted(t.scan(spark).collect()) == rows_pre
    # time travel: pre-compaction version unchanged
    assert t.scan(spark, version=pre["version"]).count() == 2500
    # compacted files carry sort-column stats -> pruning still exact
    kept, total = t.pruned_file_count(
        (rows_pre[0][0], rows_pre[len(rows_pre) // 4][0]))
    assert kept <= total
    # appends after compaction coexist
    t.append(cells_df.where("id >= 2500").limit(100))
    assert t.scan(spark).count() == 2600


def test_compact_noop_below_threshold(spark, tmp_path_factory, cells_df):
    """A single small file (or none) is left alone — no empty commits."""
    root = str(tmp_path_factory.mktemp("snap_compact2"))
    t = SnapshotTable.create(root, cells_df.limit(300), sort_col="cell")
    v = t.manifest()["version"]
    m = t.compact(spark, small_rows=5)      # nothing qualifies
    assert m["version"] == v                # returned current, no commit


def test_compact_conflicts_with_overwrite(spark, tmp_path_factory, cells_df):
    """A concurrent overwrite removes the compaction inputs: the compaction
    commit must abort instead of resurrecting dropped files."""
    from a5pg_spark.sources.table import CommitConflict

    root = str(tmp_path_factory.mktemp("snap_compact3"))
    t = SnapshotTable.create(root, cells_df.limit(200), sort_col="cell")
    t.append(cells_df.where("id >= 200").limit(200))
    man = t.manifest()
    small = {f["path"] for f in man["files"]}
    # simulate: overwrite lands between compaction plan and commit
    t.overwrite(cells_df.limit(50))
    with pytest.raises(CommitConflict):
        t._commit("compact", [], man["schema"], "cell", True,
                  replace_paths=small)


def test_compact_retains_concurrent_append(spark, tmp_path_factory, cells_df):
    """An append that lands between the compaction plan and its commit is
    retained by the CAS retry loop — compaction replaces only its inputs."""
    root = str(tmp_path_factory.mktemp("snap_compact4"))
    t = SnapshotTable.create(root, cells_df.limit(200), sort_col="cell")
    t.append(cells_df.where("id >= 200").limit(200))
    man = t.manifest()
    planned = {f["path"] for f in man["files"]}
    # the compaction's rewritten output, prepared against `man`
    _, new_files = t._write_files(t.scan(spark), "cell")
    # concurrent append lands first
    t.append(cells_df.where("id >= 1000").limit(50))
    m = t._commit("compact", new_files, man["schema"], "cell", True,
                  replace_paths=planned)
    assert m["operation"] == "compact"
    paths = {f["path"] for f in m["files"]}
    assert not (planned & paths)            # inputs replaced
    assert t.scan(spark).count() == 450     # 400 rewritten + 50 concurrent


def test_scan_changes_incremental_append(spark, tmp_path_factory, cells_df):
    root = str(tmp_path_factory.mktemp("snap_inc"))
    t = SnapshotTable.create(root, cells_df.limit(4000), sort_col="cell")
    v1 = t.manifest()["version"]
    t.append(cells_df.where("id >= 4000 and id < 6000"))
    v2 = t.manifest()["version"]
    t.append(cells_df.where("id >= 6000 and id < 6500"))
    # incremental = exactly the rows added in the window
    assert t.scan_changes(spark, v1, v2).count() == 2000
    assert t.scan_changes(spark, v2).count() == 500
    assert t.scan_changes(spark, v1).count() == 2500
    # empty window -> empty frame with the table schema
    empty = t.scan_changes(spark, v2, v2)
    assert empty.count() == 0 and set(empty.columns) == {"cell", "price"}
    # incremental union base == full scan (the consumption law)
    full = t.scan(spark).count()
    assert t.scan(spark, version=v1).count() + 2500 == full


def test_scan_changes_refuses_rewrites(spark, tmp_path_factory, cells_df):
    root = str(tmp_path_factory.mktemp("snap_inc2"))
    t = SnapshotTable.create(root, cells_df.limit(1000), sort_col="cell")
    v1 = t.manifest()["version"]
    t.overwrite(cells_df.limit(500), sort_col="cell")
    with pytest.raises(ValueError, match="non-append"):
        t.scan_changes(spark, v1)


def test_expire_snapshots_retention(spark, tmp_path_factory, cells_df):
    root = str(tmp_path_factory.mktemp("snap_exp"))
    t = SnapshotTable.create(root, cells_df.limit(2000), sort_col="cell")
    old_paths = {f["path"] for f in t.manifest()["files"]}
    t.overwrite(cells_df.where("id >= 2000 and id < 5000"), sort_col="cell")
    t.append(cells_df.where("id >= 5000 and id < 5500"))
    before = t.scan(spark).count()
    assert before == 3500
    res = t.expire_snapshots(keep_last=2)
    assert res["removed_versions"] == 1 and res["removed_files"] >= 1
    # current + retained parent intact, expired version unreadable,
    # orphaned data files gone from disk
    assert t.scan(spark).count() == 3500
    assert len(t.snapshots()) == 2
    assert t.manifest(1) is None
    assert all(not os.path.exists(p) for p in old_paths)
    # files shared with retained snapshots must survive an expire
    res2 = t.expire_snapshots(keep_last=1)
    assert res2["removed_versions"] == 1 and res2["removed_files"] == 0
    assert t.scan(spark).count() == 3500
