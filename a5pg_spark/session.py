"""SparkSession factory tuned for the A5 workloads.

Every knob here exists for the 100 TB target (BASELINE.md): AQE + skew-join
for hot-cell skew, Arrow for the NumPy kernels, capped Arrow batch size so
image-bytes batches fit executor memory, shuffle partitions sized to cores.
"""

from __future__ import annotations

import os

# Pin BLAS/OpenMP to one thread BEFORE any JVM/worker is spawned: every Spark
# python worker would otherwise start a full BLAS thread pool (32 threads ×
# N workers ⇒ measured 15× CPU blow-up and inverse scaling on the tiling
# kernels).  Spark tasks are the parallelism unit; kernels must be
# single-threaded.  Python workers inherit this via the JVM's environment.
for _v in ("OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "OMP_NUM_THREADS",
           "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
    os.environ[_v] = "1"

# Retain and reuse freed heap memory: this environment has very expensive
# first-touch page faults (microVM EPT exits ≈ 150 µs/page), and NumPy's
# large temporaries are mmap'd/munmap'd per call by default — every kernel
# launch would re-fault its working set (measured 40% slower kernels and
# multi-second first-run stalls).  Keeping large allocations on the brk heap
# makes the per-batch working set fault once per worker lifetime.
os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "a5pg_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Arrow: the NumPy A5 kernels ride pandas UDFs
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # AQE: runtime re-plan, skew-join splitting for hot cells
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # keep partition input sizes bounded for wide binary (image) columns
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # parquet-mr's dictionary row-group filter boxes every dictionary
        # entry of a filtered column into a hash set per row group.  This
        # engine's scan filters are mostly lon/lat boxes (the spatial join's
        # part boxes, cell_bbox_prefilter) over nearly distinct floats, where
        # it never drops a row group; the catalog's other pushed filters
        # (event_type, p_size) hit columns whose every row group holds every
        # value.  On a 1M-point, 16-row-group spatial join (4 cores) it cost
        # 0.47 s of a job's 0.86 s of executor-task CPU.  Min/max statistics
        # still prune row groups.
        .config("spark.hadoop.parquet.filter.dictionary.enabled", "false")
        # constraint propagation substitutes full alias chains into inferred
        # join/filter constraints; with the deep native-encode expressions
        # (functions_native.py) this explodes the optimized plan ~300×
        # (measured: 7.4 MB plan / 199k duplicated subtrees, 388 s for a 40k-row
        # broadcast join that runs in 0.5 s with this off)
        .config("spark.sql.constraintPropagation.enabled", "false")
        # Dynamic partition pruning spends its time canonicalizing the join
        # keys' full projection chains: ONE PartitionPruning invocation on a
        # depth-2 unrolled-encode join measured 22 s (zero effect), and the
        # depth-12 spatial join OOM'd the 16g driver during optimization.
        # This engine reads unpartitioned parquet — file-level pruning comes
        # from the snapshot layer's footer stats — so DPP can never fire.
        .config("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
        # same substitution pathology, different rule: InferFiltersFromGenerate
        # adds size(<generator input>)>0, and when the array is an expression
        # over grouping keys the filter is substituted through the aggregate
        # down to the scan — the interpreted children/uncompact HOF then runs
        # per INPUT row instead of per group (measured: a5_children_expand
        # 5.0 s -> 1.0 s at sf0.1; our generator arrays are never empty, so
        # the rule's benefit is nil for this engine)
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # NOTE: spark.sql.streaming.noDataMicroBatches.enabled is NOT set
        # here.  Disabling it session-wide (round 2/3) fixed availableNow
        # termination for the stateful-dedup TTL path, but silently changed
        # append-mode watermarked aggregations too (final windows are never
        # emitted without a no-data batch to advance the watermark).  The
        # conf is runtime-settable, so it is now scoped to the one path that
        # needs it: streaming/ingest.streaming_dedup sets it on the stream's
        # own session just before the query is built.
        # HotSpot refuses to JIT-compile methods over ~8 KB of bytecode
        # (DontCompileHugeMethods): the unrolled res>=9 encode fuses ~25
        # projections into one whole-stage-codegen method that crosses that
        # line and silently runs interpreted — measured 4x cliff (2.5M ->
        # 0.6M rows/s) between depth 14 and 16.  Disabling the guard restores
        # compiled execution: 1.8M rows/s at res 10, flat through res 12.
        .config("spark.driver.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
