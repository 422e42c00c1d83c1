"""SparkSession factory for the A5 workloads.

``get_spark`` builds the engine's session: Arrow for the NumPy kernels, a
capped Arrow batch so image-bytes batches fit executor memory, AQE with
skew-join splitting for hot cells, shuffle partitions sized to the cores,
the JVM flags of the driver, the encode kernel's jar, and the Python worker
daemon ``a5pg_spark.worker_daemon``.  ``SQL_CONF`` holds the SQL values that
can also be set on a running session; ``get_spark`` puts them in its builder
and ``__spark_entry__._prep`` sets them on a session it did not make, so both
read the same values.  ``spark.python.daemon.module`` is a static conf, read
when the context starts, so ``_prep`` cannot set it: a session the engine did
not make keeps the stock ``pyspark.daemon`` and, before CPython 3.12, its
~0.2 s of CPU per Python task (DESIGN.md §7.2).  Likewise only a JVM that
``get_spark`` starts gets the class-data-sharing archive of Spark's classes
(``jvm/cds.py``, DESIGN.md §7.3) and the compiler directives that keep C2
off Spark's per-query code (``jvm/c2_exclude.json``, DESIGN.md §7.4): both
are flags on the driver's command line, which a running session cannot take.
A caller's ``spark.driver.extraJavaOptions`` in ``extra_conf`` is added after
the engine's driver flags, not in place of them.
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

from pyspark import SparkContext
from pyspark.sql import SparkSession

from . import jvm
from .jvm import cds

# The runtime-settable SQL values every session of the engine needs.
SQL_CONF = {
    # timestamp_ntz arithmetic (events_sessionize / events_asof_join) must
    # not depend on the host's local time zone
    "spark.sql.session.timeZone": "UTC",
    # With constraint propagation on, InferFiltersFromConstraints adds
    # isnotnull(<cell>) above a join on the encoded cell, and
    # PushPredicateThroughNonJoin moves it through the encode's projection
    # as isnotnull(a5_encode_jvm(lon, lat, res)): the plan then calls the
    # encode twice for each row that passes spatial_join's box filter.
    "spark.sql.constraintPropagation.enabled": "false",
    # InferFiltersFromGenerate adds size(<generator input>) > 0, and when the
    # array is an expression over grouping keys the filter is substituted
    # through the aggregate down to the scan: the interpreted
    # children/uncompact HOF then runs per INPUT row instead of per group
    # (measured: a5_children_expand 5.0 s -> 1.0 s at sf0.1).  The engine's
    # generator arrays are never empty, so the rule gains nothing here.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    # A bucketed scan reports its write-time sort order only with this on
    # (off by default since Spark 3.0: proving one file per bucket costs a
    # listing).  plans/bucketing.write_bucketed writes one sorted file per
    # bucket, so rel_bucketed_join plans with no Exchange and no Sort.  It
    # changes nothing but bucketed-table scans.
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
}


# The driver JVM's flags, besides the class-data-sharing archive's.
# ParallelGC: G1's concurrent marking, started by humongous allocations,
# landed 0.13-0.2 s of GC-thread CPU on about one query in four; ParallelGC
# does no work outside its pauses.
# Tier4*Threshold x3: Spark's planner, scheduler and py4j code runs a few
# thousand times per query, so with the default thresholds C2 kept compiling
# that long tail for dozens of queries (1-2 s of compile CPU per 1.3 s
# spatial-join job after three warm-up jobs).  Per-row loops cross the raised
# thresholds within the first query.
# CompilerDirectivesFile: code that runs once per query, stage or class load
# (ANTLR, Janino, the JDK's lambda spinning, class loading from jars, Hadoop's
# config XML parser) is compiled by C1 only, so C2 spends set-up on per-row
# code (jvm/c2_exclude.json, DESIGN.md §7.4).  DisplayVMOutputToStderr moves
# HotSpot's "1 compiler directives added" off the driver's stdout.
DRIVER_FLAGS = " ".join([
    "-XX:+UseParallelGC -XX:Tier4InvocationThreshold=15000",
    "-XX:Tier4MinInvocationThreshold=1800 -XX:Tier4CompileThreshold=45000",
    f"-XX:+UnlockDiagnosticVMOptions -XX:CompilerDirectivesFile={jvm.C2_EXCLUDE}",
    "-XX:+DisplayVMOutputToStderr",
])


def host_cpus() -> int:
    """Cores the session may use: ``SPARK_GRAFT_CPUS``, else all of them."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())


def _driver_memory() -> str:
    """Half of physical RAM, at most 16g (Python workers need the rest)."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(16, ram // 2 // 2**30))}g"


def get_spark(
    master: str | None = None,
    app_name: str = "a5pg_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """The engine's session, with the encode kernel (``a5pg_spark/jvm``)
    registered as ``a5_encode_jvm``."""
    conf = dict(extra_conf or {})
    # Python workers get the JVM's PYTHONPATH, and the JVM inherits this
    # process's: with the package's parent on it, the daemon module imports
    # from any cwd, not only one where ``python -m`` finds a5pg_spark
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([root, *paths])
    # the jar must be on spark.jars before the JVM starts, so it is built first
    conf["spark.jars"] = ",".join(filter(None, [conf.get("spark.jars"), jvm.build_jar()]))
    # the driver's flags for the class-data-sharing archive, and the file
    # its JVM dumps the archive to when there is none yet
    archive_flags, dump = cds.driver_flags()
    cpus = host_cpus()
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
        # spark.sql.streaming.noDataMicroBatches.enabled is not set here: it
        # would change every watermarked aggregation, so only the stream that
        # needs it sets it (streaming/ingest.streaming_dedup).
        # A caller's options come last: where HotSpot keeps the last
        # occurrence of a flag, the caller's wins.
        .config("spark.driver.extraJavaOptions", " ".join(filter(None, [
                DRIVER_FLAGS, archive_flags, conf.pop("spark.driver.extraJavaOptions", None)])))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _driver_memory())
        .config("spark.ui.enabled", "false")
        # PySpark records the Python call site of every Column and DataFrame
        # call for error messages, at about eight py4j round trips each: a
        # spatial_join plan build made ~1,400 round trips with it, 240-570
        # without.  Errors still carry the JVM's message and plan context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # workers fork from a daemon that stops each task re-reading
        # pyspark.zip's directory (a5pg_spark/worker_daemon.py)
        .config("spark.python.daemon.module", "a5pg_spark.worker_daemon")
    )
    for k, v in {**SQL_CONF, **conf}.items():
        b = b.config(k, v)
    launched = SparkContext._gateway is None  # else an earlier session's JVM is reused
    spark = b.getOrCreate()
    if launched and dump:
        cds.publish_when_done(spark._jvm.java.lang.ProcessHandle.current().pid(), dump)
    jvm.ensure(spark)
    return spark
