"""Benchmark of the a5pg_spark engine: one workload, one seed, one process.

    python3 perfbench/run.py --workload sjoin_points --seed 1 --seconds 8 --trace 0

Run from the root of a checkout.  The run creates a fresh working directory
under ``perfbench/.work/`` (Spark's warehouse, cover cache, local dirs and the
generated inputs live there) and deletes it at exit, so nothing outside
``perfbench/`` changes.  Set-up (session start, input generation, warm-up) is
measured in CPU seconds as ``setup_s``; then jobs run one at a time, each
checked for correctness, until ``--seconds`` have passed and at least three
have run.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` is a separate run
that prints the per-layer metrics: the ladder of pipeline prefixes into the
``noop`` sink, then timed jobs alternating between spans on and off, and
writes its spans to ``perfbench/.traces/``.  Human-readable lines come first;
the last line of stdout is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# Set-up and job cost are measured in CPU seconds of the driver process tree
# (Python, JVM, Python workers).  On a shared VM the host's CPU steal moved
# set-up and job wall times by a quarter between runs, which CPU time does
# not see.  A job's CPU seconds also leave out the JVM's JIT compilation
# time: the compiler threads keep compiling for dozens of jobs, which moved
# a job's CPU time by half while its wall time had nearly settled.  Set-up
# keeps its compilation, as work a run really does before its first timed
# job.  Wall times are still printed.
END_TO_END = {"setup_s": "s", "job_cpu_s_p50": "s", "rows_per_cpu_s": "1/s",
              "ok_frac": "frac"}

# Per-layer metrics: unit and the end-to-end metric each should move.
PER_LAYER = {
    "session.get_spark_s": ("s", "setup_s"),
    "core.cells.lonlat_to_cell.pts_per_s": ("1/s", "job_cpu_s_p50 of tile_mosaic"),
    "core.cells.cell_to_lonlat.cells_per_s": ("1/s", "setup_s"),
    "core.cells.cell_to_boundary_batch.cells_per_s": ("1/s", "setup_s"),
    "functions_native.encode_native.build_s": ("s", "job_cpu_s_p50"),
    "functions_native.encode_native.exec_s": ("s", "job_cpu_s_p50"),
    "functions.a5_lonlat_to_cell.exec_s": ("s", "none (L1/L2 crossover reference)"),
    "operators.spatial_join.call_s": ("s", "job_cpu_s_p50"),
    "operators.spatial_join.exec_s": ("s", "job_cpu_s_p50"),
    "operators.spatial_join.cover_build_s": ("s", "setup_s"),
    "operators.spatial_join.cover_rows": ("count", "setup_s"),
    "operators.spatial_join.cover_interior_frac": ("frac", "setup_s"),
    "operators.spatial_join.candidate_rows": ("count", "job_cpu_s_p50"),
    "operators.spatial_join.refine_keep_frac": ("frac", "job_cpu_s_p50"),
    "sources.images.decode_image.px_per_s": ("1/s", "job_cpu_s_p50"),
    "operators.tiling.pixels_to_cells.exec_s": ("s", "job_cpu_s_p50"),
    "operators.tiling.pixels_to_cells.rows": ("count", "job_cpu_s_p50"),
    "operators.tiling.combine_ratio": ("px/row", "job_cpu_s_p50"),
    "operators.tiling.cell_mosaic_s": ("s", "job_cpu_s_p50"),
    "sources.table.append_s": ("s", "none (traced ladder rung)"),
    "sources.table.bytes_written": ("bytes", "none (traced ladder rung)"),
    "sources.table.files_written": ("count", "none (traced ladder rung)"),
    "sources.table.scan_s": ("s", "none (traced ladder rung)"),
    "sources.table.files_read_frac": ("frac", "none (traced ladder rung)"),
    "spark.jobs": ("count", "job_cpu_s_p50"),
    "spark.stages": ("count", "job_cpu_s_p50"),
    "spark.tasks": ("count", "job_cpu_s_p50"),
    "trace.overhead_s": ("s", "none (traced minus untraced job wall median)"),
}


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of the host's memory, at most 4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    mb = min(4096, total_kb // 1024 // 4) // 256 * 256
    return f"{max(mb, 1024)}m"


def isolate(workdir: str) -> None:
    """Point every place Spark, the JVM and Python write to at ``workdir``,
    size the session to the host, and let Python workers import the engine.
    Must run before pyspark starts the JVM."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.chdir(workdir)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = str(host_cpus())
    env["SPARK_DRIVER_MEM"] = driver_memory()
    env["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"


class ProcessTree:
    """This process and all its descendants (JVM, Python workers).  Samples
    their memory as the sum of proportional set sizes (PSS): forked Python
    workers share pages with the daemon they fork from, which a sum of RSS
    would count once per worker.  Also totals their CPU time."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_kb = 0
        self.seen: set = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _read(path: str) -> str:
        try:
            with open(path) as f:
                return f.read()
        except OSError:
            return ""

    def tree(self) -> list:
        """This process and its descendants, from the parent pids in /proc."""
        kids: dict = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                stat = self._read(f"/proc/{d}/stat")
                if stat:
                    ppid = int(stat.rsplit(")", 1)[1].split()[1])
                    kids.setdefault(ppid, []).append(int(d))
        pids, stack = [], [os.getpid()]
        while stack:
            p = stack.pop()
            pids.append(p)
            stack.extend(kids.get(p, ()))
        return pids

    def sample(self) -> None:
        pids = self.tree()
        self.seen.update(pids[1:])
        kb = 0
        for p in pids:
            for line in self._read(f"/proc/{p}/smaps_rollup").splitlines():
                if line.startswith("Pss:"):
                    kb += int(line.split()[1])
        self.peak_kb = max(self.peak_kb, kb)

    def cpu_s(self) -> float:
        """CPU seconds used so far by the tree, reaped children included."""
        ticks = 0
        for p in self.tree():
            f = self._read(f"/proc/{p}/stat").rsplit(")", 1)[-1].split()
            if len(f) > 14:
                ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        return ticks / os.sysconf("SC_CLK_TCK")

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, seen: set) -> None:
    """Stop the session, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in seen) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in seen:
        if _alive(p):
            try:
                os.kill(p, 9)
            except OSError:
                pass


MIN_JOBS = 3


def host_steal() -> tuple:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def jit_clock(spark):
    """Seconds the driver JVM has spent in JIT compilation so far, summed
    over its compiler threads (``CompilationMXBean``).  It keeps counting
    when a compiler thread exits, which the threads' own CPU times do not."""
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getCompilationMXBean()
    return lambda: bean.getTotalCompilationTime() / 1000.0


def timed_loop(wl, seconds: float, tree, jit, tracer=None) -> tuple:
    """Closed loop, one job in flight: a new job starts while fewer than
    ``seconds`` have passed or fewer than MIN_JOBS jobs have run.  A job's
    CPU seconds are the process tree's less the JIT's (``jit``).  With a
    ``tracer``, jobs alternate between spans off and spans on.  Returns
    (untraced job times, their CPU seconds, traced job times, attempted,
    failed, problems)."""
    plain, cpu, traced, problems = [], [], [], []
    attempted = failed = 0
    t_end = time.perf_counter() + seconds
    while True:
        on = tracer is not None and attempted % 2 == 1
        if tracer is not None:
            tracer.enabled = on
        c, t = tree.cpu_s() - jit(), time.perf_counter()
        try:
            result = wl.job()
            dt, dc = time.perf_counter() - t, tree.cpu_s() - jit() - c
            bad = wl.check(result)
        except Exception as e:  # a failed job counts against ok_frac
            dt, dc = time.perf_counter() - t, tree.cpu_s() - jit() - c
            bad = [f"{type(e).__name__}: {e}"]
        attempted += 1
        (traced if on else plain).append(dt)
        if not on:
            cpu.append(dc)
        if bad:
            failed += 1
            problems.extend(bad[:5])
        if time.perf_counter() >= t_end and attempted >= MIN_JOBS:
            break
    if tracer is not None:
        tracer.enabled = True
    return plain, cpu, traced, attempted, failed, problems


def bench(args, workdir: str, tree: ProcessTree) -> dict:
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    tracer = Tracer(enabled=bool(args.trace))
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        from a5pg_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, workdir, tracer)
        with tracer.span("setup.inputs"):
            t = time.perf_counter()
            wl.make_inputs()
            inputs_s = time.perf_counter() - t
        with tracer.span("setup.expect"):
            t, c = time.perf_counter(), tree.cpu_s()
            wl.expect()
            expect_s, expect_cpu = time.perf_counter() - t, tree.cpu_s() - c
        t, c = time.perf_counter(), tree.cpu_s()
        layers = wl.cold_ladder() if args.trace else {}
        cold_s, cold_cpu = time.perf_counter() - t, tree.cpu_s() - c
        with tracer.span("setup.warm"):
            t = time.perf_counter()
            warm_times = wl.warm()
            warm_s = time.perf_counter() - t
        # from interpreter start to the end of warm-up, less the benchmark's
        # own NumPy truth and the traced run's cold ladder
        setup_wall = time.perf_counter() - T_START - expect_s - cold_s
        setup_cpu = tree.cpu_s() - expect_cpu - cold_cpu
        steal0 = host_steal()
        if args.trace:
            with tracer.span("ladder"):
                layers.update(wl.ladder())
            plain, cpu, traced, attempted, failed, problems = timed_loop(
                wl, args.seconds, tree, jit_clock(spark), tracer)
            layers.update(wl.job_layers())
            if wl.ladder_problems:
                problems.extend(wl.ladder_problems)
                failed += 1
            attempted += 1  # the ladder's checked output
        else:
            plain, cpu, traced, attempted, failed, problems = timed_loop(
                wl, args.seconds, tree, jit_clock(spark))
        steal1 = host_steal()
        tree.sample()
    finally:
        stop_spark(spark, tree.seen | set(tree.tree()[1:]))

    import numpy, pyarrow, pyspark  # noqa: E401

    p50 = statistics.median(plain)
    info = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": host_cpus(),
            "driver_memory": os.environ["SPARK_DRIVER_MEM"],
            "versions": {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
                         "numpy": numpy.__version__, "python": sys.version.split()[0]},
            "inputs": wl.sizes, "session_s": session_s, "inputs_s": inputs_s,
            "warm_s": warm_s, "warm_job_s": warm_times, "setup_wall_s": setup_wall,
            "expect_s": expect_s,
            "job_s": plain, "job_s_p50": p50, "rows_per_s": wl.rows / p50,
            "job_cpu_s": cpu, "traced_job_s": traced,
            "peak_pss_mb": tree.peak_kb / 1024.0,
            "host_steal_frac": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
            "problems": problems}
    if args.trace:
        layers["session.get_spark_s"] = session_s
        layers["trace.overhead_s"] = statistics.median(traced) - p50
        os.makedirs(os.path.join(HERE, ".traces"), exist_ok=True)
        path = os.path.join(HERE, ".traces", f"{args.workload}-seed{args.seed}-"
                            f"{time.strftime('%Y%m%dT%H%M%S')}.json")
        tracer.dump(path)
        info["trace_file"] = os.path.relpath(path, ROOT)
        info["self_s"] = tracer.self_times()
        metrics = {k: (layers.get(k, 0), u) for k, (u, _) in PER_LAYER.items()}
    else:
        cpu_p50 = statistics.median(cpu)
        values = {"setup_s": setup_cpu, "job_cpu_s_p50": cpu_p50,
                  "rows_per_cpu_s": wl.rows / cpu_p50,
                  "ok_frac": (attempted - failed) / attempted}
        metrics = {k: (values[k], u) for k, u in END_TO_END.items()}
    return {"info": info, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    from perfbench.workloads import WORKLOADS

    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "a5pg_spark", "__init__.py")):
        print(f"perfbench: no a5pg_spark package beside {HERE}", file=sys.stderr)
        return 2
    workdir = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    cwd = os.getcwd()
    try:
        isolate(workdir)
        with ProcessTree() as tree:
            out = bench(args, workdir, tree)
    finally:
        os.chdir(cwd)
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps({"provenance": out["info"]}))
    for name, (value, unit) in out["metrics"].items():
        moves = f"  moves {PER_LAYER[name][1]}" if name in PER_LAYER else ""
        print(f"{args.workload}  {name:48s} {value:>16.6g} {unit}{moves}")
    info = out["info"]
    print(f"{args.workload}  {len(info['job_s'])} timed jobs; wall: job median "
          f"{info['job_s_p50']:.3f} s, {info['rows_per_s']:.6g} rows/s; "
          f"peak PSS {info['peak_pss_mb']:.0f} MB; host steal {info['host_steal_frac']:.1%}")
    print(f"{args.workload}  attempted {out['attempted']}  failed {out['failed']}")
    print(json.dumps({
        "correct": out["failed"] == 0, "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
