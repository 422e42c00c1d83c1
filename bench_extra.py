"""Extra profiling harness (guide §1.4): isolates declared queries with the
noop sink, times sub-stages, and dumps .explain('formatted') plans to
plans/r06/.  NOT part of the frozen bench contract — bench.py is untouched.

Usage: python bench_extra.py <query> [<query>...]   (plans + timings)
       python bench_extra.py --plan-only <query>...
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    import __spark_entry__ as E
    from a5pg_spark.session import get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    plan_only = "--plan-only" in sys.argv
    suffix = "after" if "--after" in sys.argv else "before"

    spark = get_spark(shuffle_partitions=max(CPUS, 32))
    spark.sparkContext.setLogLevel("ERROR")
    E._prep(spark, SF_DIR)
    spark.sql("SELECT a5_lonlat_to_cell(0.0, 0.0, 5) AS c").collect()
    spark.sql("SELECT COUNT(*) FROM lineitem").collect()
    qs = E.queries()

    os.makedirs("plans/r06", exist_ok=True)
    for name in args:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(f"plans/r06/{name}_{suffix}.txt", "w") as f:
            f.write(plan)
        if plan_only:
            print(f"{name}: plan written")
            continue
        # timed region: same methodology as bench.py (collect, min of runs)
        times = []
        for i in range(3):
            spark.sparkContext.setJobDescription(f"{name} run{i}")
            t0 = time.time()
            rows = qs[name](spark, SF_DIR).collect()
            times.append(time.time() - t0)
            del rows
        # noop-sink isolation (no driver collect)
        spark.sparkContext.setJobDescription(f"{name} noop")
        t0 = time.time()
        noop(qs[name](spark, SF_DIR))
        tn = time.time() - t0
        print(f"{name}: collect={['%.3f' % t for t in times]} noop={tn:.3f}")
    spark.stop()


if __name__ == "__main__":
    main()
