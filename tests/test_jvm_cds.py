"""The driver JVM's class-data-sharing archive (a5pg_spark/jvm/cds.py): which
sessions get it, what its key follows, how a dump is published, and a
session lifecycle that writes, maps and survives a damaged archive."""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import textwrap
import time
from unittest import mock

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TODAY = ("-XX:+UseParallelGC -XX:Tier4InvocationThreshold=15000 "
         "-XX:Tier4MinInvocationThreshold=1800 -XX:Tier4CompileThreshold=45000 "
         "-XX:+UnlockDiagnosticVMOptions -XX:CompilerDirectivesFile="
         f"{REPO}/a5pg_spark/jvm/c2_exclude.json -XX:+DisplayVMOutputToStderr")


def _spark_home(root, conf_files) -> str:
    home = root / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "jars").mkdir()
    for name in conf_files:
        (home / "conf" / name).write_text("# x\n")
    for name in ("spark-core.jar", "scala-library.jar"):
        (home / "jars" / name).write_bytes(b"PK" + name.encode())
    return str(home)


def _built(monkeypatch, tmp_path, conf_files, **kwargs):
    """get_spark's builder options, SPARK_CONF_DIR at launch and the dumps it
    asked to publish, with a fake Spark home and no JVM."""
    from pyspark.sql import SparkSession

    from a5pg_spark import jvm, session
    from a5pg_spark.jvm import cds

    home = _spark_home(tmp_path, conf_files)
    monkeypatch.setenv("SPARK_HOME", home)
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.setattr(cds, "BUILD_DIR", str(tmp_path / "build"))
    monkeypatch.setattr(jvm, "build_jar", lambda: "/a5.jar")
    monkeypatch.setattr(jvm, "ensure", lambda spark: None)
    monkeypatch.setattr(session.SparkContext, "_gateway", None)
    seen, published = {}, []
    monkeypatch.setattr(cds, "publish_when_done", lambda pid, tmp: published.append(tmp))

    def launch(builder):
        seen.update(builder._options, SPARK_CONF_DIR=os.environ.get("SPARK_CONF_DIR"))
        return mock.MagicMock()

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", launch)
    session.get_spark(**kwargs)
    return home, seen, published


def test_templates_only_conf_dir_is_redirected_and_the_driver_dumps(monkeypatch, tmp_path):
    home, seen, published = _built(monkeypatch, tmp_path, ["spark-defaults.conf.template",
                                                           "log4j2.properties.template"])
    empty = str(tmp_path / "build" / "conf")
    assert seen["SPARK_CONF_DIR"] == empty and os.listdir(empty) == []
    opts = seen["spark.driver.extraJavaOptions"]
    dump = str(tmp_path / "build" / "spark-")
    assert opts.startswith(f"{TODAY} -XX:ArchiveClassesAtExit={dump}")
    assert opts.endswith(f".{os.getpid()}.tmp -Xlog:cds*=off")
    assert published == [opts.split("-XX:ArchiveClassesAtExit=")[1].split()[0]]


def test_user_conf_dir_is_left_alone(monkeypatch, tmp_path):
    """A conf dir with a spark-defaults.conf: the command line is the one
    the engine gave before archives, and nothing is dumped."""
    home, seen, published = _built(monkeypatch, tmp_path, ["spark-defaults.conf",
                                                           "spark-env.sh.template"])
    assert seen["SPARK_CONF_DIR"] is None
    assert seen["spark.driver.extraJavaOptions"] == TODAY
    assert published == [] and not (tmp_path / "build").exists()


def test_callers_driver_options_follow_the_engines(monkeypatch, tmp_path):
    """extra_conf's spark.driver.extraJavaOptions is added after the engine's
    flags, so the caller's wins where HotSpot keeps the last occurrence."""
    home, seen, published = _built(monkeypatch, tmp_path, [], extra_conf={
        "spark.driver.extraJavaOptions": "-Dx=1 -XX:+UseSerialGC"})
    opts = seen["spark.driver.extraJavaOptions"]
    assert opts.startswith(f"{TODAY} -XX:ArchiveClassesAtExit=")
    assert opts.endswith(" -Xlog:cds*=off -Dx=1 -XX:+UseSerialGC")


def test_a_complete_archive_is_mapped_and_a_short_one_dropped(monkeypatch, tmp_path):
    from a5pg_spark.jvm import cds

    home = _spark_home(tmp_path, [])
    monkeypatch.setenv("SPARK_HOME", home)
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    build = tmp_path / "build"
    monkeypatch.setattr(cds, "BUILD_DIR", str(build))
    build.mkdir()
    key = cds.archive_key(cds.java_binary(), str(build / "conf"), os.path.join(home, "jars"))
    good = build / f"spark-{key}-10.jsa"
    good.write_bytes(cds.MAGIC + bytes(6))
    assert cds.driver_flags() == (f"-XX:SharedArchiveFile={good} -Xlog:cds*=off", None)
    good.write_bytes(cds.MAGIC + bytes(2))  # truncated
    flags, tmp = cds.driver_flags()
    assert flags == f"-XX:ArchiveClassesAtExit={tmp} -Xlog:cds*=off"
    assert not good.exists()


def test_archive_key_follows_java_and_each_jar(tmp_path):
    from a5pg_spark.jvm import cds

    jars = tmp_path / "jars"
    jars.mkdir()
    for name in ("a.jar", "b.jar"):
        (jars / name).write_bytes(b"0123456789")
    key = lambda java="/usr/bin/java": cds.archive_key(java, "/conf", str(jars))  # noqa: E731
    k0 = key()
    assert key() == k0
    assert key("/usr/lib/jvm/jdk-21/bin/java") != k0
    st = os.stat(jars / "b.jar")
    os.utime(jars / "b.jar", ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    k1 = key()
    assert k1 != k0
    st = os.stat(jars / "a.jar")
    (jars / "a.jar").write_bytes(b"01234567890")  # one byte longer, same mtime
    os.utime(jars / "a.jar", ns=(st.st_atime_ns, st.st_mtime_ns))
    assert key() not in (k0, k1)


def _gone_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def test_publish_renames_only_a_complete_dump(tmp_path):
    from a5pg_spark.jvm import cds

    stem = tmp_path / "spark-0123"
    tmp = tmp_path / "spark-0123.77.tmp"
    tmp.write_bytes(bytes(4096))  # header not yet written: a dump cut short
    cds.publish(_gone_pid(), str(tmp))
    assert os.listdir(tmp_path) == []
    tmp.write_bytes(cds.MAGIC + bytes(4092))
    cds.publish(_gone_pid(), str(tmp))
    assert os.listdir(tmp_path) == [f"{stem.name}-4096.jsa"]
    tmp.write_bytes(cds.MAGIC + bytes(8))  # a smaller dump of a second first session
    cds.publish(_gone_pid(), str(tmp))
    assert os.listdir(tmp_path) == [f"{stem.name}-4096.jsa"]
    tmp.write_bytes(cds.MAGIC + bytes(8188))  # a larger one replaces the archive
    cds.publish(_gone_pid(), str(tmp))
    assert os.listdir(tmp_path) == [f"{stem.name}-8192.jsa"]
    (tmp_path / "spark-4567-100.jsa").write_bytes(bytes(100))  # another key's
    tmp.write_bytes(cds.MAGIC + bytes(4092))
    cds.publish(_gone_pid(), str(tmp))
    assert sorted(os.listdir(tmp_path)) == [f"{stem.name}-8192.jsa", "spark-4567-100.jsa"]
    cds.publish(_gone_pid(), str(tmp))  # the JVM dumped nothing
    assert sorted(os.listdir(tmp_path)) == [f"{stem.name}-8192.jsa", "spark-4567-100.jsa"]


_SESSION = textwrap.dedent("""
    import sys
    sys.path.insert(0, {repo!r})
    from pyspark import SparkContext
    from a5pg_spark.jvm import cds
    cds.BUILD_DIR = {build!r}
    from a5pg_spark.session import get_spark

    spark = get_spark(master="local[2]", app_name="a5pg_spark_cds_test")
    if {check_join!r}:
        import numpy as np, pandas as pd
        from perfbench import inputs
        from a5pg_spark.operators.spatial_join import spatial_join
        from a5pg_spark.sources.polygons import from_feature_collection

        rng = np.random.default_rng(3)
        lon, lat = inputs.uniform_points(rng, 200_000)
        fc = inputs.polygon_layer(rng, (lon[7], lat[7]))
        pts = spark.createDataFrame(pd.DataFrame({{"lon": lon, "lat": lat}}))
        rows = spatial_join(pts, from_feature_collection(spark, fc), res=8) \\
            .groupBy("part").count().collect()
        got = {{r["part"]: r["count"] for r in rows}}
        want = inputs.expected_part_counts(fc, lon, lat)
        print("COUNTS", got == want and len(want) > 1, got, want, flush=True)
    else:
        print("COUNT", spark.range(1000).count(), flush=True)
    spark.stop()
    proc = SparkContext._gateway.proc
    SparkContext._gateway.shutdown()
    if {check_join!r}:
        proc.kill()  # no dump: nothing may be published
    proc.stdin.close()  # the gateway JVM exits (and dumps) on EOF
    proc.wait(timeout=120)
""")


def _session(cwd, build, check_join=False, **env):
    """One get_spark session in a subprocess, with its archive under
    ``build``; returns once its JVM has exited and its dump is published."""
    script = _SESSION.format(repo=REPO, build=str(build), check_join=check_join)
    env = {**os.environ, "SPARK_DRIVER_MEM": "1g", **env}
    run = subprocess.run([sys.executable, "-c", script], cwd=cwd, env=env,
                         capture_output=True, text=True, timeout=600)
    assert run.returncode == 0, run.stderr[-3000:]
    deadline = time.monotonic() + 60  # the publisher renames once the JVM is gone
    while glob.glob(str(build / "*.tmp")) and time.monotonic() < deadline:
        time.sleep(0.2)
    return run


def test_archive_lifecycle(tmp_path):
    """The first session leaves one complete archive, the second maps it,
    and a truncated one is dropped, not mapped (JDK 17 would die of SIGBUS)."""
    from a5pg_spark.jvm import cds

    build = tmp_path / "build"
    work = tmp_path / "cwd"
    work.mkdir()
    first = _session(work, build)
    assert "COUNT 1000" in first.stdout
    archives = glob.glob(str(build / "spark-*.jsa"))
    assert len(archives) == 1 and not glob.glob(str(build / "*.tmp")), os.listdir(build)
    size = int(archives[0][:-4].rsplit("-", 1)[1])
    assert os.path.getsize(archives[0]) == size > 50 * 2**20
    with open(archives[0], "rb") as f:
        assert f.read(4) == cds.MAGIC

    second = _session(work, build, JDK_JAVA_OPTIONS="-Xlog:class+load=info:stderr")
    assert "COUNT 1000" in second.stdout
    assert "org.apache.spark.SparkContext source: shared objects file (top)" in second.stderr

    os.truncate(archives[0], size // 2)
    third = _session(work, build, check_join=True)
    assert "COUNTS True" in third.stdout, third.stdout[-2000:]
    assert not glob.glob(str(build / "*.jsa")) and not glob.glob(str(build / "*.tmp"))
