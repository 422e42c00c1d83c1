"""The compiled encode kernel: ``A5Encode.java`` with the constants of
``core/`` written in place of its ``/*CONSTANTS*/`` marker as ``repr(float)``
(which parses back to the same double), built into a jar cached under
``.build/`` by the hash of that source.  :func:`ensure` registers the kernel as
the SQL function ``a5_encode_jvm`` in a session.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import zipfile

import numpy as np
from pyspark.errors import AnalysisException

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = os.path.join(HERE, ".build")
CLASS, FUNCTION = "A5Encode", "a5_encode_jvm"
# the driver JVM's compiler directives (session.DRIVER_FLAGS, DESIGN.md §7.4)
C2_EXCLUDE = os.path.join(HERE, "c2_exclude.json")


def _java(v) -> str:
    """A Java initializer for a float or a nested array of floats."""
    a = np.asarray(v, dtype=np.float64)
    return repr(float(a)) if a.ndim == 0 else "{" + ", ".join(map(_java, a)) + "}"


def source() -> str:
    """The kernel's Java source with the constants of ``core/`` filled in."""
    from ..core.bits import MAX_RES
    from ..core.dodecahedron import FACE_AXES, FACE_ROT, TAN_DM
    from ..core.hilbert import ONE, WX, WY
    from ..core.projection import _ALPHAS, _K, _SIGNS, AREA_TOT, TAN_36

    consts = {"double[][] FACE_AXES": FACE_AXES, "double[][][] FACE_ROT": FACE_ROT,
              "double[] ALPHAS": _ALPHAS, "double[] SIGNS": _SIGNS, "double K": _K,
              "double TAN_36": TAN_36, "double AREA_TOT": AREA_TOT, "double TAN_DM": TAN_DM,
              "double WX": WX, "double WY": WY}
    lines = [f"private static final {k} = {_java(v)};" for k, v in consts.items()]
    lines += [f"private static final long ONE = {ONE}L;",
              f"private static final int MAX_RES = {MAX_RES};"]
    with open(os.path.join(HERE, f"{CLASS}.java")) as f:
        return f.read().replace("/*CONSTANTS*/", "\n    ".join(lines))


def jar_path(src: str) -> str:
    return os.path.join(BUILD_DIR, f"a5-{hashlib.sha256(src.encode()).hexdigest()[:16]}.jar")


def build_jar() -> str:
    """The kernel's jar, compiled with ``javac`` unless already cached."""
    src = source()
    jar = jar_path(src)
    if os.path.exists(jar):
        return jar
    javac = shutil.which("javac")
    if javac is None:
        raise RuntimeError("javac (from a JDK, 17 or later) is not on PATH; a5pg_spark "
                           "compiles its encode kernel a5pg_spark/jvm/A5Encode.java with it")
    import pyspark

    # UDF3 is in spark-sql-api: compiling against it alone takes half the
    # time of the whole jars/ directory
    api = glob.glob(os.path.join(os.path.dirname(pyspark.__file__), "jars", "spark-sql-api_*.jar"))
    os.makedirs(BUILD_DIR, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=BUILD_DIR) as tmp:
        java = os.path.join(tmp, f"{CLASS}.java")
        with open(java, "w") as f:
            f.write(src)
        # class files for Java 17, Spark 4's minimum, whatever JDK compiles them
        done = subprocess.run([javac, "-nowarn", "--release", "17", "-cp", ":".join(api),
                               "-d", tmp, java], capture_output=True, text=True)
        if done.returncode != 0:
            raise RuntimeError(f"javac failed on {CLASS}.java:\n{done.stderr}")
        with zipfile.ZipFile(os.path.join(tmp, "a5.jar"), "w") as z:
            z.write(os.path.join(tmp, f"{CLASS}.class"), f"{CLASS}.class")
        os.replace(os.path.join(tmp, "a5.jar"), jar)  # a concurrent build sees all or nothing
    return jar


def ensure(spark) -> None:
    """Register the kernel as ``a5_encode_jvm`` in ``spark``'s session unless
    it is there already; a JVM started without the jar gets it by ADD JAR."""
    if spark.catalog.functionExists(FUNCTION):
        return
    try:
        spark.udf.registerJavaFunction(FUNCTION, CLASS, "bigint")
    except AnalysisException:  # A5Encode is not on this JVM's classpath
        spark.sql(f"ADD JAR '{build_jar()}'")
        spark.udf.registerJavaFunction(FUNCTION, CLASS, "bigint")
