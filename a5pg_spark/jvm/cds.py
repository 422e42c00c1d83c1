"""A class-data-sharing archive of the driver JVM's classes.

Each driver JVM loads, verifies and links about 14k Spark classes as it
starts.  A JDK 17 dynamic AppCDS archive holds them already parsed and
verified, and the JVM maps it instead (DESIGN.md §7.3).  :func:`driver_flags`
gives ``get_spark`` the driver's flag: ``-XX:SharedArchiveFile`` when the
archive is in ``.build/``, else ``-XX:ArchiveClassesAtExit`` to a temp name
that :func:`publish` renames once the dump is complete.

The archive's name is a hash of what the JVM checks it against: the ``java``
binary, the conf dir and each of ``$SPARK_HOME/jars``.  A JVM that does not
accept it (``-Xshare:auto``, the default) starts as it would without it.
"""

from __future__ import annotations

import glob
import hashlib
import os
import select
import shutil
import subprocess
import sys

BUILD_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".build")
# the magic number that opens a dynamic archive's header, which the JVM
# writes after all of the file's regions
MAGIC = 0xF00BABA8.to_bytes(4, "little")
# the dump lists every class it cannot archive (signed jars, old class files)
# on stdout, where the driver's own output goes
QUIET = "-Xlog:cds*=off"


def java_binary() -> str | None:
    """The real path of the ``java`` that Spark's launcher runs."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java else None


def archive_key(java: str, conf_dir: str, jars_dir: str) -> str:
    """A hash of the ``java`` path, the conf dir and the name, size and
    mtime of each jar: what the JVM checks a dynamic archive against."""
    h = hashlib.sha256(f"{java}\0{conf_dir}".encode())
    for name in sorted(os.listdir(jars_dir)):
        st = os.stat(os.path.join(jars_dir, name))
        h.update(f"\0{name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def driver_flags() -> tuple[str, str | None]:
    """The driver JVM's archive flags and the temp file it dumps to (None
    when it maps an archive); ``("", None)`` to start it as before.

    JDK 17 will not dump with a non-empty directory ahead of the jars on the
    classpath, and Spark's launcher puts the conf dir first.  A conf dir
    that holds only ``*.template`` files configures nothing, so
    ``SPARK_CONF_DIR`` is pointed at an empty one under ``.build/``; any
    other conf dir is the user's, and the JVM starts with no archive."""
    from pyspark.find_spark_home import _find_spark_home

    home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
    jars, java = os.path.join(home, "jars"), java_binary()
    names = os.listdir(conf) if os.path.isdir(conf) else []
    if java is None or not os.path.isdir(jars) or any(not n.endswith(".template") for n in names):
        return "", None
    empty = os.path.join(BUILD_DIR, "conf")
    os.makedirs(empty, exist_ok=True)
    os.environ["SPARK_CONF_DIR"] = empty
    stem = os.path.join(BUILD_DIR, f"spark-{archive_key(java, empty, jars)}")
    for path in glob.glob(f"{glob.escape(stem)}-*.jsa"):
        try:
            # JDK 17 maps a short dynamic archive and dies of SIGBUS, so one
            # whose size is not the one its name records is dropped
            if os.path.getsize(path) == int(path[len(stem) + 1:-4]):
                return f"-XX:SharedArchiveFile={path} {QUIET}", None
            os.remove(path)
        except (OSError, ValueError):
            continue
    tmp = f"{stem}.{os.getpid()}.tmp"
    return f"-XX:ArchiveClassesAtExit={tmp} {QUIET}", tmp


def publish_when_done(jvm_pid: int, tmp: str) -> None:
    """Start a process that waits for the JVM to exit and then publishes its
    dump: the JVM dumps as it exits, which may be after this process has."""
    subprocess.Popen([sys.executable, os.path.abspath(__file__), str(jvm_pid), tmp],
                     stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                     stderr=subprocess.DEVNULL, start_new_session=True)


def publish(jvm_pid: int, tmp: str) -> None:
    """Once the JVM ``jvm_pid`` has exited, rename its complete dump
    ``<stem>.<pid>.tmp`` to ``<stem>-<size>.jsa`` and delete an incomplete
    one; then keep only the key's largest archive, which holds the classes of
    the session that loaded most.  A JVM that has mapped a deleted archive
    keeps its pages."""
    try:
        pidfd = os.pidfd_open(jvm_pid)
    except ProcessLookupError:  # exited already
        pass
    else:
        select.select([pidfd], [], [])  # readable once the JVM has exited
        os.close(pidfd)
    stem = tmp.rsplit(".", 2)[0]
    try:
        with open(tmp, "rb") as f:
            complete = f.read(4) == MAGIC
        if complete:
            os.replace(tmp, f"{stem}-{os.path.getsize(tmp)}.jsa")
        else:
            os.remove(tmp)
    except FileNotFoundError:  # the JVM dumped nothing
        return
    archives = glob.glob(f"{glob.escape(stem)}-*.jsa")
    # two publishers may run at once: each keeps the largest it sees
    archives.sort(key=lambda p: int(p[len(stem) + 1:-4]))
    for path in archives[:-1]:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass


if __name__ == "__main__":
    publish(int(sys.argv[1]), sys.argv[2])
