"""Class-data sharing (CDS) for the driver JVM that ``session.get_spark``
launches.

Starting the driver loads about 15k Spark and Scala classes from jars,
which is most of a session's start-up. HotSpot can instead map them from
a dynamic CDS archive (JDK 13+; Spark 4 requires JDK 17). The engine
records that archive itself, in three steps that need no build step and
no option:

* **record** -- when no archive exists for the current key, the JVM runs
  with ``-XX:ArchiveClassesAtExit=<part file>`` and dumps the classes it
  loaded when it exits; the part file's name is unique to the process;
* **publish** -- the part file is renamed to the archive's final name
  (``os.replace``) only after that JVM exited with code 0, so a killed
  or failed dump is never published and no reader maps a file that is
  still being written;
* **use** -- every later launch maps the published file with
  ``-XX:SharedArchiveFile=... -Xshare:auto``; an archive the JVM cannot
  use (stale, foreign or damaged) is ignored and the JVM starts as
  without one.

Each key is recorded at most once: an attempt marker is created with
``O_EXCL`` before the recording starts and is kept, so a host too slow
to finish the dump pays the recording cost once, and two drivers
starting at once never record the same key. The key hashes the JVM's
``java.home``, the conf dir on the class path and the jars under
``SPARK_HOME/jars`` (names, sizes, mtimes). Files of other keys are
removed once unused for ``_KEEP_S`` (a mapped archive's mtime is its
last use), so two Spark homes sharing a temp dir keep both archives.

Every file lives in one private directory per user under
``tempfile.gettempdir()``, beside the zip that ``deploy.build_zip``
writes. The temp dir is shared, so that directory is used only when it
is a real directory of this user that no one else can write to: a file
planted there would otherwise be mapped as the driver's classes, or
read as its Spark configuration.

CDS refuses a non-empty directory on the class path, and the launcher
puts the conf dir there. When that dir holds nothing but ``*.template``
files the launch points ``SPARK_CONF_DIR`` at an empty directory, which
changes nothing Spark reads; when it holds live configuration, no
archive is used. Neither is one when the launcher would add anything
else to the class path (``HADOOP_CONF_DIR`` and the like): the jars
there are not in the key, and a directory there fails the recording
JVM's exit. The JVM's stdout is the driver's, so the CDS log tags are
switched off.
"""

from __future__ import annotations

import atexit
import dataclasses
import hashlib
import os
import shutil
import stat
import tempfile
import threading
import time
from collections.abc import Mapping

_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
_DUMP_WAIT_S = 120  # how long an exiting driver waits for the JVM's dump
_KEEP_S = 86400  # other keys' files unused this long are removed

# what the launcher adds to the driver's class path besides the conf dir
# and SPARK_HOME/jars
_CLASS_PATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                   "SPARK_PREPEND_CLASSES")
_CLASS_PATH_CONF = ("spark.driver.extraClassPath",
                    "spark.driver.defaultExtraClassPath")


@dataclasses.dataclass(frozen=True)
class Plan:
    """One launch's use of the archive: the JVM flags, the conf dir to
    launch with (None: leave ``SPARK_CONF_DIR`` alone), and, when this
    launch records, the part file to publish as ``archive``."""
    archive: str
    java_opts: str
    conf_dir: str | None
    part: str | None = None


def private_dir(cache_dir: str) -> str | None:
    """This user's directory for every CDS file, created if missing, or
    None when it cannot be trusted: not a real directory (a symlink), not
    this user's, open to group or others, or in a temp dir where others
    could rename it away (writable by them without the sticky bit)."""
    parent = os.stat(cache_dir).st_mode
    if parent & 0o022 and not parent & stat.S_ISVTX:
        return None
    d = os.path.join(cache_dir, f"ocr_module_spark-cds-{os.getuid()}")
    try:
        os.mkdir(d, 0o700)
    except FileExistsError:
        pass
    st = os.lstat(d)
    if (not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid()
            or st.st_mode & 0o077):
        return None
    return d


def java_home() -> str | None:
    """The JDK the launcher runs: ``JAVA_HOME``, else ``java`` on PATH."""
    home = os.environ.get("JAVA_HOME")
    if home:
        return os.path.realpath(home)
    java = shutil.which("java")
    if java is None:
        return None
    return os.path.dirname(os.path.dirname(os.path.realpath(java)))


def archive_key(java: str, conf_dir: str, jars_dir: str) -> str:
    """Hash of what the archive depends on: the JDK, the class path's
    conf dir and the jars (name, size, mtime)."""
    h = hashlib.sha256(f"{java}\0{conf_dir}\0".encode())
    for name in sorted(os.listdir(jars_dir)):
        st = os.stat(os.path.join(jars_dir, name))
        h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def extra_class_path(conf: Mapping[str, str]) -> bool:
    """True when the launcher would put more than the conf dir and the
    Spark jars on the driver's class path, from the environment, from
    ``conf`` (the session's conf) or from ``PYSPARK_SUBMIT_ARGS``."""
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    return (any(os.environ.get(v) for v in _CLASS_PATH_ENV)
            or any(conf.get(k) for k in _CLASS_PATH_CONF)
            or any(k in submit for k in _CLASS_PATH_CONF
                   + ("--driver-class-path", "--properties-file")))


def class_path_conf_dir(spark_home: str, cds_dir: str) -> str | None:
    """The conf dir to put on the class path, or None when no archive
    can be used: the effective conf dir when it is missing or empty, an
    empty stand-in in ``cds_dir`` when it holds only templates, None
    when it holds live configuration."""
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        names = os.listdir(conf)
    except FileNotFoundError:
        return conf
    if not names:
        return conf
    if not all(n.endswith(".template") for n in names):
        return None
    empty = os.path.join(cds_dir, "conf")
    try:
        os.mkdir(empty, 0o700)
    except FileExistsError:
        pass
    return empty if not os.listdir(empty) else None


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, but not ours to signal
        pass
    return True


def prune(cds_dir: str, key: str) -> None:
    """Remove part files whose recording process is gone, and the
    archives and markers of other keys unused for ``_KEEP_S``."""
    old = time.time() - _KEEP_S
    for name in os.listdir(cds_dir):
        path = os.path.join(cds_dir, name)
        try:
            if name.endswith(".part"):
                pid = name.split(".")[2]
                if not pid.isdigit() or _alive(int(pid)):
                    continue
            elif (name == "conf" or name.split(".", 1)[0] == key
                  or os.lstat(path).st_mtime > old):
                continue
            os.unlink(path)
        except FileNotFoundError:  # removed by another driver
            pass


def plan(spark_home: str, cache_dir: str | None = None,
         conf: Mapping[str, str] | None = None) -> Plan | None:
    """Decide how the next driver JVM, launched with the session conf
    ``conf``, uses the archive, or None for no archive. Claims the
    recording (creates the attempt marker) when no archive of the
    current key exists and none was attempted."""
    if os.name != "posix" or extra_class_path(conf or {}):
        return None
    cache_dir = cache_dir or tempfile.gettempdir()
    if any(c.isspace() or c in "\"'\\" for c in cache_dir):
        return None  # the launcher would split the flag's path
    java = java_home()
    jars = os.path.join(spark_home, "jars")
    if java is None or not os.path.isdir(jars):
        return None
    d = private_dir(cache_dir)
    if d is None:
        return None
    class_conf = class_path_conf_dir(spark_home, d)
    if class_conf is None:
        return None
    key = archive_key(java, class_conf, jars)
    prune(d, key)
    archive = os.path.join(d, f"{key}.jsa")
    redirect = class_conf if class_conf == os.path.join(d, "conf") else None
    if os.path.isfile(archive):
        os.utime(archive)  # its last use, for prune
        return Plan(archive, f"-XX:SharedArchiveFile={archive} "
                    f"-Xshare:auto {_QUIET}", redirect)
    try:
        os.close(os.open(f"{archive}.attempt",
                         os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o600))
    except FileExistsError:  # recorded before (and failed) or recording now
        return None
    part = f"{archive}.{os.getpid()}.{time.time_ns()}.part"
    return Plan(archive, f"-XX:ArchiveClassesAtExit={part} {_QUIET}",
                redirect, part)


def publish(returncode: int, part: str, archive: str) -> None:
    """Publish a finished recording: rename the part file to the archive
    only after its JVM exited with code 0; otherwise drop it."""
    try:
        if returncode == 0:
            os.replace(part, archive)
        else:
            os.unlink(part)
    except FileNotFoundError:  # no dump, or pruned by another driver
        pass


def publish_at_exit(proc, p: Plan) -> threading.Thread:
    """Publish ``p``'s recording when the JVM ``proc`` exits, from a
    watcher thread, which is returned. At interpreter exit the driver
    closes the JVM's stdin (the gateway exits on EOF, as it does when the
    driver dies) and waits up to ``_DUMP_WAIT_S`` for the dump."""
    def watch():
        publish(proc.wait(), p.part, p.archive)

    watcher = threading.Thread(target=watch, name="cds-publish", daemon=True)
    watcher.start()

    def finish():
        if watcher.is_alive() and proc.stdin is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
        watcher.join(_DUMP_WAIT_S)

    atexit.register(finish)
    return watcher
