"""The driver JVM's class-data sharing archive (``ocr_module_spark.cds``).

The unit cases pin the key, the conf-dir rule and the record / publish /
use protocol on a fake Spark home; the subprocess cases launch real
drivers into their own temp dir, so they never touch the archive of the
test session's JVM.
"""

from __future__ import annotations

import os
import pathlib
import stat
import subprocess
import sys
import textwrap
import time

import pytest

from ocr_module_spark import cds

ROOT = pathlib.Path(__file__).resolve().parents[1]


@pytest.fixture
def home(tmp_path, monkeypatch):
    """A Spark home with two jars and a templates-only conf dir, and an
    empty cache dir; SPARK_CONF_DIR unset."""
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    h = tmp_path / "spark"
    (h / "jars").mkdir(parents=True)
    (h / "jars" / "a.jar").write_bytes(b"a" * 10)
    (h / "jars" / "b.jar").write_bytes(b"b" * 20)
    (h / "conf").mkdir()
    (h / "conf" / "spark-defaults.conf.template").write_text("# x\n")
    (h / "conf" / "log4j2.properties.template").write_text("# x\n")
    (tmp_path / "cache").mkdir()
    return h, str(tmp_path / "cache")


def test_key_follows_jdk_conf_dir_and_jars(home):
    h, _ = home
    jars = str(h / "jars")
    key = cds.archive_key("/jdk", "/conf", jars)
    assert key == cds.archive_key("/jdk", "/conf", jars)
    assert key != cds.archive_key("/jdk2", "/conf", jars)
    assert key != cds.archive_key("/jdk", "/conf2", jars)
    st = os.stat(h / "jars" / "a.jar")
    os.utime(h / "jars" / "a.jar", ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    touched = cds.archive_key("/jdk", "/conf", jars)
    assert touched != key
    (h / "jars" / "a.jar").write_bytes(b"a" * 11)
    resized = cds.archive_key("/jdk", "/conf", jars)
    assert resized not in (key, touched)
    (h / "jars" / "a.jar").rename(h / "jars" / "c.jar")
    assert cds.archive_key("/jdk", "/conf", jars) not in (key, touched, resized)


def _files(cache) -> list[str]:
    return sorted(str(p.relative_to(cache))
                  for p in pathlib.Path(cache).rglob("*"))


def test_templates_only_conf_dir_is_redirected(home, monkeypatch):
    h, cache = home
    d = cds.private_dir(cache)
    conf = cds.class_path_conf_dir(str(h), d)
    assert conf == os.path.join(d, "conf") and os.listdir(conf) == []
    p = cds.plan(str(h), cache)
    assert p.conf_dir == conf
    # an empty or missing conf dir goes on the class path as it is
    empty = h / "empty"
    empty.mkdir()
    monkeypatch.setenv("SPARK_CONF_DIR", str(empty))
    assert cds.class_path_conf_dir(str(h), d) == str(empty)
    monkeypatch.setenv("SPARK_CONF_DIR", str(h / "missing"))
    assert cds.class_path_conf_dir(str(h), d) == str(h / "missing")


@pytest.mark.parametrize("live", ["spark-defaults.conf", "spark-env.sh"])
def test_live_conf_dir_means_no_archive(home, live):
    h, cache = home
    (h / "conf" / live).write_text("spark.master local[2]\n")
    assert cds.class_path_conf_dir(str(h), cds.private_dir(cache)) is None
    assert cds.plan(str(h), cache) is None
    assert not [n for n in _files(cache) if n.endswith(".attempt")]


@pytest.mark.parametrize("env, conf", [
    ({"HADOOP_CONF_DIR": "hadoop"}, {}),
    ({"YARN_CONF_DIR": "hadoop"}, {}),
    ({"SPARK_DIST_CLASSPATH": "/opt/hadoop/share/*"}, {}),
    ({}, {"spark.driver.extraClassPath": "/opt/extra.jar"}),
    ({"PYSPARK_SUBMIT_ARGS": "--driver-class-path /x.jar pyspark-shell"}, {}),
])
def test_more_on_the_class_path_means_no_archive(home, tmp_path, monkeypatch,
                                                 env, conf):
    """A non-empty directory the launcher adds to the class path (here a
    ``HADOOP_CONF_DIR`` holding ``core-site.xml``) fails the recording
    JVM at exit, and jars it adds are not in the key."""
    h, cache = home
    (tmp_path / "hadoop").mkdir()
    (tmp_path / "hadoop" / "core-site.xml").write_text("<configuration/>\n")
    for k in cds._CLASS_PATH_ENV + ("PYSPARK_SUBMIT_ARGS",):
        monkeypatch.delenv(k, raising=False)
    assert cds.plan(str(h), cache).part  # without them it records
    for k, v in env.items():
        monkeypatch.setenv(k, str(tmp_path / v) if v == "hadoop" else v)
    other = tmp_path / "other"
    other.mkdir()
    assert cds.plan(str(h), str(other), conf=conf) is None
    assert _files(other) == []


def _untrusted(kind: str, cache: str) -> None:
    """Make the private dir (or its temp dir) one that is not trusted."""
    d = os.path.join(cache, f"ocr_module_spark-cds-{os.getuid()}")
    if kind == "symlink":
        target = os.path.join(cache, "elsewhere")
        os.mkdir(target, 0o700)
        os.symlink(target, d)
    elif kind == "foreign":
        os.mkdir(d, 0o700)
        os.chown(d, os.getuid() + 1, -1)
    elif kind == "parent":
        os.chmod(cache, 0o777)  # writable by all, no sticky bit
    else:
        os.mkdir(d)
        os.chmod(d, {"group": 0o770, "world": 0o777}[kind])


@pytest.mark.parametrize("kind", ["symlink", "group", "world", "foreign",
                                  "parent"])
def test_untrusted_private_dir_means_no_archive(home, kind):
    """Files planted in a directory another user can write would be
    mapped as the driver's classes or read as its configuration."""
    h, cache = home
    if kind == "foreign" and os.getuid() != 0:
        pytest.skip("only root can give a directory to another user")
    _untrusted(kind, cache)
    assert cds.private_dir(cache) is None
    assert cds.plan(str(h), cache) is None
    assert not [n for n in _files(cache) if n.endswith((".attempt", ".jsa"))]


def test_sticky_world_writable_temp_dir_is_fine(home):
    h, cache = home
    os.chmod(cache, 0o1777)
    assert cds.plan(str(h), cache).part
    st = os.lstat(cds.private_dir(cache))
    assert stat.S_IMODE(st.st_mode) == 0o700 and st.st_uid == os.getuid()


def test_cache_dir_the_launcher_would_split_means_no_archive(home, tmp_path):
    h, _ = home
    spaced = tmp_path / "a b"
    spaced.mkdir()
    assert cds.plan(str(h), str(spaced)) is None
    assert os.listdir(spaced) == []


def test_record_publish_use(home):
    h, cache = home
    rec = cds.plan(str(h), cache)
    assert rec.part and f"-XX:ArchiveClassesAtExit={rec.part}" in rec.java_opts
    assert os.path.isfile(f"{rec.archive}.attempt")
    assert cds.plan(str(h), cache) is None  # claimed: no second recorder
    pathlib.Path(rec.part).write_bytes(b"archive")
    cds.publish(0, rec.part, rec.archive)
    assert not os.path.exists(rec.part)
    before = os.stat(rec.archive)
    for _ in range(3):
        use = cds.plan(str(h), cache)
        assert use.part is None and use.archive == rec.archive
        assert use.java_opts.startswith(
            f"-XX:SharedArchiveFile={rec.archive} -Xshare:auto")
        assert "ArchiveClassesAtExit" not in use.java_opts
    # a published archive is never rewritten in place
    after = os.stat(rec.archive)
    assert (after.st_ino, after.st_size) == (before.st_ino, before.st_size)
    assert pathlib.Path(rec.archive).read_bytes() == b"archive"


@pytest.mark.parametrize("returncode", [1, -9])
def test_failed_or_killed_recording_is_never_published(home, returncode):
    h, cache = home
    rec = cds.plan(str(h), cache)
    pathlib.Path(rec.part).write_bytes(b"half an archive")
    cds.publish(returncode, rec.part, rec.archive)
    assert not os.path.exists(rec.archive) and not os.path.exists(rec.part)
    assert cds.plan(str(h), cache) is None  # and never attempted again


def test_watcher_publishes_only_a_clean_exit(home):
    """``publish_at_exit`` against real child processes: one exits 0,
    one exits 3 and one is killed, each after writing its part file."""
    h, cache = home
    outcomes = {}
    for name, code in (("ok", 0), ("failed", 3), ("killed", None)):
        sub = os.path.join(cache, name)
        os.mkdir(sub)
        rec = cds.plan(str(h), sub)
        src = (f"open({rec.part!r}, 'wb').write(b'x'); import sys, time; "
               + ("time.sleep(60)" if code is None else f"sys.exit({code})"))
        proc = subprocess.Popen([sys.executable, "-c", src],
                                stdin=subprocess.PIPE)
        watcher = cds.publish_at_exit(proc, rec)
        if code is None:
            while not os.path.exists(rec.part):
                assert proc.poll() is None
                time.sleep(0.01)
            proc.kill()
        proc.wait(timeout=30)
        watcher.join(timeout=30)
        assert not watcher.is_alive()
        outcomes[name] = (os.path.exists(rec.archive),
                          os.path.exists(rec.part))
    assert outcomes == {"ok": (True, False), "failed": (False, False),
                        "killed": (False, False)}


def test_prune(home):
    """Dead recorders' part files go, of any key; other keys' archives
    and markers go once unused for a day, so two Spark homes that share
    a temp dir do not delete each other's archive on every launch."""
    h, cache = home
    rec = cds.plan(str(h), cache)
    d = os.path.dirname(rec.archive)
    key = os.path.basename(rec.archive)[:-len(".jsa")]
    old, recent = "0123456789abcdef", "fedcba9876543210"
    files = {
        f"{old}.jsa": True, f"{old}.jsa.attempt": True,
        f"{recent}.jsa": False, f"{recent}.jsa.attempt": False,
        f"{recent}.jsa.{os.getpid()}.1.part": False,  # live recorder
        f"{recent}.jsa.999999999.1.part": True,  # recorder gone
        f"{key}.jsa.999999999.1.part": True,
    }
    for name in files:
        pathlib.Path(d, name).write_bytes(b"x")
    two_days_ago = time.time() - 2 * 86400
    for name in (f"{old}.jsa", f"{old}.jsa.attempt",
                 f"{key}.jsa.attempt"):  # this key's stays whatever its age
        os.utime(os.path.join(d, name), (two_days_ago, two_days_ago))
    pathlib.Path(rec.part).write_bytes(b"x")  # live recorder: this process
    cds.prune(d, key)
    left = set(os.listdir(d))
    assert {n for n, gone in files.items() if gone} & left == set()
    assert {n for n, gone in files.items() if not gone} <= left
    assert {os.path.basename(rec.part), f"{key}.jsa.attempt", "conf"} <= left


def test_mapping_an_archive_marks_its_use(home):
    h, cache = home
    rec = cds.plan(str(h), cache)
    pathlib.Path(rec.part).write_bytes(b"archive")
    cds.publish(0, rec.part, rec.archive)
    two_days_ago = time.time() - 2 * 86400
    os.utime(rec.archive, (two_days_ago, two_days_ago))
    cds.plan(str(h), cache)
    assert os.stat(rec.archive).st_mtime > time.time() - 60


_DRIVER = textwrap.dedent("""
    import sys
    sys.path.insert(0, {root!r})
    from ocr_module_spark.session import get_spark
    spark = get_spark("cds-test", cores=2, extra_conf={conf!r})
    print("RESULT", spark.range(10).selectExpr("sum(id)").collect()[0][0],
          spark.sparkContext._jvm.System.getProperty("cds.test"))
""")


def _driver(tmp_path, conf: dict) -> subprocess.CompletedProcess:
    """Run a driver that starts a session and one job with TMPDIR (where
    the archive's private dir goes) in ``tmp_path``."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("PYSPARK_GATEWAY")}
    env["TMPDIR"] = str(tmp_path)
    return subprocess.run(
        [sys.executable, "-c", _DRIVER.format(root=str(ROOT), conf=conf)],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=300)


def _no_archive(cache_dir) -> bool:
    """True when this host's class path rules out an archive: a conf dir
    with live configuration, or more than it and the jars."""
    from pyspark.find_spark_home import _find_spark_home
    return cds.extra_class_path({}) or cds.class_path_conf_dir(
        _find_spark_home(), cds.private_dir(str(cache_dir))) is None


def test_garbage_archive_still_starts_a_session(tmp_path):
    """A damaged file at the archive's final path is ignored
    (``-Xshare:auto``) and prints nothing on the driver's stdout."""
    if _no_archive(tmp_path):
        pytest.skip("no archive on this Spark home (live conf dir)")
    from pyspark.find_spark_home import _find_spark_home
    rec = cds.plan(_find_spark_home(), str(tmp_path))
    pathlib.Path(rec.archive).write_bytes(b"not an archive\n" * 4096)
    run = _driver(tmp_path, {})
    assert run.returncode == 0, run.stderr
    assert run.stdout == "RESULT 45 None\n", run.stdout


def test_second_launch_maps_the_recorded_archive(tmp_path):
    """The first driver records and publishes the archive when it exits;
    the second maps it, keeps a caller's java options in both conf keys,
    and neither prints anything of CDS on stdout."""
    if _no_archive(tmp_path):
        pytest.skip("no archive on this Spark home (live conf dir)")
    first = _driver(tmp_path, {})
    assert first.returncode == 0, first.stderr
    assert first.stdout == "RESULT 45 None\n", first.stdout
    published = [n for n in _files(tmp_path) if n.endswith(".jsa")]
    assert len(published) == 1, _files(tmp_path)
    log = tmp_path / "class-load.log"
    second = _driver(tmp_path, {
        "spark.driver.defaultJavaOptions": "-Dcds.test=kept",
        "spark.driver.extraJavaOptions":
            f"-Xlog:class+load=info:file={log}"})
    assert second.returncode == 0, second.stderr
    assert second.stdout == "RESULT 45 kept\n", second.stdout
    assert "source: shared objects file (top)" in log.read_text()
