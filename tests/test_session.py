"""Session set-up: the package zip shipped to workers, and the driver
JVM's class-data sharing archive (``hadoop_job_analyzer_spark.cds``).

The archive tests up to the Spark-launching ones need only ``java``:
they build tiny real archives with ``-XX:ArchiveClassesAtExit`` over an
empty class path. Every test points ``XDG_CACHE_HOME`` at its own
directory, so the user's cache is never touched.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

import pytest

from hadoop_job_analyzer_spark import cds

REPO = Path(__file__).resolve().parent.parent
JAVA = cds.java_binary()

needs_java = pytest.mark.skipif(JAVA is None or os.name != "posix", reason="needs a java binary on POSIX")


def test_package_zip_built_once_and_removed_at_exit(tmp_path):
    """Two contexts in one process share one staging directory, and the
    directory is gone once the interpreter exits."""
    prog = (
        "import json, os, sys; sys.path.insert(0, %r)\n"
        "from hadoop_job_analyzer_spark import session\n"
        "class Ctx:\n"
        "    def __init__(self, app): self.applicationId, self.files = app, []\n"
        "    def addPyFile(self, p): self.files.append(p)\n"
        "class Sess:\n"
        "    def __init__(self, app): self.sparkContext = Ctx(app)\n"
        "a, b = Sess('app-1'), Sess('app-2')\n"
        "for s in (a, b, a): session._ship_package(s)\n"
        "print(json.dumps([a.sparkContext.files, b.sparkContext.files, os.path.exists(a.sparkContext.files[0])]))\n"
    ) % str(REPO)
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    out = subprocess.run(
        [sys.executable, "-c", prog], env={**os.environ, "TMPDIR": str(tmp)},
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    files_a, files_b, existed = json.loads(out.stdout.strip().splitlines()[-1])
    assert len(files_a) == 1 and files_a == files_b and existed
    staging = Path(files_a[0]).parent
    assert staging.parent == tmp and staging.name.startswith("hja_pyfiles_")
    assert not staging.exists()
    assert list(tmp.iterdir()) == []


# --- archive logic, Spark-free -------------------------------------------


def _fake_spark_home(tmp_path: Path) -> Path:
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "a.jar").write_bytes(b"a")
    (home / "jars" / "b.jar").write_bytes(b"bb")
    return home


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def _tiny_archive(path: Path, class_path: Path) -> None:
    subprocess.run(
        [JAVA, f"-XX:ArchiveClassesAtExit={path}", "-Xlog:cds*=off", "-cp", str(class_path), "-version"],
        check=True, capture_output=True, timeout=120,
    )
    assert path.stat().st_size > 0


def _content_length(path: Path) -> int:
    data = path.read_bytes()
    return len(data.rstrip(b"\0"))


@pytest.fixture
def tiny_cache(tmp_path, monkeypatch):
    """An ArchiveCache whose driver class path is one empty directory, so
    a tiny archive dumped over that class path is a valid one for it."""
    empty = tmp_path / "empty"
    empty.mkdir()
    root = tmp_path / "cache"
    root.mkdir()
    cache = cds.ArchiveCache(root, JAVA, str(_fake_spark_home(tmp_path)))
    monkeypatch.setattr(cache, "driver_flags", lambda: ["-cp", str(empty)])
    archive = tmp_path / "whole.jsa"
    _tiny_archive(archive, empty)
    return cache, archive


def test_archive_key_tracks_java_and_jars(tmp_path):
    home = _fake_spark_home(tmp_path)
    jars = str(home / "jars")
    java_a = tmp_path / "jdk-a" / "java"
    java_b = tmp_path / "jdk-b" / "java"
    for j in (java_a, java_b):
        j.parent.mkdir()
        j.write_bytes(b"#!java")
    k0 = cds.archive_key(str(java_a), jars)
    assert cds.archive_key(str(java_a), jars) == k0
    assert cds.archive_key(str(java_b), jars) != k0  # java path

    jar = home / "jars" / "a.jar"
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    k1 = cds.archive_key(str(java_a), jars)
    assert k1 != k0  # jar mtime

    jar.write_bytes(b"a2")
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert cds.archive_key(str(java_a), jars) not in (k0, k1)  # jar size

    (home / "jars" / "notes.txt").write_text("not a jar")
    assert cds.archive_key(str(java_a), jars) == cds.archive_key(str(java_a), jars)


@needs_java
def test_truncated_archive_rejected_and_whole_one_promoted(tiny_cache):
    cache, whole = tiny_cache
    dead = _dead_pid()
    truncated = cache.tmp_path(dead)
    truncated.write_bytes(whole.read_bytes()[: _content_length(whole) - 1024])
    assert not cache.usable_archive()
    assert not truncated.exists() and not cache.archive.exists()

    tmp = cache.tmp_path(dead)
    tmp.write_bytes(whole.read_bytes())
    assert cache.usable_archive()
    assert not tmp.exists()
    assert cache.archive.read_bytes() == whole.read_bytes()
    assert cache.record.read_text() == cds._stat_key(cache.archive)

    # An archive changed after its check is checked again; a bad one goes.
    st = cache.archive.stat()
    os.utime(cache.archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert cache.usable_archive()
    assert cache.record.read_text() == cds._stat_key(cache.archive)
    cache.archive.chmod(0o644)
    cache.archive.write_bytes(whole.read_bytes()[:4096])
    assert not cache.usable_archive()
    assert not cache.archive.exists() and not cache.record.exists()


@needs_java
def test_surplus_temporary_archive_dropped_once_one_is_promoted(tiny_cache):
    cache, whole = tiny_cache
    first, second = cache.tmp_path(_dead_pid()), cache.tmp_path(_dead_pid())
    first.write_bytes(whole.read_bytes())
    second.write_bytes(whole.read_bytes())
    assert cache.usable_archive()
    assert sorted(p.name for p in cache.root.iterdir()) == sorted([cache.archive.name, cache.record.name])


@needs_java
def test_live_writer_temporary_archive_left_alone(tiny_cache, monkeypatch):
    cache, whole = tiny_cache
    monkeypatch.setattr(cache, "check", lambda path: pytest.fail(f"checked a file still being written: {path}"))
    sleeper = subprocess.Popen(["sleep", "60"])
    by_jvm = cache.tmp_path(_dead_pid())
    # The launching Python has exited but its JVM is still dumping: it is
    # found by the archive path on its command line.
    jvm = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)", f"-XX:ArchiveClassesAtExit={by_jvm}"])
    try:
        # Popen returns while exec may still be filling in the command line.
        deadline = time.monotonic() + 30
        while not Path(f"/proc/{jvm.pid}/cmdline").read_bytes() and time.monotonic() < deadline:
            time.sleep(0.01)
        by_pid = cache.tmp_path(sleeper.pid)
        by_pid.write_bytes(b"\0" * 4096)
        by_jvm.write_bytes(b"\0" * 4096)
        assert not cache.usable_archive()
        assert by_pid.exists() and by_jvm.exists() and not cache.archive.exists()
    finally:
        sleeper.kill()
        jvm.kill()
        sleeper.wait(timeout=30)
        jvm.wait(timeout=30)


@needs_java
def test_rejected_check_leaves_no_crash_log_in_cwd(tiny_cache, tmp_path, monkeypatch):
    cache, whole = tiny_cache
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    bad = cache.tmp_path(_dead_pid())
    bad.write_bytes(whole.read_bytes()[:4096])
    assert not cache.check(bad)
    assert list(cwd.iterdir()) == []
    assert not list(cache.root.glob("*hs_err*")) and not list(cache.root.glob("core*"))


def _isolated_env(monkeypatch, tmp_path, conf_files=("spark-defaults.conf.template",)) -> Path:
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    for var in ("PYSPARK_GATEWAY_PORT", "SPARK_REMOTE", "PYSPARK_SUBMIT_ARGS", "JAVA_TOOL_OPTIONS",
                "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS"):
        monkeypatch.delenv(var, raising=False)
    conf = tmp_path / "spark-conf"
    conf.mkdir()
    for name in conf_files:
        (conf / name).write_text("# spark.driver.memory 2g\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    return conf


@needs_java
def test_launch_options_when_preconditions_hold(tmp_path, monkeypatch):
    _isolated_env(monkeypatch, tmp_path)
    monkeypatch.setenv("SPARK_SUBMIT_OPTS", "-Divy.home=/nonexistent")
    launch = cds.driver_launch()
    assert launch is not None
    root = tmp_path / "xdg" / cds.CACHE_SUBDIR
    assert launch.conf_dir == str(root / "conf") and list((root / "conf").iterdir()) == []
    assert f"-XX:ArchiveClassesAtExit={root}/spark-" in launch.java_options
    assert f".{os.getpid()}.tmp" in launch.java_options
    with launch.environment():
        assert os.environ["SPARK_CONF_DIR"] == launch.conf_dir
    assert os.environ["SPARK_CONF_DIR"] == str(tmp_path / "spark-conf")


@needs_java
@pytest.mark.parametrize("real_file", ["spark-defaults.conf", "log4j2.properties", "spark-env.sh"])
def test_real_conf_file_leaves_launch_unchanged(tmp_path, monkeypatch, real_file):
    _isolated_env(monkeypatch, tmp_path, ("spark-defaults.conf.template", real_file))
    assert cds.driver_launch() is None
    assert not (tmp_path / "xdg").exists()


@needs_java
@pytest.mark.parametrize(
    "var, value",
    [
        ("PYSPARK_SUBMIT_ARGS", "--conf spark.driver.extraJavaOptions=-Xss4m pyspark-shell"),
        ("PYSPARK_SUBMIT_ARGS", "--driver-java-options -Xss4m pyspark-shell"),
        ("JAVA_TOOL_OPTIONS", "-Xshare:off"),
        ("SPARK_SUBMIT_OPTS", "-Dx=1 -XX:+UseSerialGC"),
    ],
)
def test_caller_java_options_leave_launch_unchanged(tmp_path, monkeypatch, var, value):
    _isolated_env(monkeypatch, tmp_path)
    monkeypatch.setenv(var, value)
    assert cds.driver_launch() is None


@needs_java
def test_unwritable_cache_leaves_launch_unchanged(tmp_path, monkeypatch):
    _isolated_env(monkeypatch, tmp_path)
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    assert cds.driver_launch() is None


# --- the real driver JVM ---------------------------------------------------

_DRIVER = r"""
import json, os, sys
sys.path.insert(0, {repo!r})
from pyspark import SparkContext
from hadoop_job_analyzer_spark.session import get_spark
spark = get_spark("cds-test", master="local[2]")
proc = SparkContext._gateway.proc
with open(f"/proc/{{proc.pid}}/cmdline", "rb") as f:
    cmdline = f.read().decode().rstrip("\0").split("\0")
key = sys.argv[1] if len(sys.argv) > 1 else None
if key:
    from hadoop_job_analyzer_spark.oracle_check import compare
    from hadoop_job_analyzer_spark.registry import oracle_sql, queries
    compare(queries()[key](spark, {sf_dir!r}), oracle_sql()[key], {sf_dir!r}, key)
else:
    assert spark.range(100).count() == 100
conf_dir = os.environ.get("SPARK_CONF_DIR")
spark.stop()
SparkContext._gateway.shutdown()
proc.stdin.close()
proc.wait(timeout=120)  # the JVM writes its archive, if any, before exiting
print(json.dumps({{"pid": os.getpid(), "cmdline": cmdline, "conf_dir": conf_dir}}))
"""


def _driver(tmp_path: Path, sf_dir: str, *args: str, conf_files=("spark-defaults.conf.template",)) -> subprocess.Popen:
    """A driver subprocess with its own cache directory and Spark conf
    directory, and no JVM options from the caller."""
    conf = tmp_path / "spark-conf"
    conf.mkdir(exist_ok=True)
    for name in conf_files:
        (conf / name).write_text("# spark.driver.memory 2g\n")
    scrub = ("PYSPARK_SUBMIT_ARGS", "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS")
    env = {k: v for k, v in os.environ.items() if k not in scrub}
    env.update(XDG_CACHE_HOME=str(tmp_path / "xdg"), SPARK_CONF_DIR=str(conf), HJA_DRIVER_MEM="1g")
    prog = _DRIVER.format(repo=str(REPO), sf_dir=sf_dir)
    return subprocess.Popen(
        [sys.executable, "-c", prog, *args], env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True
    )


def _result(proc: subprocess.Popen) -> dict:
    out, err = proc.communicate(timeout=600)
    assert proc.returncode == 0, err[-3000:]
    return json.loads(out.strip().splitlines()[-1])


@pytest.fixture
def driver_cache(tmp_path):
    """The real driver's ArchiveCache under ``tmp_path``; its archives
    (about 180 MB each) are deleted after the test."""
    from pyspark.find_spark_home import _find_spark_home

    root = tmp_path / "xdg" / cds.CACHE_SUBDIR
    yield cds.ArchiveCache(root, JAVA, _find_spark_home())
    shutil.rmtree(root, ignore_errors=True)


def _uses_cds(cmdline: list[str]) -> bool:
    return any(a.startswith(("-XX:SharedArchiveFile", "-XX:ArchiveClassesAtExit", "-Xlog:cds")) for a in cmdline)


@needs_java
def test_dead_writer_truncated_archive_does_not_stop_driver(tmp_path, sf_dir, driver_cache):
    """A writer killed mid-dump left a truncated temporary archive: the
    next driver rejects it, starts, answers a key that matches its
    oracle, and writes a whole archive that a later launch promotes."""
    empty = tmp_path / "empty"
    empty.mkdir()
    whole = tmp_path / "whole.jsa"
    _tiny_archive(whole, empty)
    cache = driver_cache
    cache.root.mkdir(parents=True)
    truncated = cache.tmp_path(_dead_pid())
    truncated.write_bytes(whole.read_bytes()[: _content_length(whole) - 1024])

    res = _result(_driver(tmp_path, sf_dir, "agg_group_pricing"))
    assert not truncated.exists()
    written = cache.tmp_path(res["pid"])
    assert f"-XX:ArchiveClassesAtExit={written}" in res["cmdline"]
    assert res["conf_dir"] == str(tmp_path / "spark-conf")  # restored after launch
    assert written.exists()
    assert cache.usable_archive() and not written.exists() and cache.archive.exists()


@needs_java
def test_concurrent_first_runs_leave_one_valid_archive(tmp_path, sf_dir, driver_cache):
    procs = [_driver(tmp_path, sf_dir) for _ in range(2)]
    results = [_result(p) for p in procs]
    cache = driver_cache
    for res in results:
        assert f"-XX:ArchiveClassesAtExit={cache.tmp_path(res['pid'])}" in res["cmdline"]
    assert len(list(cache.root.glob("*.tmp"))) == 2
    # The next launch promotes one and drops the other.
    assert cache.usable_archive()
    assert list(cache.root.glob("*.tmp")) == [] and list(cache.root.glob("*.jsa")) == [cache.archive]
    assert cache.check(cache.archive)

    res = _result(_driver(tmp_path, sf_dir))
    assert f"-XX:SharedArchiveFile={cache.archive}" in res["cmdline"] and "-Xshare:auto" in res["cmdline"]


@needs_java
def test_failed_precondition_launches_driver_unchanged(tmp_path, sf_dir):
    conf = tmp_path / "spark-conf"
    res = _result(_driver(tmp_path, sf_dir, conf_files=("spark-defaults.conf",)))
    assert not _uses_cds(res["cmdline"])
    assert not any("spark.driver.extraJavaOptions" in a for a in res["cmdline"])
    cp = res["cmdline"][res["cmdline"].index("-cp") + 1]
    assert cp.split(":")[0].rstrip("/") == str(conf)
    assert not (tmp_path / "xdg").exists()
