"""Class-data sharing (CDS) for the driver JVM.

Every engine process (a report, a test run, a benchmark run) starts a
fresh driver JVM, and most of its start-up goes to loading, parsing and
verifying Spark's own classes. JDK 17 can dump the classes a JVM loaded
into a dynamic CDS archive at exit and map that archive into later JVMs.
:func:`driver_launch` decides, per launch, how ``get_spark`` starts the
driver:

- a checked archive exists for this ``java`` and jar set: the JVM maps
  it (``-XX:SharedArchiveFile=<archive> -Xshare:auto``);
- none exists: the JVM writes one at exit (``-XX:ArchiveClassesAtExit``)
  into ``<name>.<pid>.tmp``. A later launch checks that file once its
  writer has exited and promotes it with ``os.replace``;
- a precondition fails: ``None``, and the driver starts exactly as it
  would without this module.

The check is not optional. A truncated archive kills the JVM with SIGBUS
(in ``FileMapInfo::relocate_pointers_in_core_regions``) even under
``-Xshare:auto``, so no unchecked file may reach the final path. The
checked size and mtime are recorded beside the archive, and a change to
either is checked again before use.

The archives live in ``$XDG_CACHE_HOME/hadoop_job_analyzer_spark``
(``~/.cache/...`` when that is unset), about 180 MB each; deleting the
directory gives a cold start again.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import subprocess
from dataclasses import dataclass
from pathlib import Path

CACHE_SUBDIR = "hadoop_job_analyzer_spark"

# Keep the JVM's stdout clean: the dump prints hundreds of "Skipping ..."
# warnings there. Only a top archive that fails to map is reported, on
# stderr.
_QUIET = "-Xlog:cds*=off -Xlog:cds+dynamic=warning:stderr"

# Environment variables whose JVM options reach the driver. System
# properties (-D) compose with the archive flags; any other option might
# not (-Xshare:off, an archive of the caller's own), so it disables CDS.
_JVM_OPTION_ENV = ("SPARK_SUBMIT_OPTS", "JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS")
_SUBMIT_JAVA_OPTION_ARGS = ("extraJavaOptions", "--driver-java-options", "--properties-file")

_CHECK_TIMEOUT_S = 120


@dataclass(frozen=True)
class Launch:
    """How to start the driver JVM: its extra Java options, and the empty
    directory to launch with as ``SPARK_CONF_DIR``."""

    java_options: str
    conf_dir: str

    @contextlib.contextmanager
    def environment(self):
        """Point ``SPARK_CONF_DIR`` at :attr:`conf_dir` while the JVM
        starts, then restore the process environment."""
        old = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = self.conf_dir
        try:
            yield
        finally:
            if old is None:
                os.environ.pop("SPARK_CONF_DIR", None)
            else:
                os.environ["SPARK_CONF_DIR"] = old


def cache_dir() -> Path:
    base = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(base):
        base = os.path.join(os.path.expanduser("~"), ".cache")
    return Path(base) / CACHE_SUBDIR


def java_binary() -> str | None:
    """The ``java`` that ``bin/spark-class`` runs."""
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else shutil.which("java")


def archive_key(java: str, jars_dir: str) -> str:
    """Hash of the resolved ``java`` binary and the name, size and mtime
    of every jar the driver class path takes from ``jars_dir``."""
    h = hashlib.sha256()
    java = os.path.realpath(java)
    st = os.stat(java)
    h.update(f"{java}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    for name in sorted(os.listdir(jars_dir)):
        if name.endswith(".jar"):
            st = os.stat(os.path.join(jars_dir, name))
            h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:20]


def conf_dir_is_templates_only(conf_dir: str) -> bool:
    """True when the Spark conf directory holds nothing but ``*.template``
    files, so launching with an empty one changes nothing. CDS refuses a
    non-empty directory on the class path, and Spark's launcher puts the
    conf directory first on it."""
    try:
        return all(n.endswith(".template") for n in os.listdir(conf_dir))
    except FileNotFoundError:
        return True
    except OSError:
        return False


def caller_set_java_options() -> bool:
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if any(a in submit for a in _SUBMIT_JAVA_OPTION_ARGS):
        return True
    return any(
        not tok.startswith("-D") for var in _JVM_OPTION_ENV for tok in os.environ.get(var, "").split()
    )


def writer_alive(tmp: Path, pid: int) -> bool:
    """Whether the process named in a temporary archive's file name, or a
    JVM still writing that file, is running. The name carries the pid of
    the Python process that launched the writer; its JVM can outlive it
    by the length of the dump, so live command lines are searched too."""
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        pass
    except PermissionError:
        return True
    needle = f"-XX:ArchiveClassesAtExit={tmp}".encode()
    try:
        procs = [p for p in os.listdir("/proc") if p.isdigit()]
    except OSError:
        return False
    for p in procs:
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                if needle in f.read().split(b"\0"):
                    return True
        except OSError:
            continue
    return False


def _remove(path: Path) -> None:
    with contextlib.suppress(FileNotFoundError):
        path.unlink()


def _stat_key(path: Path) -> str | None:
    try:
        st = path.stat()
    except FileNotFoundError:
        return None
    return f"{st.st_size} {st.st_mtime_ns}"


class ArchiveCache:
    """The archives of one ``java`` + Spark install in one cache directory."""

    def __init__(self, root: Path, java: str, spark_home: str):
        self.root = root
        self.java = java
        self.spark_home = spark_home
        self.conf_dir = root / "conf"
        self.name = f"spark-{archive_key(java, os.path.join(spark_home, 'jars'))}"
        self.archive = root / f"{self.name}.jsa"
        self.record = root / f"{self.name}.jsa.checked"
        self._flags: list[str] | None = None

    def tmp_path(self, pid: int) -> Path:
        return self.root / f"{self.name}.{pid}.tmp"

    def driver_flags(self) -> list[str]:
        """The driver's class path and JVM flags, as Spark's own launcher
        builds them with ``SPARK_CONF_DIR`` pointed at :attr:`conf_dir`."""
        if self._flags is None:
            script = (
                '. "$SPARK_HOME/bin/load-spark-env.sh" >/dev/null 2>&1; '
                'exec "$0" -Xmx128m -cp "$SPARK_HOME/jars/*" org.apache.spark.launcher.Main '
                "org.apache.spark.deploy.SparkSubmit pyspark-shell"
            )
            env = {**os.environ, "SPARK_HOME": self.spark_home, "SPARK_CONF_DIR": str(self.conf_dir)}
            out = subprocess.run(
                ["bash", "-c", script, self.java],
                env=env, stdin=subprocess.DEVNULL, capture_output=True, timeout=_CHECK_TIMEOUT_S, check=True,
            ).stdout
            # Output: a marker line, then NUL-separated `java <flags> <main> <args>`.
            args = [a.decode() for a in out.split(b"\0")]
            self._flags = args[args.index("-cp") : args.index("org.apache.spark.deploy.SparkSubmit")]
        return self._flags

    def check(self, path: Path) -> bool:
        """Map ``path`` the way the driver would, with sharing required and
        relocation forced, in a throw-away JVM; True when it exits 0.

        Raises OSError, ValueError or SubprocessError when the check itself
        cannot run, so that a good archive is never deleted for that."""
        cmd = [
            self.java, *self.driver_flags(),
            "-Xshare:on", "-XX:+UnlockDiagnosticVMOptions", "-XX:ArchiveRelocationMode=1",
            f"-XX:SharedArchiveFile={path}",
            f"-XX:ErrorFile={self.root}/check-hs_err-%p.log", "-XX:-CreateCoredumpOnCrash",
            "-version",
        ]
        proc = subprocess.Popen(
            cmd, cwd=self.root, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL
        )
        try:
            rc = proc.wait(timeout=_CHECK_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
        _remove(self.root / f"check-hs_err-{proc.pid}.log")
        return rc == 0

    def _archive_checked(self) -> bool:
        """Whether the archive at the final path is a checked one. It is
        checked again when its size or mtime differ from the record, and
        deleted when that check fails."""
        now = _stat_key(self.archive)
        if now is None:
            return False
        try:
            if self.record.read_text() == now:
                return True
        except FileNotFoundError:
            pass
        if not self.check(self.archive):
            _remove(self.archive)
            _remove(self.record)
            return False
        if _stat_key(self.archive) != now:
            return False  # replaced while being checked
        self._write_record(now)
        return True

    def _write_record(self, stat_key: str) -> None:
        tmp = self.record.with_name(f"{self.record.name}.{os.getpid()}")
        tmp.write_text(stat_key)
        os.replace(tmp, self.record)

    def usable_archive(self) -> bool:
        """Promote finished temporary archives, drop bad or surplus ones,
        and report whether a checked archive is in place."""
        usable = self._archive_checked()
        for tmp in sorted(self.root.glob(f"{self.name}.*.tmp")):
            try:
                pid = int(tmp.name[len(self.name) + 1 : -len(".tmp")])
            except ValueError:
                continue
            if writer_alive(tmp, pid):
                continue
            if usable:
                _remove(tmp)
                continue
            before = _stat_key(tmp)
            if before is None:
                continue  # another process took it
            if not self.check(tmp) or _stat_key(tmp) != before:
                _remove(tmp)
                continue
            try:
                os.replace(tmp, self.archive)
            except FileNotFoundError:
                continue
            self._write_record(before)
            usable = True
        return usable

    def launch(self) -> Launch:
        if self.usable_archive():
            opts = f"-XX:SharedArchiveFile={self.archive} -Xshare:auto"
        else:
            opts = f"-XX:ArchiveClassesAtExit={self.tmp_path(os.getpid())}"
        return Launch(f"{opts} {_QUIET}", str(self.conf_dir))


def driver_launch() -> Launch | None:
    """CDS launch settings for a new driver JVM, or None to launch as usual.

    None when no JVM will be launched (a context or gateway already
    exists, Spark Connect), when the Spark conf directory holds real
    files, when the caller already set driver JVM options, or when the
    cache directory cannot be written."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if os.name != "posix" or SparkContext._active_spark_context is not None:
        return None
    if os.environ.get("PYSPARK_GATEWAY_PORT") or os.environ.get("SPARK_REMOTE"):
        return None
    if caller_set_java_options():
        return None
    java = java_binary()
    try:
        spark_home = _find_spark_home()
    except SystemExit:  # no Spark install; the launch itself reports it
        return None
    if java is None or not os.path.isdir(os.path.join(spark_home, "jars")):
        return None
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if not conf_dir_is_templates_only(conf):
        return None
    root = cache_dir()
    # Spark splits extraJavaOptions on whitespace.
    if any(c.isspace() or c in "'\"" for c in str(root)):
        return None
    try:
        cache = ArchiveCache(root, java, spark_home)
        cache.conf_dir.mkdir(parents=True, exist_ok=True)
        if any(cache.conf_dir.iterdir()) or not os.access(root, os.W_OK):
            return None
        return cache.launch()
    except (OSError, ValueError, subprocess.SubprocessError):
        return None
