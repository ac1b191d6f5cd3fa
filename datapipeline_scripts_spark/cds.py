"""Class-data sharing (CDS) for the driver JVM.

JDK 17's dynamic AppCDS (JEP 350) writes the classes a JVM loaded to an
archive when it exits (``-XX:ArchiveClassesAtExit``); a later JVM maps
that archive (``-XX:SharedArchiveFile``) and skips parsing and verifying
those classes again. The first session on a machine records, every later
one maps. ``plan`` decides which, ``launch`` starts the JVM, ``status``
reports what the running JVM got.

- The archive is keyed on the JDK (the resolved ``java`` binary and its
  ``release`` file), ``pyspark.__version__`` and the name, size and mtime
  of every ``$SPARK_HOME/jars/*.jar`` (the JVM checks the jars' size and
  mtime against the archive). Computing the key starts no JVM.
- It lives in ``$XDG_CACHE_HOME/spark-graft/`` (``~/.cache/spark-graft/``
  when unset), so it survives runs, checkouts and temp-dir cleanup.
- The JVM refuses to record with a non-empty directory on its class
  path, and Spark puts ``$SPARK_CONF_DIR`` first. So CDS runs only when
  Spark's class path is its own jars and an empty conf dir:
  ``SPARK_CONF_DIR`` unset, ``$SPARK_HOME/conf`` holding only
  ``*.template`` files, nothing added by the environment or
  ``spark.driver.extraClassPath``. The JVM then starts with
  ``SPARK_CONF_DIR`` pointed at an empty directory in the cache, where
  Spark reads the same nothing it would read from the templates.
- A torn archive crashes the JVM that maps it (SIGBUS on a truncated
  file), so a recording JVM writes to ``<key>.<pid>.jsa`` (``pid`` of
  this Python process) and an ``atexit`` hook renames it to
  ``<key>.jsa`` only after that JVM has exited with status 0. A later
  session deletes temp files whose process is gone and maps only
  ``<key>.jsa``. While a recording process lives, other sessions start
  without CDS instead of recording too.
- Whenever CDS cannot apply (conf or class path, cache not writable,
  another process recording, the JVM already running) the session
  starts exactly as without it. A rejected archive (another class path,
  a patched JDK) falls back to normal class loading (``-Xshare:auto``,
  the JDK's default), and ``launch`` removes it once the JVM is up, so
  the next session records a new one.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
import subprocess
from dataclasses import dataclass

from pyspark import SparkContext, __version__ as pyspark_version
from pyspark.find_spark_home import _find_spark_home

# Every cds tag set logs warnings on the JVM's stdout by default: a
# recording prints one line per class it skips (signed jars), a rejected
# archive "Unable to use shared archive". Flags the caller passes come
# after these, so a caller's -Xlog:cds can turn them back on.
QUIET = "-Xlog:cds*=off"
# the recording JVM writes the archive while it exits (15-30 s measured)
EXIT_WAIT_S = 600
# the launcher adds these to the driver's class path
_CLASS_PATH_ENV = ("SPARK_DIST_CLASSPATH", "SPARK_PREPEND_CLASSES", "HADOOP_CONF_DIR", "YARN_CONF_DIR")
_CDS_FLAG = re.compile(r"-Xshare|SharedArchiveFile|ArchiveClassesAtExit")
_TEMP_NAME = re.compile(r"^[0-9a-f]+\.(\d+)\.jsa$")


@dataclass(frozen=True)
class Plan:
    """How the driver JVM starts. With ``off`` set it starts as without
    CDS; otherwise it maps ``archive``, or records into it when
    ``recording``."""

    archive: str = ""
    recording: bool = False
    off: str = ""

    @property
    def java_options(self) -> str:
        if self.off:
            return ""
        flag = "ArchiveClassesAtExit" if self.recording else "SharedArchiveFile"
        return f"-XX:{flag}={self.archive} {QUIET}"


# the plan the driver JVM of this process was launched with; the JVM is
# one per process, and so is this record of how it started
_launched: Plan | None = None


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(base):  # the XDG spec ignores a relative path
        base = os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "spark-graft")


def _java_binary() -> str | None:
    """The java the Spark launcher runs: $JAVA_HOME/bin/java, else PATH."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def archive_key(java: str, spark_home: str) -> str:
    h = hashlib.sha256(java.encode())
    try:
        with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release"), "rb") as fh:
            h.update(fh.read())
    except OSError:
        pass
    h.update(pyspark_version.encode())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(n for n in os.listdir(jars) if n.endswith(".jar")):
        st = os.stat(os.path.join(jars, name))
        h.update(f"\0{name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _ineligible(extra_conf: dict[str, str], spark_home: str) -> str:
    """Why Spark's class path is not its jars and an empty conf dir, or
    why CDS flags would clash with the caller's; "" when neither."""
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        return "the driver JVM was started outside this process"
    if os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell") != "pyspark-shell":
        return "PYSPARK_SUBMIT_ARGS is set"
    if os.environ.get("SPARK_CONF_DIR"):
        return "SPARK_CONF_DIR is set"
    conf = os.path.join(spark_home, "conf")
    extra = sorted(n for n in os.listdir(conf) if not n.endswith(".template")) if os.path.isdir(conf) else []
    if extra:
        return f"conf dir {conf} holds {extra[0]}"
    added = [v for v in _CLASS_PATH_ENV if os.environ.get(v)]
    if extra_conf.get("spark.driver.extraClassPath"):
        added.append("spark.driver.extraClassPath")
    if added:
        return f"extra class path ({', '.join(added)})"
    if _CDS_FLAG.search(extra_conf.get("spark.driver.extraJavaOptions", "")):
        return "the caller's extraJavaOptions set CDS flags"
    return ""


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # another user's process
        return True
    return True


def _remove_dead_recordings(cache: str) -> None:
    """Delete ``<key>.<pid>.jsa`` files whose recording process is gone.
    This process has not launched its JVM yet, so a file with its own
    pid is left by an earlier process that had the same pid."""
    for name in os.listdir(cache):
        m = _TEMP_NAME.match(name)
        if m and (int(m.group(1)) == os.getpid() or not _pid_alive(int(m.group(1)))):
            try:
                os.remove(os.path.join(cache, name))
            except FileNotFoundError:  # another session removed it first
                pass


def conf_dir(cache: str) -> str:
    return os.path.join(cache, "conf")


def plan(extra_conf: dict[str, str]) -> Plan:
    """Decide how a driver JVM launched now starts (see the module doc)."""
    spark_home = _find_spark_home()
    reason = _ineligible(extra_conf, spark_home)
    if reason:
        return Plan(off=reason)
    java = _java_binary()
    if java is None:
        return Plan(off="no java binary found")
    cache = cache_dir()
    if re.search(r"[\s'\"\\]", cache):  # Spark splits extraJavaOptions on whitespace
        return Plan(off=f"cache path {cache!r} needs quoting")
    key = archive_key(java, spark_home)
    try:
        os.makedirs(conf_dir(cache), exist_ok=True)
        if os.listdir(conf_dir(cache)):
            return Plan(off=f"conf dir {conf_dir(cache)} is not empty")
        _remove_dead_recordings(cache)
        published = os.path.join(cache, f"{key}.jsa")
        if os.path.isfile(published):
            return Plan(archive=published)
        live = sorted(n for n in os.listdir(cache) if n.startswith(f"{key}.") and _TEMP_NAME.match(n))
        if live:
            return Plan(off=f"another process is recording {live[0]}")
        # an empty placeholder marks this process as the recorder until
        # the JVM writes the archive over it at exit
        temp = os.path.join(cache, f"{key}.{os.getpid()}.jsa")
        os.close(os.open(temp, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644))
    except OSError as exc:
        return Plan(off=f"cache {cache} not writable ({exc.strerror})")
    return Plan(archive=temp, recording=True)


def launch(builder, chosen: Plan):
    """``builder.getOrCreate()`` for a builder that launches the driver
    JVM and carries ``chosen.java_options``."""
    global _launched
    _launched = chosen
    if chosen.off:
        return builder.getOrCreate()
    if chosen.recording:
        atexit.register(_publish, chosen.archive)
    os.environ["SPARK_CONF_DIR"] = conf_dir(os.path.dirname(chosen.archive))
    try:
        spark = builder.getOrCreate()
    finally:
        del os.environ["SPARK_CONF_DIR"]
    if not chosen.recording and _jvm_maps(chosen.archive) is False:
        try:
            os.remove(chosen.archive)
        except FileNotFoundError:  # another session removed it first
            pass
    return spark


def _publish(temp: str) -> None:
    """At interpreter exit: stop the recording JVM and wait for it, then
    rename its archive into place if it exited with status 0. A JVM that
    was killed, crashed or is still writing publishes nothing."""
    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        if proc is None:
            return
        sc = SparkContext._active_spark_context
        if sc is not None and proc.poll() is None:
            sc.stop()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            code = proc.wait(timeout=EXIT_WAIT_S)  # the reaped code if already waited for
        except subprocess.TimeoutExpired:
            # still writing: the temp name is unlinked below, and the JVM
            # finishes into a file that nobody maps
            return
        if code == 0 and os.path.getsize(temp) > 0:
            os.replace(temp, re.sub(r"\.\d+\.jsa$", ".jsa", temp))
    finally:
        try:
            os.remove(temp)
        except FileNotFoundError:  # published, or swept as dead
            pass


def _jvm_maps(archive: str) -> bool | None:
    """Whether the driver JVM has ``archive`` mapped; None when its
    memory map cannot be read."""
    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        with open(f"/proc/{proc.pid}/maps") as fh:
            return any(line.rstrip().endswith(archive) for line in fh)
    except (AttributeError, OSError):
        return None


def status() -> str:
    """One line: the archive the driver JVM maps or records, or why CDS
    is off."""
    if _launched is None:
        return "off (the driver JVM was not started by get_spark)"
    if _launched.off:
        return f"off ({_launched.off})"
    if _launched.recording:
        return f"recording {_launched.archive} (published when the driver JVM exits cleanly)"
    mapped = _jvm_maps(_launched.archive)
    if mapped is None:
        return f"given {_launched.archive} (mapping not checked)"
    if mapped:
        return f"mapped {_launched.archive}"
    removed = "" if os.path.exists(_launched.archive) else "; removed, the next session records a new one"
    return f"rejected {_launched.archive} (the JVM did not map it{removed})"
