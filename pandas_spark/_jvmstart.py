"""Class-data-sharing (AppCDS) archive for the driver JVM.

A fresh driver JVM spends about 1.3 s of its ~3 s start (idle 4-core
box) loading and verifying the same classes from Spark's jars. The first session on a
box trains a dynamic archive of those classes
(``-XX:ArchiveClassesAtExit``); every later session maps it
(``-XX:SharedArchiveFile``) instead. The archive is
``<cache>/<key>.jsa`` under ``${XDG_CACHE_HOME:-~/.cache}/pandas_spark/cds``,
where ``<key>`` fingerprints the JDK and the Spark jars, so upgrading
either selects a new file. Deleting the directory resets it.

Three JVM behaviours shape the rules that keep a bad archive from ever
failing a session:

* CDS refuses a classpath that holds a non-empty directory, and Spark
  puts its conf dir on the classpath. The launch therefore points
  ``SPARK_CONF_DIR`` at an empty directory in the cache, which changes
  nothing only when the real conf dir holds templates alone.
* A truncated archive kills the JVM at start. Training writes
  ``<key>.<pid>.tmp``, promoted only after the JVM exited 0; a launch
  that still fails with an archive deletes it and relaunches without.
* The JVM ignores a stale archive without a word. The launch logs CDS
  to a file, and an archive whose dynamic region did not map is deleted.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import logging
import os
import re
import shutil
import subprocess
import threading

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

_log = logging.getLogger(__name__)

# the JVM writes a ~176 MB archive in 7-17 s at exit on 4 cores
_EXIT_WAIT_S = 120
# Spark splits java options on whitespace and -Xlog splits on ':' and ','
_SAFE_PATH = re.compile(r"[\w./+-]+")
_MAPPED = "Mapped dynamic region"
# A heap of 32 GiB or more turns compressed oops off, and the JVM then
# maps the JDK's other base archive, which no archive trained at a
# smaller heap extends.
_OOPS_HEAP = 32 << 30
_UNITS = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}

_state = "skipped: driver JVM not launched by pandas_spark"
# one launch at a time: it swaps SPARK_CONF_DIR in os.environ
_launch_lock = threading.Lock()


def state() -> str:
    """How this process's driver JVM started: ``used`` (mapped the
    archive), ``trained`` (writes it at exit) or ``skipped: <reason>``."""
    return _state


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "pandas_spark", "cds")


def fingerprint(spark_home: str, java_home: str | None) -> str:
    """Archive key: the ``java`` that ``spark-class`` runs, the JDK's
    ``release`` file, the Spark version, and name, size and mtime of
    every jar in ``$SPARK_HOME/jars``."""
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    java = os.path.realpath(java or "java")
    h = hashlib.sha256(f"{java}\n{pyspark.__version__}\n".encode())
    release = os.path.join(java_home or os.path.dirname(os.path.dirname(java)), "release")
    if os.path.isfile(release):
        with open(release, "rb") as f:
            h.update(f.read())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        if name.endswith(".jar"):
            st = os.stat(os.path.join(jars, name))
            h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def conf_gate(spark_home: str, env) -> str | None:
    """Why pointing ``SPARK_CONF_DIR`` at an empty directory would
    change the launch, or None when the real conf dir holds only
    templates and no Hadoop/YARN conf dir adds to the classpath."""
    conf = env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        extra = sorted(n for n in os.listdir(conf) if not n.endswith(".template"))
    except FileNotFoundError:
        extra = []
    except OSError as e:
        return f"cannot list {conf}: {e}"
    if extra:
        return f"{conf} holds {', '.join(extra)}"
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        d = env.get(var)
        if d and os.path.isdir(d) and os.listdir(d):
            return f"{var}={d} is not empty"
    return None


def _heap_bytes(memory: str) -> int | None:
    """``spark.driver.memory`` in bytes (no unit means MiB), or None."""
    m = re.fullmatch(r"(\d+)([bkmgt]?)b?", memory.strip().lower())
    return int(m.group(1)) * _UNITS[m.group(2) or "m"] if m else None


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _prepare(cache: str) -> str | None:
    """Create the cache and its empty conf dir, and delete the files of
    training runs whose process is gone; the reason to skip, or None."""
    if not _SAFE_PATH.fullmatch(cache):
        return f"cache path {cache} has characters the JVM option parser splits on"
    conf = os.path.join(cache, "conf")
    try:
        os.makedirs(conf, exist_ok=True)
        if not os.access(cache, os.W_OK):
            return f"cache dir {cache} is not writable"
        if os.listdir(conf):
            return f"{conf} is not empty"
        for path in glob.glob(os.path.join(cache, "*.*.tmp")) + glob.glob(
            os.path.join(cache, "*.*.log")
        ):
            pid = path.rsplit(".", 2)[1]
            if pid.isdigit() and not _alive(int(pid)):
                os.remove(path)
    except OSError as e:
        return f"cache dir {cache} is not usable: {e}"
    return None


def _remove(*paths: str) -> None:
    for path in paths:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass


def _without(reason: str) -> None:
    global _state
    _state = f"skipped: {reason}"
    _log.warning("driver JVM runs without its class-data archive: %s", reason)


def launch(build, driver_memory: str):
    """Start the driver JVM through ``build(java_opts)``, which returns
    the session and takes extra driver java options (None for a plain
    launch), with the class-data archive wherever that is safe.
    ``driver_memory`` is the launch's ``spark.driver.memory``."""
    with _launch_lock:
        return _launch(build, driver_memory)


def _launch(build, driver_memory: str):
    global _state
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return build(None)  # the JVM is already up: nothing to launch
    spark_home = _find_spark_home()
    cache = _cache_dir()
    heap = _heap_bytes(driver_memory)
    if heap is not None and heap >= _OOPS_HEAP:
        reason = f"a {driver_memory} driver heap turns compressed oops off"
    else:
        reason = conf_gate(spark_home, os.environ) or _prepare(cache)
    if not reason:
        try:
            key = fingerprint(spark_home, os.environ.get("JAVA_HOME"))
        except OSError as e:
            reason = f"cannot fingerprint the JDK and Spark jars: {e}"
    if reason:
        _without(reason)
        return build(None)
    jsa = os.path.join(cache, f"{key}.jsa")
    tmp = os.path.join(cache, f"{key}.{os.getpid()}.tmp")
    log = os.path.join(cache, f"{key}.{os.getpid()}.log")
    use = os.path.isfile(jsa)
    archive = f"-XX:SharedArchiveFile={jsa}" if use else f"-XX:ArchiveClassesAtExit={tmp}"
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = os.path.join(cache, "conf")
    try:
        # CDS warnings go to the log, never to the program's stdout
        spark = build(f"{archive} -Xlog:cds*=off -Xlog:cds*=warning,cds=info:file={log}")
    except Exception:
        if SparkContext._gateway is not None:
            raise  # the JVM started, so the archive is not the cause
        spark = None
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if spark is None:
        _remove(jsa, tmp, log)
        _without(f"the driver JVM failed to start with archive {jsa}; deleted it" if use
                 else "the driver JVM failed to start in archive-training mode")
        return build(None)
    if not use:
        _state = "trained"
        atexit.register(_promote, SparkContext._gateway, tmp, jsa, log)
        return spark
    try:
        with open(log, errors="replace") as f:
            mapped = _MAPPED in f.read()
    except OSError:
        mapped = False
    _remove(log)
    if mapped:
        _state = "used"
    else:
        _remove(jsa)
        _without(f"archive {jsa} did not map (stale or corrupt); deleted it")
    return spark


def _promote(gateway, tmp: str, jsa: str, log: str) -> None:
    """At exit: stop the session, let the JVM write its archive, and
    promote the archive only if the JVM exited 0."""
    sc = SparkContext._active_spark_context
    try:
        if sc is not None:
            sc.stop()
        gateway.shutdown()
    except Exception as e:  # closing stdin below still ends the JVM
        _log.debug("stopping the session before the archive dump: %s", e)
    proc = gateway.proc
    proc.stdin.close()
    try:
        code = proc.wait(timeout=_EXIT_WAIT_S)
    except subprocess.TimeoutExpired:
        code = f"still running after {_EXIT_WAIT_S} s"
    if code == 0 and os.path.isfile(tmp) and os.path.getsize(tmp) > 0:
        os.replace(tmp, jsa)
        for other in glob.glob(os.path.join(os.path.dirname(jsa), "*.jsa")):
            if other != jsa:
                _remove(other)
        _remove(log)
        return
    _remove(tmp)
    _log.warning("driver JVM wrote no class-data archive (exit: %s); see %s", code, log)
