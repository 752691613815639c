"""Driver JVM start-up: the class-data archive and the local core count.

The archive tests run fresh Python processes, because a driver JVM is
launched once per process and the test session's JVM is already up.
Each process gets its own ``XDG_CACHE_HOME`` and a 1 GB, one-core
driver.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.find_spark_home import _find_spark_home

from pandas_spark import _jvmstart, session

# SparkContext itself exports these two into os.environ on every start
_PYSPARK_OWN_ENV = {"SPARK_AUTH_SOCKET_TIMEOUT", "SPARK_BUFFER_SIZE"}

# four threads race to the first get_spark: one launches, and the
# SPARK_CONF_DIR swap around that launch must not leak to the others
_SCRIPT = """
import os, threading
before = dict(os.environ)
from pandas_spark import _jvmstart, get_spark
sessions = []
threads = [threading.Thread(target=lambda: sessions.append(get_spark("jvm_start")))
           for _ in range(4)]
for t in threads:
    t.start()
for t in threads:
    t.join(timeout=300)
after = dict(os.environ)
spark = sessions[0]
print("SESSIONS", len(sessions))
print("COUNT", spark.range(3).count())
print("STATE", _jvmstart.state())
print("ENV_CHANGED", ",".join(sorted(k for k in before.keys() | after.keys()
                                     if before.get(k) != after.get(k))))
"""


def _run(cache, cwd, conf_dir=None):
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR")
           and not k.startswith("SPARK_GRAFT_")}
    env.update(XDG_CACHE_HOME=str(cache), PYTHONPATH=ROOT,
               SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    if conf_dir is not None:
        env["SPARK_CONF_DIR"] = str(conf_dir)
    proc = subprocess.run([sys.executable, "-c", _SCRIPT], cwd=cwd, env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = dict(line.partition(" ")[::2] for line in proc.stdout.splitlines()
               if line.partition(" ")[0] in ("SESSIONS", "COUNT", "STATE", "ENV_CHANGED"))
    return out, proc.stderr


def _cds_dir(cache):
    return os.path.join(cache, "pandas_spark", "cds")


@pytest.fixture(scope="module")
def two_starts(tmp_path_factory):
    """Process 1 on an empty cache (SPARK_CONF_DIR set to a
    templates-only dir), then process 2 (SPARK_CONF_DIR unset)."""
    cache = tmp_path_factory.mktemp("xdg")
    conf = tmp_path_factory.mktemp("conf")
    (conf / "spark-defaults.conf.template").write_text("")
    first, _ = _run(cache, cache, conf_dir=conf)
    files = sorted(os.listdir(_cds_dir(cache)))
    second, _ = _run(cache, cache)
    return cache, first, files, second


def test_fingerprint_tracks_jar_size_and_mtime(tmp_path):
    jars = tmp_path / "jars"
    jars.mkdir()
    jar = jars / "spark-core.jar"
    jar.write_bytes(b"x" * 10)
    home = str(tmp_path)
    key = _jvmstart.fingerprint(home, None)
    assert _jvmstart.fingerprint(home, None) == key
    st = os.stat(jar)
    jar.write_bytes(b"y" * 11)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns))
    resized = _jvmstart.fingerprint(home, None)
    assert resized != key
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert _jvmstart.fingerprint(home, None) not in (key, resized)


def test_conf_gate_accepts_templates_only(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    for name in ("spark-defaults.conf.template", "log4j2.properties.template"):
        (conf / name).write_text("")
    assert _jvmstart.conf_gate(str(tmp_path), {"SPARK_CONF_DIR": str(conf)}) is None
    # no SPARK_CONF_DIR: $SPARK_HOME/conf is the one that counts
    assert _jvmstart.conf_gate(str(tmp_path), {}) is None
    (conf / "spark-defaults.conf").write_text("spark.driver.memory 2g\n")
    reason = _jvmstart.conf_gate(str(tmp_path), {})
    assert reason is not None and "spark-defaults.conf" in reason
    assert "template" not in reason


def test_conf_gate_refuses_non_empty_hadoop_conf(tmp_path):
    hadoop = tmp_path / "hadoop"
    hadoop.mkdir()
    env = {"HADOOP_CONF_DIR": str(hadoop)}
    assert _jvmstart.conf_gate(str(tmp_path), env) is None
    (hadoop / "core-site.xml").write_text("<configuration/>")
    assert "HADOOP_CONF_DIR" in _jvmstart.conf_gate(str(tmp_path), env)


def test_shuffle_partitions_follow_cpu_affinity(monkeypatch):
    monkeypatch.setattr(os, "cpu_count", lambda: 64)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(12)))
    assert session._shuffle_partitions("*") == 12
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1})
    assert session._shuffle_partitions("*") == 2  # no floor above the cores
    assert session._shuffle_partitions("3") == 3


def test_first_process_trains_one_archive(two_starts):
    cache, first, files, _ = two_starts
    assert first["COUNT"] == "3"
    assert first["STATE"] == "trained"
    assert [f for f in files if f.endswith(".jsa")] == [
        _jvmstart.fingerprint(_find_spark_home(), os.environ.get("JAVA_HOME")) + ".jsa"
    ]
    assert not [f for f in files if f.endswith(".tmp")]


def test_second_process_maps_the_archive(two_starts):
    cache, _, _, second = two_starts
    if _jvmstart.conf_gate(_find_spark_home(), {}) is not None:
        pytest.skip("this box's $SPARK_HOME/conf rules the archive out")
    assert second["COUNT"] == "3"
    assert second["STATE"] == "used"
    assert not [f for f in os.listdir(_cds_dir(cache)) if f.endswith((".tmp", ".log"))]


def test_get_spark_leaves_environment_as_it_found_it(two_starts):
    _, first, _, second = two_starts
    for run in (first, second):
        assert run["SESSIONS"] == "4"
        changed = set(run["ENV_CHANGED"].split(",")) - {""}
        assert changed <= _PYSPARK_OWN_ENV, changed


def test_truncated_archive_falls_back_and_is_deleted(two_starts, tmp_path):
    trained, _, files, _ = two_starts
    name = next(f for f in files if f.endswith(".jsa"))
    with open(os.path.join(_cds_dir(trained), name), "rb") as f:
        head = f.read(os.path.getsize(f.name) // 2)
    cache = tmp_path / "xdg"
    os.makedirs(_cds_dir(cache))
    (cache / "pandas_spark" / "cds" / name).write_bytes(head)
    conf = tmp_path / "conf"
    conf.mkdir()
    out, err = _run(cache, tmp_path, conf_dir=conf)
    assert out["COUNT"] == "3"
    # the JVM dies (SIGBUS) mapping a region cut short
    assert out["STATE"].startswith("skipped: the driver JVM failed to start with archive")
    lines = [line for line in err.splitlines() if "without its class-data archive" in line]
    assert len(lines) == 1 and name in lines[0]
    assert not os.path.exists(os.path.join(_cds_dir(cache), name))


def test_unmappable_archive_is_reported_and_deleted(two_starts, tmp_path):
    # a file with no archive header: the JVM starts and maps nothing
    _, _, files, _ = two_starts
    name = next(f for f in files if f.endswith(".jsa"))
    cache = tmp_path / "xdg"
    os.makedirs(_cds_dir(cache))
    (cache / "pandas_spark" / "cds" / name).write_bytes(b"\0" * 4096)
    conf = tmp_path / "conf"
    conf.mkdir()
    out, err = _run(cache, tmp_path, conf_dir=conf)
    assert out["COUNT"] == "3"
    assert out["STATE"].startswith("skipped: archive ") and "did not map" in out["STATE"]
    lines = [line for line in err.splitlines() if "without its class-data archive" in line]
    assert len(lines) == 1 and name in lines[0]
    assert not os.path.exists(os.path.join(_cds_dir(cache), name))
