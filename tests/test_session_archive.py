"""The class-data-sharing archive a JVM-launching ``get_spark()`` creates at
exit and maps on every later start.

Every session here runs in a Python subprocess of its own, with
``XDG_CACHE_HOME`` pointed at a directory of the test's, so the archive
under test belongs to the test alone.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

from cartodb_importer_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

START = """
import json, sys
from cartodb_importer_spark.session import get_spark
spark = get_spark(app_name="archive-test", shuffle_partitions=1,
                  extra_conf=json.loads(sys.argv[1]))
assert spark.range(100).selectExpr("sum(id)").collect()[0][0] == 4950
sc = spark.sparkContext
print("RESULT " + json.dumps({
    "jvm_pid": sc._gateway.proc.pid,
    "class_path": sc._jvm.System.getProperty("java.class.path"),
    "probe": spark.conf.get("spark.cartodb.probe", None),
    "java_options": sc.getConf().get("spark.driver.defaultJavaOptions", ""),
}))
"""


def _start(cache, conf=None, env=None) -> tuple[dict, list[str]]:
    """Start a session in a subprocess; its RESULT and every other stdout line."""
    full_env = {**os.environ, "XDG_CACHE_HOME": str(cache), "SPARK_DRIVER_MEMORY": "1g",
                "SPARK_GRAFT_CPUS": "1", **(env or {})}
    full_env.pop("PYSPARK_GATEWAY_PORT", None)
    proc = subprocess.run(
        [sys.executable, "-c", START, json.dumps(conf or {})],
        cwd=ROOT, env=full_env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    result = [json.loads(x[len("RESULT "):]) for x in lines if x.startswith("RESULT ")]
    assert len(result) == 1, proc.stdout[-3000:]
    return result[0], [x for x in lines if not x.startswith("RESULT ")]


def _archives(cache) -> list[str]:
    return glob.glob(os.path.join(str(cache), "cartodb_importer_spark", "*.jsa"))


def _mapped_classes(log: str) -> int:
    """Spark classes a ``-Xlog:class+load`` file says came from the archive."""
    with open(log) as f:
        return sum("org.apache.spark." in x and "shared objects file (top)" in x for x in f)


@pytest.fixture(scope="module")
def created(tmp_path_factory):
    """A cache holding the archive one creating start wrote; that start's
    RESULT and stray stdout lines."""
    cache = tmp_path_factory.mktemp("cache")
    result, stray = _start(cache)
    return cache, result, stray


def test_creating_start_is_quiet_and_leaves_no_jvm(created):
    cache, result, stray = created
    assert not any("[cds]" in x for x in stray), stray[:5]
    assert "-XX:ArchiveClassesAtExit=" in result["java_options"]
    # the exit hook waited for the JVM: nothing outlives the interpreter
    assert not session._running(result["jvm_pid"])
    (archive,) = _archives(cache)
    size = int(os.path.basename(archive)[: -len(".jsa")].split("-")[1])
    assert os.path.getsize(archive) == size > 0
    d = os.path.join(str(cache), "cartodb_importer_spark")
    assert sorted(os.listdir(d)) == sorted(["conf", os.path.basename(archive)])
    assert os.listdir(os.path.join(d, "conf")) == []


def test_second_start_loads_spark_classes_from_the_archive(created, tmp_path):
    cache, _, _ = created
    log = str(tmp_path / "classes.log")
    # extraJavaOptions adds to the engine's flags, which ride
    # spark.driver.defaultJavaOptions
    result, stray = _start(
        cache, {"spark.driver.extraJavaOptions": f"-Xlog:class+load=info:file={log}"})
    assert "-XX:SharedArchiveFile=" in result["java_options"]
    assert _mapped_classes(log) > 1000
    assert stray == []


def test_truncated_temp_archive_is_never_published(created, tmp_path, monkeypatch):
    cache, result, _ = created
    (good,) = _archives(cache)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    archive = session._ClassArchive.prepare()
    assert archive is not None and archive.published is None
    with open(good, "rb") as src, open(archive.temp, "wb") as dst:
        dst.write(src.read(os.path.getsize(good) // 3))
    exited = subprocess.Popen(["true"], stdin=subprocess.PIPE)
    # the hook of a start whose JVM exited with 0 but left a cut file
    archive._exit(exited, result["class_path"])
    # nor is the throwaway JVM's crash report left behind
    assert os.listdir(archive.cache) == ["conf"]


def test_archive_whose_size_changed_is_not_mapped(created, tmp_path):
    cache, _, _ = created
    (good,) = _archives(cache)
    d = tmp_path / "cartodb_importer_spark"
    d.mkdir()
    cut = d / os.path.basename(good)
    with open(good, "rb") as src:
        cut.write_bytes(src.read(os.path.getsize(good) // 2))
    # and a dead start's leftover temp file
    dead = d / f"{os.path.basename(good).split('-')[0]}.999999999.tmp"
    dead.write_bytes(b"\0" * 4096)
    log = str(tmp_path / "classes.log")
    result, _ = _start(
        tmp_path, {"spark.driver.extraJavaOptions": f"-Xlog:class+load=info:file={log}"})
    assert "-XX:SharedArchiveFile=" not in result["java_options"]
    assert _mapped_classes(log) == 0
    # the start wrote a complete archive at exit, which replaced both files
    (fresh,) = _archives(tmp_path)
    assert os.path.getsize(fresh) == int(fresh[: -len(".jsa")].split("-")[-1])
    assert not dead.exists()


def test_real_conf_dir_gets_no_archive_and_applies(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.cartodb.probe 42\n")
    result, _ = _start(tmp_path / "cache", env={"SPARK_CONF_DIR": str(conf)})
    assert result["probe"] == "42"
    assert result["java_options"] == ""
    assert result["class_path"].startswith(str(conf))
    assert _archives(tmp_path / "cache") == []
