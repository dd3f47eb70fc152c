"""Session defaults sized from the machine."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest
from pyspark import SparkContext

from fluent_bit_spark.session import (_pid_alive, cds_dir, cds_key,
                                      default_driver_memory, driver_cds)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_default_driver_memory_is_half_of_ram(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       15728640 kB\n"
                       "MemFree:         1048576 kB\n")
    assert default_driver_memory(str(meminfo)) == "7680m"
    meminfo.write_text("MemTotal:         524288 kB\n")
    assert default_driver_memory(str(meminfo)) == "1024m"


def test_default_driver_memory_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "absent")) == "4g"


def test_session_enables_the_aqe_rules_the_sink_rebalance_needs(spark):
    """The staged sink write's REBALANCE hint sizes its files only under
    AQE, and splits a skewed (sink, source) group only with the
    rebalance skew rule on."""
    for key in ("spark.sql.adaptive.enabled",
                "spark.sql.adaptive.optimizeSkewsInRebalancePartitions"
                ".enabled"):
        assert spark.conf.get(key) == "true", key


# -- class-data-sharing archive for the driver JVM --------------------------


@pytest.fixture
def fake_install(tmp_path, monkeypatch):
    """A SPARK_HOME whose conf dir holds only templates, a JAVA_HOME with
    a release file, a fresh cache, and no JVM running."""
    spark_home, java_home = tmp_path / "spark", tmp_path / "jdk"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "jars" / "spark-core.jar").write_bytes(b"core")
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("")
    java_home.mkdir()
    (java_home / "release").write_text('JAVA_VERSION="17.0.20"\n')
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("JAVA_HOME", str(java_home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for k in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
              "SPARK_DIST_CLASSPATH", "PYSPARK_GATEWAY_PORT"):
        monkeypatch.delenv(k, raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    return spark_home, java_home


def test_cds_key_changes_with_the_install(fake_install):
    spark_home, java_home = map(str, fake_install)
    jar = os.path.join(spark_home, "jars", "spark-core.jar")
    keys = [cds_key(spark_home, java_home)]
    assert cds_key(spark_home, java_home) == keys[0]
    with open(os.path.join(spark_home, "jars", "extra.jar"), "wb") as f:
        f.write(b"x")
    keys.append(cds_key(spark_home, java_home))
    st = os.stat(jar)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    keys.append(cds_key(spark_home, java_home))
    with open(os.path.join(java_home, "release"), "w") as f:
        f.write('JAVA_VERSION="17.0.21"\n')
    keys.append(cds_key(spark_home, java_home))
    keys.append(cds_key(spark_home, java_home, "/opt/extra.jar"))
    assert len(set(keys)) == len(keys)


@pytest.mark.parametrize("real_file", ["spark-defaults.conf",
                                       "log4j2.properties", "spark-env.sh"])
@pytest.mark.parametrize("conf_env", [False, True])
def test_cds_never_hides_a_real_conf_file(fake_install, tmp_path,
                                          monkeypatch, real_file, conf_env):
    spark_home, _ = fake_install
    conf_dir = spark_home / "conf"
    if conf_env:
        conf_dir = tmp_path / "myconf"
        conf_dir.mkdir()
        monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    (conf_dir / real_file).write_text("spark.foo bar\n")
    with driver_cds({}) as opts:
        assert opts is None
        assert os.environ.get("SPARK_CONF_DIR") == (
            str(conf_dir) if conf_env else None)
    assert os.environ.get("SPARK_CONF_DIR") == (
        str(conf_dir) if conf_env else None)


@pytest.mark.parametrize("preset", [None, "templates"])
def test_cds_redirects_a_templates_only_conf_dir(fake_install, tmp_path,
                                                 monkeypatch, preset):
    spark_home, _ = fake_install
    if preset:
        monkeypatch.setenv("SPARK_CONF_DIR", str(spark_home / "conf"))
    before = dict(os.environ)
    with driver_cds({}) as opts:
        assert "-XX:ArchiveClassesAtExit=" in opts
        assert "-Xlog:cds*=off" in opts
        redirected = os.environ["SPARK_CONF_DIR"]
        assert redirected.startswith(cds_dir())
        assert os.listdir(redirected) == []
    assert dict(os.environ) == before
    # once the archive is in place, later launches map it
    key = cds_key(str(spark_home), os.environ["JAVA_HOME"])
    archive = os.path.join(cds_dir(), f"{key}.jsa")
    open(archive, "wb").close()
    with driver_cds({}) as opts:
        assert f"-XX:SharedArchiveFile={archive} " in opts
    assert dict(os.environ) == before


def test_cds_not_used_when_a_jvm_runs_or_options_are_set(fake_install,
                                                         monkeypatch):
    with driver_cds({"spark.driver.defaultJavaOptions": "-Xss4m"}) as opts:
        assert opts is None
    with driver_cds({"spark.driver.extraJavaOptions": "-Xss4m -Xshare:off"}
                    ) as opts:
        assert opts is None
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "4040")
    with driver_cds({}) as opts:
        assert opts is None
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT")
    monkeypatch.setattr(SparkContext, "_gateway", object())
    with driver_cds({}) as opts:
        assert opts is None
    assert "SPARK_CONF_DIR" not in os.environ


_CDS_CHILD = """
import json, sys
from fluent_bit_spark.session import get_spark
spark = get_spark(app_name="cds-probe", master="local[2]",
                  extra_conf={"spark.driver.memory": "1g"})
pid = spark._jvm.java.lang.ProcessHandle.current().pid()
with open(f"/proc/{pid}/maps") as f:
    maps = sorted({l.split()[-1] for l in f if l.rstrip().endswith(".jsa")})
print(json.dumps({"pid": pid, "count": spark.range(10).count(),
                  "maps": maps}))
"""


def _cds_child(env: dict[str, str]) -> tuple[dict, str]:
    # from the scratch dir: a JVM that dies leaves its crash log there
    out = subprocess.run([sys.executable, "-c", _CDS_CHILD], env=env,
                         cwd=os.path.dirname(env["XDG_CACHE_HOME"]),
                         stdout=subprocess.PIPE, timeout=300,
                         check=True, text=True).stdout
    return json.loads(out.splitlines()[-1]), out


def test_cds_archive_built_once_then_mapped_and_a_corrupt_one_ignored(
        tmp_path):
    env = {**os.environ, "XDG_CACHE_HOME": str(tmp_path / "cache"),
           "PYTHONPATH": os.pathsep.join(filter(None, (
               REPO, os.environ.get("PYTHONPATH"))))}
    env.pop("SPARK_CONF_DIR", None)
    cds = tmp_path / "cache" / "fluent_bit_spark" / "cds"

    first, out = _cds_child(env)
    assert first["count"] == 10
    archives = glob.glob(str(cds / "*.jsa"))
    assert len(archives) == 1, os.listdir(cds)
    archive = archives[0]
    assert not glob.glob(str(cds / "*.tmp"))
    assert not _pid_alive(first["pid"])
    assert "[cds" not in out

    second, out = _cds_child(env)
    assert second["count"] == 10
    assert archive in second["maps"]
    assert "[cds" not in out
    assert os.path.exists(archive)

    with open(archive, "rb") as f:
        head = f.read(1 << 20)
    os.remove(archive)
    with open(archive, "wb") as f:
        f.write(os.urandom(4096))
    third, _ = _cds_child(env)
    assert third["count"] == 10
    assert archive not in third["maps"]
    # the JVM refused it, so it is gone and the next session rebuilds
    assert not os.path.exists(archive)

    # an archive cut short behind its valid header is mapped, and the
    # JVM dies (SIGBUS): the archive is deleted and the launch retried
    # without it, and the session after that rebuilds it
    with open(archive, "wb") as f:
        f.write(head)
    fourth, _ = _cds_child(env)
    assert fourth["count"] == 10
    assert archive not in fourth["maps"]
    assert not os.path.exists(archive)
    fifth, _ = _cds_child(env)
    assert fifth["count"] == 10
    assert os.path.exists(archive)
