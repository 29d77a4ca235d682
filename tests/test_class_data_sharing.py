"""The driver JVM's class-data-sharing archive (``session._class_data_sharing``).

The flag decision is checked against a fake Spark home and JDK with no
JVM; one end-to-end test then runs three fresh driver processes over
one cache directory: the first dumps and promotes an archive, the
second maps it, the third finds it truncated and still starts.
"""

from __future__ import annotations

import io
import os
import subprocess
import sys
import warnings
from pathlib import Path
from types import SimpleNamespace

import pytest

from pyspark import SparkContext

from impala_cut_spark import session
from impala_cut_spark.session import ENGINE_CONF, build_session

REPO = Path(__file__).resolve().parent.parent
CONF = {
    "spark.driver.memory": "4g",
    "spark.driver.extraJavaOptions": ENGINE_CONF["spark.driver.extraJavaOptions"],
}


@pytest.fixture
def host(tmp_path, monkeypatch):
    """A Spark home whose conf dir holds only templates, a JDK, an empty
    cache, and no gateway: the decision reads only their listings."""
    spark_home, jdk = tmp_path / "spark", tmp_path / "jdk"
    for d in (spark_home / "jars", spark_home / "conf", jdk / "lib"):
        d.mkdir(parents=True)
    (spark_home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("# spark.master\n")
    (jdk / "lib" / "modules").write_bytes(b"modules")
    for k in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT", "PYSPARK_SUBMIT_ARGS", *session._CLASS_PATH_ENV):
        monkeypatch.delenv(k, raising=False)
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setattr(SparkContext, "_gateway", None)
    return SimpleNamespace(conf_dir=spark_home / "conf", cds=tmp_path / "cache" / "impala_cut_spark" / "cds")


class _Gateway:
    """The gateway process as ``_promote`` sees it."""

    def __init__(self, status: int):
        self.stdin, self.status = io.BytesIO(), status

    def wait(self, timeout: float) -> int:
        assert self.stdin.closed  # EOF is what ends the gateway
        return self.status


def _dump(host, status: int = 0) -> Path:
    """Plan a dump, write it as the JVM would, and run the exit hook."""
    flag, stem, tmp = session._cds_plan(dict(CONF))
    assert flag == f"-XX:ArchiveClassesAtExit={tmp}"
    assert stem.with_suffix(".lock").read_text() == str(os.getpid())
    tmp.write_bytes(b"x" * 1000)
    session._promote(_Gateway(status), tmp, stem)
    assert {p.name for p in host.cds.iterdir()} == (
        {"conf", f"{stem.name}.1000.jsa"} if status == 0 else {"conf"}
    )
    return stem


def test_no_archive_and_free_lock_dumps_and_promotes(host):
    stem = _dump(host)
    flag, _, tmp = session._cds_plan(dict(CONF))
    assert (flag, tmp) == (f"-XX:SharedArchiveFile={stem}.1000.jsa", None)


def test_a_failed_jvm_exit_promotes_nothing(host):
    _dump(host, status=1)
    assert session._cds_plan(dict(CONF))[0].startswith("-XX:ArchiveClassesAtExit=")


def test_held_lock_means_no_flag(host):
    _, stem, _ = session._cds_plan(dict(CONF))
    stem.with_suffix(".lock").write_text(str(os.getppid()))  # a live holder
    assert session._cds_plan(dict(CONF)) is None


def test_stale_lock_is_reclaimed_with_its_dump(host):
    _, stem, _ = session._cds_plan(dict(CONF))
    dead = subprocess.Popen(["true"])
    dead.wait()
    stem.with_suffix(".lock").write_text(str(dead.pid))
    Path(f"{stem}.{dead.pid}.tmp").write_bytes(b"half a dump")
    flag, _, tmp = session._cds_plan(dict(CONF))
    assert flag == f"-XX:ArchiveClassesAtExit={tmp}"
    assert stem.with_suffix(".lock").read_text() == str(os.getpid())
    assert not Path(f"{stem}.{dead.pid}.tmp").exists()


def test_truncated_archive_is_dropped_and_redumped(host):
    stem = _dump(host)
    os.rename(f"{stem}.1000.jsa", f"{stem}.2000.jsa")  # its name records 2000 bytes
    assert session._cds_plan(dict(CONF))[0].startswith("-XX:ArchiveClassesAtExit=")
    assert not Path(f"{stem}.2000.jsa").exists()


@pytest.mark.parametrize("preset", [False, True])
def test_templates_only_conf_dir_is_swapped_for_the_launch_only(host, monkeypatch, preset):
    _dump(host)
    if preset:
        monkeypatch.setenv("SPARK_CONF_DIR", str(host.conf_dir))
    with session._class_data_sharing(dict(CONF)) as opts:
        assert os.environ["SPARK_CONF_DIR"] == str(host.cds / "conf")
        assert opts.startswith('"-XX:SharedArchiveFile=') and "-Xlog:cds*=off" in opts
    assert os.environ.get("SPARK_CONF_DIR") == (str(host.conf_dir) if preset else None)
    assert list((host.cds / "conf").iterdir()) == []


@pytest.mark.parametrize(
    "case", ["spark-defaults.conf", "log4j2.properties", "HADOOP_CONF_DIR", "spark.driver.extraClassPath"]
)
def test_other_class_path_directories_mean_no_flag_and_no_swap(host, monkeypatch, tmp_path, case):
    _dump(host)
    conf = dict(CONF)
    if case == "HADOOP_CONF_DIR":
        monkeypatch.setenv(case, str(tmp_path))
    elif case.startswith("spark."):
        conf[case] = str(tmp_path)
    else:
        (host.conf_dir / case).write_text("")
    with session._class_data_sharing(conf) as opts:
        assert opts is None
        assert "SPARK_CONF_DIR" not in os.environ


@pytest.mark.parametrize("case", ["PYSPARK_GATEWAY_PORT", "-Xshare:off", "live gateway"])
def test_an_existing_gateway_or_caller_cds_flag_means_no_flag(host, monkeypatch, case):
    _dump(host)
    conf = dict(CONF)
    if case == "PYSPARK_GATEWAY_PORT":
        monkeypatch.setenv(case, "25333")
    elif case == "live gateway":
        monkeypatch.setattr(SparkContext, "_gateway", object())
    else:
        conf["spark.driver.extraJavaOptions"] += f" {case}"
    assert session._cds_plan(conf) is None


def test_key_carries_the_compressed_oops_mode(host):
    """A 4 GB heap uses compressed oops and a 32 GB one does not; the JDK
    rejects an archive dumped under the other mode."""

    def stem(memory: str) -> str:
        plan = session._cds_plan({**CONF, "spark.driver.memory": memory})
        plan[1].with_suffix(".lock").unlink()
        return plan[1].name

    assert stem("4g") == stem("4096m") == stem("31g")
    assert stem("32g") == stem("32768m") != stem("4g")


def test_reusing_a_live_context_adds_no_flag(spark, monkeypatch):
    def unreachable(conf):
        raise AssertionError("the archive decision ran for a live context")

    monkeypatch.setattr(session, "_class_data_sharing", unreachable)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        again = build_session(
            app_name="impala-cut-spark-tests",
            master="local[8]",
            shuffle_partitions=8,
            extra_conf={"spark.sql.warehouse.dir": spark.conf.get("spark.sql.warehouse.dir")},
        )
    assert again is spark


_CHILD = """
import sys
from impala_cut_spark.session import build_session
spark = build_session(master="local[1]", shuffle_partitions=1, extra_conf=dict(a.split("=", 1) for a in sys.argv[1:]))
print("answer", spark.sql("SELECT 1").collect()[0][0])
"""


def test_three_fresh_drivers_dump_map_and_survive_a_truncated_archive(tmp_path):
    env = {
        **{k: v for k, v in os.environ.items() if k != "PYSPARK_GATEWAY_PORT"},
        "XDG_CACHE_HOME": str(tmp_path / "cache"),
        "SPARK_DRIVER_MEM": "1g",
        "PYTHONPATH": str(REPO),
    }
    cds = tmp_path / "cache" / "impala_cut_spark" / "cds"

    def driver(*conf: str) -> None:
        r = subprocess.run(
            [sys.executable, "-c", _CHILD, *conf], env=env, cwd=tmp_path, capture_output=True, text=True, timeout=600
        )
        assert r.returncode == 0, r.stderr[-3000:]
        assert r.stdout.splitlines() == ["answer 1"]  # no JVM log line on stdout

    driver()
    (archive,) = cds.glob("*.jsa")
    assert {p.name for p in cds.iterdir()} == {"conf", archive.name}  # no lock, no tmp

    log = tmp_path / "class-load.log"
    driver(f"spark.driver.extraJavaOptions=-Xlog:class+load=info:file={log}")
    assert "org.apache.spark.sql.classic.SparkSession source: shared objects file (top)" in log.read_text()

    archive.chmod(0o644)
    with open(archive, "r+b") as f:
        f.truncate(archive.stat().st_size // 2)
    driver()
    assert all(a.name.split(".")[1] == str(a.stat().st_size) for a in cds.glob("*.jsa"))
