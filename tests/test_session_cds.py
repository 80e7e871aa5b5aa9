"""The driver JVM's class-data-sharing archive in ``session.get_spark``.

The pure cases fake the JDK, the Spark home and the checkout and start
no JVM. One round trip runs two real driver processes against a
temporary checkout that has launched once: the first dumps the archive,
the second maps it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pytest
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

from ursa_major_choir_etl_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE = os.path.join(ROOT, "tests", "fixtures", "raw_wide.csv")
OPTS = "spark.driver.extraJavaOptions"


@pytest.fixture
def host(tmp_path, monkeypatch):
    """A fake JDK and Spark home, and a fresh checkout's archive dir."""
    jdk = tmp_path / "jdk"
    jdk.mkdir()
    (jdk / "release").write_text('JAVA_VERSION="17.0.20"\n')
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "conf").mkdir()
    (spark_home / "jars" / "spark-core.jar").write_bytes(b"x" * 10)
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
    cds = tmp_path / "checkout" / ".spark-cds"
    monkeypatch.setattr(session, "CDS_DIR", str(cds))
    return SimpleNamespace(jdk=jdk, jars=spark_home / "jars", conf=spark_home / "conf", cds=cds)


def _archive(host) -> str:
    key = session._cds_key(str(host.jdk), str(host.jars), str(host.cds / "conf"))
    return str(host.cds / f"{key}.jsa")


class TestKey:
    def test_key_follows_jars_jvm_and_conf_dir(self, host, tmp_path):
        def key(jdk=host.jdk, conf_dir="/c"):
            return session._cds_key(str(jdk), str(host.jars), conf_dir)

        keys = [key()]
        assert key() == keys[0]
        (host.jars / "extra.jar").write_bytes(b"y")
        keys.append(key())
        (host.jars / "extra.jar").write_bytes(b"yy")
        keys.append(key())
        (host.jdk / "release").write_text('JAVA_VERSION="17.0.21"\n')
        keys.append(key())
        other_jdk = tmp_path / "jdk2"
        shutil.copytree(host.jdk, other_jdk)
        keys.append(key(jdk=other_jdk))
        keys.append(key(conf_dir="/d"))
        assert len(set(keys)) == len(keys)


MAGIC = (0xF00BABA8).to_bytes(4, "little")


def _write(path, data: bytes) -> None:
    with open(path, "wb") as f:
        f.write(data)


def _exited_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


class TestOption:
    def test_fresh_checkout_launches_plain_then_dumps_into_an_empty_conf_dir(self, host):
        archive = _archive(host)
        assert session._cds_option({}) is None
        assert set(os.listdir(host.cds)) == {"conf", os.path.basename(archive)[:-4] + ".seen"}
        assert session._cds_option({}) == f'-XX:ArchiveClassesAtExit="{archive}" -Xlog:cds*=off'
        assert os.listdir(host.cds / "conf") == []
        # the dumping JVM still runs: its file has no magic yet
        assert os.path.getsize(archive) == 0
        with open(archive[:-4] + ".pid") as f:
            assert int(f.read()) == os.getpid()

    @pytest.mark.parametrize("head", [b"", b"\0" * 64], ids=["placeholder", "dump-in-progress"])
    def test_dump_in_progress_is_left_alone(self, host, head):
        """A launch while the dumping process runs is plain, writes no
        failure and keeps the dump's file."""
        archive = _archive(host)
        session._cds_option({})
        session._cds_option({})  # records this (live) process as the dumper
        _write(archive, head)
        before = sorted(os.listdir(host.cds))
        for _ in range(2):
            assert session._cds_option({}) is None
        assert sorted(os.listdir(host.cds)) == before
        assert not os.path.exists(archive[:-4] + ".failed")
        with open(archive, "rb") as f:
            assert f.read() == head

    def test_archive_with_magic_is_used(self, host):
        session._cds_option({})
        session._cds_option({})
        _write(_archive(host), MAGIC + b"\0" * 60)
        for _ in range(2):
            assert session._cds_option({}) == f'-XX:SharedArchiveFile="{_archive(host)}" -Xlog:cds*=off'
        assert set(os.listdir(host.cds)) == {"conf", os.path.basename(_archive(host))}

    @pytest.mark.parametrize(
        "head", [b"\0" * 64, b"", b"\xa8\xab"], ids=["zero-filled", "empty", "half-written"]
    )
    def test_failed_dump_is_retried_once(self, host, head):
        archive = _archive(host)
        failed = archive[:-4] + ".failed"
        session._cds_option({})
        assert session._cds_option({}).startswith("-XX:ArchiveClassesAtExit=")
        _write(archive, head)
        session._record_dumper(archive, _exited_pid())
        assert session._cds_option({}) is None
        assert not os.path.exists(archive) and os.path.exists(failed)
        assert session._cds_option({}).startswith("-XX:ArchiveClassesAtExit=")
        _write(archive, head)
        session._record_dumper(archive, _exited_pid())
        for _ in range(3):
            assert session._cds_option({}) is None
        with open(archive, "rb") as f:
            assert f.read() == head

    @pytest.mark.parametrize("change", [
        "SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
        "defaults_file", "submit_args", "spark.jars", "spark.jars.packages",
        "spark.driver.extraClassPath",
    ])
    def test_changed_conf_dir_or_classpath_means_no_archive(self, host, monkeypatch, tmp_path, change):
        conf = {}
        if change.isupper():
            monkeypatch.setenv(change, str(tmp_path))
        elif change == "defaults_file":
            (host.conf / "spark-defaults.conf").write_text("spark.x 1\n")
        elif change == "submit_args":
            monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--jars a.jar pyspark-shell")
        else:
            conf[change] = "a.jar"
        assert session._cds_option(conf) is None
        assert not host.cds.exists()

    def test_unwritable_archive_dir_means_no_archive(self, host, monkeypatch, tmp_path):
        blocker = tmp_path / "not-a-dir"
        blocker.write_text("")
        monkeypatch.setattr(session, "CDS_DIR", str(blocker / ".spark-cds"))
        assert session._cds_option({}) is None


class TestDumperRecord:
    """The ``<key>.pid`` record that tells a dump in progress from a
    failed one."""

    @pytest.mark.parametrize(
        "record, runs",
        [(None, False), ("live", True), ("exited", False), ("not-a-pid", False)],
        ids=["no-record", "live", "exited", "garbage"],
    )
    def test_dumper_runs(self, tmp_path, record, runs):
        archive = str(tmp_path / "k.jsa")
        if record == "live":
            session._record_dumper(archive, os.getpid())
        elif record == "exited":
            session._record_dumper(archive, _exited_pid())
        elif record is not None:
            (tmp_path / "k.pid").write_text(record)
        assert session._dumper_runs(archive) is runs

    def test_record_replaces_the_previous_dumper(self, tmp_path):
        archive = str(tmp_path / "k.jsa")
        session._record_dumper(archive, _exited_pid())
        session._record_dumper(archive, os.getpid())
        assert os.listdir(tmp_path) == ["k.pid"]  # no temporary file left
        assert (tmp_path / "k.pid").read_text() == str(os.getpid())
        assert session._dumper_runs(archive)


class _Builder:
    """Records what ``get_spark`` configures and the environment at launch."""

    def __init__(self):
        self.conf = {}
        self.launch_env = None

    def appName(self, _):
        return self

    def master(self, _):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        self.launch_env = dict(os.environ)
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))


class TestGetSpark:
    @pytest.fixture
    def builder(self, host, monkeypatch):
        b = _Builder()
        monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=b))
        monkeypatch.setattr(SparkContext, "_gateway", None)
        return b

    def test_caller_java_options_are_merged(self, host, builder):
        session._cds_option({})
        _write(_archive(host), MAGIC)
        before = dict(os.environ)
        session.get_spark(extra_conf={OPTS: "-Dfoo=1"})
        assert builder.conf[OPTS] == f"-Dfoo=1 {session._cds_option({})}"
        assert builder.launch_env["SPARK_CONF_DIR"] == str(host.cds / "conf")
        assert dict(os.environ) == before

    @pytest.mark.parametrize("user_conf", ["env", "defaults_file"])
    def test_user_conf_leaves_launch_untouched(self, host, builder, monkeypatch, tmp_path, user_conf):
        if user_conf == "env":
            monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
        else:
            (host.conf / "spark-defaults.conf").write_text("spark.x 1\n")
        os.makedirs(host.cds / "conf")
        _write(_archive(host), MAGIC)
        before = dict(os.environ)
        session.get_spark(extra_conf={OPTS: "-Dfoo=1"})
        assert builder.conf[OPTS] == "-Dfoo=1"
        assert builder.launch_env == before
        assert dict(os.environ) == before

    def test_first_launch_in_a_checkout_is_todays_launch(self, host, builder):
        before = dict(os.environ)
        session.get_spark(extra_conf={OPTS: "-Dfoo=1"})
        assert builder.conf[OPTS] == "-Dfoo=1"
        assert builder.launch_env == before

    def test_running_jvm_gets_no_archive(self, host, builder, monkeypatch):
        monkeypatch.setattr(SparkContext, "_gateway", object())
        session.get_spark()
        assert OPTS not in builder.conf
        assert not host.cds.exists()


#: One driver process: a small query over the fixture, the .jsa files
#: its JVM maps, then a stop that waits for the JVM (and its dump) to end.
CHILD = r"""
import json, sys
from pyspark import SparkContext
from pyspark.sql import functions as F
from ursa_major_choir_etl_spark.functions.columns import parse_decimal_comma
from ursa_major_choir_etl_spark.session import get_spark
from ursa_major_choir_etl_spark.sources.io import read_wide_sheet_csv

spark = get_spark(app_name="cds-round-trip", shuffle_partitions=2)
rows = [r.asDict() for r in (
    read_wide_sheet_csv(spark, sys.argv[1])
    .groupBy("Tag")
    .agg(F.count("*").alias("n"), F.sum(parse_decimal_comma("`16.06.24`")).alias("h"))
    .orderBy("Tag")
    .collect()
)]
pid = spark._jvm.java.lang.ProcessHandle.current().pid()
with open(f"/proc/{pid}/maps") as f:
    maps = {fields[5].rstrip("\n") for fields in (line.split(None, 5) for line in f) if len(fields) == 6}
spark.stop()
gateway = SparkContext._gateway
proc = gateway.proc
gateway.shutdown()
proc.stdin.close()
proc.wait(300)
print(json.dumps({"rows": rows, "jsa": sorted(m for m in maps if m.endswith(".jsa"))}))
"""


@pytest.mark.skipif(not sys.platform.startswith("linux"), reason="reads /proc/<pid>/maps")
def test_archive_round_trip(tmp_path):
    """In a checkout that has launched once, the next process dumps the
    archive and the one after maps it; both get the same rows."""
    # a space in the path exercises the option's quoting
    checkout = tmp_path / "check out"
    shutil.copytree(os.path.join(ROOT, "ursa_major_choir_etl_spark"),
                    checkout / "ursa_major_choir_etl_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k not in session._CLASSPATH_ENV + ("PYSPARK_SUBMIT_ARGS",)}
    env.update(PYTHONPATH=str(checkout), SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    cds = checkout / ".spark-cds"
    os.makedirs(cds / "conf")
    key = session._cds_key(session._java_home(), os.path.join(_find_spark_home(), "jars"), str(cds / "conf"))
    (cds / f"{key}.seen").write_text("")
    archive = str(cds / f"{key}.jsa")

    def run():
        p = subprocess.run([sys.executable, "-c", CHILD, FIXTURE], cwd=checkout, env=env,
                           capture_output=True, text=True, timeout=600)
        assert p.returncode == 0, p.stderr[-3000:]
        return json.loads(p.stdout.strip().splitlines()[-1]), p

    dumped, p = run()
    with open(archive, "rb") as f:
        assert f.read(4) == MAGIC
    assert "[cds" not in p.stdout + p.stderr
    assert archive not in dumped["jsa"]

    used, _ = run()
    assert archive in used["jsa"]
    assert dumped["rows"] and dumped["rows"] == used["rows"]
    assert set(os.listdir(cds)) == {"conf", f"{key}.jsa"}
    assert os.listdir(cds / "conf") == []
