"""SparkSession factory with scale-ready defaults.

The reference bootstraps one Sheets API client per run
(reference: etl/gsheets.py:12-15, operator S1 in SURVEY §2.1); our
equivalent engine bootstrap is the SparkSession. Defaults here are chosen
for the 100 TB design target and are safe on local[N]:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy switching (sort-merge -> broadcast when a
  side turns out small).
- dynamic partition overwrite: the reference's idempotent
  clear-then-write sink (etl/gsheets.py:73-94) maps to overwriting only
  the partitions a run produced, not the whole dataset.
- Arrow on: any unavoidable Python boundary (pandas UDFs in the
  extension operators) moves batches, not rows.

Startup: a fresh JVM spends most of its start loading and verifying
classes from Spark's ~290 jars, so the driver JVM launches with a JDK
dynamic class-data-sharing (AppCDS) archive,
``<checkout>/.spark-cds/<key>.jsa``, once the checkout has one. The key
hashes the JVM (``java.home`` and its ``release`` file), the Spark jars
(names and sizes) and the conf dir. A ready archive is mapped
(``-XX:SharedArchiveFile``). The first launch in a checkout only leaves
a ``<key>.seen`` marker, so a job that runs once in a fresh checkout
launches as before and pays nothing. The next launch finds the marker
and dumps the archive when its JVM exits (``-XX:ArchiveClassesAtExit``);
that process is slower for its whole life and about 20 s longer at
exit. The dumping launch records its pid in ``<key>.pid`` (the Python
process's until its JVM is up, then the JVM's, which outlives Python
while it dumps). A file at the key path without the dynamic-archive
magic is a dump still running while that pid runs: the launch is plain
and touches nothing. Once the pid is gone, the file is a dump refused
or killed: it is deleted once (a ``<key>.failed`` marker records that)
and the cycle starts over; after that, the launch stays plain until
``.spark-cds`` is deleted. CDS refuses a non-empty directory on the
classpath, so a launch with an archive points ``SPARK_CONF_DIR`` at the
empty ``.spark-cds/conf``, and only when ``$SPARK_HOME/conf`` holds
nothing but ``*.template`` files.
A conf dir or classpath from the environment, extra jars, an unwritable
directory or an already running JVM mean today's launch. The JVM
ignores a stale archive, but one cut short with its header intact (an
interrupted copy of a checkout) crashes it at start: if the Java
gateway dies at start, ``rm -rf .spark-cds``.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

#: The class-data-sharing archives and their empty conf dir, at the
#: root of the checkout the package is imported from.
CDS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".spark-cds")
#: A dynamic archive's header starts with 0xf00baba8, little-endian. The
#: JVM writes the header last, so a dump killed midway has none.
_CDS_MAGIC = (0xF00BABA8).to_bytes(4, "little")
#: Mutes CDS logging only: a dump warns once per class it skips (signed
#: jars, failed verification, generated accessors), ~1,200 lines.
_CDS_QUIET = "-Xlog:cds*=off"
#: Confs and environment variables that change the driver's classpath,
#: which the archive records (a conf dir on it must be empty to dump).
_CLASSPATH_CONFS = ("spark.jars", "spark.jars.packages", "spark.driver.extraClassPath")
_CLASSPATH_ENV = ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")


def default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else 3/4 of physical RAM, capped at 16g."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        return os.environ["SPARK_GRAFT_DRIVER_MEM"]
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(ram_mb * 3 // 4, 16 * 1024)}m"


def _java_home() -> str:
    """The JVM ``spark-class`` runs: ``$JAVA_HOME``, else ``java`` on PATH."""
    if os.environ.get("JAVA_HOME"):
        return os.path.realpath(os.environ["JAVA_HOME"])
    java = shutil.which("java")
    if java is None:
        raise FileNotFoundError("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java)))


def _cds_key(java_home: str, jars_dir: str, conf_dir: str) -> str:
    """Hash of what a class-data-sharing archive is only valid for."""
    h = hashlib.sha256(f"{java_home}\n{conf_dir}\n".encode())
    with open(os.path.join(java_home, "release"), "rb") as f:
        h.update(f.read())
    for e in sorted(os.scandir(jars_dir), key=lambda e: e.name):
        h.update(f"{e.name}\t{e.stat().st_size}\n".encode())
    return h.hexdigest()[:16]


def _pid_file(archive: str) -> str:
    return archive[: -len(".jsa")] + ".pid"


def _record_dumper(archive: str, pid: int) -> None:
    """Atomically record ``pid`` as the process dumping ``archive``."""
    tmp = f"{_pid_file(archive)}.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(str(pid))
    os.replace(tmp, _pid_file(archive))


def _dumper_runs(archive: str) -> bool:
    """Whether the process recorded as dumping ``archive`` still runs."""
    try:
        with open(_pid_file(archive)) as f:
            os.kill(int(f.read()), 0)
    except PermissionError:  # it runs, as another user
        return True
    except (OSError, ValueError):  # no record, or no such process
        return False
    return True


def _cds_option(conf: dict[str, str]) -> str | None:
    """The driver JVM option that maps this checkout's archive or dumps
    it at exit, or None for a plain launch.
    """
    if (
        any(v in os.environ for v in _CLASSPATH_ENV)
        or os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell") != "pyspark-shell"
        or any(k in conf for k in _CLASSPATH_CONFS)
    ):
        return None
    try:
        spark_home = _find_spark_home()
        default_conf = os.path.join(spark_home, "conf")
        if os.path.isdir(default_conf) and not all(
            n.endswith(".template") for n in os.listdir(default_conf)
        ):
            return None
        conf_dir = os.path.join(CDS_DIR, "conf")
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir):
            return None
        key = _cds_key(_java_home(), os.path.join(spark_home, "jars"), conf_dir)
        archive, seen = (os.path.join(CDS_DIR, key + ext) for ext in (".jsa", ".seen"))
        if os.path.exists(archive):
            with open(archive, "rb") as f:
                if f.read(4) == _CDS_MAGIC:
                    with contextlib.suppress(FileNotFoundError):
                        os.unlink(_pid_file(archive))  # the dump is over
                    return f'-XX:SharedArchiveFile="{archive}" {_CDS_QUIET}'
            if _dumper_runs(archive):
                return None
            # dropped once; after a second failure the launch stays plain
            open(os.path.join(CDS_DIR, f"{key}.failed"), "x").close()
            os.unlink(archive)
        try:
            os.unlink(seen)  # claims the dump: one concurrent launch wins
        except FileNotFoundError:
            open(seen, "x").close()
            return None
        # while the dumper runs, other launches find a file without magic
        _record_dumper(archive, os.getpid())
        open(archive, "x").close()
    except OSError:
        return None
    return f'-XX:ArchiveClassesAtExit="{archive}" {_CDS_QUIET}'


def get_spark(
    app_name: str = "ursa-major-choir-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[N]`` with N from :func:`default_cpus`.
    """
    cpus = default_cpus()
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")

    conf = {
        # --- shuffle sizing -------------------------------------------------
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or cpus
        ),
        # --- adaptive execution --------------------------------------------
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # --- idempotent overwrite at partition granularity ------------------
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        # --- Python boundary is Arrow-batched, never row-at-a-time ----------
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Bytes-aware Arrow batch cap: maxRecordsPerBatch (default 10k
        # ROWS) is blind to row width, so a mapInPandas over multimodal
        # BLOB columns (~10 MB images) could assemble a 100 GB batch.
        # Capping bytes bounds executor memory per batch regardless of
        # blob size; with both set, a batch closes when either limit
        # hits (wide rows -> bytes, narrow rows -> records).
        "spark.sql.execution.arrow.maxBytesPerBatch": str(64 * 1024 * 1024),
        # --- scan sizing: keep file splits in executor-memory range ---------
        "spark.sql.files.maxPartitionBytes": "128m",
        # --- timezone-stable timestamps across engines -----------------------
        "spark.sql.session.timeZone": "UTC",
        # tz-naive parquet timestamps read as TIMESTAMP (LTZ) under the
        # pinned UTC session tz, not TIMESTAMP_NTZ: NTZ is rejected by
        # unix_micros / withWatermark / session_window-on-stream, and
        # under UTC the two render identically, so LTZ is strictly more
        # capable here. (Round-4 driver drift: events.parquet switched
        # from TIMESTAMP(NANOS) to naive micros and broke q13 + the
        # streaming suite; this conf plus operator-level casts makes the
        # engine robust to either encoding.)
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        # --- nanosecond-precision parquet timestamps read as long nanos ------
        # (Spark has no TIMESTAMP(NANOS); plans/queries.T converts the
        # events table's ts to micros explicitly.)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # quieter local runs
        "spark.ui.enabled": "false",
        # Up to a 16g heap: the bench/test harness runs ~200 query
        # executions in ONE local-mode JVM (driver == executors), and
        # iterative queries with eager localCheckpoints intermittently
        # paid multi-second full-GC pauses at 8g (q55 spiking 5s -> 28s
        # warm). The default takes 3/4 of physical RAM up to that, so a
        # smaller host is not over-committed.
        "spark.driver.memory": default_driver_memory(),
    }
    if extra_conf:
        conf.update(extra_conf)
    # class-data sharing only matters when this call launches the JVM
    cds = None if SparkContext._gateway else _cds_option(conf)
    if cds:
        opts = "spark.driver.extraJavaOptions"
        conf[opts] = f"{conf[opts]} {cds}" if conf.get(opts) else cds
    for k, v in conf.items():
        builder = builder.config(k, v)
    if cds:
        os.environ["SPARK_CONF_DIR"] = os.path.join(CDS_DIR, "conf")
    try:
        spark = builder.getOrCreate()
    finally:
        if cds:
            del os.environ["SPARK_CONF_DIR"]
    if cds and cds.startswith("-XX:ArchiveClassesAtExit="):
        # the JVM dumps at exit, possibly after this process has ended
        _record_dumper(cds.split('"')[1], spark._jvm.java.lang.ProcessHandle.current().pid())
    spark.sparkContext.setLogLevel("WARN")
    return spark
