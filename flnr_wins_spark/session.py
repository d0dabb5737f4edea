"""SparkSession construction with scale-appropriate defaults.

The reference runs single-process ArcPy (no session concept). Here the session
is tuned for correctness-determinism (UTC timezone; Spark's default ANSI mode
is kept — every query is written to be ANSI-safe so results match whatever
session the driver constructs) and for scale (AQE on, skew-join handling on,
modest shuffle partitioning that AQE coalesces at runtime).

Start-up archive. Most of a session's start-up is the driver JVM loading
Spark's classes. ``get_spark`` starts that JVM from a dynamic class-data-
sharing (CDS) archive (JEP 350): a file of pre-parsed classes the JVM maps
instead of loading each class again. The archive lives in the per-user cache
(``$XDG_CACHE_HOME``, else ``~/.cache``, under ``flnr-wins-spark/jvm-cds/``),
keyed by the ``java`` binary, ``$JAVA_HOME/release``, the pyspark version and
the names, sizes and times of Spark's jars. The first ``get_spark`` on a host
builds it once (about 20 s, 150 MB): a child process runs a short generic
query mix under ``-XX:ArchiveClassesAtExit`` and stops its JVM cleanly, and
only then is the dump renamed to the keyed file, so a JVM is never handed a
partial archive. Older keys' archives are pruned when a new one lands.

CDS refuses a non-empty directory on the classpath, and Spark puts its conf
directory there. So the archive is used, and ``SPARK_CONF_DIR`` pointed at an
empty cache directory, only when the caller set no ``SPARK_CONF_DIR`` (nor
another variable that adds to the classpath) and the real conf directory
holds nothing but ``*.template`` files. It is also skipped when the caller's
``spark.driver.extraJavaOptions`` already choose a CDS setting (``-Xshare:off``
turns it off), when a driver JVM is already running, and for a day after a
failed build. Every error on this path falls back to a plain launch with at
most one line on stderr.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
from typing import NamedTuple

import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession

JAVA_OPTS = "spark.driver.extraJavaOptions"
# CDS warnings (e.g. an archive rejected for a changed jar) go to stderr: by
# default the JVM prints them on stdout, which callers may parse
_CDS_LOG = "-Xlog:cds*=off -Xlog:cds*=warning:stderr"
# set by the caller, each puts more entries on the driver's classpath
_CLASSPATH_ENV = ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                  "SPARK_DIST_CLASSPATH", "SPARK_CLASSPATH", "SPARK_PREPEND_CLASSES")
_BUILD_TIMEOUT_S = 60.0  # about 3x a build on a 4-CPU host
_RETRY_AFTER_S = 86400.0  # a failed build is not retried for a day


def get_spark(
    app_name: str = "flnr-wins-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    _cds_cache: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Scale notes (100 TB stance):
      - AQE enabled: runtime shuffle-partition coalescing + skew-join splitting
        mean ``shuffle_partitions`` here is an upper bound, not a fixed fanout.
      - ``autoBroadcastJoinThreshold`` left at default (10 MB) so dimension
        tables (region/nation/POD lookup) broadcast automatically; big-side
        joins fall back to sort-merge.
      - On a real cluster these same confs apply; only ``master`` changes.

    ``extra_conf`` overrides the defaults key by key, except
    ``spark.driver.extraJavaOptions``, to which the start-up archive's flags
    are appended. ``_cds_cache`` replaces the archive's cache directory.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    conf = extra_conf or {}
    for k, v in conf.items():
        builder = builder.config(k, v)
    cds = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        cds = start_up_archive(conf, _cds_cache)  # else the driver JVM already runs
    if cds is None:
        return builder.getOrCreate()
    try:
        with _env(SPARK_CONF_DIR=cds.conf_dir):
            return builder.config(JAVA_OPTS, cds.java_opts(conf.get(JAVA_OPTS, ""))).getOrCreate()
    except Exception:
        # raises if the JVM will not start without the archive either
        spark = builder.config(JAVA_OPTS, conf.get(JAVA_OPTS, "")).getOrCreate()
    # it started only without the archive (e.g. a dump cut short by a full
    # disk): drop the archive and keep it from being rebuilt today
    _discard(cds.archive)
    _mark_failed(cds.archive, "a JVM started from it did not come up")
    sys.stderr.write(f"flnr_wins_spark: dropped JVM start-up archive {cds.archive}\n")
    return spark


class Cds(NamedTuple):
    """Where a start-up archive is (or will be) kept for this host."""

    archive: str  # the keyed file; exists only as a complete dump
    conf_dir: str  # the empty SPARK_CONF_DIR the archive's classpath names

    @property
    def log(self) -> str:  # the build child's output
        return self.archive[: -len(".jsa")] + ".log"

    def java_opts(self, caller: str) -> str:
        return f"{caller} -XX:SharedArchiveFile={self.archive} -Xshare:auto {_CDS_LOG}".strip()


def start_up_archive(conf: dict[str, str], cache: str | None = None, build=None) -> Cds | None:
    """The archive to start the driver JVM from, built first if missing, or
    None to launch as without one. Never raises; writes at most one line to
    stderr. ``build`` replaces ``build_archive``."""
    note = None
    try:
        cds = _locate(conf, cache)
        if cds is None or os.path.isfile(cds.archive):
            return cds
        if _failed_recently(cds.archive):
            return None
        t0 = time.perf_counter()
        err = (build or build_archive)(cds)
        if err:
            _mark_failed(cds.archive, err)
            note = f"no JVM start-up archive ({err}); starting without it"
            return None
        note = f"built JVM start-up archive {cds.archive} in {time.perf_counter() - t0:.0f} s"
        return cds
    except Exception as exc:  # CDS is an optimisation: never fail a launch for it
        note = f"JVM start-up archive skipped: {exc!r}"
        return None
    finally:
        if note:
            sys.stderr.write(f"flnr_wins_spark: {note}\n")


def _locate(conf: dict[str, str], cache: str | None) -> Cds | None:
    """The keyed archive path for this host, or None where CDS must be skipped."""
    if any(os.environ.get(v) for v in _CLASSPATH_ENV) or conf.get("spark.driver.extraClassPath"):
        return None
    caller = conf.get(JAVA_OPTS, "")
    if any(f in caller for f in ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")):
        return None
    home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    real_conf = os.path.join(home, "conf")
    if os.path.isdir(real_conf) and not all(
        n.endswith(".template") for n in os.listdir(real_conf)
    ):
        return None
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if java is None:
        return None  # the launch itself will say so
    java = os.path.realpath(java)
    key = hashlib.sha256(f"{java}\n{pyspark.__version__}\n".encode())
    with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release"), "rb") as fh:
        key.update(fh.read())
    with os.scandir(os.path.join(home, "jars")) as it:
        jars = sorted((e.name, e.stat().st_size, e.stat().st_mtime_ns) for e in it)
    key.update(repr(jars).encode())

    if cache is None:
        base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
        cache = os.path.join(base, "flnr-wins-spark", "jvm-cds")
    conf_dir = os.path.join(cache, "spark-conf")
    os.makedirs(conf_dir, exist_ok=True)
    if os.listdir(conf_dir):
        return None
    _sweep_temps(cache)
    return Cds(os.path.join(cache, f"{key.hexdigest()[:20]}.jsa"), conf_dir)


def _temp_path(archive: str, pid: int) -> str:
    return f"{archive}.{pid}.tmp"


def _sweep_temps(cache: str) -> None:
    """Delete dumps left by build children that are gone."""
    for name in os.listdir(cache):
        parts = name.split(".")
        if name.endswith(".tmp") and len(parts) > 2 and parts[-2].isdigit():
            if not _alive(int(parts[-2])):
                _discard(os.path.join(cache, name))


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _discard(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)


def _failed_recently(archive: str) -> bool:
    try:
        return time.time() - os.path.getmtime(archive + ".failed") < _RETRY_AFTER_S
    except OSError:
        return False


def _mark_failed(archive: str, why: str) -> None:
    with contextlib.suppress(OSError), open(archive + ".failed", "w") as fh:
        fh.write(why + "\n")


def _prune(keep: str) -> None:
    """Delete the archives (and their logs and marks) of every other key."""
    cache, key = os.path.split(keep)
    key = key.split(".")[0]
    for name in os.listdir(cache):
        if name.split(".")[0] != key and name.endswith((".jsa", ".log", ".failed")):
            _discard(os.path.join(cache, name))


@contextlib.contextmanager
def _env(**values: str):
    """Set environment variables for the duration of a block."""
    old = {k: os.environ.get(k) for k in values}
    os.environ.update(values)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def build_archive(cds: Cds) -> str | None:
    """Dump the archive in a child process (``python -m
    flnr_wins_spark.session <archive>``) and move it to the keyed path once
    the child has exited 0. Returns None on success, else why not; the
    child's output is kept next to the archive as ``<key>.log``."""
    log = cds.log
    package_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.environ.get("PYTHONPATH")
    env = dict(os.environ, SPARK_CONF_DIR=cds.conf_dir,
               PYTHONPATH=package_root + (os.pathsep + path if path else ""))
    with open(log, "wb") as out:
        child = subprocess.Popen(
            [sys.executable, "-m", "flnr_wins_spark.session", cds.archive],
            stdin=subprocess.DEVNULL, stdout=out, stderr=subprocess.STDOUT, env=env,
        )
    tmp = _temp_path(cds.archive, child.pid)
    try:
        rc = child.wait(_BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        _stop(child, tmp)
        return f"build exceeded {_BUILD_TIMEOUT_S:.0f} s; see {log}"
    except BaseException:
        _stop(child, tmp)
        raise
    if rc != 0 or not os.path.isfile(tmp):
        _discard(tmp)
        return f"build exited {rc}; see {log}"
    os.replace(tmp, cds.archive)
    _discard(cds.archive + ".failed")
    _prune(cds.archive)
    return None


def _stop(child: subprocess.Popen, tmp: str) -> None:
    """Stop a build child (on SIGTERM it kills its JVM) and drop its dump."""
    child.terminate()
    try:
        child.wait(10)
    except subprocess.TimeoutExpired:
        child.kill()
        child.wait()
    _discard(tmp)


def _dump_archive(archive: str) -> int:
    """Build child: run a short generic query mix under
    ``-XX:ArchiveClassesAtExit``, then stop the JVM cleanly so that it writes
    the archive (a killed JVM writes none)."""
    import tempfile

    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    tmp = _temp_path(archive, os.getpid())
    spark = get_spark(
        app_name="flnr-wins-cds", master="local[2]", shuffle_partitions=2,
        extra_conf={"spark.driver.memory": "1g",
                    JAVA_OPTS: f"-XX:ArchiveClassesAtExit={tmp} {_CDS_LOG}"},
    )
    jvm = spark.sparkContext._gateway.proc

    def on_term(*_):  # asked to stop: a killed JVM leaves no dump behind
        jvm.kill()
        jvm.wait()
        os._exit(1)

    signal.signal(signal.SIGTERM, on_term)
    print(f"build child {os.getpid()} started JVM {jvm.pid}", flush=True)
    spark.sparkContext.setLogLevel("ERROR")

    n = 20_000
    facts = spark.createDataFrame(pd.DataFrame({
        "k": [i % 97 for i in range(n)],
        "v": [float(i) for i in range(n)],
        "tag": [f"T{i % 1009:04d}" if i % 13 else None for i in range(n)],
    }))
    dim = spark.createDataFrame(pd.DataFrame({"k": range(97), "name": [f"n{i}" for i in range(97)]}))
    upper = F.udf(lambda s: s.upper() if s else s, "string")
    out = (
        facts.join(dim, "k")
        .join(facts.groupBy("tag").agg(F.count("*").alias("c")), "tag", "left")
        .withColumn("rank", F.row_number().over(Window.partitionBy("k").orderBy(F.desc("v"))))
        .withColumn("cnt", F.count(F.lit(1)).over(Window.partitionBy("tag")))
        .withColumn("up", upper(F.col("name")))
        .withColumn("flag", F.when(F.col("tag").like("T00%"), "low").otherwise(F.lit(None)))
    )
    path = tempfile.mkdtemp(prefix="flnr-wins-cds-")
    try:
        out.write.mode("overwrite").parquet(path)
        back = spark.read.parquet(path)
        back.groupBy("k", "flag").agg(F.sum("v"), F.max("rank")).orderBy("k").toPandas()
        back.filter(F.col("cnt") > 1).select("tag", "up").distinct().collect()
    finally:
        shutil.rmtree(path, ignore_errors=True)

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    rc = jvm.wait()
    return 0 if rc == 0 and os.path.isfile(tmp) else 1


if __name__ == "__main__":
    sys.exit(_dump_archive(sys.argv[1]))
