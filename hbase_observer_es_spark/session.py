"""SparkSession factory tuned for this engine.

Local-mode settings mirror what we'd set on a real cluster: AQE on (runtime join
strategy + skew handling), Arrow on (vectorized pandas-UDF exchange), UTC session
timezone (so timestamp semantics match the DuckDB oracle and are cluster-TZ-independent).
On a 1000-executor cluster only master/shuffle-partitions change; the query code is
identical. The local file system is ``jvm/NoForkLocalFileSystem.java`` when it
compiles: Hadoop's writes the same files but forks a ``chmod`` per file.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile

import pyspark
from pyspark.sql import SparkSession

RUNTIME_CONF = {
    # AQE: runtime coalesce of shuffle partitions, broadcast-join demotion/promotion,
    # and skew-join splitting — the scale-out safety net for every join/agg here.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batches for pandas UDF / toPandas exchange (10-100x row-at-a-time).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # MIN/MAX/COUNT over parquet without filters answer from footer statistics —
    # a pure-metadata scan when a query qualifies (e.g. unfiltered global aggs).
    "spark.sql.parquet.aggregatePushDown": "true",
    # Deterministic timestamp interpretation, independent of machine TZ.
    "spark.sql.session.timeZone": "UTC",
}


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an existing session (e.g. the driver's).

    Memoized per session object: ``io.table`` calls this on EVERY table read,
    so in a long bench/sweep session the conf.set round trips (6 py4j calls
    each) repeat thousands of times for values that never change (r16
    measurement: ~1-2 ms per call, seconds over a full bench). Nothing else
    in this engine mutates these keys mid-session; a session wrapper seen for
    the first time still gets the full set."""
    if getattr(spark, "_hoes_runtime_conf_applied", False):
        return spark
    any_ok = False
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
            any_ok = True
        except Exception:  # pragma: no cover - conf may be static in some harnesses
            pass
    # r17 (ADVICE): only memoize when at least one set succeeded — a session
    # whose every conf.set throws (fully static conf) keeps retrying, so a
    # later unfreezing of the conf is still healed on the next table() call.
    if any_ok:
        try:
            spark._hoes_runtime_conf_applied = True
        except Exception:  # pragma: no cover - exotic session proxies
            pass
    return spark


_LOCAL_FS_SRC = os.path.join(os.path.dirname(__file__), "jvm", "NoForkLocalFileSystem.java")
LOCAL_FS_CLASS = "hoes.fs.NoForkLocalFileSystem"


def local_fs_classes() -> str | None:
    """Class directory of ``jvm/NoForkLocalFileSystem.java``, the local file
    system that sets permissions without a ``chmod`` child process per file
    and directory created (Hadoop's own does that when its native library is
    absent, as in the pip-installed Spark). Compiled once (about 1 s) into
    ``jvm/.classes/<hash of source and Hadoop jar>``. None when ``javac`` or
    the Hadoop jar is missing or the source does not compile; the session
    then keeps Hadoop's local file system, which writes the same files."""
    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    jars = sorted(glob.glob(os.path.join(spark_home, "jars", "hadoop-client-api-*.jar")))
    javac = shutil.which("javac")
    if not jars or javac is None:
        return None
    with open(_LOCAL_FS_SRC, "rb") as f:
        digest = hashlib.sha1(f.read() + os.path.basename(jars[0]).encode()).hexdigest()[:12]
    root = os.path.join(os.path.dirname(_LOCAL_FS_SRC), ".classes")
    out = os.path.join(root, digest)
    if os.path.isdir(out):
        return out
    try:
        os.makedirs(root, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=f".{digest}-", dir=root)
    except OSError:  # a read-only install
        return None
    try:
        built = subprocess.run(
            [javac, "-J-XX:TieredStopAtLevel=1", "--release", "17", "-nowarn",
             "-d", tmp, "-cp", jars[0], _LOCAL_FS_SRC],
            capture_output=True,
        ).returncode == 0
        if built:
            try:
                os.rename(tmp, out)
            except OSError:  # another process renamed its copy first
                pass
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out if os.path.isdir(out) else None


def get_spark(app_name: str = "hbase-observer-es-spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Sized for local fixtures; on a cluster this scales with cores (or is left
        # to AQE's coalesce). Never hardcode per-query.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    classes = local_fs_classes()
    if classes is not None:
        # local mode: the executors run in the driver JVM, so the driver's
        # class path is the only one
        builder = (
            builder.config("spark.driver.extraClassPath", classes)
            .config("spark.hadoop.fs.file.impl", LOCAL_FS_CLASS)
            .config("spark.hadoop.fs.AbstractFileSystem.file.impl", LOCAL_FS_CLASS + "$Fs")
        )
    return builder.getOrCreate()
