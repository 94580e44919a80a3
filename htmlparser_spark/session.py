"""SparkSession helper with scale-aware defaults.

Settings rationale (targets a multi-executor cluster; local[N] here):
- AQE on: runtime coalescing + skew-split for the ordering shuffle.
- Arrow batches capped at 512 rows (``ARROW_MAX_RECORDS``): 10k rows
  of multi-MB mega-turns per batch would OOM an executor. The cap
  bounds rows, not bytes: 512 turns of 50 MB still make a 25 GB batch.
- shuffle.partitions ≈ cores locally; on a real cluster set it to
  2-3× total executor cores via spark-submit conf.
- session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle and are cluster-invariant.
- file: is served by ``NioLocalFileSystem`` (``jvm/``): Hadoop's local
  file system sets permissions by spawning ``chmod`` when libhadoop is
  absent, three child processes per written bucket; the adapter sets
  them with a syscall. ``get_spark`` binds it and puts its jar on the
  driver class path, which the gateway's JVM launch honours; a
  ``spark-submit`` of the job passes ``LOCAL_SUBMIT_ARGS`` instead,
  because there both settings come too late to bind the driver.
- the driver JVM runs C1-only JIT (``DRIVER_JAVA_OPTIONS``): under
  local[N] it is the executor too, and the tiered default's C2
  compiler threads compete with the task threads and Python workers
  over a process's first jobs, while the hot path is the Python
  kernel (measured in BASELINE.md, "C1-only driver JIT"). ``get_spark``
  sets it on the JVM it launches; the spark-submit line carries it in
  ``LOCAL_SUBMIT_ARGS``, since the job's builder runs after the driver
  JVM has started. Cluster executors keep the default: they are
  long-lived, C2's case, and were not measured.
- cold start (``coldstart``): ``get_spark`` launches its JVM with a
  cached class-data archive and names ``pydaemon`` as the Python daemon,
  which imports pyspark from a cached bytecode copy; both caches build
  themselves on a miss. With the archive the driver class path holds
  the adapter jar's copy in the cache, not the checkout's. The deploy
  line (``deploy_line``) takes the archive flags, with that class path
  and conf dir, only once an archive exists, and never the daemon: a
  submitted job's package arrives by ``--py-files`` after the daemon
  has started, and cluster executors have no such cache.

``configure`` holds the settings the spark-submit job and ``get_spark``
share; ``get_spark`` adds the local master, its sizing, the adapter,
the driver's JIT flag and the cold-start caches.
"""

from __future__ import annotations

import os
import shlex
from pathlib import Path

from pyspark.sql import SparkSession

from . import coldstart

__all__ = ["get_spark", "configure", "default_parallelism", "LOCALFS_JAR",
           "LOCALFS_CLASS", "DRIVER_JAVA_OPTIONS", "LOCAL_SUBMIT_ARGS",
           "deploy_line"]

LOCALFS_JAR = Path(__file__).resolve().parent / "jvm" / "htmlparser-localfs.jar"
LOCALFS_CLASS = "htmlparser_spark.jvm.NioLocalFileSystem"
# C1-only JIT for the driver JVM (see the module docstring)
DRIVER_JAVA_OPTIONS = "-XX:TieredStopAtLevel=1"
# spark-submit resolves --py-files and --jars through the file: system
# before the job's builder runs, and Hadoop caches that instance, so the
# binding and the driver class path go on the submit command; --jars
# alone loads the class too late for that lookup, and ships it to the
# executors. The driver's JVM options, too, only act from the command.
LOCAL_SUBMIT_ARGS = ("--driver-class-path", str(LOCALFS_JAR),
                     "--jars", str(LOCALFS_JAR),
                     "--conf", f"spark.hadoop.fs.file.impl={LOCALFS_CLASS}",
                     "--driver-java-options", DRIVER_JAVA_OPTIONS)
# rows per Arrow batch at the kernel boundary (see the module docstring)
ARROW_MAX_RECORDS = 512


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def configure(builder: SparkSession.Builder) -> SparkSession.Builder:
    """The session settings every entry point runs with (see the
    module docstring); the master is left to the caller."""
    return (
        builder
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # runtime skew-split for the dedup/selector self-joins: one
        # hot LSH band or selector key gets split across tasks even
        # below the explicit cap_buckets threshold
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(ARROW_MAX_RECORDS))
        .config("spark.sql.session.timeZone", "UTC")
    )


def get_spark(app: str = "htmlparser_spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    launch = coldstart.plan(LOCALFS_JAR)
    builder = (
        configure(SparkSession.builder.appName(app))
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.hadoop.fs.file.impl", LOCALFS_CLASS)
        .config("spark.driver.extraClassPath", launch.class_path)
        .config("spark.driver.extraJavaOptions", DRIVER_JAVA_OPTIONS)
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if launch.daemon_module:
        builder = builder.config("spark.python.daemon.module",
                                 launch.daemon_module)
    with coldstart.launching(launch):
        return builder.getOrCreate()


def deploy_line() -> tuple:
    """``(env, args)`` for a local ``spark-submit`` of the job:
    ``LOCAL_SUBMIT_ARGS`` as they are while no driver archive exists.
    Once one does, the driver class path takes the jar copy it was
    dumped with, ``--driver-java-options`` its flags, and ``env`` the
    conf dir. It never builds an archive, and never sets the daemon
    module (see the module docstring)."""
    launch = coldstart.plan(LOCALFS_JAR, build=False, daemon=False)
    args = list(LOCAL_SUBMIT_ARGS)
    args[args.index("--driver-class-path") + 1] = launch.class_path
    args[args.index("--driver-java-options") + 1] = " ".join(
        (DRIVER_JAVA_OPTIONS, *launch.java_options))
    return dict(launch.env), tuple(args)


if __name__ == "__main__":
    # the deploy line's command prefix, for a shell:
    #   eval "$(python -m htmlparser_spark.session)" <app and its flags>
    env, args = deploy_line()
    print(" ".join([*(f"{k}={shlex.quote(v)}" for k, v in env.items()),
                    "spark-submit", *map(shlex.quote, args)]))
