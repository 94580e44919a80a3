"""The session settings the spark-submit job and ``get_spark`` share,
read off the configured builders; no Spark is started, except that the
last test reads the shared test session's JVM."""

import importlib.util
import zipfile
from pathlib import Path

import pytest
from pyspark.sql import SparkSession

from htmlparser_spark import coldstart
from htmlparser_spark.session import (DRIVER_JAVA_OPTIONS, LOCALFS_JAR,
                                      LOCAL_SUBMIT_ARGS, configure,
                                      deploy_line, get_spark)

ADAPTER = ("spark.hadoop.fs.file.impl", "spark.driver.extraClassPath")
DAEMON = "spark.python.daemon.module"
REPO = Path(__file__).resolve().parent.parent


def test_configure_sets_shared_options():
    opts = configure(SparkSession.builder)._options
    assert opts["spark.sql.execution.arrow.maxRecordsPerBatch"] == "512"
    assert opts["spark.sql.session.timeZone"] == "UTC"
    assert opts["spark.sql.adaptive.enabled"] == "true"
    assert opts["spark.sql.adaptive.coalescePartitions.enabled"] == "true"
    assert opts["spark.sql.adaptive.skewJoin.enabled"] == "true"
    # the file: adapter binds only where the setting reaches the
    # driver's launch: get_spark, or the submit line
    assert "spark.master" not in opts
    assert not set(ADAPTER) & set(opts)


class _Built(Exception):
    pass


def _capture(monkeypatch):
    """The options of the next builder's ``getOrCreate``, which raises
    ``_Built`` instead of starting Spark."""
    seen = {}

    def capture(self):
        seen.update(self._options)
        raise _Built

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    return seen


def _job_builder_options(monkeypatch, tmp_path):
    """The options jobs/extract.py's session builder is given."""
    seen = _capture(monkeypatch)
    path = Path(__file__).resolve().parent.parent / "jobs" / "extract.py"
    spec = importlib.util.spec_from_file_location("job_extract", path)
    job = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(job)
    with pytest.raises(_Built):
        job.main(["--synthetic", "10", "--output", str(tmp_path / "o"),
                  "--checkpoint", str(tmp_path / "m")])
    return seen


def test_get_spark_binds_localfs_adapter(monkeypatch):
    """get_spark adds the local master and the file: adapter, whose jar
    ships the bound class, to the shared options. The class path jar is
    the checkout's, or its byte-identical copy in the cold-start cache
    when the driver runs with a class-data archive."""
    seen = _capture(monkeypatch)
    with pytest.raises(_Built):
        get_spark(cores=2)
    shared = configure(SparkSession.builder)._options
    assert {k: seen.get(k) for k in shared} == shared
    assert seen["spark.master"] == "local[2]"
    class_path = Path(seen["spark.driver.extraClassPath"])
    assert class_path.read_bytes() == LOCALFS_JAR.read_bytes()
    impl = seen["spark.hadoop.fs.file.impl"]
    assert f"spark.hadoop.fs.file.impl={impl}" in LOCAL_SUBMIT_ARGS
    with zipfile.ZipFile(class_path) as jar:
        assert impl.replace(".", "/") + ".class" in jar.namelist()


def test_job_session_uses_shared_options(monkeypatch, tmp_path):
    """jobs/extract.py builds its session from ``configure`` and leaves
    the master and the file: adapter to spark-submit."""
    seen = _job_builder_options(monkeypatch, tmp_path)
    shared = configure(SparkSession.builder)._options
    assert {k: seen.get(k) for k in shared} == shared
    assert "spark.master" not in seen
    assert not set(ADAPTER) & set(seen)


def test_get_spark_launches_c1_only_jit(monkeypatch):
    """get_spark starts its driver JVM, the local executor, with C1-only
    JIT, and the deploy line gives the submitted job's driver the same
    flag."""
    seen = _capture(monkeypatch)
    with pytest.raises(_Built):
        get_spark(cores=2)
    assert DRIVER_JAVA_OPTIONS == "-XX:TieredStopAtLevel=1"
    assert seen["spark.driver.extraJavaOptions"] == DRIVER_JAVA_OPTIONS
    i = LOCAL_SUBMIT_ARGS.index("--driver-java-options")
    assert LOCAL_SUBMIT_ARGS[i + 1] == DRIVER_JAVA_OPTIONS


def test_job_session_sets_no_driver_java_options(monkeypatch, tmp_path):
    """The job's builder runs inside the started driver JVM, where a
    driver JVM option would do nothing; it comes from the deploy line."""
    seen = _job_builder_options(monkeypatch, tmp_path)
    assert seen and "spark.driver.extraJavaOptions" not in seen
    assert "spark.driver.extraJavaOptions" not in \
        configure(SparkSession.builder)._options


def test_shared_session_jvm_runs_c1_only_jit(spark):
    """The JVM get_spark launched was started with the flag."""
    args = list(spark._jvm.java.lang.management.ManagementFactory
                .getRuntimeMXBean().getInputArguments())
    assert DRIVER_JAVA_OPTIONS in args, args


def test_daemon_shim_only_in_get_spark(monkeypatch, tmp_path):
    """get_spark names the compiled-pyspark daemon when its workers can
    import the package. The deploy line, the job's builder and the
    shared settings never do: a submitted job's package arrives by
    --py-files after the daemon has started, and cluster executors
    have no cache, so the daemon module would not import there."""
    monkeypatch.chdir(REPO)
    seen = _capture(monkeypatch)
    with pytest.raises(_Built):
        get_spark(cores=2)
    assert seen[DAEMON] == "htmlparser_spark.pydaemon"
    assert DAEMON not in _job_builder_options(monkeypatch, tmp_path)
    assert DAEMON not in configure(SparkSession.builder)._options
    env, args = deploy_line()
    assert not any("daemon" in a for a in args)
    assert not any("daemon" in k for k in env)


def test_deploy_line_inert_without_archive(monkeypatch, tmp_path):
    """With no archive in the cache the deploy line is LOCAL_SUBMIT_ARGS
    as they are, and asks for no conf dir."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    assert deploy_line() == ({}, LOCAL_SUBMIT_ARGS)


def test_deploy_line_takes_an_existing_archive(monkeypatch, tmp_path):
    """Once an archive exists, the deploy line launches the driver the
    way it was dumped: the conf dir and jar copy of the cache, and the
    archive flags after the JIT flag."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    if coldstart.keeps_conf_dir():
        pytest.skip("$SPARK_HOME/conf holds a setting: no archive is used")
    key = coldstart.plan(LOCALFS_JAR, daemon=False).build.name.split(".")[0]
    archive = tmp_path / "htmlparser_spark" / "cds" / f"{key}-8.jsa"
    archive.write_bytes(coldstart.ARCHIVE_MAGIC + b"\0" * 4)
    env, args = deploy_line()
    assert env == {"SPARK_CONF_DIR":
                   str(tmp_path / "htmlparser_spark" / "conf")}
    copy = Path(args[args.index("--driver-class-path") + 1])
    assert copy.parent == tmp_path / "htmlparser_spark" / "jars"
    assert copy.read_bytes() == LOCALFS_JAR.read_bytes()
    opts = args[args.index("--driver-java-options") + 1].split()
    assert opts[:3] == [DRIVER_JAVA_OPTIONS,
                        f"-XX:SharedArchiveFile={archive}", "-Xshare:auto"]
    assert all(o.startswith("-Xlog:cds") for o in opts[3:])
