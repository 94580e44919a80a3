"""The bucket commit path: the file: system adapter spawns no process,
its jar is built from its source, and the certify lists the bucket
directories on the driver."""

import json
import os
import shutil
import stat
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

from htmlparser_spark.operators import checkpoint as ck
from htmlparser_spark.session import LOCALFS_JAR, LOCAL_SUBMIT_ARGS
from htmlparser_spark.sources.transcripts import generate_spark_df

ROOT = Path(__file__).resolve().parent.parent
INPUT = {"n_convs": 400, "n_turns": 2000, "seed": 31, "mega_text": False}

CHILD = """
import json, sys
from htmlparser_spark.session import get_spark
from htmlparser_spark.sources.transcripts import generate_spark_df
from htmlparser_spark.operators.checkpoint import run_checkpointed
spark = get_spark(app="spawn-free", cores=2)
df = generate_spark_df(spark, **json.loads(sys.argv[1]))
rows = run_checkpointed(spark, df, sys.argv[2], sys.argv[3], n_buckets=64,
                        run_id="r", extract_kwargs={"include_raw": False})
print("ROWS", json.dumps([[r.partition_id, r.n_rows, r.content_hash]
                          for r in rows]))
spark.stop()
"""


def _logging_chmod(tmp_path):
    """(env with a logging chmod first on PATH, its log file)."""
    real = shutil.which("chmod")
    bin_dir, log = tmp_path / "bin", tmp_path / "chmod.log"
    bin_dir.mkdir()
    fake = bin_dir / "chmod"
    fake.write_text(f'#!/bin/sh\necho "$@" >> {log}\nexec {real} "$@"\n')
    fake.chmod(0o755)
    env = dict(os.environ, PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}",
               PYTHONPATH=os.pathsep.join(
                   p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
               SPARK_GRAFT_DRIVER_MEM="1g")
    return env, log


def test_checkpoint_spawns_no_chmod(spark, tmp_path):
    """A 64-bucket checkpointed run in a fresh session runs no chmod
    process (one logs every call, first on the JVM's PATH), leaves the
    modes Hadoop's shell chmod sets under its 022 umask and a .crc
    sidecar per file, and commits the manifest the shared session
    commits for the same input."""
    env, log = _logging_chmod(tmp_path)
    out, man = tmp_path / "o", tmp_path / "m"
    proc = subprocess.run(
        [sys.executable, "-c", CHILD, json.dumps(INPUT), str(out), str(man)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.split("ROWS ", 1)[1].splitlines()[0])

    assert not log.exists(), log.read_text()[:2000]
    data = 0
    for d, dirs, files in os.walk(out):
        assert stat.S_IMODE(os.stat(d).st_mode) == 0o755, d
        for f in files:
            assert stat.S_IMODE(os.stat(os.path.join(d, f)).st_mode) \
                == 0o644, f
            if not f.endswith(".crc"):
                assert f".{f}.crc" in files, (d, f)
            data += f.endswith(".parquet")
    assert data == len(got) == 64

    ref = ck.run_checkpointed(
        spark, generate_spark_df(spark, **INPUT), str(tmp_path / "ro"),
        str(tmp_path / "rm"), n_buckets=64, run_id="r",
        extract_kwargs={"include_raw": False})
    assert sorted(got) == sorted([r.partition_id, r.n_rows, r.content_hash]
                                 for r in ref)


def test_spark_submit_job_spawns_no_chmod(tmp_path):
    """The job submitted with the README's deploy flags commits its
    buckets without a chmod process. (Spark itself still marks the
    files it fetches for the job executable; those are not output.)"""
    env, log = _logging_chmod(tmp_path)
    out, man = tmp_path / "o", tmp_path / "m"
    submit = (shutil.which("spark-submit")
              or os.path.join(os.environ.get("SPARK_HOME", ""), "bin",
                              "spark-submit"))
    proc = subprocess.run(
        [submit, "--master", "local[2]", "--driver-memory", "1g",
         *LOCAL_SUBMIT_ARGS, str(ROOT / "jobs" / "extract.py"),
         "--synthetic", "400", "--buckets", "8", "--output", str(out),
         "--checkpoint", str(man)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "buckets_done=8 rows=400" in proc.stdout, proc.stdout
    calls = log.read_text().splitlines() if log.exists() else []
    assert not [c for c in calls if str(out) in c], calls[:20]


def test_localfs_jar_matches_source(tmp_path):
    """The committed jar holds exactly the classes its source compiles
    to (``make jar``)."""
    if shutil.which("javac") is None:
        pytest.skip("no javac")
    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(
        __import__("pyspark").__file__)
    src = LOCALFS_JAR.parent / "NioLocalFileSystem.java"
    subprocess.run(["javac", "--release", "17", "-cp",
                    os.path.join(spark_home, "jars", "*"),
                    "-d", str(tmp_path), str(src)], check=True)
    built = {str(p.relative_to(tmp_path)): p.read_bytes()
             for p in tmp_path.rglob("*.class")}
    with zipfile.ZipFile(LOCALFS_JAR) as jar:
        shipped = {n: jar.read(n) for n in jar.namelist()
                   if n.endswith(".class")}
    assert built and shipped == built


def test_certify_lists_bucket_dirs_on_driver(spark, tmp_path, monkeypatch):
    """At 64 buckets on fewer cores, the certify of run_checkpointed
    lists the bucket directories on the driver: no job runs while the
    re-read is set up (pyspark names a job's stages after the call that
    started it; the listing job's would be the re-read's ``parquet``),
    every certify stage runs on at most defaultParallelism tasks, and
    the listing settings are restored afterwards."""
    sc = spark.sparkContext
    par = sc.defaultParallelism
    assert par < 64
    listing = [f"spark.sql.sources.parallelPartitionDiscovery.{k}"
               for k in ("threshold", "parallelism")]
    before = [spark.conf.get(k) for k in listing]
    group = "certify-listing"
    certify = ck.certify

    def grouped(*a, **kw):
        sc.setJobGroup(group, group)
        try:
            return certify(*a, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(ck, "certify", grouped)
    rows = ck.run_checkpointed(spark, generate_spark_df(spark, **INPUT),
                               str(tmp_path / "o"), str(tmp_path / "m"),
                               n_buckets=64, run_id="r",
                               extract_kwargs={"include_raw": False})
    assert len(rows) == 64

    st = sc.statusTracker()
    stages = [st.getStageInfo(s) for j in st.getJobIdsForGroup(group)
              for s in st.getJobInfo(j).stageIds]
    stages = [s for s in stages if s is not None]
    assert stages
    assert all(s.name.startswith("collect at ") for s in stages), \
        [s.name for s in stages]
    assert max(s.numTasks for s in stages) <= par, \
        [s.numTasks for s in stages]
    assert [spark.conf.get(k) for k in listing] == before
