"""The cold-start caches (``htmlparser_spark/coldstart.py``): a session
starts, and its kernel output is byte-identical, with the driver
archive missing, truncated or stale, with the compiled pyspark zip
missing or built by another interpreter, and with a real conf dir
(no archive then), and over a cache path with a space in it; two
checkouts share one archive. Each case runs one fresh session in a
child process (``tests/tools/cold_session.py``) over a cache in a temp
directory; JVM messages about the archive must stay off its console."""

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from htmlparser_spark import coldstart, pydaemon
from htmlparser_spark.htmldom.fused import extract_fused
from htmlparser_spark.session import LOCALFS_JAR

REPO = Path(__file__).resolve().parent.parent
HARNESS = Path("tests") / "tools" / "cold_session.py"
sys.path.insert(0, str(REPO / "tests" / "tools"))
from cold_session import DOCS  # noqa: E402

EXPECTED = [[i, *extract_fused(d, strip=True, want_raw=True)]
            for i, d in enumerate(DOCS)]

if coldstart.keeps_conf_dir():
    pytest.skip("SPARK_CONF_DIR is set, or $SPARK_HOME/conf holds a "
                "setting: no archive is used", allow_module_level=True)


def _session(cache, *flags, checkout=REPO, cwd=None, log=None,
             **env) -> dict:
    """Run one session over ``cache`` from ``checkout``, in ``cwd``
    (default: the checkout); its result. An ``env`` value of None
    unsets the variable."""
    env = {**os.environ, "XDG_CACHE_HOME": str(cache),
           "SPARK_GRAFT_DRIVER_MEM": "1g", "PYTHONPATH": str(checkout), **env}
    env = {k: v for k, v in env.items() if v is not None}
    if log is not None:
        env["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, (
            env.get("SPARK_SUBMIT_OPTS"),
            f"-Xlog:cds=info,class+load=info:file={log}")))
    proc = subprocess.run([sys.executable, str(checkout / HARNESS), *flags],
                          cwd=cwd or checkout, env=env, capture_output=True,
                          text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    for stream in (proc.stdout, proc.stderr):
        assert "[cds" not in stream and "shared archive" not in stream
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["rows"] == EXPECTED
    return out


def _archives(cache) -> list:
    return sorted((Path(cache) / "htmlparser_spark" / "cds").glob("*.jsa"))


def _check_published(cache) -> Path:
    """One archive, whose name records its size, that starts with the
    dynamic archive magic; no temp file left behind."""
    cds = Path(cache) / "htmlparser_spark" / "cds"
    (archive,) = _archives(cache)
    assert archive.stat().st_size == int(archive.stem.rpartition("-")[2])
    assert archive.read_bytes()[:4] == coldstart.ARCHIVE_MAGIC
    assert not list(cds.glob("*.tmp"))
    return archive


def _spark_zip() -> str:
    return str(coldstart.spark_home() / "python" / "lib" / "pyspark.zip")


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """(cache, result) of a session over an empty cache."""
    cache = tmp_path_factory.mktemp("xdg")
    return cache, _session(cache)


@pytest.fixture
def cache(built):
    return built[0]


def test_missing_archive_builds_it(built):
    """The first session dumps the archive at its JVM's exit (the next
    maps it: test_two_checkouts_share_one_archive); the compiled zip is
    built before the launch, so the first daemon already imports it."""
    cache, first = built
    assert first["archive_flags"][0].startswith("-XX:ArchiveClassesAtExit=")
    assert first["pyspark"].startswith(str(cache))
    jar = Path(first["class_path_jar"])
    assert jar.parent == Path(cache) / "htmlparser_spark" / "jars"
    assert jar.read_bytes() == LOCALFS_JAR.read_bytes()
    _check_published(cache)


def test_truncated_archive_is_rebuilt(cache):
    """A truncated archive would crash the JVM (SIGBUS): its size no
    longer matches its name, so it is dropped and built again."""
    (archive,) = _archives(cache)
    with open(archive, "r+b") as f:
        f.truncate(archive.stat().st_size // 2)
    out = _session(cache)
    assert out["archive_flags"][0].startswith("-XX:ArchiveClassesAtExit=")
    _check_published(cache)


def test_stale_archive_falls_back(cache, monkeypatch):
    """An archive whose key no longer matches what the JVM checks: the
    class path jar changed after the dump (its mtime), and the archive
    sits under the new key. The JVM refuses it into the log file and
    starts without it."""
    (archive,) = _archives(cache)
    monkeypatch.setenv("XDG_CACHE_HOME", str(cache))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    jar = coldstart.jar_copy(LOCALFS_JAR)
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    key = coldstart.plan(LOCALFS_JAR, daemon=False).build.name.split(".")[0]
    stale = archive.with_name(f"{key}-{archive.stat().st_size}.jsa")
    archive.rename(stale)
    try:
        out = _session(cache)
        assert out["archive_flags"][0] == f"-XX:SharedArchiveFile={stale}"
        log = (Path(cache) / "htmlparser_spark" / "cds.log").read_text()
        assert "Unable to use shared archive" in log
    finally:
        stale.rename(archive)
        os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns))


def test_two_checkouts_share_one_archive(cache, tmp_path):
    """A copy of the checkout at another path maps the archive the
    first one built: the JVM reports its dynamic regions mapped and
    loads SparkContext from it."""
    archive = _check_published(cache)
    other = tmp_path / "checkout"
    shutil.copytree(REPO / "htmlparser_spark", other / "htmlparser_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copytree(REPO / "tests" / "tools", other / "tests" / "tools")
    log = tmp_path / "cds-info.log"
    out = _session(cache, checkout=other, log=log)
    assert out["checkout"] == str(other)
    assert out["archive_flags"] == [f"-XX:SharedArchiveFile={archive}",
                                    "-Xshare:auto"]
    text = log.read_text()
    assert "Mapped dynamic region" in text
    assert ("org.apache.spark.SparkContext source: shared objects file "
            "(top)") in text
    assert _archives(cache) == [archive]


def test_session_outside_the_checkout(cache, tmp_path):
    """A driver run from a working directory outside the checkout, with
    no PYTHONPATH: its workers still import the package (the kernel
    rows come back), and its daemon is the compiled-pyspark one."""
    out = _session(cache, cwd=tmp_path, PYTHONPATH=None)
    assert out["checkout"] == str(REPO)
    assert out["daemon"] == pydaemon.__name__
    assert out["pyspark"].startswith(str(cache))


def test_missing_compiled_zip_falls_back(cache):
    out = _session(cache, "--drop-pyzip")
    assert out["pyspark"].startswith(_spark_zip())


def test_foreign_compiled_zip_falls_back(cache, monkeypatch):
    """A zip compiled by another interpreter (another magic number)
    under this interpreter's name is not imported, and the next
    driver builds it again."""
    out = _session(cache, "--foreign-pyzip")
    assert out["pyspark"].startswith(_spark_zip())
    monkeypatch.setenv("XDG_CACHE_HOME", str(cache))
    path = pydaemon.compiled_zip(_spark_zip())
    assert path.startswith(str(cache)) and not pydaemon.usable(path)
    assert coldstart.plan(LOCALFS_JAR).daemon_module == pydaemon.__name__
    assert pydaemon.usable(path)


def test_publish_needs_clean_exit_and_archive_magic(tmp_path):
    """A temp archive is published under its final name only after a
    clean JVM exit, and only if it is a dynamic archive; otherwise it
    is removed."""
    key = "k" * 24
    good = coldstart.ARCHIVE_MAGIC + b"x" * 60
    for rc, data in ((1, good), (0, b"\0" * 64)):
        tmp = tmp_path / f"{key}.{os.getpid()}.tmp"
        tmp.write_bytes(data)
        assert coldstart.publish_archive(tmp, rc) is None
        assert list(tmp_path.iterdir()) == []
    tmp.write_bytes(good)
    final = coldstart.publish_archive(tmp, 0)
    assert final == tmp_path / f"{key}-64.jsa"
    assert list(tmp_path.iterdir()) == [final]


def test_real_conf_dir_turns_the_archive_off(cache, tmp_path):
    """A user-set SPARK_CONF_DIR is never replaced: its setting reaches
    the session, which runs with no archive flags and the checkout's
    jar on the class path."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.coldstart.probe on\n")
    out = _session(cache, SPARK_CONF_DIR=str(conf))
    assert out["conf_probe"] == "on"
    assert out["archive_flags"] == []
    assert out["class_path_jar"] == str(LOCALFS_JAR)


def test_cache_path_with_space_starts_without_archive(tmp_path):
    """The launcher splits the JVM options at whitespace, so a cache
    path with a space in it gets no archive flags; the session starts
    on the checkout's jar and its daemon still imports the compiled
    zip, a sys.path entry."""
    cache = tmp_path / "with space"
    out = _session(cache)
    assert out["archive_flags"] == []
    assert out["class_path_jar"] == str(LOCALFS_JAR)
    assert out["pyspark"].startswith(str(cache))
    assert _archives(cache) == []
