"""Cold-start caches for the local driver: a class-data archive for its
JVM, and compiled pyspark for its Python daemon.

A fresh process spends most of its first seconds loading JVM classes
and compiling pyspark, not working. ``get_spark`` keeps two caches
under ``${XDG_CACHE_HOME:-~/.cache}/htmlparser_spark/``, never in the
checkout. Each builds itself the first time it is missing, and a
missing, stale or corrupt one only costs the time it would have saved.

- ``cds/``: a dynamic AppCDS archive of the classes a session loads.
  On a miss the JVM runs with ``-XX:ArchiveClassesAtExit`` into a temp
  file, which is published under its final name only after that JVM
  exited cleanly (``publish_archive``); on a hit it runs with
  ``-XX:SharedArchiveFile=<archive> -Xshare:auto``. The JVM maps an
  archive only on the class path it was dumped with, and refuses to
  dump one over a non-empty directory on it. So the launch points
  ``SPARK_CONF_DIR`` at an empty directory in the cache, which is done
  only when it is unset and ``$SPARK_HOME/conf`` holds nothing but
  ``*.template`` files (a real conf dir is never dropped, and no archive
  is used then), and puts a content-named copy of the ``file:`` adapter
  jar in the cache on the driver class path instead of the checkout's,
  so that every checkout shares one archive. The archive's name carries
  a key of the JDK and the class path (``archive_key``) and its size: a
  truncated archive would crash the JVM, so one whose size differs is
  treated as missing. CDS messages go to ``cds.log`` in the cache, not
  to the console, where they would follow a job's last line.
  No archive is used when the cache path holds whitespace or quotes,
  which the launcher would split the flags at.
- ``pyspark/``: a copy of ``$SPARK_HOME/python/lib/pyspark.zip`` with
  each module's ``.pyc`` beside its source, for the daemon module
  ``pydaemon``, which falls back to Spark's zip by itself.
"""

from __future__ import annotations

import atexit
import hashlib
import marshal
import os
import shutil
import subprocess
import warnings
import zipfile
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path
from typing import Optional

from . import pydaemon

__all__ = ["Launch", "plan", "launching", "archive_key", "publish_archive",
           "build_pyspark_zip", "spark_home", "keeps_conf_dir", "prebuild"]

DAEMON_MODULE = pydaemon.__name__
# HotSpot's dynamic archive magic number (CDS_DYNAMIC_ARCHIVE_MAGIC)
ARCHIVE_MAGIC = (0xF00BABA8).to_bytes(4, "little")
# archives kept when one is published: one per key in use (a JDK or
# Spark upgrade, or another adapter jar, makes a new key)
ARCHIVES_KEPT = 2
# how long a process waits at exit for its JVM to write the archive
DUMP_WAIT_S = 300


@dataclass
class Launch:
    """How to launch one driver JVM: its class path entry for the
    adapter jar, its archive flags, the environment they need, and the
    Python daemon module (None: Spark's own)."""
    class_path: str
    java_options: tuple = ()
    env: dict = field(default_factory=dict)
    daemon_module: Optional[str] = None
    # the temp file the JVM writes its archive to at exit (a miss)
    build: Optional[Path] = None


def cache_dir() -> Path:
    return Path(pydaemon.cache_dir())


def spark_home() -> Path:
    from pyspark.find_spark_home import _find_spark_home
    return Path(_find_spark_home())


def java_home() -> Path:
    """The JDK the launcher runs: ``$JAVA_HOME``, else ``java`` on PATH."""
    home = os.environ.get("JAVA_HOME")
    if home:
        return Path(home).resolve()
    java = shutil.which("java")
    if java is None:
        raise OSError("no java on PATH")
    return Path(java).resolve().parent.parent


def keeps_conf_dir() -> bool:
    """A launch must keep its conf dir: ``SPARK_CONF_DIR`` is set, or
    ``$SPARK_HOME/conf`` holds more than ``*.template`` files."""
    if "SPARK_CONF_DIR" in os.environ:
        return True
    conf = spark_home() / "conf"
    return conf.is_dir() and any(not p.name.endswith(".template")
                                 for p in conf.iterdir())


def empty_conf_dir() -> Optional[Path]:
    """The empty directory a launch can take as ``SPARK_CONF_DIR``
    without changing a setting, or None when it would change one."""
    if keeps_conf_dir():
        return None
    empty = cache_dir() / "conf"
    empty.mkdir(parents=True, exist_ok=True)
    return None if any(empty.iterdir()) else empty


def jar_copy(jar: Path) -> Path:
    """A copy of ``jar`` in the cache, named by its content."""
    data = jar.read_bytes()
    digest = hashlib.sha256(data).hexdigest()[:16]
    dst = cache_dir() / "jars" / f"{jar.stem}-{digest}{jar.suffix}"
    if not dst.is_file() or dst.read_bytes() != data:
        dst.parent.mkdir(parents=True, exist_ok=True)
        tmp = dst.with_name(f".{dst.name}.{os.getpid()}.tmp")
        tmp.write_bytes(data)
        os.replace(tmp, dst)
    return dst


def archive_key(class_path: list) -> str:
    """The JDK (its real home and ``release`` file) and the class path
    (each entry's name, and every jar's name, size and mtime: the JVM
    rejects an archive whose jars changed)."""
    h = hashlib.sha256()
    home = java_home()
    h.update(str(home).encode())
    release = home / "release"
    if release.is_file():
        h.update(release.read_bytes())
    for entry in class_path:
        h.update(b"\0" + str(entry).encode())
        files = sorted(entry.iterdir()) if entry.is_dir() else [entry]
        for f in files:
            st = f.stat()
            h.update(f"{f.name} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:24]


def _archive(cds: Path, key: str) -> Optional[Path]:
    """The published archive of ``key``, if its size is the one its
    name records; an archive of another size is removed."""
    for p in sorted(cds.glob(f"{key}-*.jsa")):
        size = p.stem.rpartition("-")[2]
        if size.isdigit() and p.stat().st_size == int(size):
            return p
        p.unlink(missing_ok=True)
    return None


def _driver_archive(jar: Path, build: bool):
    """(class path jar, archive flags, env, temp archive) for the
    driver JVM; None when no archive can be used or built."""
    if any(c.isspace() or c in "\"'\\" for c in str(cache_dir())):
        # the launcher splits SPARK_SUBMIT_OPTS and --driver-java-options
        # at whitespace, and reads quotes: the flags name cache paths
        return None
    conf = empty_conf_dir()
    if conf is None:
        return None
    copy = jar_copy(jar)
    cds = cache_dir() / "cds"
    cds.mkdir(parents=True, exist_ok=True)
    key = archive_key([copy, conf, spark_home() / "jars"])
    archive = _archive(cds, key)
    tmp = None
    if archive is not None:
        flags = (f"-XX:SharedArchiveFile={archive}", "-Xshare:auto")
    elif build:
        tmp = cds / f"{key}.{os.getpid()}.tmp"
        flags = (f"-XX:ArchiveClassesAtExit={tmp}",)
    else:
        return None
    log = cache_dir() / "cds.log"
    flags += ("-Xlog:cds*=off", f"-Xlog:cds*=warning:file={log}")
    return str(copy), flags, {"SPARK_CONF_DIR": str(conf)}, tmp


def _workers_import_package() -> bool:
    """Local Python workers start in the driver's working directory
    with the driver's ``PYTHONPATH``: the daemon module is importable
    there only when the package root is one of them."""
    root = Path(__file__).resolve().parent.parent
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return any(p and Path(p).resolve() == root for p in paths)


def _daemon_module() -> Optional[str]:
    """``pydaemon`` with its compiled zip built, or None (Spark's
    daemon) when the workers could not import it."""
    spark_zip = spark_home() / "python" / "lib" / "pyspark.zip"
    if not spark_zip.is_file() or not _workers_import_package():
        return None
    dest = Path(pydaemon.compiled_zip(str(spark_zip)))
    if not pydaemon.usable(str(dest)):
        try:
            build_pyspark_zip(spark_zip, dest)
        except (OSError, SyntaxError, zipfile.BadZipFile):
            pass  # the daemon imports Spark's zip
    return DAEMON_MODULE


def plan(jar: Path, build: bool = True, daemon: bool = True) -> Launch:
    """The launch of a driver JVM whose class path carries ``jar``.
    ``build``: on a miss, dump an archive at the JVM's exit (a deploy
    line, whose JVM exit this process does not see, passes False and
    gets no archive flags until one exists). Cache errors fall back
    to the plain launch."""
    launch = Launch(class_path=str(jar))
    try:
        archive = _driver_archive(jar, build)
    except OSError:
        archive = None
    if archive is not None:
        launch.class_path, launch.java_options, launch.env, launch.build = \
            archive
    if daemon:
        try:
            launch.daemon_module = _daemon_module()
        except OSError:
            pass
    return launch


@contextmanager
def launching(launch: Launch):
    """Launch the driver JVM started in the body with ``launch``'s
    archive flags and environment (through ``SPARK_SUBMIT_OPTS`` and
    ``SPARK_CONF_DIR``; the process environment is restored after),
    and publish the archive it dumps when this process exits. No-op
    when the body reuses a running JVM."""
    from pyspark import SparkContext

    if SparkContext._gateway is not None \
            or "PYSPARK_GATEWAY_PORT" in os.environ:
        yield
        return
    env = dict(launch.env)
    if launch.java_options:
        env["SPARK_SUBMIT_OPTS"] = " ".join(
            filter(None, (os.environ.get("SPARK_SUBMIT_OPTS"),
                          *launch.java_options)))
    saved = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
    proc = getattr(SparkContext._gateway, "proc", None)
    if launch.build is not None and proc is not None:
        atexit.register(_publish_at_exit, proc, launch.build)


def _publish_at_exit(proc: subprocess.Popen, tmp: Path) -> None:
    """Let the JVM exit (it does on EOF of its stdin), wait while it
    writes the archive, then publish it."""
    if proc.poll() is None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            return
    publish_archive(tmp, proc.returncode)


def publish_archive(tmp: Path, returncode: int) -> Optional[Path]:
    """Move the archive a JVM dumped to ``tmp`` to its final name
    ``<key>-<size>.jsa`` when the JVM exited with 0 and the file is a
    dynamic archive; remove it otherwise. Keeps the ``ARCHIVES_KEPT``
    newest archives and drops temp files of processes gone."""
    final = None
    try:
        with open(tmp, "rb") as f:
            magic = f.read(4)
        size = tmp.stat().st_size
        if returncode == 0 and magic == ARCHIVE_MAGIC:
            key = tmp.name.split(".")[0]
            final = tmp.with_name(f"{key}-{size}.jsa")
            os.replace(tmp, final)
    except OSError:
        final = None
    finally:
        tmp.unlink(missing_ok=True)
    try:
        _prune(tmp.parent)
    except OSError:
        pass  # another process pruned or published meanwhile
    return final


def _prune(cds: Path) -> None:
    archives = sorted(cds.glob("*.jsa"), key=lambda p: p.stat().st_mtime,
                      reverse=True)
    for p in archives[ARCHIVES_KEPT:]:
        p.unlink(missing_ok=True)
    for p in cds.glob("*.tmp"):
        pid = p.name.split(".")[1]
        if pid.isdigit() and not _alive(int(pid)):
            p.unlink(missing_ok=True)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def build_pyspark_zip(spark_zip: Path, dest: Path) -> None:
    """Write a copy of ``spark_zip`` that holds, beside every module's
    source, its bytecode (unchecked hash-based ``.pyc``, so the bytes do
    not depend on when it was built) to ``dest``, through a temp file.
    zipimport takes the ``.pyc`` without reading the source, which stays
    for tracebacks; they keep the module paths inside ``spark_zip``."""
    from importlib.util import MAGIC_NUMBER, source_hash

    dest.parent.mkdir(parents=True, exist_ok=True)
    tmp = dest.with_name(f".{dest.name}.{os.getpid()}.tmp")
    try:
        # compiling warns of what the sources hold (invalid escapes),
        # as an import from Spark's zip would in every daemon
        with warnings.catch_warnings(), zipfile.ZipFile(spark_zip) as src, \
                zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as out:
            warnings.simplefilter("ignore")
            for info in src.infolist():
                data = src.read(info)
                out.writestr(info, data)
                if not info.filename.endswith(".py"):
                    continue
                code = compile(data, os.path.join(spark_zip, info.filename),
                               "exec", dont_inherit=True)
                pyc = (MAGIC_NUMBER + (1).to_bytes(4, "little")
                       + source_hash(data) + marshal.dumps(code))
                out.writestr(zipfile.ZipInfo(info.filename + "c",
                                             info.date_time), pyc,
                             zipfile.ZIP_DEFLATED)
        os.replace(tmp, dest)
    finally:
        tmp.unlink(missing_ok=True)


def prebuild() -> None:
    """Build both caches now (``make cache``): one session runs the
    checkpointed extract on a small synthetic input, so the archive its
    JVM dumps at exit holds the classes a job loads. Starts nothing
    when both exist."""
    import tempfile

    from .session import LOCALFS_JAR, get_spark

    launch = plan(LOCALFS_JAR)
    if launch.build is None:
        archive = [o.partition("=")[2] for o in launch.java_options
                   if o.startswith("-XX:SharedArchiveFile=")]
        print(f"class-data archive: {archive[0] if archive else 'off'}; "
              f"daemon module: {launch.daemon_module or 'Spark default'}")
        return
    from .operators.checkpoint import run_checkpointed
    from .sources.transcripts import generate_spark_df

    spark = get_spark(app="htmlparser_spark-cache")
    with tempfile.TemporaryDirectory() as tmp:
        df = generate_spark_df(spark, n_convs=20, n_turns=200)
        run_checkpointed(spark, df, os.path.join(tmp, "out"),
                         os.path.join(tmp, "manifest"), n_buckets=8)
    spark.stop()
    print(f"the class-data archive is written when this process exits: "
          f"{cache_dir() / 'cds'}")
