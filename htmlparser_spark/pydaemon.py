"""The Python daemon of local sessions: pyspark from compiled bytecode.

Spark starts its Python daemon as ``python -m <module>``, the module
named by ``spark.python.daemon.module``, with Spark's own
``$SPARK_HOME/python/lib/pyspark.zip`` on ``PYTHONPATH``. That zip holds
sources only, so every session's daemon compiles the pyspark modules it
imports again (``pyspark.daemon`` and ``pyspark.worker``: 1.3-1.5 s,
against 0.5 s from bytecode, on a 4-core VM). ``get_spark`` builds a
copy of the zip with each module's ``.pyc`` beside its source in the
cache (``coldstart``) and names this module as the daemon. It puts the copy first on ``sys.path`` and runs
``pyspark.daemon.manager()``; the forked workers inherit the imports.

The copy is found by this interpreter's ``sys.implementation.cache_tag``
and the Spark zip's ``(size, mtime_ns)``. When it is missing, or its
bytecode is not this interpreter's, the daemon imports Spark's zip, as
Spark's own daemon does. Nothing here imports pyspark before
``sys.path`` is settled.
"""

import os
import sys


def cache_dir() -> str:
    """``${XDG_CACHE_HOME:-~/.cache}/htmlparser_spark``: the caches of
    both sides of a session, outside any checkout."""
    base = (os.environ.get("XDG_CACHE_HOME")
            or os.path.join(os.path.expanduser("~"), ".cache"))
    return os.path.join(base, "htmlparser_spark")


def compiled_zip(spark_zip: str,
                 tag: str = sys.implementation.cache_tag) -> str:
    """Where the bytecode copy of ``spark_zip`` for ``tag`` lives."""
    st = os.stat(spark_zip)
    return os.path.join(cache_dir(), "pyspark",
                        f"pyspark-{tag}-{st.st_size}-{st.st_mtime_ns}.zip")


def usable(path: str) -> bool:
    """``path`` is a bytecode zip this interpreter can import: a copy
    with another interpreter's magic number would fail every import."""
    import zipfile
    from importlib.util import MAGIC_NUMBER

    try:
        with zipfile.ZipFile(path) as z, z.open("pyspark/__init__.pyc") as f:
            return f.read(4) == MAGIC_NUMBER
    except (OSError, KeyError, zipfile.BadZipFile):
        return False


def main() -> None:
    spark_zip = next((p for p in sys.path
                      if os.path.basename(p) == "pyspark.zip"), None)
    if spark_zip is not None and sys.implementation.cache_tag:
        try:
            path = compiled_zip(spark_zip)
        except OSError:
            path = None
        if path is not None and usable(path):
            sys.path.insert(0, path)
    from pyspark import daemon
    daemon.manager()


if __name__ == "__main__":
    main()
