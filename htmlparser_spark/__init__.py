"""htmlparser_spark — PySpark-native main-content extraction engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference HTML parser (mylogin/htmlparser): an HTML5-style tokenizer +
DOM builder + CSS-selector query engine + text/attribute extraction,
packaged as vectorized Arrow-batch kernels over DataFrames of
multi-turn transcripts, with salted repartitioning, stable turn
ordering, checkpoint lineage + idempotent resume, and a suite of
training-data pipeline operators (dedup, similarity search, text
stats, multimodal plumbing).

Layout:
    htmldom/    pure-Python parse/select/serialize kernel (no Spark)
    kernel.py   Arrow-batch kernels + Spark schemas
    operators/  extraction pipeline, selectors-as-DataFrames, dedup, ANN
    sources/    transcripts synthesizers (test-scale + distributed)
    functions/  column-level helpers (JVM-side expressions)
    plans/      plan-inspection helpers (pushdown/codegen assertions)

Importing the package also makes ``importlib.invalidate_caches()``
cheap on Python below 3.13 (``_skip_unchanged_zip_rereads``): the
pyspark worker calls it at the start of every task, and each cached
``zipimporter`` would otherwise re-read its archive's directory
(pyspark.zip, the py4j zip and the spark-core jar are all on the
worker ``PYTHONPATH``). Every package UDF imports the package in its
worker, so the check is in place from the worker's next task on.
"""

import sys

__version__ = "0.1.0"


def _skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive's ``(st_mtime_ns, st_size)``
    changed since the last read. Idempotent; a no-op on Python 3.13
    and later, whose ``invalidate_caches`` only drops the cache."""
    if sys.version_info >= (3, 13):
        return
    import functools
    import os
    import zipimport

    cls = zipimport.zipimporter
    reread = cls.invalidate_caches
    if getattr(reread, "_stat_checked", False):
        return
    # archive -> (stamp taken before the read, directory read)
    seen: dict = {}

    @functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        stamp = (st.st_mtime_ns, st.st_size)
        hit = seen.get(self.archive)
        if hit is not None and hit[0] == stamp:
            self._files = hit[1]
            zipimport._zip_directory_cache[self.archive] = hit[1]
            return
        reread(self)
        seen[self.archive] = (stamp, self._files)

    invalidate_caches._stat_checked = True
    cls.invalidate_caches = invalidate_caches


_skip_unchanged_zip_rereads()
