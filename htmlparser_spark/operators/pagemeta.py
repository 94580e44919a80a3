"""Page-metadata extraction: one metadata row per document.

Spark surface over htmldom/meta.py. Crawl pipelines gate corpus
membership on these fields (robots noindex, canonical URL collapse,
language routing) before any body-text work, so the operator is
designed to run FIRST and cheap: one map-only Arrow stage over
(passthrough cols, html), no shuffle at any corpus size, composing
with the pipeline checkpoint/resume contract like the parse kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    StringType,
    StructField,
)

from ..htmldom.meta import META_FIELDS, extract_page_meta
from ..htmldom.parse import parse
from ..kernel import map_docs

__all__ = ["extract_page_metadata"]

_META_FIELDS_SQL = [
    StructField(n, BooleanType() if n == "robots_noindex"
                else StringType(), True)
    for n in META_FIELDS
]


def extract_page_metadata(df: DataFrame, text_col: str = "text",
                          drop_text: bool = False) -> DataFrame:
    """Append the ``META_FIELDS`` columns (title, base_href,
    canonical_url, meta_description, meta_robots, robots_noindex,
    og_title, og_url, lang, charset) to every row; NULL html yields
    all-NULL fields with ``robots_noindex`` NULL too (unknown, not
    False — the caller decides the crawl policy for unparsed rows).
    ``drop_text`` removes the source HTML before the Arrow return
    transfer."""
    def fn(s):
        meta = extract_page_meta(parse(s))
        return tuple(meta[name] for name in META_FIELDS)

    return map_docs(df, fn, _META_FIELDS_SQL, (None,) * len(META_FIELDS),
                    text_col=text_col, drop_text=drop_text)
