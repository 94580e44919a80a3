"""Main-content extraction: DOM-heuristic boilerplate classification.

The north rule's "HTML boilerplate strip … DOM heuristics" stage
beyond the reference's script/style drop (html.cpp:449-489 extracts
everything else): classify block-level DOM elements by integer link
density and text mass (htmldom/content.py — boilerpipe/readability
family heuristics), keep article-like blocks, drop navigation chrome.

Scale shape (100 TB): both surfaces are MAP-ONLY — one Arrow stage
(``kernel.map_docs`` / ``kernel.flatmap_docs``) over (keys, text), no
shuffle, no state; the scoring is a pure function of the text column
so the stage composes with the pipeline's checkpoint/resume contract
exactly like the parse kernel. The block surface explodes to
per-block rows Python-side *within the same stage* (no Spark explode
of an intermediate array column, so block arrays never hit the Arrow
boundary as nested payloads).
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
)

from ..htmldom.content import main_content, score_blocks
from ..htmldom.parse import parse
from ..kernel import flatmap_docs, map_docs

__all__ = ["extract_main_content", "content_blocks", "extract_markdown"]

_MAIN_FIELDS = [
    StructField("main_text", StringType(), True),
    StructField("n_kept_blocks", IntegerType(), True),
    StructField("n_candidate_blocks", IntegerType(), True),
]

_BLOCK_FIELDS = [
    StructField("node_id", IntegerType(), False),
    StructField("tag_name", StringType(), False),
    StructField("text_chars", LongType(), False),
    StructField("anchor_chars", LongType(), False),
    StructField("kept", BooleanType(), False),
]


def extract_main_content(df: DataFrame, text_col: str = "text",
                         min_text_len: int = 20,
                         link_density_pct: int = 33,
                         drop_text: bool = False,
                         decode_entities: bool = False) -> DataFrame:
    """Per-row main-content extraction: passthrough columns plus
    (main_text, n_kept_blocks, n_candidate_blocks).

    ``drop_text`` removes the source HTML inside the kernel (before
    the Arrow return transfer), same rationale as kernel.extract_text.
    """
    def fn(s):
        return main_content(parse(s), min_text_len=min_text_len,
                            link_density_pct=link_density_pct,
                            decode_entities=decode_entities)

    return map_docs(df, fn, _MAIN_FIELDS, (None, 0, 0), text_col=text_col,
                    drop_text=drop_text)


def content_blocks(df: DataFrame, key_cols: Tuple[str, ...] = ("doc_id",),
                   text_col: str = "text", min_text_len: int = 20,
                   link_density_pct: int = 33) -> DataFrame:
    """Exploded per-block scoring rows — the element-span surface:
    (key_cols…, node_id, tag_name, text_chars, anchor_chars, kept),
    one row per innermost candidate block, document order."""
    def fn(s):
        return score_blocks(parse(s), min_text_len=min_text_len,
                            link_density_pct=link_density_pct)

    keys = [f.name for f in df.schema.fields if f.name in key_cols]
    return flatmap_docs(df, fn, keys, _BLOCK_FIELDS, text_col=text_col)


_MD_FIELDS = [StructField("markdown", StringType(), True)]


def extract_markdown(df: DataFrame, text_col: str = "text",
                     drop_text: bool = False,
                     decode_entities: bool = False) -> DataFrame:
    """Per-row HTML → Markdown rendering (htmldom/markdown.py): the
    structure-preserving sibling of extract_main_content — headings,
    lists, links, emphasis and code fences survive as CommonMark
    markup instead of flattening to plain text.

    Same scale shape as the other extraction surfaces: one map-only
    Arrow stage over (passthrough cols, text), no shuffle, no state;
    composes with the pipeline checkpoint contract like the parse
    kernel. ``drop_text`` removes the source HTML before the Arrow
    return transfer."""
    from ..htmldom.markdown import to_markdown

    def fn(s):
        return (to_markdown(parse(s), decode_entities=decode_entities),)

    return map_docs(df, fn, _MD_FIELDS, (None,), text_col=text_col,
                    drop_text=drop_text)
