"""Structured table extraction: HTML ``<table>`` → per-cell rows.

Spark surface over htmldom/tables.py — the layout-parse stage of the
north rule's extraction tier. One map-only Arrow stage over
(key columns, html); the per-cell explosion happens Python-side
INSIDE the stage (same rationale as content_blocks: cell arrays never
cross the Arrow boundary as nested payloads), so the operator
composes with the pipeline's checkpoint/resume contract like the
parse kernel and adds no shuffle at any corpus size.
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
)

from ..htmldom.parse import parse
from ..htmldom.tables import extract_tables
from ..kernel import flatmap_docs

__all__ = ["extract_table_cells"]

_CELL_FIELDS = [
    StructField("table_idx", IntegerType(), False),
    StructField("row_idx", IntegerType(), False),
    StructField("col_idx", IntegerType(), False),
    StructField("is_header", BooleanType(), False),
    StructField("cell_text", StringType(), False),
]


def extract_table_cells(df: DataFrame,
                        key_cols: Tuple[str, ...] = ("doc_id",),
                        text_col: str = "text") -> DataFrame:
    """One output row per table cell: (key_cols…, table_idx, row_idx,
    col_idx, is_header, cell_text) in document order. Documents
    without tables contribute no rows; NULL html contributes no rows.
    """
    keys = [f.name for f in df.schema.fields if f.name in key_cols]
    return flatmap_docs(df, lambda s: extract_tables(parse(s)), keys,
                        _CELL_FIELDS, text_col=text_col)
