"""Arrow-batch kernels + Spark schemas: the Python↔JVM boundary.

Every HTML-surface operator crosses into Python through one of two
helpers built on ``DataFrame.mapInArrow``: ``map_docs`` (one row out
per row in) and ``flatmap_docs`` (N rows out per row in). They own
the batch loop, NULL text, passthrough vs dropped source text, the
output schema and the Arrow types, so a kernel is only a function of
one document's text. No per-row Python UDFs anywhere (contract from
BASELINE.json input_hint). Each kernel is a pure function of the
``text`` column, which is what makes the pipeline idempotent and
checkpoint-resumable.

The parse kernel fuses tokenize → tree-build → boilerplate-strip →
serialize into ONE stage (the reference gets the same effect from
parse-time callbacks, html.cpp:539-553; in Spark the fusion is free
because a single mapInArrow stage pipelines per Arrow batch).
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, Sequence

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from .htmldom import parse

__all__ = [
    "NODE_STRUCT",
    "ERROR_STRUCT",
    "EXTRACT_OUTPUT_FIELDS",
    "map_docs",
    "flatmap_docs",
    "extract_text",
    "explode_nodes",
]

# Exploded-node schema (FIXTURES.md §2): the relational view of the DOM.
NODE_STRUCT = StructType([
    StructField("node_id", IntegerType(), False),
    StructField("parent_id", IntegerType(), False),
    StructField("depth", IntegerType(), False),
    StructField("kind", IntegerType(), False),  # 0 text 1 tag 2 comment 3 doctype
    StructField("tag_name", StringType(), False),
    StructField("content", StringType(), False),
    StructField("attrs", MapType(StringType(), StringType()), True),
    StructField("self_closing", BooleanType(), False),
    StructField("tag_index", IntegerType(), False),
    StructField("n_tag_children", IntegerType(), False),
    StructField("n_tag_siblings", IntegerType(), False),
    StructField("ancestor_ids", ArrayType(IntegerType()), False),
])

ERROR_STRUCT = StructType([
    StructField("node_id", IntegerType(), False),
    StructField("tag_name", StringType(), False),
    StructField("path", StringType(), False),
])

# Columns the extraction kernel appends to the passthrough columns.
EXTRACT_OUTPUT_FIELDS = [
    StructField("extracted_text", StringType(), True),
    StructField("raw_html", StringType(), True),
    StructField("n_nodes", IntegerType(), True),
    StructField("n_errors", IntegerType(), True),
]


def _arrays(rows: list, types: list) -> list:
    """Transpose row tuples into one Arrow array per output field."""
    cols = zip(*rows) if rows else [()] * len(types)
    return [pa.array(c, type=t) for c, t in zip(cols, types)]


def map_docs(df: DataFrame, fn: Callable[[str], tuple],
             out_fields: Sequence[StructField], null_row: tuple,
             text_col: str = "text", drop_text: bool = False) -> DataFrame:
    """One row out per row in: ``df``'s columns (without ``text_col``
    when ``drop_text``) followed by ``out_fields``, filled from the
    tuple ``fn(text)``; a NULL text yields ``null_row``.

    The passthrough columns go back as the Arrow arrays that came in.
    Dropping the source HTML here, not in a later projection, keeps it
    out of the Arrow return transfer and every downstream shuffle — at
    10^12-turn scale the raw HTML is the widest column in the table."""
    names = df.schema.names
    t = names.index(text_col)
    keep = [i for i in range(len(names)) if not (drop_text and i == t)]
    schema = StructType([df.schema.fields[i] for i in keep]
                        + list(out_fields))
    types = [to_arrow_type(f.dataType) for f in out_fields]

    def batch_fn(batches: Iterator[pa.RecordBatch]
                 ) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            rows = [null_row if s is None else fn(s)
                    for s in rb.column(t).to_pylist()]
            yield pa.RecordBatch.from_arrays(
                [rb.column(i) for i in keep] + _arrays(rows, types),
                names=schema.names)

    return df.mapInArrow(batch_fn, schema)


def flatmap_docs(df: DataFrame, fn: Callable[..., Iterable[tuple]],
                 key_cols: Sequence[str],
                 out_fields: Sequence[StructField],
                 text_col: str = "text",
                 arg_cols: Sequence[str] = ()) -> DataFrame:
    """N rows out per row in: ``key_cols`` (in the order given)
    followed by ``out_fields``, one row per tuple that
    ``fn(text, *args)`` yields, ``args`` being the row's ``arg_cols``
    values; a NULL text yields no rows. The key columns are repeated
    Arrow-side (``take``), never converted to Python."""
    key_cols = list(key_cols)
    nk = len(key_cols)
    schema = StructType([df.schema[k] for k in key_cols] + list(out_fields))
    types = [to_arrow_type(f.dataType) for f in out_fields]

    def batch_fn(batches: Iterator[pa.RecordBatch]
                 ) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            rows: list = []
            idx: list = []
            inputs = zip(*(c.to_pylist() for c in rb.columns[nk:]))
            for i, (s, *args) in enumerate(inputs):
                if s is None:
                    continue
                n0 = len(rows)
                rows.extend(fn(s, *args))
                idx += [i] * (len(rows) - n0)
            take = pa.array(idx, type=pa.int32())
            yield pa.RecordBatch.from_arrays(
                [rb.column(k).take(take) for k in range(nk)]
                + _arrays(rows, types),
                names=schema.names)

    return (df.select(*key_cols, text_col, *arg_cols)
            .mapInArrow(batch_fn, schema))


def extract_text(df: DataFrame, text_col: str = "text", strip: bool = True,
                 include_raw: bool = True, raw_collapse: bool = False,
                 drop_text: bool = False,
                 decode_entities: bool = False) -> DataFrame:
    """DataFrame-level extraction: append extracted_text / raw_html /
    n_nodes / n_errors to ``df`` via one Arrow-batched stage; a NULL
    text yields NULL text columns and zero counts.

    ``strip`` toggles the boilerplate-strip stage (drop script/style
    subtrees) — ON for the pipeline, OFF for reference-equality runs.
    ``drop_text=True`` removes the source HTML column from the output
    (shuffle/sink payload reduction for the pipeline hot path).
    ``decode_entities=True`` opts in to HTML5 character-reference
    decoding of extracted_text (default OFF = reference
    byte-equality; htmldom/fused.py)."""
    from .htmldom.fused import extract_fused

    def fn(s):
        # fused single-pass kernel (differentially tested against the
        # Doc path in tests/test_fused_equivalence.py)
        ext, raw, n_nodes, n_errors = extract_fused(
            s, strip=strip, want_raw=include_raw,
            raw_collapse=raw_collapse, decode_entities=decode_entities)
        if include_raw:
            return ext, raw, n_nodes, n_errors
        return ext, n_nodes, n_errors

    out_fields = [f for f in EXTRACT_OUTPUT_FIELDS
                  if include_raw or f.name != "raw_html"]
    null_row = (None,) * (len(out_fields) - 2) + (0, 0)
    return map_docs(df, fn, out_fields, null_row, text_col=text_col,
                    drop_text=drop_text)


def _dom_rows(s: str):
    """One NODE_STRUCT tuple per DOM node of ``s``, in pre-order."""
    doc = parse(s)
    parent = doc.parent
    # ancestors root→parent, computed incrementally (parent precedes
    # child in pre-order)
    anc: list = []
    for p in parent:
        anc.append([] if p < 0 else anc[p] + [p])
    return zip(range(len(doc)), parent, doc.depth, doc.kind, doc.tag,
               doc.content, doc.attrs, doc.self_closing, doc.tag_index,
               doc.n_tag_children,
               # parent's final tag count (powers the :last predicate)
               [doc.node_count_of(p) for p in parent],
               anc)


def explode_nodes(df: DataFrame, text_col: str = "text",
                  key_cols=("doc_id",)) -> DataFrame:
    """Exploded relational DOM view of ``df[text_col]``: ``key_cols``
    plus NODE_STRUCT fields as top-level columns, one output row per
    DOM node. Selector predicates become plain Spark SQL filters over
    this view (SURVEY §2.C mapping)."""
    return flatmap_docs(df, _dom_rows, key_cols, NODE_STRUCT.fields,
                        text_col=text_col)
