"""Arrow-batch kernels + Spark schemas: the Python↔JVM boundary.

Everything here is a *vectorized* batch function (``mapInPandas`` /
scalar ``pandas_udf``) — no per-row Python UDFs anywhere (contract
from BASELINE.json input_hint). Each kernel is a pure function of the
``text`` column, which is what makes the pipeline idempotent and
checkpoint-resumable.

The parse kernel fuses tokenize → tree-build → boilerplate-strip →
serialize into ONE stage (the reference gets the same effect from
parse-time callbacks, html.cpp:539-553; in Spark the fusion is free
because a single mapInPandas stage pipelines per Arrow batch).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
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
    "extract_result_schema",
    "make_extract_fn",
    "extract_text",
    "nodes_schema",
    "make_explode_nodes_fn",
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


def extract_result_schema(passthrough: StructType,
                          include_raw: bool = True,
                          drop_cols: tuple = ()) -> StructType:
    fields = [f for f in passthrough.fields if f.name not in drop_cols]
    for f in EXTRACT_OUTPUT_FIELDS:
        if f.name == "raw_html" and not include_raw:
            continue
        fields.append(f)
    return StructType(fields)


def make_extract_fn(text_col: str = "text", strip: bool = True,
                    include_raw: bool = True, raw_collapse: bool = False,
                    drop_text: bool = False, decode_entities: bool = False):
    """Build the mapInPandas kernel: per Arrow batch, parse every turn
    and emit extracted_text (+ raw_html, node/error counts).

    ``strip`` toggles the boilerplate-strip stage (drop script/style
    subtrees) — ON for the pipeline, OFF for reference-equality runs.
    ``decode_entities`` (opt-in, default OFF = reference byte-equality)
    decodes HTML5 character references per text node in extracted_text
    only (htmldom/fused.py).
    """
    from .htmldom.fused import extract_fused

    def extract_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = pdf[text_col]
            n = len(texts)
            ext = [None] * n
            raw = [None] * n
            n_nodes = [0] * n
            n_errors = [0] * n
            for i, s in enumerate(texts):
                if s is None:
                    continue
                # fused single-pass kernel (differentially tested against
                # the Doc path in tests/test_fused_equivalence.py)
                ext[i], raw[i], n_nodes[i], n_errors[i] = extract_fused(
                    s, strip=strip, want_raw=include_raw,
                    raw_collapse=raw_collapse,
                    decode_entities=decode_entities)
            # dropping the source HTML here (not in a later projection)
            # keeps it out of the Arrow return transfer and every
            # downstream shuffle — at 10^12-turn scale the raw HTML is
            # the widest column in the table
            out = (pdf.drop(columns=[text_col]) if drop_text
                   else pdf.copy())
            out["extracted_text"] = pd.Series(ext, dtype="object")
            if include_raw:
                out["raw_html"] = pd.Series(raw, dtype="object")
            out["n_nodes"] = pd.Series(n_nodes, dtype="int32")
            out["n_errors"] = pd.Series(n_errors, dtype="int32")
            yield out

    return extract_fn


def extract_text(df: DataFrame, text_col: str = "text", strip: bool = True,
                 include_raw: bool = True, raw_collapse: bool = False,
                 drop_text: bool = False,
                 decode_entities: bool = False) -> DataFrame:
    """DataFrame-level extraction: append extracted_text / raw_html /
    n_nodes / n_errors to ``df`` via one Arrow-batched stage.
    ``drop_text=True`` removes the source HTML column from the output
    (shuffle/sink payload reduction for the pipeline hot path).
    ``decode_entities=True`` opts in to HTML5 character-reference
    decoding of extracted_text (default OFF = reference
    byte-equality)."""
    schema = extract_result_schema(
        df.schema, include_raw=include_raw,
        drop_cols=(text_col,) if drop_text else ())
    fn = make_extract_fn(text_col=text_col, strip=strip,
                         include_raw=include_raw, raw_collapse=raw_collapse,
                         drop_text=drop_text,
                         decode_entities=decode_entities)
    return df.mapInPandas(fn, schema)


def nodes_schema(passthrough: StructType) -> StructType:
    """Schema of the exploded nodes view: passthrough keys + NODE_STRUCT
    fields as top-level columns (one output row per DOM node)."""
    return StructType(list(passthrough.fields) + list(NODE_STRUCT.fields))


def make_explode_nodes_fn(text_col: str = "text", key_cols=("doc_id",)):
    """Build a mapInPandas kernel producing the exploded relational DOM:
    one row per node, keyed by ``key_cols``. Selector predicates become
    plain Spark SQL filters over this view (SURVEY §2.C mapping)."""
    key_cols = list(key_cols)

    def explode_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys = {k: [] for k in key_cols}
            cols = {
                "node_id": [], "parent_id": [], "depth": [], "kind": [],
                "tag_name": [], "content": [], "attrs": [],
                "self_closing": [], "tag_index": [], "n_tag_children": [],
                "n_tag_siblings": [], "ancestor_ids": [],
            }
            for row in pdf[key_cols + [text_col]].itertuples(index=False):
                s = row[-1]
                if s is None:
                    continue
                doc = parse(s)
                m = len(doc)
                for k, v in zip(key_cols, row[:-1]):
                    keys[k].extend([v] * m)
                cols["node_id"].extend(range(m))
                cols["parent_id"].extend(doc.parent)
                cols["depth"].extend(doc.depth)
                cols["kind"].extend(doc.kind)
                cols["tag_name"].extend(doc.tag)
                cols["content"].extend(doc.content)
                cols["attrs"].extend(doc.attrs)
                cols["self_closing"].extend(doc.self_closing)
                cols["tag_index"].extend(doc.tag_index)
                cols["n_tag_children"].extend(doc.n_tag_children)
                # parent's final tag count (powers the :last predicate)
                cols["n_tag_siblings"].extend(
                    doc.node_count_of(p) for p in doc.parent)
                # ancestors root→parent, computed incrementally (parent
                # precedes child in pre-order)
                anc: list = [None] * m
                parent = doc.parent
                for nid in range(m):
                    p = parent[nid]
                    anc[nid] = [] if p < 0 else anc[p] + [p]
                cols["ancestor_ids"].extend(anc)
            out = pd.DataFrame({**keys, **cols})
            yield out

    return explode_fn


def explode_nodes(df: DataFrame, text_col: str = "text",
                  key_cols=("doc_id",)) -> DataFrame:
    """Exploded relational DOM view of ``df[text_col]``."""
    passthrough = StructType([df.schema[k] for k in key_cols])
    fn = make_explode_nodes_fn(text_col=text_col, key_cols=key_cols)
    return df.select(*key_cols, text_col).mapInPandas(
        fn, nodes_schema(passthrough))
