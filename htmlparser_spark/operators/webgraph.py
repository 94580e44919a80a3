"""Web-graph operators: per-page outlink rows and integer PageRank.

The graph side of the crawl pipeline: ``extract_doc_links`` turns
pages into edge rows (the input to URL-frontier dedup and anchor-text
indexing), ``pagerank`` ranks the resulting graph — the classic
crawl-prioritization / quality-prior signal.

Scale shape:

- ``extract_doc_links`` is one map-only Arrow stage over
  (keys, html); each page goes through the one-pass
  ``htmldom.links.extract_links_fused`` (no DOM is built) and the
  per-link explosion happens Python-side inside the stage, so no
  shuffle and no nested payloads cross Arrow.
- ``pagerank`` is the standard Spark iteration: per round one hash
  join of (node, rank) onto edges by src plus one map-side-combined
  sum by dst — all shuffled rows are pairs of longs (16 B), the edge
  list itself is shuffled ONCE into a reusable hash partitioning and
  cached, and localCheckpoint truncates lineage each round. Fixed
  iteration count (the crawl-prior use wants a deterministic budget,
  not convergence detection), so the job is exactly
  ``iterations``+2 shuffles at any graph size.

Integer-lattice ranks (like operators/cluster.py's Lloyd): ranks live
on a ``scale`` lattice with floor division everywhere, so the whole
fixpoint is exactly replayable in ANSI SQL — the driver oracle
(queries.py) unrolls the iterations as CTEs and must match bit-for-bit.
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
)

from ..htmldom.links import extract_links_fused
from ..kernel import flatmap_docs

__all__ = ["extract_doc_links", "pagerank", "anchor_text_index"]

_LINK_FIELDS = [
    StructField("link_idx", IntegerType(), False),
    StructField("href", StringType(), False),
    StructField("href_abs", StringType(), True),
    StructField("anchor_text", StringType(), False),
    StructField("nofollow", BooleanType(), False),
]


def extract_doc_links(df: DataFrame,
                      key_cols: Tuple[str, ...] = ("doc_id",),
                      text_col: str = "text",
                      base_col: Optional[str] = None) -> DataFrame:
    """One output row per href-bearing ``<a>``: (key_cols…, link_idx,
    href, href_abs, anchor_text, nofollow) in document order.
    ``href_abs`` is RFC-3986 resolution of href against ``base_col``
    (NULL when no base column is given or the base is NULL). Pages
    without links and NULL html contribute no rows."""
    def fn(s, base=None):
        return extract_links_fused(s, resolve_against=base)

    keys = [f.name for f in df.schema.fields if f.name in key_cols]
    return flatmap_docs(df, fn, keys, _LINK_FIELDS, text_col=text_col,
                        arg_cols=(base_col,) if base_col else ())


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             iterations: int = 3, damping_num: int = 85,
             damping_den: int = 100,
             scale: int = 1_000_000) -> DataFrame:
    """Integer-lattice PageRank over the (src, dst) edge list:
    (node, rank) with rank on the ``scale`` lattice.

    Semantics (each exactly replayable in SQL):

    - the node set is distinct(src) ∪ distinct(dst); parallel edges
      collapse (distinct) so a page linking twice contributes once
    - init rank = ``scale`` per node (uniform, unnormalized — the
      crawl-prior use ranks by ORDER, the absolute mass is free)
    - per round every src sends floor(rank/outdeg) along each edge;
      rank_new = floor(((den-num)·scale + num·insum)/den) with
      insum = sum of arriving shares (0 for no in-links). Dangling
      mass is dropped, the classic simplified variant — documented,
      not redistributed, so the oracle stays a pure join/agg replay
    - ``iterations`` is a fixed budget; no convergence detection

    Overflow bound: num·insum ≤ damping_num·n·scale — longs hold it
    to ~10^11 nodes at the default lattice."""
    e = (edges.select(F.col(src).cast("long").alias("u"),
                      F.col(dst).cast("long").alias("v"))
         .distinct())
    # one reusable hash partitioning for the per-round join
    e = e.repartition("u").cache()
    nodes = (e.select("u").union(e.select(F.col("v").alias("u")))
             .distinct())
    outdeg = e.groupBy("u").agg(F.count("*").alias("deg"))
    ranks = nodes.select("u", F.lit(int(scale)).alias("r")) \
        .localCheckpoint()
    for _ in range(iterations):
        # `div` = exact integer division on longs (never a double —
        # doubles lose bits past 2^53 and the oracle replay must
        # match bit-for-bit)
        shares = (ranks.join(outdeg, "u")
                  .select("u", F.expr("r div deg").alias("share")))
        insum = (e.join(shares, "u")
                 .groupBy(F.col("v").alias("u"))
                 .agg(F.sum("share").alias("s")))
        ranks = (ranks.join(insum, "u", "left")
                 .select("u", (F.lit((damping_den - damping_num)
                                     * scale)
                               + F.lit(damping_num)
                               * F.coalesce("s", F.lit(0)))
                         .alias("num"))
                 .select("u", F.expr(f"num div {int(damping_den)}")
                         .alias("r"))
                 .localCheckpoint())
    e.unpersist()
    return ranks.select(F.col("u").alias("node"),
                        F.col("r").cast("long").alias("rank"))


def anchor_text_index(links: DataFrame, target_col: str = "href_abs",
                      anchor_col: str = "anchor_text",
                      nofollow_col: str = "nofollow",
                      top_k: int = 5) -> DataFrame:
    """Per-target anchor-text aggregation — the classic web-search /
    crawl-prioritization signal (what the web calls a page): one row
    per link target with (n_links, n_nofollow, top_anchors) where
    top_anchors = the ``top_k`` most frequent anchor strings, ties by
    anchor asc — a total order, hence exactly SQL-replayable.

    Scale shape: stage 1 aggregates (target, anchor) counts map-side
    (no raw link rows shuffle twice); the top-k cut is a row_number
    over the PRE-AGGREGATED distinct-anchor rows ordered by
    (count desc, anchor asc) — a spillable sort, and the collect_list
    after it only ever sees ≤ top_k survivors per target, the same
    bounded-buffer discipline as operators/index.py. A mega-target
    (everyone links the same home page) therefore costs a sort of its
    DISTINCT anchors, never an unbounded aggregation buffer."""
    from pyspark.sql import Window

    t = F.col(target_col)
    per_anchor = (links
                  .filter(t.isNotNull())
                  .groupBy(t.alias("target"),
                           F.col(anchor_col).alias("anchor"))
                  .agg(F.count("*").alias("_c"),
                       F.sum(F.col(nofollow_col).cast("long"))
                       .alias("_nf")))
    rn = F.row_number().over(
        Window.partitionBy("target")
        .orderBy(F.col("_c").desc(), F.col("anchor").asc()))
    cut = per_anchor.withColumn("_rn", rn)
    return (cut.groupBy("target")
            .agg(F.sum("_c").cast("long").alias("n_links"),
                 F.sum("_nf").cast("long").alias("n_nofollow"),
                 F.transform(
                     F.array_sort(F.collect_list(
                         F.when(F.col("_rn") <= top_k,
                                F.struct((-F.col("_c")).alias("nc"),
                                         F.col("anchor"))))),
                     lambda st: st["anchor"]).alias("top_anchors")))
