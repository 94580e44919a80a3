"""The flagship pipeline: transcripts table → per-turn extracted text.

Stage layout (SURVEY §3.2), designed for 10^12-turn scale:

1. scan          — parquet/iceberg read; Catalyst prunes to the needed
                   columns (verify with .explain: ReadSchema).
2. resume        — IN-filter on the committed bucket ids read from the
                   checkpoint manifest (operators.checkpoint), skipping
                   completed partitions.
3. skew spread   — explicit repartition on xxhash64(conv_id, turn_idx):
                   a mega-conversation (millions of turns sharing
                   conv_id) is spread uniformly because the hash
                   includes turn_idx; the parse stage is row-
                   independent so any uniform distribution is correct.
4. parse kernel  — ONE fused mapInArrow stage (tokenize → DOM →
                   strip → serialize, kernel.extract_text); pure
                   function of `text`.
5. order         — window over (conv_id) ordered by turn_idx restores
                   stable turn ordering (turn_seq column); this is the
                   only keyed shuffle and hash-partitions well.
6. sink          — partitioned write + per-partition lineage row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..kernel import extract_text

__all__ = ["extract_transcripts", "salted_repartition",
           "order_turns_scalable", "bucket_offsets",
           "assemble_conversations"]


def assemble_conversations(df: DataFrame, conv_col: str = "conv_id",
                           idx_col: str = "turn_idx",
                           role_col: str = "role",
                           text_col: str = "text",
                           sep: str = "\n\n",
                           max_turns: int | None = None) -> DataFrame:
    """Turn-level → document-level: one row per conversation with the
    turns concatenated as "role: text" in turn order → (conv_id,
    n_turns, doc_text). The inverse direction of the extraction
    pipeline's explode — this is how per-turn extracted text becomes
    a training document.

    ONE keyed shuffle (groupBy conv_id) with map-side partial
    collect; the sort happens inside each group's collected array
    (array_sort on (turn_idx, role, text) structs — turn_idx leads,
    so ordering is by turn position, deterministic for the unique
    turn_idx the pipeline guarantees). Memory bound: one task holds
    ONE conversation's text — the same bound as the ordering window,
    documented in BASELINE.md with the two-phase escape hatch; pass
    ``max_turns`` to truncate pathological conversations at assembly
    (slice AFTER the sort, so it keeps the first turns, not a random
    subset). n_turns counts the PRE-truncation total, so downstream
    can see what was cut."""
    struct = F.struct(F.col(idx_col).alias("i"),
                      F.col(role_col).alias("r"),
                      F.col(text_col).alias("t"))
    g = (df.select(F.col(conv_col), struct.alias("_s"))
         .groupBy(conv_col)
         .agg(F.count("*").alias("n_turns"),
              F.array_sort(F.collect_list("_s")).alias("_ts")))
    ts = F.col("_ts")
    if max_turns is not None:
        ts = F.slice(ts, 1, int(max_turns))
    return g.select(
        conv_col, F.col("n_turns").cast("long").alias("n_turns"),
        F.array_join(
            F.transform(ts, lambda s: F.concat(s.r, F.lit(": "), s.t)),
            sep).alias("doc_text"))


def bucket_offsets(df: DataFrame,
                   bucket_width: int = 1 << 20) -> DataFrame:
    """(conv_id, _bk, _off): rank offset of each (conversation,
    turn-bucket) = turns in that conversation's earlier buckets.

    Built from a NARROW (conv_id, turn_idx) projection: the count is a
    map-side-combined aggregate and the cumulative window runs over
    the tiny per-conv bucket-count rows (≤ max_turn_idx/bucket_width
    per conversation), so this subtree costs a pruned column scan —
    crucially it does NOT contain the parse kernel, so feeding it the
    PRE-kernel input keeps the expensive Python stage out of the
    offsets branch entirely (see extract_transcripts)."""
    bucket = F.floor(F.col("turn_idx") / F.lit(bucket_width))
    counts = (df.select("conv_id", bucket.alias("_bk"))
              .groupBy("conv_id", "_bk")
              .agg(F.count("*").alias("_cnt")))
    w_off = (Window.partitionBy("conv_id").orderBy("_bk")
             .rowsBetween(Window.unboundedPreceding, -1))
    return (counts.withColumn(
        "_off", F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)))
        .select("conv_id", "_bk", "_off"))


def order_turns_scalable(df: DataFrame, bucket_width: int = 1 << 20,
                         out_col: str = "turn_seq",
                         offsets: DataFrame | None = None) -> DataFrame:
    """Mega-conversation-safe turn_seq: a two-phase distributed rank.

    The plain ``Window.partitionBy(conv_id).orderBy(turn_idx)`` puts an
    ENTIRE conversation into one task — fine for chat-sized convs,
    a skew wall for a 10^8-turn agent trace. Two phases instead:

    1. local rank within (conv_id, bucket) where bucket =
       floor(turn_idx / bucket_width) — each task holds at most one
       bucket's turns, so no conversation ever serializes;
    2. per-bucket offsets (bucket_offsets) joined back on
       (conv_id, bucket). The offsets side is tiny, so AQE broadcasts
       the join at any realistic conv count; at extreme conv
       cardinality it degrades to a sort-merge join that reuses phase
       1's (conv_id, _bk) partitioning on the big side.

    Pass ``offsets`` computed from a CHEAP upstream frame whenever
    ``df`` itself is expensive (e.g. the post-kernel extraction):
    Catalyst plans the offsets branch as a separate subtree, so
    deriving it from ``df`` would re-execute df's whole plan —
    measured as a 2× pipeline cost when df contains the parse kernel
    (the round-2 two_phase regression). extract_transcripts therefore
    feeds it the pre-kernel input projection.

    turn_seq equals the plain window's output whenever turn_idx is
    unique per conversation (the table's contract); with duplicate
    turn_idx both formulations are tie-ambiguous anyway.
    """
    bucket = F.floor(F.col("turn_idx") / F.lit(bucket_width))
    w_local = Window.partitionBy("conv_id", "_bk").orderBy("turn_idx")
    local = (df.withColumn("_bk", bucket)
             .withColumn("_lr", F.row_number().over(w_local)))
    if offsets is None:
        offsets = bucket_offsets(df, bucket_width)
    return (local
            .join(offsets, ["conv_id", "_bk"])
            .withColumn(out_col,
                        (F.col("_off") + F.col("_lr")).cast("int"))
            .drop("_bk", "_lr", "_off"))


def salted_repartition(df: DataFrame, num_partitions: int | None = None,
                       cols=("conv_id", "turn_idx")) -> DataFrame:
    """Spread skewed conversations uniformly before the parse stage.

    Hashing (conv_id, turn_idx) — not conv_id alone — is the salt: every
    turn of a mega-conversation lands in a different partition, so one
    hot key cannot serialize the CPU-bound parse stage.
    """
    key = F.xxhash64(*[F.col(c) for c in cols])
    if num_partitions:
        return df.repartition(num_partitions, key)
    return df.repartition(key)


def extract_transcripts(df: DataFrame, *, strip: bool = True,
                        include_raw: bool = True,
                        order: bool = True,
                        num_partitions: int | None = None,
                        repartition: bool | None = None,
                        keep_text: bool = False,
                        order_impl: str = "window") -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) →
    - text (unless keep_text), + extracted_text, raw_html, n_nodes,
    n_errors [, turn_seq].

    The source HTML is dropped inside the kernel by default: the
    ordering shuffle and the sink then carry only the extracted
    payload (raw HTML is the widest column at transcript scale).

    ``repartition``: the parse kernel is row-independent, so it runs
    directly on scan partitions — for splittable columnar sources
    (parquet/Iceberg) those are uniform in bytes regardless of how
    conversations skew, and skipping the shuffle saves a full pass of
    the raw-HTML payload. Enable the salted repartition only when the
    source layout itself is unbalanced (non-splittable files, one
    giant file, or a pre-keyed layout): hashing (conv_id, turn_idx)
    spreads even a single mega-conversation uniformly.
    Default (None): salt iff an explicit ``num_partitions`` is given.

    ``order_impl``: 'window' (default) ranks with one window — the
    whole conversation lands in a single task, bounded by the largest
    conversation's extracted payload fitting one executor (see
    BASELINE.md for the measured bound); 'two_phase' uses
    order_turns_scalable, which no conversation size can skew —
    choose it when mega-conversations (≫10^6 turns sharing conv_id)
    are expected."""
    if repartition is None:
        repartition = num_partitions is not None
    out = df
    if repartition:
        out = salted_repartition(out, num_partitions)
    # two_phase offsets come from the PRE-kernel input: the branch is
    # a pruned (conv_id, turn_idx) scan + tiny aggregate, so the parse
    # kernel stays out of it (deriving offsets from the extracted
    # frame would re-run the kernel — Catalyst plans the branch as a
    # separate subtree and ReuseExchange does not fire across
    # Python map stages; measured 2× pipeline cost).
    offsets = bucket_offsets(df) if (order and order_impl == "two_phase") \
        else None
    out = extract_text(out, text_col="text", strip=strip,
                       include_raw=include_raw, drop_text=not keep_text)
    if order:
        if order_impl == "two_phase":
            out = order_turns_scalable(out, offsets=offsets)
        else:
            w = Window.partitionBy("conv_id").orderBy("turn_idx")
            out = out.withColumn("turn_seq", F.row_number().over(w))
    return out
