"""Conversation STRUCTURE operators: branching-thread linearization
and adjacent same-role turn merging.

Real transcript stores are rarely flat lists: regenerated turns and
"edit + resubmit" branches make each conversation a TREE of turns
(every turn points at its parent), and the training pipeline must
linearize it — one root-to-leaf turn-id path per leaf — before any
per-conversation operator (assembly, SFT pairs, conv-level dedup) can
run. Separately, ingestion quirks (streamed chunks, tool retries)
produce runs of consecutive same-role turns that must be merged into
one turn before context windows are counted.

Scale notes (10^12 turns):
- ``linearize_threads`` is pointer DOUBLING (the classic parallel
  list-ranking shape, same family as dedup.connected_components):
  each round every unresolved node splices its ancestor's known
  prefix onto its own and adopts that ancestor's pointer, so resolved
  depth doubles per round — O(log max_depth) rounds, each ONE
  hash-partitioned self-join on (conv, turn id): turn ids need only
  be unique within a conversation. State rows carry only
  turn-id arrays (8 B per path element), never text; total state is
  O(sum of path lengths) = the size of the answer itself.
  localCheckpoint truncates lineage per round (same trade as
  connected_components: re-run from input on executor loss).
- ``merge_adjacent_turns`` is ONE keyed shuffle on the conversation
  id: turns group per conversation, sort in-group, and a linear
  higher-order ``aggregate`` fold builds the merged segments —
  per-task memory = one conversation, the pipeline's documented
  bound (same shape as extract.assemble_conversations). No window,
  no second exchange for the segment groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["linearize_threads", "merge_adjacent_turns"]


def linearize_threads(df: DataFrame, conv_col: str = "conv_id",
                      id_col: str = "turn_id",
                      parent_col: str = "parent_id",
                      max_iterations: int = 25) -> DataFrame:
    """Turn tree → one row per LEAF with its full root-to-leaf path:
    (conv, leaf_id, depth, path) where ``path`` is the comma-joined
    turn-id sequence root-first and ``depth`` its length. Roots have
    null ``parent_col``; leaves are turns no other turn points at.

    Pointer doubling: state (node, anc, seq) where ``seq`` is the id
    sequence from the node UP TO but excluding ``anc`` (leaf-first);
    each round a node with an unresolved pointer splices its
    ancestor's seq after its own and adopts the ancestor's pointer,
    so after k rounds every node knows its nearest 2^k ancestors —
    O(log depth) rounds total. A parent id that references a missing
    turn, or a cycle, can never resolve; like connected_components
    this fails loudly after ``max_iterations`` rather than emitting a
    partial linearization."""
    nodes = df.select(
        F.col(conv_col).alias("conv"),
        F.col(id_col).cast("long").alias("id"),
        F.col(parent_col).cast("long").alias("anc"),
        F.array(F.col(id_col).cast("long")).alias("seq"),
    ).localCheckpoint()
    state = nodes
    rounds = 0
    # convergence is checked before every round AND after the last one,
    # so a graph that resolves in exactly max_iterations rounds passes
    while state.filter(F.col("anc").isNotNull()).limit(1).count():
        if rounds == max_iterations:
            raise RuntimeError(
                f"linearize_threads did not converge within "
                f"{max_iterations} rounds — the turn graph has a cycle, "
                f"a dangling parent id, or depth > 2^{max_iterations}")
        rounds += 1
        # turn ids need only be unique within a conversation, so every
        # join keys on conv too. The _hit marker distinguishes "spliced
        # through a ROOT ancestor" (anc legitimately becomes null) from
        # "parent id references no turn" (no match — anc must stay set
        # so the dangling reference fails loudly instead of resolving)
        anc_state = state.select("conv",
                                 F.col("id").alias("anc"),
                                 F.col("anc").alias("anc2"),
                                 F.col("seq").alias("seq2"),
                                 F.lit(True).alias("_hit"))
        state = (state.join(anc_state, ["conv", "anc"], "left")
                 .select("conv", "id",
                         F.when(F.col("anc").isNull() | ~F.coalesce(
                             "_hit", F.lit(False)), F.col("anc"))
                         .otherwise(F.col("anc2")).alias("anc"),
                         F.when(F.col("anc").isNull() | ~F.coalesce(
                             "_hit", F.lit(False)), F.col("seq"))
                         .otherwise(F.concat("seq", "seq2")).alias("seq"))
                 .localCheckpoint())
    parents = (df.filter(F.col(parent_col).isNotNull())
               .select(F.col(conv_col).alias("conv"),
                       F.col(parent_col).cast("long").alias("id"))
               .distinct())
    leaves = state.join(parents, ["conv", "id"], "left_anti")
    return leaves.select(
        F.col("conv").alias(conv_col),
        F.col("id").alias("leaf_id"),
        F.size("seq").cast("long").alias("depth"),
        F.array_join(F.transform(F.reverse("seq"),
                                 lambda x: x.cast("string")), ",")
        .alias("path"))


def merge_adjacent_turns(df: DataFrame, conv_col: str = "conv_id",
                         idx_col: str = "turn_idx",
                         role_col: str = "role", text_col: str = "text",
                         sep: str = "\n\n") -> DataFrame:
    """Collapse runs of consecutive same-role turns into one turn per
    run: (conv, turn_idx, role, text, n_merged, first_idx) where
    ``turn_idx`` is the dense 0-based merged position, ``text`` the
    run's texts joined by ``sep`` in original order, ``first_idx`` the
    run's first original index. One keyed shuffle: turns group per
    conversation, array-sort in-group, and a linear ``aggregate`` fold
    extends the last segment when the role repeats or opens a new one
    — no window, no second exchange."""
    sep_lit = sep.replace("\\", "\\\\").replace("'", "\\'")
    grouped = (df.groupBy(F.col(conv_col).alias("conv"))
               .agg(F.expr(
                   f"array_sort(collect_list(struct("
                   f"cast({idx_col} as long) as i, {role_col} as role, "
                   f"{text_col} as text)))").alias("ts")))
    segs = grouped.select("conv", F.expr(
        "aggregate(ts, "
        "cast(array() as array<struct<i:bigint,role:string,"
        "text:string,n:bigint>>), "
        "(acc, t) -> if(size(acc) > 0 "
        "              and element_at(acc, -1).role = t.role, "
        "  concat(slice(acc, 1, size(acc) - 1), array(named_struct("
        "    'i', element_at(acc, -1).i, 'role', t.role, "
        "    'text', concat(element_at(acc, -1).text, '" + sep_lit
        + "', t.text), 'n', element_at(acc, -1).n + 1L))), "
        "  concat(acc, array(named_struct('i', t.i, 'role', t.role, "
        "    'text', t.text, 'n', 1L)))))").alias("segs"))
    return (segs.select("conv", F.posexplode("segs").alias("pos", "s"))
            .select(F.col("conv").alias(conv_col),
                    F.col("pos").cast("long").alias(idx_col),
                    F.col("s.role").alias(role_col),
                    F.col("s.text").alias(text_col),
                    F.col("s.n").alias("n_merged"),
                    F.col("s.i").alias("first_idx")))
