"""Conversation structure ops (operators/threads.py): branching-thread
linearization (pointer doubling) and adjacent same-role turn merging.
Cross-engine exactness is certified by the `thread_paths` /
`merged_turns` driver oracles (queries.py)."""

import pytest

from htmlparser_spark.operators.threads import (linearize_threads,
                                                merge_adjacent_turns)

from test_plans import assert_no_python_row_udf  # noqa: E402


def _tree(spark):
    rows = [
        # conv 1: root 10 -> 11 -> 12 (main), branch 11 -> 13 -> 14
        # (a regenerated turn 12 with one follow-up): leaves 12, 14
        (1, 10, None), (1, 11, 10), (1, 12, 11),
        (1, 13, 11), (1, 14, 13),
        # conv 2: single root-only turn: leaf == root
        (2, 20, None),
        # conv 3: a LONG chain (depth 9) — forces several doubling
        # rounds (2^3 < 9)
        *[(3, 30 + i, 30 + i - 1 if i else None) for i in range(9)],
    ]
    return spark.createDataFrame(
        rows, "conv_id long, turn_id long, parent_id long")


def test_linearize_threads(spark):
    out = {r.leaf_id: r for r in
           linearize_threads(_tree(spark)).collect()}
    assert set(out) == {12, 14, 20, 38}
    assert (out[12].path, out[12].depth) == ("10,11,12", 3)
    assert (out[14].path, out[14].depth) == ("10,11,13,14", 4)
    assert out[14].conv_id == 1
    assert (out[20].path, out[20].depth) == ("20", 1)
    assert (out[38].path, out[38].depth) == (
        ",".join(str(30 + i) for i in range(9)), 9)


def test_linearize_rejects_cycle_and_dangling(spark):
    cyc = spark.createDataFrame(
        [(1, 10, 11), (1, 11, 10)],
        "conv_id long, turn_id long, parent_id long")
    with pytest.raises(RuntimeError, match="did not converge"):
        linearize_threads(cyc, max_iterations=5)
    dangling = spark.createDataFrame(
        [(1, 10, None), (1, 11, 99)],
        "conv_id long, turn_id long, parent_id long")
    with pytest.raises(RuntimeError, match="did not converge"):
        linearize_threads(dangling, max_iterations=5)


def test_linearize_turn_ids_unique_per_conversation(spark):
    """Two conversations that both number their turns 1-3 must not
    fan out into each other: the joins key on the conversation too
    (keyed on the turn id alone, each leaf came out 4x)."""
    rows = [(c, i, i - 1 if i > 1 else None)
            for c in (1, 2) for i in (1, 2, 3)]
    df = spark.createDataFrame(
        rows, "conv_id long, turn_id long, parent_id long")
    got = sorted((r.conv_id, r.leaf_id, r.depth, r.path)
                 for r in linearize_threads(df).collect())
    assert got == [(1, 3, 3, "1,2,3"), (2, 3, 3, "1,2,3")]


def test_linearize_converges_in_exactly_max_iterations(spark):
    """A 2-node chain resolves in one doubling round, so
    max_iterations=1 must succeed, not report non-convergence."""
    df = spark.createDataFrame(
        [(1, 1, None), (1, 2, 1)],
        "conv_id long, turn_id long, parent_id long")
    got = [(r.leaf_id, r.depth, r.path)
           for r in linearize_threads(df, max_iterations=1).collect()]
    assert got == [(2, 2, "1,2")]


def test_linearize_no_python(spark):
    # convergence runs driver-side counts, so build the converged
    # frame and check the final plan only
    out = linearize_threads(_tree(spark))
    assert_no_python_row_udf(out)


def _runs(spark):
    rows = [
        # conv 1: u,u,a,u,u,u -> segments (u x2, a x1, u x3)
        (1, 0, "user", "a"), (1, 1, "user", "b"),
        (1, 2, "assistant", "c"), (1, 3, "user", "d"),
        (1, 4, "user", "e"), (1, 5, "user", "f"),
        # conv 2: no adjacent repeats — passes through unchanged
        (2, 0, "user", "x"), (2, 1, "assistant", "y"),
    ]
    return spark.createDataFrame(
        rows, "conv_id long, turn_idx long, role string, text string")


def test_merge_adjacent_turns(spark):
    out = sorted(merge_adjacent_turns(_runs(spark)).collect(),
                 key=lambda r: (r.conv_id, r.turn_idx))
    got = [(r.conv_id, r.turn_idx, r.role, r.text, r.n_merged,
            r.first_idx) for r in out]
    assert got == [
        (1, 0, "user", "a\n\nb", 2, 0),
        (1, 1, "assistant", "c", 1, 2),
        (1, 2, "user", "d\n\ne\n\nf", 3, 3),
        (2, 0, "user", "x", 1, 0),
        (2, 1, "assistant", "y", 1, 1),
    ]


def test_merge_input_order_independent(spark):
    # feed the rows reversed — in-group array_sort restores turn order
    from pyspark.sql import functions as F
    df = _runs(spark).orderBy(F.desc("turn_idx"))
    out = {(r.conv_id, r.turn_idx): r.text
           for r in merge_adjacent_turns(df).collect()}
    assert out[(1, 0)] == "a\n\nb" and out[(1, 2)] == "d\n\ne\n\nf"


def test_merge_custom_sep_and_plan(spark):
    out = merge_adjacent_turns(_runs(spark), sep=" | ")
    assert_no_python_row_udf(out)
    # pin the plan BEFORE executing — after collect() AQE's string
    # carries Initial+Final copies and double-counts the Exchange
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1  # one keyed shuffle, no window
    rows = {(r.conv_id, r.turn_idx): r.text for r in out.collect()}
    assert rows[(1, 0)] == "a | b"
