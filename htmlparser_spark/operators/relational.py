"""Time-relational operators Spark lacks as built-ins: as-of join,
interval (range) join, and gap-based sessionization.

Both are single-shuffle, pure-Catalyst plans (no Python in the hot
path):

- ``asof_join`` uses the union + running-``last(ignorenulls)`` trick:
  tag both inputs, union them, and one window over the ``by`` keys
  ordered by (time, side) lets every left row pick up the most recent
  right row at-or-before it. ONE shuffle on the by-keys, no range
  explosion, no per-key Python — the standard distributed as-of
  formulation (same shape Flink's temporal join and DuckDB's ASOF
  lower to: a per-key ordered scan).
- ``sessionize`` is lag + cumulative sum over the same per-key window.

Scale notes (100 TB): the window partitions by the ``by`` keys, so a
mega-key serializes into one task's sort — the same hazard (and the
same mitigation story) as the transcripts ordering stage
(operators/extract.py): keys are user/entity ids with natural
cardinality in the millions, and a genuinely degenerate key should be
range-split upstream. Everything stays in whole-stage codegen; rows
carry only the projected right-payload columns through the shuffle.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["asof_join", "sessionize", "global_rank", "range_join"]


def _epoch_s(col: Column) -> Column:
    """Whole epoch seconds. The cast chain handles TIMESTAMP_NTZ too
    (NTZ -> BIGINT is not a legal direct cast); the session timezone
    is pinned to UTC (session.py), and the callers only ever DIFF two
    of these, so any constant offset cancels regardless."""
    return col.cast("timestamp").cast("long")


def asof_join(left: DataFrame, right: DataFrame, on: str = "ts",
              by: Sequence[str] = ("user_id",),
              direction: str = "backward",
              tolerance_seconds: Optional[int] = None,
              suffix: str = "_r") -> DataFrame:
    """For each left row, attach the most recent right row at-or-before
    its ``on`` time (``direction='backward'``; ``'forward'`` = earliest
    at-or-after), matching within the same ``by`` key group — pandas
    ``merge_asof`` / DuckDB ``ASOF JOIN`` semantics, distributed.

    Right payload columns (everything except ``by`` + ``on``) come back
    suffixed; the matched right time comes back as ``on + suffix``.
    Unmatched left rows keep nulls (left-outer semantics). With
    ``tolerance_seconds``, matches further than the tolerance are
    nulled out (pandas ``merge_asof(tolerance=...)``).

    Ties: a right row exactly at the left row's time DOES match
    (inclusive, as in DuckDB/pandas). Multiple right rows at the same
    (by, time) are resolved to the last one in (time, payload) order —
    pre-aggregate the right side if that tie-break matters.

    Atomicity: the whole right payload travels as ONE struct and the
    running ``last(ignorenulls)`` fills that struct — so every output
    row's right columns come from the SAME matched right row. (Filling
    each payload column independently would let a NULL in one right
    column pull that column's value from an older right row — a torn
    row pandas/DuckDB would never produce.)
    """
    from pyspark.sql.types import StructField, StructType

    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction}")
    by = list(by)
    payload = [c for c in right.columns if c not in by and c != on]
    out_payload = [c + suffix for c in payload]
    on_r = on + suffix

    # common shape: left rows carry a NULL right-struct; right rows
    # carry their (matched time + payload) packed into one struct.
    # _side orders right rows BEFORE left rows at equal time, so
    # 'backward' is inclusive.
    rs_type = StructType(
        [StructField(on_r, right.schema[on].dataType)]
        + [StructField(c + suffix, right.schema[c].dataType)
           for c in payload])
    lhs = left.select(
        *by, F.col(on),
        F.lit(1).alias("_side"),
        *[F.col(c) for c in left.columns if c not in by and c != on],
        F.lit(None).cast(rs_type).alias("_rs"),
    )
    rhs = right.select(
        *by, F.col(on),
        F.lit(0).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c not in by and c != on],
        F.struct(F.col(on).alias(on_r),
                 *[F.col(c).alias(c + suffix) for c in payload])
        .cast(rs_type).alias("_rs"),
    )

    u = lhs.unionByName(rhs)
    if direction == "backward":
        w = (Window.partitionBy(*by).orderBy(F.col(on).asc(),
                                             F.col("_side").asc())
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    else:
        w = (Window.partitionBy(*by).orderBy(F.col(on).desc(),
                                             F.col("_side").asc())
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    filled = (u.select(
        *[F.col(c) for c in u.columns if c != "_rs"],
        F.last("_rs", ignorenulls=True).over(w).alias("_rs"),
    ).filter(F.col("_side") == 1).drop("_side")
        .select("*",
                *[F.col("_rs")[c].alias(c) for c in out_payload + [on_r]])
        .drop("_rs"))

    if tolerance_seconds is not None:
        gap = F.abs(_epoch_s(F.col(on)) - _epoch_s(F.col(on_r)))
        ok = F.col(on_r).isNotNull() & (gap <= F.lit(tolerance_seconds))
        filled = filled.select(
            *[F.col(c) for c in filled.columns
              if c not in out_payload + [on_r]],
            *[F.when(ok, F.col(c)).alias(c) for c in out_payload + [on_r]],
        )
    return filled


def sessionize(events: DataFrame, by: str = "user_id", ts_col: str = "ts",
               order_tiebreak: str = "event_id",
               gap_seconds: int = 1800,
               out: str = "session_idx") -> DataFrame:
    """Gap-based session assignment: within each ``by`` key (ordered by
    time, tie-broken on ``order_tiebreak`` for determinism), a new
    session starts whenever the gap to the previous event exceeds
    ``gap_seconds``. Appends ``out`` (1-based long) — the classic
    lag + cumulative-sum formulation, one shuffle, all codegen."""
    w = Window.partitionBy(by).orderBy(ts_col, order_tiebreak)
    prev = F.lag(F.col(ts_col)).over(w)
    new_sess = F.when(
        prev.isNull()
        | ((_epoch_s(F.col(ts_col)) - _epoch_s(prev))
           > F.lit(gap_seconds)),
        F.lit(1)).otherwise(F.lit(0))
    run = (Window.partitionBy(by).orderBy(ts_col, order_tiebreak)
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return events.withColumn(out, F.sum(new_sess).over(run).cast("long"))


def range_join(points: DataFrame, intervals: DataFrame,
               point_col: str, lo_col: str, hi_col: str,
               by: Sequence[str] = (), bucket: int = 3600,
               max_buckets_per_interval: int = 256) -> DataFrame:
    """Interval (range) join: each point row matches every interval
    row with ``lo <= point < hi`` (half-open), within the same ``by``
    key group. Columns must be integer-domain (cast timestamps to
    epoch seconds first) so bucket arithmetic is exact.

    Spark plans a raw range predicate as a broadcast-nested-loop /
    cartesian — quadratic at scale. This is the bucketized
    formulation instead:

    - points get ONE bucket key ``floor(point / bucket)``;
    - NARROW intervals (span covering <= ``max_buckets_per_interval``
      buckets) explode into one row per covered bucket
      (``F.sequence``), equi-join on (by..., bucket), then refine
      with the exact predicate. A point's bucket is covered by every
      interval that can contain it, and each (interval, bucket) pair
      is unique, so the join is exact with no duplicates;
    - WIDE intervals (a giant span would explode into unbounded
      rows — the skew hazard) instead broadcast and join on the
      ``by`` keys alone with the range predicate as a filter: the
      wide set is small by construction, so the broadcast is bounded
      and no bucket rows are materialized for them.

    The union of the two arms is exact and disjoint (each interval is
    in exactly one arm). Scale shape: the equi-join shuffles
    (by, bucket) — never a theta-join; interval explosion is capped;
    the only broadcast is the filtered wide set."""
    by = list(by)
    overlap = (set(points.columns) & set(intervals.columns)) - set(by)
    if overlap:
        raise ValueError(
            f"range_join: columns {sorted(overlap)} exist on both "
            "sides but are not by-keys — rename one side (the result "
            "would be ambiguous)")
    if "_bkt" in points.columns or "_bkt" in intervals.columns:
        raise ValueError("range_join: '_bkt' is reserved")
    pt = F.col(point_col).cast("long")
    lo = F.col(lo_col).cast("long")
    hi = F.col(hi_col).cast("long")
    span_buckets = (F.floor((hi - 1) / bucket)
                    - F.floor(lo / bucket) + 1)
    valid = intervals.filter(hi > lo)
    narrow = valid.filter(span_buckets <= max_buckets_per_interval)
    wide = valid.filter(span_buckets > max_buckets_per_interval)
    pts = points.withColumn("_bkt", F.floor(pt / bucket))
    nrw = narrow.withColumn(
        "_bkt", F.explode(F.sequence(F.floor(lo / bucket),
                                     F.floor((hi - 1) / bucket))))
    refine = (F.col(point_col).cast("long") >= F.col(lo_col).cast("long")) \
        & (F.col(point_col).cast("long") < F.col(hi_col).cast("long"))
    arm_n = pts.join(nrw, by + ["_bkt"]).filter(refine).drop("_bkt")
    arm_w = (pts.drop("_bkt").join(F.broadcast(wide), by)
             if by else
             pts.drop("_bkt").crossJoin(F.broadcast(wide))).filter(refine)
    return arm_n.unionByName(arm_w)


def global_rank(df: DataFrame, order_cols: Sequence[str],
                out: str = "rank",
                num_partitions: int | None = None) -> DataFrame:
    """Global 1-based rank over ``order_cols`` WITHOUT the
    single-partition window `row_number() over (ORDER BY …)` plans —
    the reusable form of the transcripts two-phase ordering trick:

    1. ``repartitionByRange`` on the sort keys (sampled boundaries —
       the terasort exchange; equal keys land in one partition);
    2. per-partition local rank (window partitioned by
       ``spark_partition_id()`` — parallel, no global sort task);
    3. add each partition's row-count prefix offset (a driver-side
       cumulative over ≤ num_partitions counts — bounded metadata,
       same class as the checkpoint manifest read).

    Exact iff ``order_cols`` is a TOTAL order (append a unique id as
    the last key; ties split across range-partition boundaries would
    otherwise make ranks partitioning-dependent). Every stage is
    codegen; rows carry only the caller's columns."""
    cols = [F.col(c) for c in order_cols]
    parts = num_partitions or df.sparkSession.sparkContext \
        .defaultParallelism
    ranged = df.repartitionByRange(parts, *cols)
    pid = F.spark_partition_id().alias("_pid")
    base = ranged.withColumn("_pid", pid)
    counts = {r._pid: r.n for r in
              base.groupBy("_pid").agg(F.count("*").alias("n"))
              .collect()}
    offs, acc = {}, 0
    for p in sorted(counts):
        offs[p] = acc
        acc += counts[p]
    off_df = df.sparkSession.createDataFrame(
        [(p, o) for p, o in offs.items()], "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(*cols)
    return (base.join(F.broadcast(off_df), "_pid")
            .withColumn(out, (F.col("_off")
                              + F.row_number().over(w)).cast("long"))
            .drop("_pid", "_off"))
