"""Per-partition checkpoint lineage + idempotent resume.

Mechanism (SURVEY §3.2 stage 2/6):

- The input is bucketed by ``pmod(xxhash64(conv_id), n_buckets)`` — a
  *stable* partition id, independent of file layout, so a resumed run
  sees the same buckets whatever the cluster shape.
- After each successful run, one lineage row per bucket written
  (partition_id, n_rows, content_hash) is appended to the manifest.
  content_hash is an order-insensitive XOR of per-row
  xxhash64(conv_id, turn_idx, extracted_text) — so a re-run can verify
  integrity, and duplicated work is detectable, not just avoidable.
- Resume reads the committed bucket ids from the manifest on the
  driver (pyarrow; the manifest is ≤ n_buckets rows per run) and drops
  their rows with a plain IN-filter. Each manifest row records the
  bucket count it was committed under, and a run under another count
  raises before writing: the same ids would name other conversations.
  The parse kernel is a pure
  function of `text`, so re-running a bucket is idempotent by
  construction; output is written with partitionBy(partition_id) +
  dynamic partition overwrite, making bucket-level retries
  atomic-enough on a filesystem and exactly the Iceberg
  overwrite-partition commit in production.
- The commit path is sized by cluster parallelism, not by bucket
  count: the write exchange runs ``min(n_buckets, defaultParallelism)``
  tasks (each bucket still lands in exactly one task, so still one
  file), and the certify re-read lists up to ``DRIVER_LISTING_MAX``
  bucket directories on the driver, a larger count on at most as many
  tasks.
"""

from __future__ import annotations

import os
import uuid
from contextlib import contextmanager
from typing import Optional

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

__all__ = ["with_partition_id", "completed_ids", "lineage_rows",
           "append_manifest_rows", "cluster_buckets", "certify",
           "run_checkpointed", "row_hash_expr"]

# n_buckets: the bucket count the row was committed under (null in
# manifests written before it was recorded)
MANIFEST_SCHEMA = pa.schema([("partition_id", pa.int64()),
                             ("n_rows", pa.int64()),
                             ("content_hash", pa.int64()),
                             ("run_id", pa.string()),
                             ("n_buckets", pa.int64())])


def with_partition_id(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "partition_id",
        F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("long"))


def completed_ids(path: str, n_buckets: Optional[int] = None) \
        -> Optional[list]:
    """Committed bucket ids, sorted (None = no manifest). Read on the
    driver with pyarrow, the way ``append_manifest_rows`` writes it:
    the manifest is tiny, and a Spark read of it costs three jobs
    (listing, schema inference, collect) for no work.

    With ``n_buckets``, raises ``ValueError`` when the manifest was
    committed under another bucket count: the count its rows record,
    or, for a manifest written before counts were recorded, at least
    its largest id + 1 (such a manifest resumes at its own count)."""
    if not os.path.exists(path):
        return None
    table = pads.dataset(path, schema=MANIFEST_SCHEMA, format="parquet") \
        .to_table(columns=["partition_id", "n_buckets"])
    ids = sorted(set(table.column("partition_id").to_pylist()))
    if n_buckets is None or not ids:
        return ids
    resume = ("Resume with the manifest's bucket count, or start a new "
              "output and manifest.")
    if ids[-1] >= n_buckets:
        # bucket ids are pmod(hash, n_buckets): under another count the
        # committed ids name other conversations
        raise ValueError(
            f"manifest {path} holds bucket id {ids[-1]}, so it was "
            f"committed with at least {ids[-1] + 1} buckets; this run has "
            f"n_buckets={n_buckets}. {resume}")
    counts = set(table.column("n_buckets").to_pylist()) - {None}
    if counts - {n_buckets}:
        raise ValueError(
            f"manifest {path} was committed with n_buckets="
            f"{sorted(counts)}; this run has n_buckets={n_buckets}. "
            f"{resume}")
    return ids


ROW_HASH_COL = "row_hash"

# bucket directories the certify lists on the driver, one after another
# (see certify): the driver listing was measured faster than the listing
# job up to 64 directories on a local disk, and not beyond
DRIVER_LISTING_MAX = 64


def row_hash_expr(extra_cols=()):
    """The per-row lineage hash: xxhash64 over the identifying key and
    the extracted payload. ONE definition shared by both lineage modes,
    so their manifests are byte-comparable. ``extra_cols`` extends the
    key for modes whose output has several rows per turn (table cells,
    links) — without them two identical items in one turn would
    XOR-cancel in the bucket hash and a doubled/dropped pair would go
    unnoticed."""
    return F.xxhash64("conv_id", "turn_idx", *extra_cols,
                      "extracted_text")


def lineage_rows(out: DataFrame, run_id: str,
                 from_hash_col: bool = False,
                 extra_cols=()) -> DataFrame:
    """(partition_id, n_rows, content_hash, run_id) per bucket.
    content_hash: order-insensitive XOR of per-row content hashes —
    recomputed from the text (default) or read from a precomputed
    ``row_hash`` column (hash_col lineage mode)."""
    row_hash = (F.col(ROW_HASH_COL) if from_hash_col
                else row_hash_expr(extra_cols))
    return (out.groupBy("partition_id")
            .agg(F.count("*").cast("long").alias("n_rows"),
                 F.bit_xor(row_hash).alias("content_hash"))
            .withColumn("run_id", F.lit(run_id)))


def append_manifest_rows(rows, path: str, n_buckets: int) -> None:
    """Driver-side manifest append (pyarrow, atomic rename), each row
    recording ``n_buckets``. The manifest is tiny (≤ n_buckets rows) — a
    Spark job here costs seconds of scheduling for no work, and in
    production this commit is an Iceberg metadata append, i.e. also a
    driver-side operation."""
    if not rows:
        return
    table = pa.Table.from_pylist(
        [{**r.asDict(), "n_buckets": n_buckets} for r in rows],
        schema=MANIFEST_SCHEMA)
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f".tmp-{uuid.uuid4().hex}.parquet")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(path,
                                f"manifest-{uuid.uuid4().hex}.parquet"))


def cluster_buckets(out: DataFrame, n_buckets: int, extra_cols=(),
                    turn_seq: bool = False) -> DataFrame:
    """The post-kernel composition of the bucket write: ONE exchange on
    partition_id, ONE sort, and (``turn_seq``) the ordering window.

    The exchange has ``min(n_buckets, defaultParallelism)`` partitions.
    Hash-partitioning on partition_id still puts each bucket in exactly
    one task, and the sort makes each task's buckets contiguous, so the
    partitioned write emits one file per bucket — fewer tasks change
    neither the file count nor the rows or their order inside a file.
    A task per bucket would only add per-task fixed cost (scheduling,
    deserialization) once n_buckets exceeds the cluster's cores.

    The window runs as partitionBy(partition_id, conv_id): partition_id
    is a pure function of conv_id, so Catalyst proves the exchange
    satisfies the window's ClusteredDistribution (its expressions are
    a superset of the exchange's) and the bucket sort satisfies the
    window's ordering — no second full-payload shuffle (the measured
    negative-scaling stage, BENCH/DIAGNOSIS_4_16.md). turn_seq is
    unchanged: ranking within (partition_id, conv_id) == ranking within
    conv_id."""
    tasks = min(n_buckets,
                out.sparkSession.sparkContext.defaultParallelism)
    out = out.repartition(tasks, "partition_id") \
        .sortWithinPartitions("partition_id", "conv_id", "turn_idx",
                              *extra_cols)
    if turn_seq:
        w = Window.partitionBy("partition_id", "conv_id").orderBy("turn_idx")
        out = out.withColumn("turn_seq", F.row_number().over(w))
    return out


@contextmanager
def _session_conf(spark: SparkSession, settings: dict):
    """Session conf ``settings`` (keys Spark defines, so each has a
    value to restore) for the queries planned in the body."""
    saved = {k: spark.conf.get(k) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def certify(spark: SparkSession, output_path: str, schema, run_id: str,
            skip=(), lineage_mode: str = "full", extra_cols=()) -> list:
    """Lineage rows of the buckets under ``output_path`` (except
    ``skip``), computed from a RE-READ of what landed on disk, not from
    the in-memory plan — they certify the committed data.

    ``schema`` is the schema of the frame written, so no footer/
    inference job runs, and a zero-row run reads back zero buckets
    instead of failing inference on an empty directory. Column pruning
    keeps the pass cheap: full mode reads back the hash inputs (not
    raw_html); hash_col mode reads back only the 8-byte precomputed
    row_hash column (see run_checkpointed).

    The re-read lists one directory per bucket. Above Spark's parallel-
    discovery threshold (32 by default) that listing runs as a job with
    a task per directory; up to ``DRIVER_LISTING_MAX`` directories are
    listed on the driver instead, and a larger listing stays a job on
    at most the cluster's cores. Both settings hold for the re-read
    only."""
    listing = {
        "spark.sql.sources.parallelPartitionDiscovery.threshold":
            str(DRIVER_LISTING_MAX),
        "spark.sql.sources.parallelPartitionDiscovery.parallelism":
            str(spark.sparkContext.defaultParallelism)}
    with _session_conf(spark, listing):
        written = spark.read.schema(schema).parquet(output_path)
    if lineage_mode == "hash_col":
        written = written.select("partition_id", ROW_HASH_COL)
    else:
        written = written.select("partition_id", "conv_id", "turn_idx",
                                 *extra_cols, "extracted_text")
    if skip:
        written = written.filter(~F.col("partition_id").isin(list(skip)))
    return lineage_rows(written, run_id,
                        from_hash_col=lineage_mode == "hash_col",
                        extra_cols=extra_cols).collect()


def run_checkpointed(spark: SparkSession, df: DataFrame, output_path: str,
                     manifest_path: str, n_buckets: int = 64,
                     run_id: str = "run-0",
                     extract_kwargs: Optional[dict] = None,
                     max_buckets: Optional[int] = None,
                     lineage_mode: str = "full",
                     transform=None,
                     extra_hash_cols: tuple = ()) -> list:
    """Full checkpointed pipeline: bucket → resume-filter → extract →
    write(partitionBy bucket, dynamic overwrite) → lineage append.
    Returns the lineage rows of THIS run as a driver-side list of Rows
    (partition_id, n_rows, content_hash, run_id); empty if nothing to
    do. The list is bounded by n_buckets, so driver-side is safe.
    Raises ``ValueError``, before anything is written, when the
    manifest was committed under another bucket count: its ids would
    skip the wrong conversations (see ``completed_ids``).

    ``max_buckets`` commits at most that many (lowest-id) uncommitted
    buckets this run — the commit boundary a mid-job failure leaves
    behind (the manifest append IS the per-run commit, so "died after
    k buckets were committed" is exactly "a run restricted to k
    buckets completed, then the process died"). The scaling bench's
    kill-resume mode uses it to assert a resumed run processes ONLY
    the missing buckets and converges to a byte-identical manifest.

    ``lineage_mode`` picks how the commit-certifying pass reads back
    what landed on disk:

    - ``'full'`` (default): re-read (conv_id, turn_idx,
      extracted_text) and recompute every row hash — certifies the
      committed text bytes themselves, at the cost of re-reading the
      payload column; fine up to mid-size outputs, a full extra
      I/O+hash pass at 100 TB.
    - ``'hash_col'``: the per-row hash is computed once in the write
      stage and written as a ``row_hash`` column (8 B/row); the
      certify pass re-reads only (partition_id, row_hash) — a >100×
      smaller column-pruned scan that still proves every committed
      row landed ON DISK exactly once (missing/duplicated rows change
      the XOR). This is the Iceberg write-time-stats design and the
      right default at scale; parquet page checksums cover byte-level
      corruption of the payload itself.

    Both modes XOR the SAME per-row hash (``row_hash_expr``), so their
    manifests are byte-identical on identical data — pinned by test.

    ``transform`` swaps the per-bucket extraction: a callable
    (bucketed DataFrame with ``partition_id``) → DataFrame that must
    keep ``partition_id``/``conv_id``/``turn_idx`` and produce
    ``extracted_text`` — every other stage (resume filter, clustered
    write, lineage certify, manifest commit) is mode-independent.
    Modes whose output is several rows per turn pass the item-key
    columns as ``extra_hash_cols`` so the lineage hash stays
    row-unique (see row_hash_expr). The ordering fusion only applies
    to the default kernel path (a transform orders its own output)."""
    from .extract import extract_transcripts

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    # fused ordering (default): the ordering window rides the bucket
    # write's exchange and sort (see cluster_buckets)
    ek = dict(extract_kwargs or {})
    fuse_order = (transform is None and ek.get("order", True)
                  and ek.get("order_impl", "window") == "window")
    if fuse_order:
        ek["order"] = False
    bucketed = with_partition_id(df, n_buckets)
    done = completed_ids(manifest_path, n_buckets)
    todo = bucketed
    if done:
        # resume: committed buckets are a small driver-side list
        # (≤ n_buckets) → plain IN-filter, no join, no extra scan
        todo = bucketed.filter(~F.col("partition_id").isin(done))
        if len(done) >= n_buckets:
            return []
    if max_buckets is not None:
        skip = set(done or ())
        undone = [b for b in range(n_buckets) if b not in skip][:max_buckets]
        todo = todo.filter(F.col("partition_id").isin(undone))
    out = (transform(todo) if transform is not None
           else extract_transcripts(todo, **ek))
    # cluster by bucket before the partitioned write: file count
    # becomes n_buckets instead of write_tasks × n_buckets, and the
    # dynamic-overwrite commit stays O(n_buckets) as the cluster
    # grows. The sort makes each bucket file (conv_id, turn_idx)-
    # sorted — deterministic layout, ordered consumer reads, better
    # parquet encoding — and is the order the fused window needs.
    out = cluster_buckets(out, n_buckets, extra_hash_cols,
                          turn_seq=fuse_order)
    if lineage_mode == "hash_col":
        out = out.withColumn(ROW_HASH_COL, row_hash_expr(extra_hash_cols))
    out.write.mode("overwrite").partitionBy("partition_id") \
        .parquet(output_path)
    rows = certify(spark, output_path, out.schema, run_id,
                   skip=done or (), lineage_mode=lineage_mode,
                   extra_cols=extra_hash_cols)
    append_manifest_rows(rows, manifest_path, n_buckets)
    return rows
