"""Streaming extraction: readStream → parse kernel → stateful ops → sink."""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernel import extract_text
from ..sources.transcripts import TRANSCRIPTS_SCHEMA_DDL

__all__ = [
    "read_transcripts_stream", "extract_stream", "conv_running_state",
    "turn_rates", "write_extracted_stream", "dedup_stream",
    "near_dup_detect_stream", "session_stats_stream",
]


def session_stats_stream(sdf: DataFrame, ts_col: str = "ts",
                         key_col: str = "user_id",
                         gap: str = "30 minutes",
                         watermark: str = "2 hours") -> DataFrame:
    """Streaming sessionization — the ``session_window`` twin of the
    batch ``operators.relational.sessionize`` (which labels every
    event; this aggregates per session): per key, one row per
    gap-delimited session with its window and event count. State is
    bounded by the watermark: sessions older than it finalize and
    evict. Equivalence with the batch labeling is pinned by
    ``tests/test_streaming.py::test_session_window_matches_batch_sessionize``
    (same gap ⇒ identical session boundaries and counts)."""
    return (sdf.withWatermark(ts_col, watermark)
            .groupBy(F.session_window(F.col(ts_col), gap).alias("sw"),
                     F.col(key_col))
            .agg(F.count("*").cast("long").alias("n_events"))
            .select(key_col,
                    F.col("sw.start").alias("session_start"),
                    F.col("sw.end").alias("session_end"),
                    "n_events"))


_NEAR_STATE_SCHEMA = StructType([
    StructField("ids", ArrayType(LongType())),
    StructField("sigs", ArrayType(LongType())),   # flattened k×num_perm
])

_NEAR_OUT_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("matched_old", LongType()),
])


def _make_band_state_fn(num_perm: int, threshold: float,
                        ttl_ms: int):
    """Per-(band_id, band_hash) stateful matcher: compare each arriving
    doc's full MinHash signature against every signature previously
    seen in this band bucket (and earlier rows of the same batch, in
    (ts, doc_id) order — the same total order the batch keep-one
    uses), emit (doc_id, matched_old) when agreement ≥ threshold,
    then register the doc. State = the bucket's (id, signature) list —
    8·(num_perm+1) bytes per member, never documents — expired by
    event time one TTL past the bucket's newest member. Buckets are
    small by LSH construction (hot template buckets belong to the
    batch cap path), so the per-row list scan is bounded."""
    import numpy as np

    def fn(key, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            st_ids, st_flat = state.get
            ids = list(st_ids)
            sig_list = [np.asarray(st_flat[i * num_perm:(i + 1) * num_perm],
                                   dtype=np.int64)
                        for i in range(len(ids))]
        else:
            ids, sig_list = [], []
        out_ids, out_match = [], []
        max_ts_ms = None
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "doc_id"])
            for row_id, row_ts, row_sig in zip(
                    pdf["doc_id"].to_numpy(), pdf["ts"], pdf["sig"]):
                s = np.asarray(row_sig, dtype=np.int64)
                if ids:
                    matches = [ids[j] for j, sl in enumerate(sig_list)
                               if (sl == s).mean() >= threshold]
                    if matches:
                        out_ids.append(int(row_id))
                        out_match.append(int(min(matches)))
                ids.append(int(row_id))
                sig_list.append(s)
                ts_ms = int(pd.Timestamp(row_ts).value // 10**6)
                max_ts_ms = (ts_ms if max_ts_ms is None
                             else max(max_ts_ms, ts_ms))
        flat = ([int(v) for sl in sig_list for v in sl]
                if sig_list else [])
        state.update((ids, flat))
        if max_ts_ms is not None:
            # one TTL past the newest member, but never at-or-behind
            # the current watermark (Spark rejects past timeouts)
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(max_ts_ms + ttl_ms, wm + 1))
        if out_ids:
            yield pd.DataFrame({"doc_id": out_ids,
                                "matched_old": out_match})

    return fn


def near_dup_detect_stream(sdf: DataFrame, *, text_col: str = "text",
                           id_col: str = "doc_id", ts_col: str = "ts",
                           threshold: float = 0.8, num_perm: int = 64,
                           bands: int = 16, shingle_k: int = 5,
                           watermark: str = "10 minutes",
                           state_ttl_ms: int = 600_000) -> DataFrame:
    """Streaming MinHash near-dup detection — the streaming face of
    the batch minhash dedup family. Emits one (doc_id, matched_old)
    row per detected near-duplicate: the arriving doc whose signature
    agrees ≥ ``threshold`` with an earlier doc sharing an LSH band
    within the watermark horizon. Docs never emitted are novel — the
    stream analogue of the batch keep-set (pytest pins byte-equality
    on the same rows, tests/test_streaming.py).

    Scale shape: the signature UDF is the identical Arrow-batch
    function the batch path uses; banding is the shared JVM
    band_struct_cols, so stream buckets are bit-identical to batch
    buckets. State is per (band_id, band_hash) bucket and holds
    (ids, signatures) only — 8·(num_perm+1) bytes per member, never
    text — and expires by event time one horizon after the bucket's
    newest member. A doc appearing in several shared buckets may be
    reported by each; downstream consumers drop by distinct doc_id
    (pairs output is idempotent under that distinct)."""
    from ..operators.dedup import band_struct_cols, make_minhash_udf

    udf = make_minhash_udf(num_perm=num_perm, shingle_k=shingle_k)
    sig = sdf.select(F.col(id_col).alias("doc_id"),
                     F.col(ts_col).alias("ts"),
                     udf(F.col(text_col)).alias("sig"))
    banded = (sig.select("doc_id", "ts", "sig",
                         F.explode(F.array(
                             *band_struct_cols("sig", num_perm, bands)))
                         .alias("bk"))
              .select("doc_id", "ts", "sig", "bk.band_id", "bk.band_hash"))
    return (banded.withWatermark("ts", watermark)
            .groupBy("band_id", "band_hash")
            .applyInPandasWithState(
                _make_band_state_fn(num_perm, threshold, state_ttl_ms),
                outputStructType=_NEAR_OUT_SCHEMA,
                stateStructType=_NEAR_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout))


def dedup_stream(sdf: DataFrame, watermark: str = "10 minutes",
                 key_cols=("conv_id", "turn_idx", "text")) -> DataFrame:
    """Streaming exact dedup: drop duplicate deliveries (source
    retries, at-least-once upstreams) by content hash within the
    event-time watermark. State is bounded by the watermark horizon —
    the streaming analogue of exact_dedup's hash-key design: the dedup
    state stores a 12-byte (hash, length) key, never documents. The
    total length of the key columns is the same cheap second
    discriminator the batch exact path uses, so two distinct rows
    colliding in the 64-bit hash are only merged if they ALSO share
    total key length (P ≈ 2⁻⁶⁴ · P(len equal) per in-horizon pair)."""
    cols = [F.col(c) for c in key_cols]
    hashed = (sdf.withColumn("_h", F.xxhash64(*cols))
              .withColumn("_hl", sum((F.length(c.cast("string"))
                                      for c in cols[1:]),
                                     F.length(cols[0].cast("string")))))
    return (hashed.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["_h", "_hl"]).drop("_h", "_hl"))


def read_transcripts_stream(spark: SparkSession, path: str,
                            fmt: str = "parquet",
                            max_files_per_trigger: int | None = None
                            ) -> DataFrame:
    """File-source stream of the transcripts table (new files under
    ``path`` become micro-batches; with Iceberg on the cluster this is
    ``readStream.format('iceberg')`` over table snapshots)."""
    reader = spark.readStream.schema(TRANSCRIPTS_SCHEMA_DDL)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format(fmt).load(path)


def extract_stream(sdf: DataFrame, *, strip: bool = True,
                   include_raw: bool = False,
                   keep_text: bool = False) -> DataFrame:
    """The batch parse kernel applied to a streaming DataFrame —
    identical Arrow-batch function, so streaming output is byte-equal
    to the batch pipeline on the same rows."""
    return extract_text(sdf, text_col="text", strip=strip,
                        include_raw=include_raw, drop_text=not keep_text)


_CONV_STATE_SCHEMA = StructType([
    StructField("n_turns", LongType()),
    StructField("max_turn_idx", IntegerType()),
    StructField("content_hash", LongType()),
])

_CONV_OUT_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("n_turns", LongType()),
    StructField("max_turn_idx", IntegerType()),
    StructField("content_hash", LongType()),
])


def _conv_state_fn(key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame],
                   state: GroupState) -> Iterator[pd.DataFrame]:
    """Custom stateful operator: per-conversation running lineage —
    turns seen, max turn_idx, and an order-insensitive XOR content
    hash. The per-row hash is the ``row_hash`` column — computed
    JVM-side in the plan (xxhash64(conv_id, turn_idx, extracted_text),
    see conv_running_state) with EXACTLY the inputs the batch
    checkpoint manifest uses (operators.checkpoint.lineage_rows), so a
    streaming deployment's per-conversation record XORs to the same
    64-bit value as a batch run over the same rows and the two are
    directly comparable. The Python side only XOR-reduces int64s —
    vectorized, no per-row hashing."""
    import numpy as np

    n, mx, h = (state.get if state.exists else (0, -1, 0))
    for pdf in pdfs:
        n += len(pdf)
        if len(pdf):
            mx = max(mx, int(pdf["turn_idx"].max()))
            h ^= int(np.bitwise_xor.reduce(
                pdf["row_hash"].to_numpy(dtype=np.int64)))
    state.update((n, mx, h))
    yield pd.DataFrame({"conv_id": [key[0]], "n_turns": [n],
                        "max_turn_idx": [mx], "content_hash": [h]})


def conv_running_state(extracted: DataFrame) -> DataFrame:
    """applyInPandasWithState over conv_id: emits the running
    per-conversation record each micro-batch (update semantics).
    content_hash is bit-compatible with the batch manifest: the
    xxhash64 row hash is computed in the Spark plan (JVM, codegen)
    before the stateful op."""
    hashed = extracted.withColumn(
        "row_hash", F.xxhash64("conv_id", "turn_idx", "extracted_text"))
    return (hashed.groupBy("conv_id").applyInPandasWithState(
        _conv_state_fn,
        outputStructType=_CONV_OUT_SCHEMA,
        stateStructType=_CONV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout))


def turn_rates(sdf: DataFrame, window: str = "1 minute",
               watermark: str = "10 minutes") -> DataFrame:
    """Windowed event-time aggregation with late-data watermark:
    turns/minute per role (the streaming ops checklist item)."""
    return (sdf.withWatermark("ts", watermark)
            .groupBy(F.window("ts", window), F.col("role"))
            .agg(F.count("*").alias("n_turns"),
                 F.sum(F.length("text")).alias("n_bytes")))


def write_extracted_stream(extracted: DataFrame, path: str,
                           checkpoint: str, available_now: bool = True):
    """Parquet sink with exactly-once file-source → file-sink
    semantics via the streaming checkpoint; availableNow drains the
    backlog then stops (batch-like runs on a streaming plan)."""
    writer = (extracted.writeStream.format("parquet")
              .option("path", path)
              .option("checkpointLocation", checkpoint)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
