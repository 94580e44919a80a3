"""Deterministic sampling, domain-budget selection, and sequence
packing — the selection layer of a training-data pipeline.

Everything keys off ONE portable hash: the first 8 hex digits of
md5(key || salt) read as a uint32. md5-of-UTF-8 is identical in every
engine (Spark, DuckDB, Python hashlib), so a sample drawn here is
reproducible bit-for-bit by any other system — unlike xxhash64, whose
seed/variant differs across libraries. The hash also serves as the
global shuffle order, which makes every operator below independent of
input partitioning and cluster size: the same corpus sampled on 8 or
8000 executors selects the same documents.

Scale notes (100 TB):
- ``sample_by_hash`` is a pure filter — no shuffle at all, evaluated
  in the scan stage.
- ``pack_sequences`` / ``take_token_budget`` use ONE window each,
  partitioned by pack-bucket / domain respectively — thousands of
  independent partitions, no global ordering bottleneck. Rows carry
  (id, hash, token count) only; documents themselves never shuffle —
  join the assignment back by id.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text_stats import token_count_col

__all__ = ["hash_u32_col", "sample_by_hash", "pack_sequences",
           "take_token_budget", "seeded_shuffle",
           "quality_budget_select",
           "global_rank", "mixture_schedule", "dsir_weights"]


def hash_u32_col(key: Column, salt: str = "") -> Column:
    """uint32 from the first 8 hex digits of md5(key || salt) —
    portable across engines (see module docstring)."""
    h = F.md5(F.encode(F.concat(key.cast("string"), F.lit(salt)), "UTF-8"))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


def sample_by_hash(df: DataFrame, key_col: str = "doc_id",
                   rate_pct: int = 10, salt: str = "") -> DataFrame:
    """Keep ~rate_pct% of rows, deterministically: hash % 100 <
    rate_pct. A filter, not a sampler state machine — no shuffle,
    evaluated at scan, and re-running (any cluster size, any
    partitioning) selects the exact same rows. Vary ``salt`` for
    independent draws."""
    return df.filter(hash_u32_col(F.col(key_col), salt) % 100
                     < F.lit(int(rate_pct)))


def seeded_shuffle(df: DataFrame, key_col: str = "doc_id",
                   seed: str = "0",
                   key_out: str | None = None) -> DataFrame:
    """Deterministic global permutation of the corpus — the epoch
    shuffle every training run needs before sharding. Rows come back
    totally ordered by (md5(key || ':' || seed), key): uniform,
    seed-reproducible on any cluster size or input partitioning, and
    portable (any engine with md5 derives the identical order —
    unlike rand(seed), whose sequence is engine- and partitioning-
    specific).

    The returned schema is the INPUT schema — the internal sort key is
    dropped after ordering (ordering survives the projection). Pass
    ``key_out`` to keep the md5 sort key under that column name (e.g.
    to window on it downstream).

    Scale shape: Spark plans orderBy as a range-partitioned sort
    (sampled boundaries → exchange → per-partition sort) — the
    terasort pattern, no single-task stage, no skew (md5 keys are
    uniform by construction). Vary ``seed`` per epoch. The full md5
    hex (128 bits) is the sort key, so key collisions — which would
    make the permutation input-order-dependent — cannot occur; the
    trailing ``key_col`` tiebreak is belt-and-braces only."""
    h = F.md5(F.encode(F.concat(F.col(key_col).cast("string"),
                                F.lit(":" + seed)), "UTF-8"))
    name = key_out or "_shuffle_key"
    out = df.withColumn(name, h).orderBy(name, key_col)
    return out if key_out else out.drop(name)


def pack_sequences(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", budget: int = 2048,
                   n_buckets: int = 64, salt: str = "",
                   token_col: str | None = None) -> DataFrame:
    """Assign each document to a training shard of ~``budget`` tokens.

    Offset-based packing: documents are ordered by (hash, id) inside
    ``n_buckets`` hash buckets; within a bucket, a document whose
    token prefix-sum starts in shard k belongs to shard k (a document
    may overflow its shard by at most its own length — the standard
    streaming-pack tradeoff, vs bin-packing which is not stable under
    growth). Output: (id, n_tokens, bucket, shard, pos) — tiny rows;
    join back by id to materialize shards.

    One window, partitioned by bucket: at 100 TB that is n_buckets
    independent sorts of (hash, id, count) triples, no global order.
    Raise n_buckets with corpus size to bound per-partition rows.
    """
    tok = (F.col(token_col) if token_col
           else token_count_col(F.col(text_col))).cast("long")
    h = hash_u32_col(F.col(id_col), salt)
    base = df.select(F.col(id_col), tok.alias("n_tokens"), h.alias("_h"),
                     (h % n_buckets).alias("bucket"))
    w = Window.partitionBy("bucket").orderBy("_h", id_col)
    cum = F.sum("n_tokens").over(w)
    shard = F.floor((cum - F.col("n_tokens")) / budget).cast("long")
    out = base.select(id_col, "n_tokens", "bucket",
                      shard.alias("shard"), cum.alias("_cum"))
    w2 = Window.partitionBy("bucket", "shard").orderBy("_cum")
    return out.select(id_col, "n_tokens",
                      F.col("bucket").cast("long").alias("bucket"),
                      "shard",
                      F.row_number().over(w2).cast("long").alias("pos"))


def take_token_budget(df: DataFrame, domain_col: str, budget: int,
                      id_col: str = "doc_id", text_col: str = "text",
                      salt: str = "",
                      token_col: str | None = None) -> DataFrame:
    """Domain-mix selection: per domain, keep documents in hash order
    until the domain's token budget is spent (a document is kept iff
    its INCLUSIVE prefix sum fits). The hash order makes the kept set
    a uniform random-looking but deterministic subset per domain.

    One window partitioned by domain — independent per-domain sorts,
    no cross-domain shuffle. Skewed domains: rows are (id, hash,
    count) only; a 10⁹-document domain sorts 24-byte rows, and the
    budget cut usually prunes far earlier via the filter pushed below
    the join-back.
    """
    tok = (F.col(token_col) if token_col
           else token_count_col(F.col(text_col))).cast("long")
    h = hash_u32_col(F.col(id_col), salt)
    base = df.select(F.col(id_col), F.col(domain_col), tok.alias("n_tokens"),
                     h.alias("_h"))
    w = Window.partitionBy(domain_col).orderBy("_h", id_col)
    cum = F.sum("n_tokens").over(w)
    return (base.withColumn("cum_tokens", cum)
            .filter(F.col("cum_tokens") <= budget)
            .drop("_h"))


def quality_budget_select(df: DataFrame, score_col: str, budget: int,
                          id_col: str = "doc_id",
                          text_col: str = "text",
                          token_col: str | None = None) -> DataFrame:
    """GLOBAL budget selection: keep the highest-``score_col``
    documents, ordered (score desc, id asc), until the corpus-wide
    token budget is spent (kept iff the inclusive prefix sum fits) →
    (id, score, n_tokens, cum_tokens).

    The 100-TB shape — no corpus-wide window. Two-phase, the same
    histogram trick as length_quantiles:
    1. aggregate (score → n_docs, sum_tokens): map-side combined,
       shuffle is score-cardinality, not corpus-cardinality;
    2. cumulative sum over the TINY score histogram (ordered desc)
       gives each score's token offset; scores whose inclusive total
       fits are kept wholesale with cum = offset + within-score
       prefix — and only the single BOUNDARY score's documents go
       through a window (partitioned by that one score value, ordered
       by id). A tie-dense boundary score concentrates its docs in
       one task of narrow (id, tokens) rows — the same documented
       bound as the ordering window; salt the score if that ever
       binds.
    """
    tok = (F.col(token_col) if token_col
           else token_count_col(F.col(text_col))).cast("long")
    base = df.select(F.col(id_col), F.col(score_col).alias("_s"),
                     tok.alias("n_tokens"))
    hist = (base.groupBy("_s")
            .agg(F.sum("n_tokens").alias("_bt")))
    wh = Window.orderBy(F.desc("_s")) \
        .rowsBetween(Window.unboundedPreceding, 0)
    hist = hist.withColumn("_cum", F.sum("_bt").over(wh)) \
               .withColumn("_off", F.col("_cum") - F.col("_bt"))
    # scores that fit entirely, plus the one boundary score
    cand = hist.filter(F.col("_off") < budget) \
               .select("_s", "_off", "_cum")
    j = base.join(F.broadcast(cand), "_s")
    ws = Window.partitionBy("_s").orderBy(id_col)
    out = (j.withColumn("cum_tokens",
                        F.col("_off") + F.sum("n_tokens").over(ws))
           .filter(F.col("cum_tokens") <= budget))
    return out.select(F.col(id_col), F.col("_s").alias(score_col),
                      "n_tokens", "cum_tokens")


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


def mixture_schedule(df: DataFrame, weights: DataFrame,
                     topic_col: str = "topic", id_col: str = "doc_id",
                     seed: str = "7", weight_col: str = "weight_ppm",
                     with_pos: bool = False) -> DataFrame:
    """Deterministic mixture-weighted epoch order → (id, topic, k, vt)
    sorted by (vt, topic, k): topic t's k-th document (k = 1.., in
    seeded-shuffle order within the topic) is scheduled at virtual
    time vt = k·SCALE // weight_t, so topics interleave
    proportionally to their weights from the very start of the epoch
    — the scheduling step that consumes topic_mix's weights. Integer
    arithmetic end-to-end, (vt, topic, k) a total order, so any
    engine reproduces the exact permutation; vary ``seed`` per epoch.

    Scale shape: the within-topic rank is a per-topic window over
    narrow (id, hash) rows — the documented per-key bound — and the
    schedule itself is the SORT ORDER by the virtual key
    (range-partitioned terasort, same as seeded_shuffle): writers
    consume order, not ordinals, so no global-rank window exists.
    ``with_pos=True`` additionally materializes the 1-based ordinal
    via the two-phase ``global_rank`` (range partition +
    local rank + bounded offsets) — still no single-partition
    window."""
    h = F.md5(F.encode(F.concat(F.col(id_col).cast("string"),
                                F.lit(":" + str(seed))), "UTF-8"))
    base = (df.select(F.col(id_col), F.col(topic_col))
            .join(F.broadcast(weights.select(
                F.col(topic_col), F.col(weight_col))), topic_col)
            .withColumn("_h", h))
    wk = Window.partitionBy(topic_col).orderBy("_h", id_col)
    k = F.row_number().over(wk).cast("long")
    SCALE = 1_000_000_000_000
    # integer DIV, not float division: k·SCALE approaches 2^53 where
    # double floor(a/b) can misround by one
    keyed = base.withColumn("_k", k).withColumn(
        "_vt", F.expr(f"CAST(_k * {SCALE}L DIV {weight_col} AS LONG)"))
    out = keyed.select(id_col, topic_col, F.col("_k").alias("k"),
                       F.col("_vt").alias("vt")) \
        .orderBy("vt", topic_col, "k")
    if with_pos:
        out = global_rank(out, ["vt", topic_col, "k"], out="pos")
    return out


def dsir_weights(docs: DataFrame, target: DataFrame,
                 text_col: str = "text", id_col: str = "doc_id",
                 buckets: int = 256, salt: str = ":dsir1") -> DataFrame:
    """DSIR-style data selection weights (arXiv:2302.03169 computes
    hashed-n-gram importance weights between a target distribution
    and the raw pool, then resamples the pool by weight),
    integer-quantized for engine-portable exactness: each whitespace
    token hashes into one of ``buckets`` md5-u32 buckets; the
    per-bucket likelihood ratio is kept in ppm with add-one smoothing
    (lr_ppm = (target_cnt+1) * 1e6 // (raw_cnt+1)); a document's
    weight is the mean bucket ratio over its tokens (weight_ppm,
    0 for token-less docs). Ratios instead of float log-ratios — the
    quantization a rank-and-resample consumer can't tell apart, and
    any engine replays it bit-for-bit.

    Scale shape: two map-side-combined groupBys over a key space of
    exactly ``buckets`` rows (the ratio table is tiny by construction
    and broadcast), then explode → broadcast join → one per-doc
    aggregate shuffling (id, small ints). The corpus text never
    shuffles; the only corpus-sized pass is the token explode."""
    def _buckets(df: DataFrame) -> DataFrame:
        t = F.trim(F.col(text_col))
        toks = F.when(t == "", F.array().cast("array<string>")) \
            .otherwise(F.split(t, r"[ \t\n\x0b\f\r]+"))
        return (df.select(F.explode(toks).alias("tok"))
                .filter(F.col("tok") != "")
                .select((hash_u32_col(F.col("tok"), salt) % buckets)
                        .alias("bucket")))

    raw_cnt = _buckets(docs).groupBy("bucket") \
        .agg(F.count("*").cast("long").alias("raw_cnt"))
    tgt_cnt = _buckets(target).groupBy("bucket") \
        .agg(F.count("*").cast("long").alias("tgt_cnt"))
    ratio = (raw_cnt.join(tgt_cnt, "bucket", "left")
             .select("bucket",
                     F.expr("(coalesce(tgt_cnt, 0L) + 1L) * 1000000L "
                            "DIV (raw_cnt + 1L)").alias("lr_ppm")))

    t = F.trim(F.col(text_col))
    toks = F.when(t == "", F.array().cast("array<string>")) \
        .otherwise(F.split(t, r"[ \t\n\x0b\f\r]+"))
    doc_toks = (docs.select(F.col(id_col),
                            F.explode_outer(toks).alias("tok"))
                .select(id_col,
                        F.when((F.col("tok").isNotNull())
                               & (F.col("tok") != ""),
                               hash_u32_col(F.col("tok"), salt) % buckets)
                        .alias("bucket")))
    agg = (doc_toks.join(F.broadcast(ratio), "bucket", "left")
           .groupBy(id_col)
           .agg(F.count("bucket").cast("long").alias("n_tokens"),
                F.coalesce(F.sum("lr_ppm"), F.lit(0)).cast("long")
                .alias("w_sum")))
    return agg.select(
        id_col, "n_tokens",
        F.when(F.col("n_tokens") > 0,
               F.expr("w_sum DIV n_tokens"))
        .otherwise(F.lit(0)).cast("long").alias("weight_ppm"))
