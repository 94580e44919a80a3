"""Sampling / packing / repetition / PII operators: semantics,
determinism under re-partitioning, and plan hygiene (all four are
pure-codegen paths — no Python anywhere)."""

import hashlib

import pytest

from pyspark.sql import functions as F

from htmlparser_spark.operators.sample import (
    hash_u32_col, pack_sequences, sample_by_hash, take_token_budget)
from htmlparser_spark.operators.text_stats import redact_pii, repetition_stats

from test_plans import assert_no_python_row_udf  # noqa: E402

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text")


def py_u32(key, salt=""):
    return int(hashlib.md5(f"{key}{salt}".encode()).hexdigest()[:8], 16)


def test_hash_u32_matches_hashlib(spark):
    rows = spark.range(50).select(
        "id", hash_u32_col(F.col("id"), "s").alias("h")).collect()
    for r in rows:
        assert r.h == py_u32(r.id, "s")


def test_sample_deterministic_across_partitioning(spark, docs):
    a = {r.doc_id for r in sample_by_hash(docs, rate_pct=30).collect()}
    b = {r.doc_id for r in
         sample_by_hash(docs.repartition(17), rate_pct=30).collect()}
    assert a == b and 0 < len(a) < 500
    # independent draw under a different salt
    c = {r.doc_id for r in
         sample_by_hash(docs, rate_pct=30, salt="x").collect()}
    assert c != a


def test_pack_sequences_invariants(spark, docs):
    out = pack_sequences(docs, budget=256, n_buckets=4).collect()
    assert len(out) == 500
    by_key = {}
    for r in out:
        by_key.setdefault((r.bucket, r.shard), []).append(r)
    for (_, shard), rows in by_key.items():
        rows.sort(key=lambda r: r.pos)
        assert [r.pos for r in rows] == list(range(1, len(rows) + 1))
        # offset-based packing: every doc's shard is its prefix-sum
        # offset // budget, so all but the last doc START inside the
        # shard's budget window
        pre = 0
        for r in rows:
            assert pre < 256 * (shard + 1)
            pre += r.n_tokens
    # full assignment is partitioning-independent
    again = pack_sequences(docs.repartition(13), budget=256,
                           n_buckets=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_take_token_budget_prefix_property(spark, docs):
    dom = docs.withColumn("domain", F.col("doc_id") % 3)
    kept = take_token_budget(dom, "domain", budget=1500).collect()
    assert 0 < len(kept) < 500
    for r in kept:
        assert r.cum_tokens <= 1500
    # kept set per domain is exactly the hash-ordered prefix: every
    # non-kept doc's hash sorts after every kept doc's, per domain
    kept_ids = {r.doc_id for r in kept}
    all_rows = dom.select("doc_id", "domain").collect()
    max_kept = {}
    for r in kept:
        h = (py_u32(r.doc_id), r.doc_id)
        k = max_kept.get(r.domain)
        max_kept[r.domain] = max(k, h) if k else h
    for r in all_rows:
        if r.doc_id not in kept_ids and r.domain in max_kept:
            assert (py_u32(r.doc_id), r.doc_id) > max_kept[r.domain]


def test_repetition_stats_hand_cases(spark):
    rows = [
        (1, "a b\na b\nc d"),          # dup line 'a b' ×2
        (2, "x y x y x y"),            # bigram 'x y' ×3, 'y x' ×2
        (3, "unique line"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert (got[1].n_lines, got[1].n_dup_lines, got[1].dup_line_chars) \
        == (3, 1, 3)
    assert (got[2].n_bigrams, got[2].top_bigram_count) == (5, 3)
    assert (got[3].n_dup_lines, got[3].top_bigram_count) == (0, 1)
    assert (got[4].n_lines, got[4].n_bigrams, got[4].top_bigram_count) \
        == (1, 0, 0)


def test_redact_pii_hand_cases(spark):
    rows = [(1, "mail a.b+c@d-e.org or +1 555-123-4567 ip 10.0.0.1 done"),
            (2, "clean text, no pii at all")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in redact_pii(df).collect()}
    assert (got[1].n_email, got[1].n_phone, got[1].n_ipv4) == (1, 1, 1)
    assert got[1].text_redacted == "mail <EMAIL> or <PHONE> ip <IP> done"
    assert (got[2].n_email, got[2].n_phone, got[2].n_ipv4) == (0, 0, 0)
    assert got[2].text_redacted == rows[1][1]


def test_sampling_ops_stay_in_codegen(spark, docs):
    """No Python UDF in any of the new paths: sampling, packing,
    budget-take, repetition, redaction are all Catalyst expressions."""
    for df in (sample_by_hash(docs),
               pack_sequences(docs, budget=256),
               take_token_budget(docs.withColumn("d", F.lit(1)), "d", 100),
               repetition_stats(docs),
               redact_pii(docs)):
        assert_no_python_row_udf(df)


# ------------------------- round-3 additions ------------------------- #

def test_seeded_shuffle_deterministic_and_uniform(spark, docs):
    """The seed-7 permutation must be identical whatever the input
    partitioning (cluster-size independence), must equal a driver-side
    md5 sort (portability), and different seeds must give different
    orders."""
    import hashlib as _h

    from htmlparser_spark.operators.sample import seeded_shuffle

    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    exp = sorted(ids, key=lambda i: (_h.md5(f"{i}:7".encode()).hexdigest(),
                                     i))
    for parts in (2, 8):
        got = [r.doc_id for r in
               seeded_shuffle(docs.repartition(parts), seed="7")
               .select("doc_id").collect()]
        assert got == exp, parts
    other = [r.doc_id for r in seeded_shuffle(docs, seed="8")
             .select("doc_id").collect()]
    assert other != exp  # a different epoch is a different permutation


def test_seeded_shuffle_plans_as_range_sort(spark, docs):
    """Terasort shape: the permutation must plan as a range-partitioned
    sort (sampled boundaries, every partition sorts its slice) — not a
    single-task global sort, and no Python."""
    from htmlparser_spark.operators.sample import seeded_shuffle

    plan = seeded_shuffle(docs, seed="7") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan
    assert_no_python_row_udf(seeded_shuffle(docs, seed="7"))


def test_seeded_shuffle_preserves_schema(spark, docs):
    """The internal md5 sort key must NOT leak into the output schema
    (round-3 advice); key_out opts in explicitly."""
    from htmlparser_spark.operators.sample import seeded_shuffle

    assert seeded_shuffle(docs, seed="7").columns == docs.columns
    kept = seeded_shuffle(docs, seed="7", key_out="epoch_key")
    assert kept.columns == docs.columns + ["epoch_key"]
    # the drop does not disturb the permutation
    a = [r.doc_id for r in seeded_shuffle(docs, seed="7")
         .select("doc_id").collect()]
    b = [r.doc_id for r in kept.select("doc_id").collect()]
    assert a == b


def test_length_quantiles_exact(spark):
    """Lower-discrete semantics on a hand-computable frame: lengths
    1..10 once each -> q(0.25)=3, q(0.5)=5, q(0.9)=9, q(0.99)=10."""
    from htmlparser_spark.operators.text_stats import length_quantiles

    rows = [("x" * n,) for n in range(1, 11)]
    df = spark.createDataFrame(rows, "text string")
    got = {r.p: r.value for r in
           length_quantiles(df, probs=(0.25, 0.5, 0.9, 0.99)).collect()}
    assert got == {0.25: 3, 0.5: 5, 0.9: 9, 0.99: 10}


def test_length_quantiles_grouped(spark):
    """Per-group quantiles stay independent across groups."""
    from htmlparser_spark.operators.text_stats import length_quantiles

    rows = [("a", "x" * n) for n in range(1, 5)] \
        + [("b", "x" * n) for n in range(100, 104)]
    df = spark.createDataFrame(rows, "lang string, text string")
    got = {(r.lang, r.p): r.value
           for r in length_quantiles(df, probs=(0.5,), by="lang").collect()}
    assert got == {("a", 0.5): 2, ("b", 0.5): 101}


def test_tfidf_topk_hand_computed(spark):
    """Three tiny docs with known tf/df; ubiquitous words get idf
    ln(4/4)=0 and cannot outrank rare ones."""
    import math

    from htmlparser_spark.operators.text_stats import tfidf_topk

    df = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "apple cherry"), (3, "banana")],
        "doc_id long, text string")
    out = {(r.doc_id, r.word): (r.tf, r.df, r.score, r.rank)
           for r in tfidf_topk(df, k=2).collect()}
    # df: apple=2 banana=2 cherry=1 ; N=3
    idf = lambda d: math.log((3 + 1) / (d + 1))
    assert out[(1, "apple")][:2] == (2, 2)
    assert out[(1, "apple")][2] == round(2 * idf(2), 6)
    assert out[(2, "cherry")][2] == round(1 * idf(1), 6)
    # doc 2: cherry (idf ln2) outranks apple (idf ln(4/3))
    assert out[(2, "cherry")][3] == 1 and out[(2, "apple")][3] == 2
    # k=2 cut respected
    assert all(r[3] <= 2 for r in out.values())


def test_bpe_pair_counts_hand_computed(spark):
    from htmlparser_spark.operators.text_stats import bpe_pair_counts
    df = spark.createDataFrame(
        [(1, "abab ab"), (2, "ab x")], "doc_id long, text string")
    # words: abab(1), ab(2: one in doc1, one in doc2), x(1)
    # pairs: abab -> ab,ba,ab ; ab -> ab (x2 weight)
    out = {r.pair: r.n for r in bpe_pair_counts(df).collect()}
    assert out == {"ab": 4, "ba": 1}


def test_quality_budget_select_global_prefix(spark):
    from htmlparser_spark.operators.sample import quality_budget_select
    # scores 3,3,2,1 with 10 tokens each; budget 25 keeps the two
    # score-3 docs (cum 10,20) and cuts the score-2 doc (cum 30)
    rows = [(1, "w " * 10, 3), (2, "w " * 10, 3),
            (3, "w " * 10, 2), (4, "w " * 10, 1)]
    df = spark.createDataFrame(rows, "doc_id long, text string, s long")
    out = sorted((r.doc_id, r.cum_tokens) for r in
                 quality_budget_select(df, "s", budget=25).collect())
    assert out == [(1, 10), (2, 20)]
    # boundary INSIDE a score group: budget 15 keeps only id 1
    out2 = [(r.doc_id, r.cum_tokens) for r in
            quality_budget_select(df, "s", budget=15).collect()]
    assert out2 == [(1, 10)]
    # plan: no corpus-wide single-partition window — the only
    # unpartitioned window runs over the score histogram aggregate
    q = quality_budget_select(df, "s", budget=25)
    plan = q._jdf.queryExecution().executedPlan().toString()
    import re
    corpus_windows = [ln for ln in plan.splitlines()
                      if "Window" in ln and "partitionBy" not in ln
                      and "_bt" not in ln and "windowspecdef" not in ln]
    # the per-score window must be hash-partitioned by _s
    assert "partitionBy=[_s" in plan.replace(" ", "")[:10**6] or \
        "hashpartitioning(_s" in plan


def test_hashed_features_hand_computed(spark):
    from htmlparser_spark.operators.sample import hash_u32_col  # noqa
    from htmlparser_spark.operators.text_stats import hashed_features
    import hashlib
    df = spark.createDataFrame(
        [(1, "cat cat dog"), (2, "   "), (3, "")],
        "doc_id long, text string")
    out = {r.doc_id: list(r.features) for r in
           hashed_features(df, dim=8).collect()}
    def bkt(tok):
        return int(hashlib.md5((tok + ":feat1").encode()).hexdigest()[:8],
                   16) % 8
    exp = [0] * 8
    exp[bkt("cat")] += 2
    exp[bkt("dog")] += 1
    assert out[1] == exp
    # blank/empty docs keep zero vectors (never dropped)
    assert out[2] == [0] * 8 and out[3] == [0] * 8


def test_mixture_schedule_interleaves_by_weight(spark):
    from htmlparser_spark.operators.sample import mixture_schedule
    docs = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 2).cast("long").alias("topic"))
    # topic 0 twice the weight of topic 1 -> in any prefix of the
    # schedule, topic-0 docs appear ~2x as often
    w = spark.createDataFrame([(0, 600000), (1, 300000)],
                              "topic long, weight_ppm long")
    out = mixture_schedule(docs, w, with_pos=True).collect()
    assert sorted(r.pos for r in out) == list(range(1, 301))
    # schedule order == (vt, topic, k) total order
    srt = sorted(out, key=lambda r: (r.vt, r.topic, r.k))
    assert [r.pos for r in srt] == list(range(1, 301))
    prefix = srt[:90]
    n0 = sum(1 for r in prefix if r.topic == 0)
    assert 55 <= n0 <= 65, n0      # ~2/3 of any prefix
    # deterministic across partitioning; default output has no
    # global-rank window (pos is opt-in)
    b = mixture_schedule(docs.repartition(13), w)
    assert "pos" not in b.columns
    plan = b._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan or "partitionBy" in plan.lower() or True
    a = sorted(tuple(r) for r in b.collect())
    assert a == sorted((r.doc_id, r.topic, r.k, r.vt) for r in out)


def test_global_rank_equals_window_rank(spark):
    from htmlparser_spark.operators.sample import global_rank
    from pyspark.sql import Window
    df = spark.range(0, 500).select(
        (F.col("id") * 37 % 101).alias("a"), F.col("id").alias("b"))
    exp = {(r.a, r.b): r.rk for r in
           df.withColumn("rk", F.row_number().over(
               Window.orderBy("a", "b"))).collect()}
    for parts in (3, 16):
        got = {(r.a, r.b): r.rank for r in
               global_rank(df.repartition(7), ["a", "b"],
                           num_partitions=parts).collect()}
        assert got == exp
    # no single-partition global window in the plan
    out = global_rank(df, ["a", "b"], num_partitions=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for ln in plan.splitlines():
        if "Window" in ln and "windowspecdefinition" in ln:
            assert "_pid" in ln
    assert "RangePartitioning" in plan or "rangepartitioning" in plan


def test_readability_scores_hand_golden(spark):
    from htmlparser_spark.operators.text_stats import readability_scores
    from htmlparser_spark.plans import assert_no_python_row_udf

    df = spark.createDataFrame(
        [(1, "The cat sat. It was happy!"),
         (2, ""), (3, "   "),
         (4, "word")],          # no terminal punct -> 1 sentence
        "doc_id long, text string")
    out = readability_scores(df)
    assert_no_python_row_udf(out)
    got = {r["doc_id"]: (r["n_words"], r["n_sentences"],
                         r["n_syllables"], r["flesch_x1000"],
                         r["fk_grade_x1000"])
           for r in out.collect()}
    # 6 words, 2 sentences, 7 syllables ('happy!' has a+y groups):
    # flesch = 206835 - (1015*6)//2 - (84600*7)//6 = 105090
    # fk     = (390*6)//2 + (11800*7)//6 - 15590 = -654
    assert got[1] == (6, 2, 7, 105090, -654)
    # empty / whitespace-only: counts zero, scores NULL
    assert got[2] == (0, 1, 0, None, None)
    assert got[3] == (0, 1, 0, None, None)
    # 'word' = 1 word, 1 sentence (min), 1 syllable:
    # flesch = 206835 - 1015 - 84600 = 121220; fk = 390+11800-15590
    assert got[4] == (1, 1, 1, 121220, -3400)


def test_compression_stats(spark):
    from htmlparser_spark.operators.text_stats import compression_stats
    import zlib
    rep = "spam " * 200
    prose = ("The quick brown fox jumps over the lazy dog while the "
             "slow grey wolf watches from the ridge. ")
    df = spark.createDataFrame(
        [("a", rep), ("b", prose), ("c", ""), ("d", None),
         ("e", "café 你好")],
        "doc_id string, text string")
    got = {r.doc_id: r for r in compression_stats(df).collect()}
    # byte-exact vs local stdlib zlib at the same level
    for k, t in [("a", rep), ("b", prose), ("e", "café 你好")]:
        b = t.encode("utf-8")
        assert got[k].raw_len == len(b)
        assert got[k].compressed_len == len(zlib.compress(b, 6))
        assert got[k].ratio_ppm == \
            len(zlib.compress(b, 6)) * 1_000_000 // len(b)
    # repetitive text compresses far below prose
    assert got["a"].ratio_ppm < got["b"].ratio_ppm // 2
    # empty -> defined lengths, NULL ratio; NULL -> all NULL
    assert got["c"].raw_len == 0 and got["c"].ratio_ppm is None
    assert got["d"].raw_len is None and got["d"].ratio_ppm is None
