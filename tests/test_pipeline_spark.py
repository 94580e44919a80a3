"""Spark pipeline equality + checkpoint/resume tests (FIXTURES §5.2.2).

- per-turn byte equality: Spark pipeline output vs the Phase-0 kernel
  run on the driver, over the quirk-grammar synthetic transcripts;
- resume: run buckets partially, re-run, assert identical final table
  and zero duplicate work (lineage counts).
"""

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from htmlparser_spark.htmldom import parse, to_raw_html, to_text_stripped
from htmlparser_spark.operators.checkpoint import (
    cluster_buckets,
    lineage_rows,
    run_checkpointed,
    with_partition_id,
)
from htmlparser_spark.operators.extract import extract_transcripts
from htmlparser_spark.sources.transcripts import (
    generate_rows,
    generate_spark_df,
)


def test_pipeline_matches_kernel_per_turn(spark):
    rows = generate_rows(n_convs=30, n_turns=200, seed=7, mega_text=False)
    df = generate_spark_df(spark, n_convs=30, n_turns=200, seed=7,
                           mega_text=False, num_partitions=8)
    out = extract_transcripts(df, strip=True, include_raw=True, order=True)
    got = {(r.conv_id, r.turn_idx): (r.extracted_text, r.raw_html, r.turn_seq)
           for r in out.collect()}
    assert len(got) == 200
    # driver-side kernel reference
    by_conv = {}
    for conv_id, turn_idx, _role, text, _tool, _ts in rows:
        doc = parse(text)
        exp = (to_text_stripped(doc), to_raw_html(doc))
        assert got[(conv_id, turn_idx)][:2] == exp, (conv_id, turn_idx)
        by_conv.setdefault(conv_id, []).append(turn_idx)
    # turn_seq = 1-based rank of turn_idx within the conversation
    for conv_id, idxs in by_conv.items():
        for rank, ti in enumerate(sorted(idxs), start=1):
            assert got[(conv_id, ti)][2] == rank


def test_checkpoint_resume_idempotent(spark, tmp_path):
    out_dir = str(tmp_path / "out")
    man_dir = str(tmp_path / "manifest")
    df = generate_spark_df(spark, n_convs=20, n_turns=120, seed=11,
                           mega_text=False)

    # partial run: only buckets 0-1 of 4 (simulate a failure after two
    # buckets committed) — run the real pipeline on a filtered input
    part = with_partition_id(df, 4).filter(F.col("partition_id") < 2) \
        .drop("partition_id")
    l1 = run_checkpointed(spark, part, out_dir, man_dir, n_buckets=4,
                          run_id="r1", extract_kwargs={"include_raw": False})
    done1 = {r.partition_id for r in l1}
    assert done1 <= {0, 1} and done1

    # resume over the FULL input: only remaining buckets re-processed
    l2 = run_checkpointed(spark, df, out_dir, man_dir, n_buckets=4,
                          run_id="r2", extract_kwargs={"include_raw": False})
    done2 = {r.partition_id for r in l2}
    assert done1.isdisjoint(done2)
    assert done1 | done2 == {0, 1, 2, 3}

    # third run: nothing to do
    l3 = run_checkpointed(spark, df, out_dir, man_dir, n_buckets=4,
                          run_id="r3", extract_kwargs={"include_raw": False})
    assert l3 == []

    # final table complete, no duplicates, content hash consistent
    final = spark.read.parquet(out_dir)
    assert final.count() == 120
    assert final.select("conv_id", "turn_idx").distinct().count() == 120
    # lineage recompute matches the manifest
    man = spark.read.parquet(man_dir)
    re_lin = lineage_rows(final, "check").select(
        "partition_id", "n_rows", "content_hash")
    got = {(r.partition_id, r.n_rows, r.content_hash)
           for r in re_lin.collect()}
    exp = {(r.partition_id, r.n_rows, r.content_hash)
           for r in man.select("partition_id", "n_rows",
                               "content_hash").collect()}
    assert got == exp


def test_checkpoint_empty_input_first_run(spark, tmp_path):
    """A FIRST run over zero rows must no-op (return [], commit
    nothing), not crash re-reading an empty output for lineage — the
    scheduled-incremental-job-with-no-new-data case."""
    out_dir = str(tmp_path / "out")
    man_dir = str(tmp_path / "manifest")
    df = generate_spark_df(spark, n_convs=4, n_turns=20, seed=3,
                           mega_text=False)
    empty = df.filter(F.lit(False))
    assert run_checkpointed(spark, empty, out_dir, man_dir, n_buckets=4,
                            run_id="r0",
                            extract_kwargs={"include_raw": False}) == []
    # nothing committed: a subsequent real run processes everything
    l1 = run_checkpointed(spark, df, out_dir, man_dir, n_buckets=4,
                          run_id="r1", extract_kwargs={"include_raw": False})
    assert sum(r.n_rows for r in l1) == 20


def test_checkpoint_rerun_over_empty_buckets_keeps_output(spark, tmp_path):
    """With more buckets than conversations some buckets never commit,
    so a re-run after completion still runs a zero-row write into the
    committed output: it must return [] and leave the output and the
    manifest as they were."""
    out_dir = str(tmp_path / "out")
    man_dir = str(tmp_path / "manifest")
    df = generate_spark_df(spark, n_convs=3, n_turns=12, seed=3,
                           mega_text=False)
    l1 = run_checkpointed(spark, df, out_dir, man_dir, n_buckets=16,
                          run_id="r1", extract_kwargs={"include_raw": False})
    assert sum(r.n_rows for r in l1) == 12 and len(l1) < 16
    before = sorted(os.listdir(out_dir)), sorted(os.listdir(man_dir))
    assert run_checkpointed(spark, df, out_dir, man_dir, n_buckets=16,
                            run_id="r2",
                            extract_kwargs={"include_raw": False}) == []
    assert (sorted(os.listdir(out_dir)), sorted(os.listdir(man_dir))) \
        == before
    assert spark.read.parquet(out_dir).count() == 12


def test_resume_with_fewer_buckets_than_manifest_raises(spark, tmp_path):
    """A manifest committed at 8 buckets, resumed at 4: its ids 4-7 do
    not exist under 4 buckets and 0-3 name other conversations, so the
    run raises, naming both counts, and writes nothing (it used to
    return [] and commit nothing, without an error)."""
    out_dir = str(tmp_path / "out")
    man_dir = str(tmp_path / "manifest")
    df = generate_spark_df(spark, n_convs=40, n_turns=160, seed=5,
                           mega_text=False)
    l1 = run_checkpointed(spark, df, out_dir, man_dir, n_buckets=8,
                          run_id="r1", extract_kwargs={"include_raw": False})
    assert max(r.partition_id for r in l1) == 7

    def tree():
        return sorted((os.path.relpath(os.path.join(d, f), tmp_path),
                       os.path.getsize(os.path.join(d, f)),
                       os.stat(os.path.join(d, f)).st_mtime_ns)
                      for d, _, fs in os.walk(tmp_path) for f in fs)

    before = tree()
    with pytest.raises(ValueError, match=r"at least 8 buckets.*n_buckets=4"):
        run_checkpointed(spark, df, out_dir, man_dir, n_buckets=4,
                         run_id="r2", extract_kwargs={"include_raw": False})
    assert tree() == before


def _tree(root):
    return sorted((os.path.relpath(os.path.join(d, f), root),
                   os.path.getsize(os.path.join(d, f)),
                   os.stat(os.path.join(d, f)).st_mtime_ns)
                  for d, _, fs in os.walk(root) for f in fs)


def _bucket_counts(manifest):
    return set(pq.read_table(manifest).column("n_buckets").to_pylist())


def test_resume_with_more_buckets_than_manifest_raises(spark, tmp_path):
    """40 conversations committed at 4 buckets, re-run at 8: every id
    the manifest holds is below 8, so only the recorded count tells.
    Without it the run committed buckets 4-7 again and left 241 rows
    for 160 turns; it raises, naming both counts, and writes nothing."""
    out_dir = str(tmp_path / "out")
    man_dir = str(tmp_path / "manifest")
    df = generate_spark_df(spark, n_convs=40, n_turns=160, seed=5,
                           mega_text=False)
    l1 = run_checkpointed(spark, df, out_dir, man_dir, n_buckets=4,
                          run_id="r1", extract_kwargs={"include_raw": False})
    assert {r.partition_id for r in l1} == {0, 1, 2, 3}
    assert _bucket_counts(man_dir) == {4}

    before = _tree(tmp_path)
    with pytest.raises(ValueError,
                       match=r"n_buckets=\[4\].*n_buckets=8"):
        run_checkpointed(spark, df, out_dir, man_dir, n_buckets=8,
                         run_id="r2", extract_kwargs={"include_raw": False})
    assert _tree(tmp_path) == before
    assert spark.read.parquet(out_dir).count() == 160


def test_manifest_without_bucket_count_resumes_at_its_count(spark,
                                                            tmp_path):
    """A manifest written before the count was recorded (no n_buckets
    column) still resumes at its own count: the committed buckets are
    skipped and the rest complete the output."""
    out_dir = str(tmp_path / "out")
    man_dir = str(tmp_path / "manifest")
    df = generate_spark_df(spark, n_convs=20, n_turns=80, seed=7,
                           mega_text=False)
    l1 = run_checkpointed(spark, df, out_dir, man_dir, n_buckets=4,
                          run_id="r1", max_buckets=2,
                          extract_kwargs={"include_raw": False})
    assert {r.partition_id for r in l1} == {0, 1}
    for name in os.listdir(man_dir):
        path = os.path.join(man_dir, name)
        pq.write_table(pq.read_table(path).drop(["n_buckets"]), path)
    assert "n_buckets" not in pq.read_table(man_dir).column_names

    l2 = run_checkpointed(spark, df, out_dir, man_dir, n_buckets=4,
                          run_id="r2", extract_kwargs={"include_raw": False})
    assert {r.partition_id for r in l2} == {2, 3}
    final = spark.read.parquet(out_dir)
    assert final.count() == 80
    assert final.select("conv_id", "turn_idx").distinct().count() == 80


def test_read_transcripts_json_csv_parquet(spark, tmp_path):
    """Every batch source format yields the same rows with the imposed
    schema (no inference pass) and canonical column order."""
    from htmlparser_spark.sources.transcripts import read_transcripts

    df = generate_spark_df(spark, n_convs=5, n_turns=40, seed=9,
                          mega_text=False)
    p_parq, p_json, p_csv = (str(tmp_path / n) for n in
                             ("t.parquet", "t.json", "t.csv"))
    df.write.parquet(p_parq)
    df.write.json(p_json)
    df.write.option("header", "true").option("escape", '"').csv(p_csv)

    def key_rows(d):
        return sorted((r.conv_id, r.turn_idx, r.role, r.text, r.tool)
                      for r in d.collect())

    exp = key_rows(df)
    for fmt, path in (("parquet", p_parq), ("json", p_json),
                      ("csv", p_csv)):
        back = read_transcripts(spark, path, fmt)
        assert back.columns == ["conv_id", "turn_idx", "role", "text",
                                "tool", "ts"], fmt
        assert back.schema["turn_idx"].dataType.typeName() == "integer"
        assert key_rows(back) == exp, fmt


def test_two_phase_ordering_equals_window(spark):
    """order_turns_scalable must reproduce the plain window's turn_seq
    exactly (unique turn_idx per conv), across many range buckets."""
    from htmlparser_spark.operators.extract import order_turns_scalable

    df = generate_spark_df(spark, n_convs=10, n_turns=400, seed=13,
                           mega_text=False, num_partitions=8)
    plain = extract_transcripts(df, strip=True, include_raw=False,
                                order=True)
    exp = {(r.conv_id, r.turn_idx): r.turn_seq for r in plain.collect()}
    # bucket_width=8 → conversations span many buckets (the real knob
    # is ~2^20; tiny here to actually exercise the offset merge)
    two = order_turns_scalable(
        extract_transcripts(df, strip=True, include_raw=False,
                            order=False), bucket_width=8)
    got = {(r.conv_id, r.turn_idx): r.turn_seq for r in two.collect()}
    assert got == exp
    # and via the extract_transcripts switch
    sw = extract_transcripts(df, strip=True, include_raw=False,
                             order=True, order_impl="two_phase")
    got2 = {(r.conv_id, r.turn_idx): r.turn_seq for r in sw.collect()}
    assert got2 == exp


def test_iceberg_reader_config_gated(spark, tmp_path):
    """The --format iceberg branch must build its reader config and
    fail ONLY at jar resolution when iceberg-spark-runtime is absent
    (skips cleanly there); with the jar present, loading a table that
    does not exist must fail with a table-not-found error."""
    import pytest

    reader = spark.read.format("iceberg")  # config construction works
    assert reader is not None
    try:
        reader.load(str(tmp_path / "no-such-table"))
    except Exception as ex:
        msg = str(ex)
        if ("Failed to find" in msg or "ClassNotFound" in msg
                or "DATA_SOURCE_NOT_FOUND" in msg):
            pytest.skip("iceberg-spark-runtime jar not on classpath "
                        "(expected in this sandbox)")
        low = msg.lower()
        assert ("nosuchtable" in low or "does not exist" in low
                or "table_or_view_not_found" in low), msg
    else:
        pytest.fail("loading a nonexistent Iceberg table returned a "
                    "DataFrame")


def test_mega_text_roundtrip(spark):
    """A ~512KB turn flows through bounded Arrow batches intact."""
    df = generate_spark_df(spark, n_convs=3, n_turns=10, seed=42,
                           mega_text=True)
    out = extract_transcripts(df, strip=True, include_raw=False, order=False)
    big = out.orderBy(F.length("extracted_text").desc()).first()
    assert big.n_nodes >= 32000  # 16k li + 16k text nodes + ul
    assert big.extracted_text.startswith("item text\nitem text")


def test_kill_after_bucket_resume_matches_uninterrupted(spark, tmp_path):
    """The failure-injection contract behind jobs/extract.py
    --kill-after-bucket: a run restricted to the first K uncommitted
    buckets (the state a hard kill right after the manifest commit
    leaves behind), then a plain re-run, must together produce a
    manifest byte-equal to an uninterrupted run's on
    (partition_id, n_rows, content_hash)."""
    df = generate_spark_df(spark, n_convs=20, n_turns=120, seed=13,
                           mega_text=False)

    ref_out, ref_man = str(tmp_path / "ro"), str(tmp_path / "rm")
    ref = run_checkpointed(spark, df, ref_out, ref_man, n_buckets=4,
                           run_id="ref",
                           extract_kwargs={"include_raw": False})
    ref_set = {(r.partition_id, r.n_rows, r.content_hash) for r in ref}

    out, man = str(tmp_path / "ko"), str(tmp_path / "km")
    killed = run_checkpointed(spark, df, out, man, n_buckets=4,
                              run_id="k1", max_buckets=2,
                              extract_kwargs={"include_raw": False})
    assert {r.partition_id for r in killed} == {0, 1}
    resumed = run_checkpointed(spark, df, out, man, n_buckets=4,
                               run_id="k2",
                               extract_kwargs={"include_raw": False})
    assert {r.partition_id for r in resumed} == {2, 3}
    got = {(r.partition_id, r.n_rows, r.content_hash)
           for r in killed + resumed}
    assert got == ref_set


def test_fused_order_write_single_exchange(spark, tmp_path):
    """run_checkpointed fuses the ordering window into the bucket-write
    exchange (partition_id is a function of conv_id, so one
    hash-partitioning serves both): turn_seq must equal the plain
    window path's, and the post-kernel plan must contain exactly ONE
    Exchange and ONE Sort (the round-2 pipeline had two of each — the
    second full-payload shuffle was the measured negative-scaling
    stage, BENCH/DIAGNOSIS_4_16.md). The plan is pinned on
    cluster_buckets, the composition run_checkpointed itself calls,
    at more buckets than the session has cores: the exchange is sized
    by parallelism, not by bucket count."""
    import re

    df = generate_spark_df(spark, n_convs=20, n_turns=300, seed=5,
                           mega_text=False)
    out_dir, man_dir = str(tmp_path / "o"), str(tmp_path / "m")
    run_checkpointed(spark, df, out_dir, man_dir, n_buckets=16,
                     run_id="fused", extract_kwargs={"include_raw": False})
    fused = spark.read.parquet(out_dir)
    exp_df = extract_transcripts(df, include_raw=False, order=True)
    exp = {(r.conv_id, r.turn_idx): r.turn_seq for r in exp_df.collect()}
    got = {(r.conv_id, r.turn_idx): r.turn_seq for r in fused.collect()}
    assert got == exp and len(got) == 300

    par = spark.sparkContext.defaultParallelism
    assert par < 16
    plan_df = cluster_buckets(
        extract_transcripts(with_partition_id(df, 16), include_raw=False,
                            order=False), 16, turn_seq=True)
    p = plan_df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1
    assert re.search(rf"hashpartitioning\(partition_id#\d+L?, {par}\)", p)
    assert len(re.findall(r"\bSort \[", p)) == 1


def _stage_tasks(sc, group):
    """Task count of every stage the jobs of ``group`` ran."""
    st = sc.statusTracker()
    out = []
    for jid in st.getJobIdsForGroup(group):
        for sid in st.getJobInfo(jid).stageIds:
            info = st.getStageInfo(sid)
            if info is not None and info.numTasks:
                out.append(info.numTasks)
    return out


def test_checkpoint_layout_sized_by_parallelism(spark, tmp_path):
    """At more buckets than cores, a fresh run and a max_buckets
    kill-resume pair each leave exactly one parquet file per committed
    bucket, no stage of either runs more than defaultParallelism tasks
    (the write stage used to run one task per bucket), and the pair's
    manifest equals the uninterrupted run's."""
    import pyarrow.parquet as pq

    sc = spark.sparkContext
    par = sc.defaultParallelism
    df = generate_spark_df(spark, n_convs=40, n_turns=240, seed=17,
                           mega_text=False, num_partitions=par)

    def run(out, man, run_id, **kw):
        sc.setJobGroup(f"layout-{run_id}", run_id)
        try:
            rows = run_checkpointed(spark, df, out, man, n_buckets=16,
                                    run_id=run_id,
                                    extract_kwargs={"include_raw": False},
                                    **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        tasks = _stage_tasks(sc, f"layout-{run_id}")
        assert tasks and max(tasks) <= par, (run_id, tasks)
        return rows

    def files_per_bucket(out):
        return {d: sum(f.endswith(".parquet")
                       for f in os.listdir(os.path.join(out, d)))
                for d in os.listdir(out) if d.startswith("partition_id=")}

    def manifest(man):
        t = pq.read_table(man, columns=["partition_id", "n_rows",
                                        "content_hash"])
        return sorted(zip(*(t.column(c).to_pylist()
                            for c in t.column_names)))

    ref_out, ref_man = str(tmp_path / "ro"), str(tmp_path / "rm")
    ref = run(ref_out, ref_man, "ref")
    assert len(ref) > par
    assert files_per_bucket(ref_out) == {
        f"partition_id={r.partition_id}": 1 for r in ref}

    out, man = str(tmp_path / "ko"), str(tmp_path / "km")
    killed = run(out, man, "k1", max_buckets=6)
    assert len(killed) == 6
    assert files_per_bucket(out) == {
        f"partition_id={r.partition_id}": 1 for r in killed}
    resumed = run(out, man, "k2")
    assert not {r.partition_id for r in killed} & \
        {r.partition_id for r in resumed}
    assert files_per_bucket(out) == files_per_bucket(ref_out)
    assert manifest(man) == manifest(ref_man)


def test_lineage_hash_col_manifest_equals_full(spark, tmp_path):
    """hash_col lineage (write-time row_hash column, pruned certify
    read) must produce a manifest byte-equal to full mode's on the
    same input — both XOR the same per-row hash."""
    df = generate_spark_df(spark, n_convs=24, n_turns=120, seed=23,
                           mega_text=False)
    full = run_checkpointed(
        spark, df, str(tmp_path / "of"), str(tmp_path / "mf"),
        n_buckets=4, run_id="r", extract_kwargs={"include_raw": False},
        lineage_mode="full")
    fast = run_checkpointed(
        spark, df, str(tmp_path / "oh"), str(tmp_path / "mh"),
        n_buckets=4, run_id="r", extract_kwargs={"include_raw": False},
        lineage_mode="hash_col")
    key = lambda rows: sorted(
        (r.partition_id, r.n_rows, r.content_hash) for r in rows)
    assert key(full) == key(fast) and len(full) == 4
    # the fast mode's certify pass prunes to (partition_id, row_hash)
    back = spark.read.parquet(str(tmp_path / "oh"))
    assert "row_hash" in back.columns
    from htmlparser_spark.plans import scan_info
    pruned = back.select("partition_id", "row_hash")
    schemas = " ".join(i.get("ReadSchema", "") for i in scan_info(pruned))
    assert "extracted_text" not in schemas


def _load_job_module():
    import importlib.util
    from pathlib import Path
    p = Path(__file__).resolve().parent.parent / "jobs" / "extract.py"
    spec = importlib.util.spec_from_file_location("job_extract", p)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _structured_input(spark, n=40):
    d = F.col("id")
    html = F.concat(
        F.lit('<html><head><title>T</title>'
              '<link rel=canonical href="/c/'), d.cast("string"),
        F.lit('"></head><body><h1>H</h1><p>body '), d.cast("string"),
        F.lit('</p><table><tr><th>k</th></tr><tr><td>v'),
        (d % 3).cast("string"),
        F.lit('</td></tr></table><a href="/l/'), (d % 5).cast("string"),
        F.lit('">go</a><script>junk</script></body></html>'))
    return spark.range(n).select(
        F.concat(F.lit("c"), (d % 16).cast("string")).alias("conv_id"),
        d.cast("int").alias("turn_idx"), html.alias("text"))


def test_checkpointed_structured_modes(spark, tmp_path):
    """--mode swaps the extraction under the SAME checkpoint/lineage
    machinery: every structured mode writes rows that byte-match the
    operator applied directly, and the multi-row tables mode resumes
    from a partial manifest to the identical final table."""
    job = _load_job_module()
    df = _structured_input(spark)

    expected_rows = {"markdown": 40, "main_content": 40,
                     "tables": 80, "links": 40, "meta": 40}
    for mode in ("markdown", "main_content", "tables", "links", "meta"):
        transform, extra = job.make_transform(mode)
        out_dir = str(tmp_path / f"out_{mode}")
        man_dir = str(tmp_path / f"man_{mode}")
        lin = run_checkpointed(spark, df, out_dir, man_dir, n_buckets=4,
                               run_id="r1", transform=transform,
                               extra_hash_cols=extra)
        assert sum(r.n_rows for r in lin) == expected_rows[mode], mode
        got = spark.read.parquet(out_dir)
        direct = transform(with_partition_id(df, 4))
        a = sorted(map(tuple, got.select(*direct.columns).collect()))
        b = sorted(map(tuple, direct.collect()))
        assert a == b, mode

    # spot-check payloads
    md = spark.read.parquet(str(tmp_path / "out_markdown"))
    one = md.filter((F.col("conv_id") == "c0")
                    & (F.col("turn_idx") == 0)).collect()[0]
    # title text renders as a leading text block, then the heading
    assert one["extracted_text"].startswith("T\n\n# H\n\nbody 0")
    meta = spark.read.parquet(str(tmp_path / "out_meta"))
    assert '"canonical_url":"/c/1"' in \
        meta.filter(F.col("turn_idx") == 1).collect()[0]["extracted_text"]


def test_checkpointed_tables_mode_kill_resume(spark, tmp_path):
    """Kill after 2 of 4 buckets in the multi-row tables mode; a plain
    re-run completes only the rest and the manifest byte-matches an
    uninterrupted run."""
    job = _load_job_module()
    transform, extra = job.make_transform("tables")
    df = _structured_input(spark)

    ref_out, ref_man = str(tmp_path / "ro"), str(tmp_path / "rm")
    ref = run_checkpointed(spark, df, ref_out, ref_man, n_buckets=4,
                           run_id="ref", transform=transform,
                           extra_hash_cols=extra)
    out, man = str(tmp_path / "o"), str(tmp_path / "m")
    part1 = run_checkpointed(spark, df, out, man, n_buckets=4,
                             run_id="k1", transform=transform,
                             extra_hash_cols=extra, max_buckets=2)
    assert len(part1) == 2
    part2 = run_checkpointed(spark, df, out, man, n_buckets=4,
                             run_id="k2", transform=transform,
                             extra_hash_cols=extra)
    assert {r.partition_id for r in part1} | \
        {r.partition_id for r in part2} == {0, 1, 2, 3}
    refm = {r.partition_id: (r.n_rows, r.content_hash) for r in ref}
    gotm = {r.partition_id: (r.n_rows, r.content_hash)
            for r in list(part1) + list(part2)}
    assert refm == gotm
    a = sorted(map(tuple, spark.read.parquet(out).collect()))
    b = sorted(map(tuple, spark.read.parquet(ref_out).collect()))
    assert a == b
