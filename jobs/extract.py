#!/usr/bin/env python3
"""spark-submit entry point for the transcripts extraction pipeline.

Usage:
    spark-submit --py-files htmlparser_spark.zip \
        --driver-class-path htmlparser_spark/jvm/htmlparser-localfs.jar \
        --jars htmlparser_spark/jvm/htmlparser-localfs.jar \
        --conf spark.hadoop.fs.file.impl=htmlparser_spark.jvm.NioLocalFileSystem \
        --driver-java-options -XX:TieredStopAtLevel=1 \
        jobs/extract.py \
        --input /path/transcripts --output /path/out \
        --checkpoint /path/manifest [--format parquet|iceberg] \
        [--buckets 64] [--no-resume] [--synthetic N_TURNS] \
        [--mode text|markdown|main_content|tables|links|meta]

The flags before ``jobs/extract.py`` are ``session.deploy_line()``; once
the driver's class-data archive exists it swaps in the archive's flags,
class path jar and conf dir (``python -m htmlparser_spark.session``
prints the line for a shell, README "Cold start").

Reads the transcripts table (conv_id, turn_idx, role, text, tool, ts),
runs salted-repartition → fused parse/extract kernel → stable turn
ordering, writes bucket-partitioned output plus per-bucket lineage
(partition_id, n_rows, content_hash) to the checkpoint manifest, and
resumes idempotently: re-running after a partial failure re-processes
only uncommitted buckets.

``--mode`` swaps the per-turn extraction while keeping every other
stage (bucketing, resume, clustered write, lineage certify) the same:
  text         plain-text extraction (default; reference to_text parity)
  markdown     structure-preserving HTML → Markdown
  main_content DOM-heuristic boilerplate strip (link-density blocks)
  tables       one row per <table> cell (conv, turn, table/row/col, text)
  links        one row per href-bearing anchor (conv, turn, link_idx, href)
  meta         one JSON metadata record per turn (title/canonical/robots/…)
Multi-row modes key their lineage hash on the item columns too, so a
doubled or dropped cell/link flips the bucket hash.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))
# local-mode executors spawn Python workers from the env, not from the
# driver's sys.path — export the package for them. On a real cluster
# ship it with: spark-submit --py-files htmlparser_spark.zip (make zip)
os.environ["PYTHONPATH"] = (
    f"{_REPO}{os.pathsep}" + os.environ.get("PYTHONPATH", ""))


def read_input(spark, args):
    if args.synthetic:
        from htmlparser_spark.sources.transcripts import generate_spark_df
        return generate_spark_df(spark, n_convs=max(2, args.synthetic // 10),
                                 n_turns=args.synthetic,
                                 num_partitions=args.partitions)
    if args.format == "iceberg":
        # production path: needs iceberg-spark-runtime on the cluster
        return spark.read.format("iceberg").load(args.input)
    return spark.read.parquet(args.input)


_KEYS = ("partition_id", "conv_id", "turn_idx")


def make_transform(mode: str):
    """(transform, extra_hash_cols) for run_checkpointed — None for
    the default kernel text path. Every transform keeps the bucket /
    conversation / turn keys and emits ``extracted_text``."""
    from pyspark.sql import functions as F

    if mode == "text":
        return None, ()

    if mode == "markdown":
        def t(df):
            from htmlparser_spark.operators.content import extract_markdown
            out = extract_markdown(df.select(*_KEYS, "text"),
                                   drop_text=True)
            return out.withColumnRenamed("markdown", "extracted_text")
        return t, ()

    if mode == "main_content":
        def t(df):
            from htmlparser_spark.operators.content import (
                extract_main_content)
            out = extract_main_content(df.select(*_KEYS, "text"),
                                       drop_text=True)
            return out.withColumnRenamed("main_text", "extracted_text")
        return t, ()

    if mode == "tables":
        def t(df):
            from htmlparser_spark.operators.tables import (
                extract_table_cells)
            out = extract_table_cells(df.select(*_KEYS, "text"),
                                      key_cols=_KEYS)
            return out.withColumnRenamed("cell_text", "extracted_text")
        return t, ("table_idx", "row_idx", "col_idx")

    if mode == "links":
        def t(df):
            from htmlparser_spark.operators.webgraph import (
                extract_doc_links)
            out = extract_doc_links(df.select(*_KEYS, "text"),
                                    key_cols=_KEYS)
            # frontier payload = the href; anchor/nofollow ride along
            return out.withColumnRenamed("href", "extracted_text")
        return t, ("link_idx",)

    if mode == "meta":
        def t(df):
            from htmlparser_spark.htmldom.meta import META_FIELDS
            from htmlparser_spark.operators.pagemeta import (
                extract_page_metadata)
            out = extract_page_metadata(df.select(*_KEYS, "text"),
                                        drop_text=True)
            return out.select(
                *_KEYS,
                F.to_json(F.struct(*META_FIELDS))
                .alias("extracted_text"))
        return t, ()

    raise ValueError(f"unknown mode {mode!r}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", help="input table path")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True,
                    help="lineage manifest path")
    ap.add_argument("--format", default="parquet",
                    choices=["parquet", "iceberg"])
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--partitions", type=int, default=None,
                    help="explicit repartition width for the parse stage")
    ap.add_argument("--no-resume", action="store_true",
                    help="ignore existing manifest (reprocess everything)")
    ap.add_argument("--no-raw", action="store_true",
                    help="skip raw_html serialization")
    ap.add_argument("--order-impl", default="window",
                    choices=["window", "two_phase"],
                    help="turn_seq strategy: 'two_phase' is the "
                         "mega-conversation-safe distributed rank")
    ap.add_argument("--lineage-mode", default="full",
                    choices=["full", "hash_col"],
                    help="commit certification: 'full' re-reads and "
                         "re-hashes the written text; 'hash_col' "
                         "writes the row hash as a column and "
                         "re-reads only it (the at-scale mode; same "
                         "manifest bytes either way)")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic turns instead of --input")
    ap.add_argument("--kill-after-bucket", type=int, default=None,
                    metavar="K",
                    help="failure-injection mode: commit only the first"
                         " K uncommitted buckets, then die hard"
                         " (os._exit, no spark.stop) — simulates a job"
                         " killed right after the manifest commit; a"
                         " plain re-run must resume the remaining"
                         " buckets")
    ap.add_argument("--mode", default="text",
                    choices=["text", "markdown", "main_content",
                             "tables", "links", "meta"],
                    help="per-turn extraction to run under the same "
                         "checkpoint/lineage machinery")
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args(argv)
    if not args.input and not args.synthetic:
        ap.error("--input or --synthetic required")

    from pyspark.sql import SparkSession

    from htmlparser_spark.operators.checkpoint import run_checkpointed
    from htmlparser_spark.session import configure

    # the master, the cluster sizing, the file: adapter and the driver's
    # JIT flag come from spark-submit (the Usage line above)
    spark = configure(SparkSession.builder.appName("htmlparser-extract")) \
        .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # 32 MB parquet rowgroups (vs the 128 MB default) unless the
    # submitter set their own: with many concurrent writer tasks the
    # rowgroup buffer is the write stage's live-memory driver, and the
    # measured 16-writer allocation/GC storm at 128 MB cost ~20% of
    # pipeline wall (BENCH/BASELINE.md). 32 MB keeps scan parallelism
    # fine-grained at 100-TB scale too.
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    if hconf.get("parquet.block.size") is None:
        hconf.setInt("parquet.block.size", 33554432)
    run_id = args.run_id or f"run-{int(time.time())}"
    if args.no_resume:
        import shutil
        shutil.rmtree(args.checkpoint, ignore_errors=True)

    df = read_input(spark, args)
    # warm the Python workers (imports, Arrow setup) with a tiny kernel
    # pass so the reported wall measures steady-state throughput, not
    # interpreter spawn — both cluster sizes pay identical spawn cost
    from htmlparser_spark.kernel import extract_text
    from pyspark.sql import functions as F
    par = spark.sparkContext.defaultParallelism
    warm = spark.range(0, par * 8, 1, par).select(
        F.concat(F.lit("<div><p>warm</p><script>s</script>#"),
                 F.col("id").cast("string"), F.lit("</div>")).alias("text"))
    extract_text(warm, strip=True, include_raw=True).write \
        .format("noop").mode("overwrite").save()
    transform, extra = make_transform(args.mode)
    t0 = time.time()
    lineage = run_checkpointed(
        spark, df, args.output, args.checkpoint,
        n_buckets=args.buckets, run_id=run_id,
        max_buckets=args.kill_after_bucket,
        lineage_mode=args.lineage_mode,
        transform=transform, extra_hash_cols=extra,
        extract_kwargs={"include_raw": not args.no_raw,
                        "num_partitions": args.partitions,
                        "order_impl": args.order_impl})
    wall = time.time() - t0
    n_rows = sum(r.n_rows for r in lineage)
    print(f"extract: run_id={run_id} buckets_done={len(lineage)} "
          f"rows={n_rows} wall={wall:.1f}s "
          f"turns_per_sec={(n_rows / wall) if wall > 0 else 0:.0f}")
    if args.kill_after_bucket is not None:
        # die HARD right after the commit: no spark.stop(), no JVM
        # shutdown hooks — the next plain run must pick up from the
        # manifest alone
        sys.stdout.flush()
        os._exit(137)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
