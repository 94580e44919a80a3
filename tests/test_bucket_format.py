"""The bucket files ``run_checkpointed`` writes, and its bucket filters.

- format: every column chunk of every bucket file is zstd with no
  dictionary page, whatever Parquet settings the session carries, and
  row groups are capped at ``BUCKET_WRITE_OPTIONS``' size;
- a resume over buckets an older writer left as snappy commits the
  manifest of an uninterrupted run, and its certify reads none of them;
- the resume, ``max_buckets`` and certify filters over thousands of
  bucket ids cost a handful of py4j commands, not a few per id.
"""

import os
from urllib.parse import urlparse

import pyarrow.parquet as pq
from pyspark.sql import Row
from pyspark.sql import functions as F

from htmlparser_spark.operators import checkpoint
from htmlparser_spark.operators.checkpoint import (
    append_manifest_rows,
    run_checkpointed,
)
from htmlparser_spark.sources.transcripts import generate_spark_df


def _files(out) -> list:
    return sorted(os.path.join(out, d, f) for d in os.listdir(out)
                  if d.startswith("partition_id=")
                  for f in os.listdir(os.path.join(out, d))
                  if f.endswith(".parquet"))


def _chunks(path):
    md = pq.ParquetFile(path).metadata
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        for j in range(rg.num_columns):
            yield rg.column(j)


def _manifest(man) -> list:
    t = pq.read_table(man, columns=["partition_id", "n_rows",
                                    "content_hash"])
    return sorted(zip(*(t.column(c).to_pylist() for c in t.column_names)))


def test_bucket_files_are_zstd_plain_whatever_the_session(spark, tmp_path):
    """Snappy, dictionary pages and 128 MB row groups set on the session
    and its Hadoop conf do not reach the bucket files."""
    df = generate_spark_df(spark, n_convs=20, n_turns=200, seed=7,
                           mega_text=False)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    codec = "spark.sql.parquet.compression.codec"
    parquet = {"parquet.enable.dictionary": "true",
               "parquet.block.size": str(128 * 1024 * 1024)}
    saved_codec = spark.conf.get(codec)
    saved = {k: hconf.get(k) for k in parquet}
    spark.conf.set(codec, "snappy")
    for k, v in parquet.items():
        hconf.set(k, v)
    try:
        rows = run_checkpointed(spark, df, str(tmp_path / "o"),
                                str(tmp_path / "m"), n_buckets=4)
    finally:
        spark.conf.set(codec, saved_codec)
        for k, v in saved.items():
            if v is None:
                hconf.unset(k)
            else:
                hconf.set(k, v)
    files = _files(str(tmp_path / "o"))
    assert len(files) == len(rows) == 4
    for f in files:
        for c in _chunks(f):
            assert c.compression == "ZSTD", (f, c.path_in_schema)
            assert not c.has_dictionary_page, (f, c.path_in_schema)
            assert not {"PLAIN_DICTIONARY", "RLE_DICTIONARY"} \
                & set(c.encodings), (f, c.path_in_schema)


def test_bucket_row_groups_capped(spark, tmp_path, monkeypatch):
    """The row-group size of ``BUCKET_WRITE_OPTIONS`` (32 MB) is the
    writer's: at 64 KiB a 3,000-turn bucket splits into row groups of
    about that many bytes. parquet-mr checks its buffer every 100 rows
    or more, so a group may pass the size by the rows since the last
    check: 5% slack."""
    options = checkpoint.BUCKET_WRITE_OPTIONS
    assert options["parquet.block.size"] == str(32 * 1024 * 1024)
    cap = 64 * 1024
    monkeypatch.setitem(options, "parquet.block.size", str(cap))
    df = generate_spark_df(spark, n_convs=4, n_turns=3000, seed=3,
                           mega_text=False)
    run_checkpointed(spark, df, str(tmp_path / "o"), str(tmp_path / "m"),
                     n_buckets=2)
    (f, *_) = _files(str(tmp_path / "o"))
    md = pq.ParquetFile(f).metadata
    assert md.num_row_groups > 1
    for i in range(md.num_row_groups):
        assert md.row_group(i).total_byte_size <= cap * 1.05


def test_resume_over_snappy_buckets(spark, tmp_path, monkeypatch):
    """Half the buckets committed, their files rewritten as snappy (an
    older writer), then a resume: the manifest equals the uninterrupted
    run's, the output reads back whole, and the certify's read touches
    no rewritten file."""
    df = generate_spark_df(spark, n_convs=40, n_turns=240, seed=19,
                           mega_text=False)
    ref_out, ref_man = str(tmp_path / "ro"), str(tmp_path / "rm")
    run_checkpointed(spark, df, ref_out, ref_man, n_buckets=8)

    out, man = str(tmp_path / "o"), str(tmp_path / "m")
    first = run_checkpointed(spark, df, out, man, n_buckets=8,
                             max_buckets=4)
    assert len(first) == 4
    rewritten = []
    for f in _files(out):
        old = f.replace(".zstd.parquet", ".snappy.parquet")
        pq.write_table(pq.read_table(f), old, compression="snappy")
        head, name = os.path.split(f)
        os.remove(f)
        os.remove(os.path.join(head, f".{name}.crc"))
        assert {c.compression for c in _chunks(old)} == {"SNAPPY"}
        rewritten.append(old)

    certified = []
    lineage_rows = checkpoint.lineage_rows

    def spy(written, *a, **kw):
        certified.append(written)
        return lineage_rows(written, *a, **kw)

    monkeypatch.setattr(checkpoint, "lineage_rows", spy)
    run_checkpointed(spark, df, out, man, n_buckets=8)
    (written,) = certified
    read = {os.path.realpath(urlparse(r.f).path) for r in
            written.select(F.input_file_name().alias("f")).distinct()
            .collect()}
    assert read and not read & {os.path.realpath(f) for f in rewritten}
    assert _manifest(man) == _manifest(ref_man)
    cols = ["conv_id", "turn_idx", "extracted_text", "raw_html", "turn_seq"]
    assert sorted(spark.read.parquet(out).select(*cols).collect()) == \
        sorted(spark.read.parquet(ref_out).select(*cols).collect())


def test_bucket_filters_constant_py4j_commands(spark, tmp_path, monkeypatch):
    """A resume over 4,096 committed bucket ids, with a ``max_buckets``
    list of 4,096 more, sends at most a few dozen py4j commands more
    than one over a handful of ids (``Column.isin`` sent a few per id),
    and commits the same buckets with the same rows and hashes."""
    n = 8192
    df = generate_spark_df(spark, n_convs=24, n_turns=96, seed=23,
                           mega_text=False).cache()
    full = run_checkpointed(spark, df, str(tmp_path / "fo"),
                            str(tmp_path / "fm"), n_buckets=n,
                            extract_kwargs={"include_raw": False})
    full = sorted((r.partition_id, r.n_rows, r.content_hash) for r in full)
    half = len(full) // 2
    data = {p for p, _, _ in full}
    filler = [b for b in range(n) if b not in data][:4096 - half]

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = [0]

    def counting(command, *a, **kw):
        # "m" commands release proxies the Python collector freed, as
        # many as happen to be collected during the run
        if not command.startswith("m\n"):
            sent[0] += 1
        return send(command, *a, **kw)

    def resume(tag, committed):
        man = str(tmp_path / f"{tag}m")
        append_manifest_rows(
            [Row(partition_id=p, n_rows=1, content_hash=0, run_id="c")
             for p in committed], man, n)
        sent[0] = 0
        monkeypatch.setattr(client, "send_command", counting)
        try:
            rows = run_checkpointed(spark, df, str(tmp_path / f"{tag}o"),
                                    man, n_buckets=n, run_id=tag,
                                    max_buckets=n,
                                    extract_kwargs={"include_raw": False})
        finally:
            monkeypatch.setattr(client, "send_command", send)
        return sent[0], sorted((r.partition_id, r.n_rows, r.content_hash)
                               for r in rows)

    committed = [p for p, _, _ in full[:half]]
    few, few_rows = resume("few", committed)
    many, many_rows = resume("many", committed + filler)
    df.unpersist()
    assert len(committed + filler) == 4096
    assert few_rows == many_rows == full[half:]
    assert many - few <= 24, (few, many)
