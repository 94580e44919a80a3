"""Deterministic synthetic transcripts table (FIXTURES.md §1).

Schema matches BASELINE.json input_hint exactly:
    (conv_id string, turn_idx int, role string, text string,
     tool string, ts timestamp)

Properties (all seeded — same args ⇒ byte-identical table):
- `text` is HTML assembled from a golden grammar: every quirk path of
  the reference tokenizer (rawtext, comments incl. dash-drop cases,
  dup attrs, NUL, unclosed tags, entities, bogus comments) appears in
  table data, not only in unit tests.
- Skew realism: conversation 0 is a mega-conversation holding ~25% of
  all turns; one turn carries a ~512 KB mega-text; remaining
  conversation sizes are Zipf-ish.
- Rows are emitted in a seeded shuffled order, so restoring stable
  (conv_id, turn_idx) ordering is actually exercised.

No external data: the word list is generated from the seed.
"""

from __future__ import annotations

import datetime as _dt
import random
from typing import List, Tuple

__all__ = ["generate_rows", "generate_spark_df", "generate_distributed",
           "TRANSCRIPTS_SCHEMA_DDL", "read_transcripts"]

TRANSCRIPTS_SCHEMA_DDL = ("conv_id string, turn_idx int, role string, "
                          "text string, tool string, ts timestamp")


def read_transcripts(spark, path: str, fmt: str = "parquet"):
    """Schema-enforced transcripts reader for every supported source.

    - parquet/iceberg: native schema; iceberg needs the runtime jar on
      the cluster (sandbox has none — path is test-gated).
    - json/csv: the explicit transcripts schema is IMPOSED (never
      inferred — schema inference is a full extra pass over 100 TB and
      can drift run-to-run); csv reads headered files.

    Returns columns in the canonical order of TRANSCRIPTS_SCHEMA_DDL
    regardless of the file layout."""
    if fmt in ("parquet", "iceberg"):
        reader = spark.read.format(fmt)
    elif fmt == "json":
        reader = spark.read.schema(TRANSCRIPTS_SCHEMA_DDL).format("json")
    elif fmt == "csv":
        # nullValue pinned to the classic \N sentinel so an EMPTY
        # field round-trips as '' (Spark's default maps empty to
        # null, silently changing tool='' rows)
        reader = (spark.read.schema(TRANSCRIPTS_SCHEMA_DDL)
                  .option("header", "true")
                  .option("multiLine", "true")
                  .option("nullValue", "\\N")
                  .option("escape", '"').format("csv"))
    else:
        raise ValueError(f"unsupported transcripts format: {fmt!r}")
    df = reader.load(path)
    cols = [c.split(" ")[0] for c in TRANSCRIPTS_SCHEMA_DDL.split(", ")]
    return df.select(*cols)

_ROLES = ("user", "assistant", "tool")
_TOOLS = ("", "search", "python", "browser")

# Quirk fragments: every verified tokenizer landmine, as table data.
_QUIRK_FRAGMENTS = (
    '<div class="msg intro">hello &amp; welcome</div>',
    "<script>if(a</b>){x;}</script>",
    "<style>.a{color:red}</style>",
    "<p><b>bold</b> and <i>italic</i> text</p>",
    '<a href="x" href="y">dup-attr link</a>',
    "<!--a-b--><p>after comment</p>",
    "<ul><li>one</li><li>two</li><li>three</li></ul>",
    "<div><p>unclosed paragraph",
    '<img src=pic.png alt="an image">',
    "<!DOCTYPE html><h1>title</h1>",
    "<?php echo 'x' ?><span>inline</span>",
    "<table><tr><td>cell</td></tr></table>",
    "<textarea>raw <b>not-a-tag</b> text</textarea>",
    "<p>entity &#60; stays &gt; literal</p>",
    "<div  data-x='1'\tdata-y=2 >ws attrs</div>",
    "<br><br/><hr>",
    "<DiV CLASS='MiXeD'>case test</DiV>",
    "<p>a<div>b</p>c</div>d",
    "<!--->empty-ish comment<p>x</p>",
    "<blockquote cite=none>quoted</blockquote>",
)


def _wordlist(rng: random.Random, n: int = 200) -> List[str]:
    consonants = "bcdfghklmnprstvw"
    vowels = "aeiou"
    words = []
    for _ in range(n):
        w = "".join(
            rng.choice(consonants) + rng.choice(vowels)
            for _ in range(rng.randint(1, 4))
        )
        words.append(w)
    return words


def _paragraph(rng: random.Random, words: List[str]) -> str:
    body = " ".join(rng.choice(words) for _ in range(rng.randint(4, 30)))
    return f"<p>{body}</p>"


def generate_rows(n_convs: int = 200, n_turns: int = 2000, seed: int = 42,
                  mega_text: bool = True) -> List[Tuple]:
    """Generate the table as a list of row tuples (shuffled, seeded)."""
    rng = random.Random(seed)
    words = _wordlist(rng)

    # conversation sizes: conv 0 gets 25%; the rest Zipf-ish
    sizes = [max(1, n_turns // 4)]
    remaining = n_turns - sizes[0]
    weights = [1.0 / (k + 1) for k in range(1, n_convs)]
    total_w = sum(weights)
    for k, w in enumerate(weights):
        sizes.append(max(1, round(remaining * w / total_w)))
    # trim/pad to exactly n_turns
    while sum(sizes) > n_turns:
        sizes[1 + (sum(sizes) % (n_convs - 1))] = max(
            1, sizes[1 + (sum(sizes) % (n_convs - 1))] - 1)
    while sum(sizes) < n_turns:
        sizes[1 + (sum(sizes) % (n_convs - 1))] += 1

    base_ts = _dt.datetime(2026, 1, 1, 0, 0, 0)
    rows: List[Tuple] = []
    global_turn = 0
    mega_placed = not mega_text
    for conv in range(n_convs):
        conv_id = f"conv-{conv:06d}"
        for t in range(sizes[conv]):
            role = _ROLES[t % 3]
            tool = rng.choice(_TOOLS) if role == "tool" else ""
            frags = [rng.choice(_QUIRK_FRAGMENTS) if rng.random() < 0.4
                     else _paragraph(rng, words)
                     for _ in range(rng.randint(2, 6))]
            text = "".join(frags)
            if not mega_placed and conv == 1 and t == 0:
                text = "<ul>" + "<li>item text</li>" * 16000 + "</ul>"
                mega_placed = True
            ts = base_ts + _dt.timedelta(minutes=global_turn)
            rows.append((conv_id, t, role, text, tool, ts))
            global_turn += 1
    rng.shuffle(rows)
    return rows


def generate_distributed(spark, n_turns: int, turns_per_conv: int = 40,
                         num_partitions: int = 64, seed: int = 42,
                         mega_frac: float = 0.25):
    """Deterministic transcripts table built entirely from Spark
    expressions — scales to millions of turns without driver-side row
    materialization (the list-of-tuples generator above is for test
    scale only).

    Skew realism matches ``generate_rows``: conversation ``conv-mega``
    holds ``mega_frac`` of all turns (the mega-conversation the salted
    repartition must spread); the rest are uniform ``turns_per_conv``
    conversations. Every quirk fragment appears in table data. Rows
    are emitted in hash-shuffled order so stable (conv_id, turn_idx)
    ordering is actually exercised downstream.
    """
    from pyspark.sql import functions as F

    mega = int(n_turns * mega_frac)
    ids = spark.range(0, n_turns, 1, num_partitions)
    frags = F.array(*[F.lit(f) for f in _QUIRK_FRAGMENTS])
    nf = len(_QUIRK_FRAGMENTS)

    def pick(mult: int):
        return F.element_at(
            frags, (F.pmod(F.col("id") * mult + seed, F.lit(nf)) + 1
                    ).cast("int"))

    # variable-length word body (deterministic, 0-24 words)
    body = F.concat(
        F.lit("<p>"),
        F.repeat(F.lit("lorem ipsum dolor sit amet "),
                 F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(5))
                 .cast("int")),
        F.lit("turn "), F.col("id").cast("string"), F.lit("</p>"))

    df = ids.select(
        F.when(F.col("id") < mega, F.lit("conv-mega"))
        .otherwise(F.concat(
            F.lit("conv-"),
            F.floor((F.col("id") - mega) / turns_per_conv).cast("string")))
        .alias("conv_id"),
        F.when(F.col("id") < mega, F.col("id"))
        .otherwise(F.pmod(F.col("id") - mega, F.lit(turns_per_conv)))
        .cast("int").alias("turn_idx"),
        F.element_at(F.array(F.lit("user"), F.lit("assistant"),
                             F.lit("tool")),
                     (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int"))
        .alias("role"),
        F.concat(F.lit('<html><body><div class="main">'), body,
                 pick(2654435761), pick(40503), F.lit("</div>"),
                 F.lit("<footer>boilerplate</footer></body></html>"))
        .alias("text"),
        F.lit("").alias("tool"),
        F.timestamp_seconds(F.lit(1767225600) + F.col("id") * 60)
        .alias("ts"),
        F.xxhash64(F.col("id"), F.lit(seed ^ 0x5EED)).alias("_shuf"))
    return (df.repartition(num_partitions, "_shuf")
            .sortWithinPartitions("_shuf").drop("_shuf"))


def generate_spark_df(spark, n_convs: int = 200, n_turns: int = 2000,
                      seed: int = 42, mega_text: bool = True,
                      num_partitions: int | None = None):
    rows = generate_rows(n_convs, n_turns, seed, mega_text)
    df = spark.createDataFrame(rows, schema=TRANSCRIPTS_SCHEMA_DDL)
    if num_partitions:
        df = df.repartition(num_partitions)
    return df
