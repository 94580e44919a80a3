"""Mirror of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() in DuckDB over the same parquet, compare
row count + column names + order-insensitive values.

Uses sf0.001 for speed in CI; the driver runs sf0.01 — both are the
same generator, so passing here is a faithful pre-check.
"""

import math

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
# the tables the oracles read (the test data also holds TPC-style and
# events tables that no registered query uses)
TABLES = ("documents", "embeddings")


def duck_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def normalize(rows, cols):
    """Driver-faithful canonicalizer: sort columns by name, round
    floats, then sort rows via pandas.sort_values — the same path the
    driver takes, so list/array cells raise here too (the round-4
    driver failures were invisible to an older sort(key=repr) mirror
    that tolerated unhashable cells)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    names = [cols[i] for i in order]
    frame = pd.DataFrame(out, columns=names)
    frame = frame.sort_values(names, kind="mergesort").reset_index(drop=True)
    # pandas maps None -> NaN; fold back so None==None compares equal
    return [tuple(None if isinstance(v, float) and math.isnan(v) else v
                  for v in r)
            for r in frame.itertuples(index=False, name=None)]


def test_every_oracle_names_a_query():
    """An oracle whose query is gone is never run: it would sit in
    ORACLES unchecked and unnoticed."""
    orphans = sorted(set(entry_mod.oracle_sql()) - set(entry_mod.queries()))
    assert not orphans, f"oracles without a registered query: {orphans}"


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_query_matches_oracle(spark, name):
    q = entry_mod.queries()[name]
    df = q(spark, SF_DIR)
    spark_cols = df.columns
    spark_rows = [tuple(r) for r in df.collect()]

    oracle = entry_mod.oracle_sql().get(name)
    if oracle is None:
        assert len(spark_rows) >= 0  # rows-only check
        return
    con = duck_con()
    res = con.execute(oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: columns {spark_cols} vs {duck_cols}")
    assert len(spark_rows) == len(duck_rows), name
    left = normalize(spark_rows, spark_cols)
    right = normalize(duck_rows, duck_cols)
    mism = [i for i, (a, b) in enumerate(zip(left, right)) if a != b][:3]
    assert left == right, f"{name}: first mismatches {[(left[i], right[i]) for i in mism]}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) >= 0
    assert "extracted_text" in df.columns
